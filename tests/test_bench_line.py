"""bench.py's final stdout line must fit the driver's MEASURED tail window.

The driver's per-round artifact keeps only the last 2,000 characters of
bench.py stdout and parses the final line as JSON. Rounds 7-10 all
produced ``"parsed": null`` because the line carried the full per-query
map (~3.5 KB at 130 queries). The contract tested here: the line is a
single JSON object, ``queries`` is a {name: sec} dict (driver schema),
and the line stays under 1,800 chars even at 200 registry entries with
long names — the registry cap the driver enforces.
"""

import json

import pytest

import bench


def _payload(n_queries: int, name_len: int = 28) -> dict:
    timings = {f"q{'x' * name_len}_{i:03d}": 0.123 + i * 0.01 for i in range(n_queries)}
    return {
        "metric": "total_query_wall_seconds",
        "value": round(sum(timings.values()), 3),
        "queries": timings,
        "sf": 0.1,
        "n_queries": n_queries,
        "reps": 3,
        "noisy": False,
    }


def test_summary_line_fits_2000_char_tail_at_200_queries():
    line = bench.summary_line(_payload(200))
    assert len(line) < 1800, f"line is {len(line)} chars; driver tail is 2000"
    assert "\n" not in line


def test_summary_line_is_driver_schema_json():
    line = bench.summary_line(_payload(130))
    obj = json.loads(line)
    assert obj["metric"] == "total_query_wall_seconds"
    assert obj["unit"] == "sec"
    assert isinstance(obj["value"], float)
    assert isinstance(obj["queries"], dict)  # driver expects {name: sec}
    assert all(isinstance(v, float) for v in obj["queries"].values())
    assert obj["n_queries"] == 130
    assert obj["queries_truncated_to_slowest"] == 10
    # slowest-10 are genuinely the slowest
    assert len(obj["queries"]) == 10
    assert min(obj["queries"].values()) >= round(0.123 + 120 * 0.01, 2) - 0.005


def test_summary_line_degrades_on_pathological_names():
    # 200-char names: slowest-10 alone would blow the budget -> k shrinks
    line = bench.summary_line(_payload(200, name_len=200))
    assert len(line) < 1800
    obj = json.loads(line)
    assert obj["queries_truncated_to_slowest"] in (5, 0)


def test_summary_line_excludes_failed_queries_and_counts_them():
    p = _payload(50)
    first = next(iter(p["queries"]))
    p["queries"][first] = -1.0
    line = bench.summary_line(p)
    obj = json.loads(line)
    assert obj["n_failed"] == 1
    assert all(v >= 0 for v in obj["queries"].values())


def test_summary_line_carries_noisy_and_start_load():
    """VERDICT r11: the r11 artifact said noisy=false at loadavg 1.84 and
    its headline was 28 % machine-state inflation. The parsed line must
    carry BOTH the verdict and the evidence it was judged on."""
    p = _payload(130)
    p["noisy"] = True
    p["loadavg_start"] = 1.84
    obj = json.loads(bench.summary_line(p))
    assert obj["noisy"] is True
    assert obj["loadavg_start"] == 1.84


def test_idle_gate_threshold_flags_loaded_machine(monkeypatch):
    """The gate's default must flag the exact machine state that burned
    r11: loadavg 1.84 at start. Pin the 0.5 default and the noisy verdict
    on a machine that never goes idle (timeout 0 → no waiting)."""
    import os as _os

    assert float(_os.environ.get("SPARK_GRAFT_BENCH_LOAD", "0.5")) <= 0.5

    monkeypatch.setattr(bench.os, "getloadavg", lambda: (1.84, 0.0, 0.0))
    load, noisy = bench._wait_for_idle(0.5, timeout_sec=0.0)
    assert noisy is True and load == 1.84

    monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.11, 0.0, 0.0))
    load, noisy = bench._wait_for_idle(0.5, timeout_sec=0.0)
    assert noisy is False and load == 0.11


def test_job_group_is_cleared_when_a_rep_raises(spark):
    """A timed rep that raises must not leave its job group (or its
    description) on the thread, or every later job is mislabelled."""
    sc = spark.sparkContext
    with pytest.raises(RuntimeError):
        with bench._job_group_scope(sc, "bench:boom:0", "boom"):
            assert sc.getLocalProperty("spark.jobGroup.id") == "bench:boom:0"
            raise RuntimeError("rep failed")
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert sc.getLocalProperty("spark.job.description") is None
