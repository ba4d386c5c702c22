"""Crawl-plane decision logic: batch selection, backoff, next-check ladder,
change detection — the reference's behavior matrix re-pinned as DataFrame
golden tests (SURVEY §5 taxonomy 3)."""

from __future__ import annotations

import datetime as dt
import threading
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from udata_datalake_service_spark.plans.backoff import domain_backoff_table
from udata_datalake_service_spark.plans.change_detection import (
    check_events,
    with_change_detection,
)
from udata_datalake_service_spark.plans.fetch import (
    CHECK_RESULT_SCHEMA,
    check_batch,
    local_relation,
)
from udata_datalake_service_spark.plans.next_check import (
    next_check_at,
    with_next_check,
)
from udata_datalake_service_spark.plans.select_batch import (
    claim_batch,
    excluded_clause,
    select_batch,
)


def test_excluded_clause(spark, catalog_df):
    live = catalog_df.filter(excluded_clause())
    ids = sorted(r["resource_id"] for r in live.collect())
    # r3 deleted, r5 matches the %?format=shp% exclusion pattern
    assert ids == ["r1", "r2", "r4"]


def test_select_batch_tiers(spark, catalog_df, checks_df):
    now = F.lit(dt.datetime(2024, 6, 1))
    batch = select_batch(catalog_df, checks_df, batch_size=10, now=now)
    tiers = {r["resource_id"]: r["tier"] for r in batch.collect()}
    assert tiers["r2"] == "priority"
    assert tiers["r4"] == "never_checked"
    # r1's last check (id=3) has next_check_at NULL → outdated tier
    assert tiers["r1"] == "outdated"
    assert "r3" not in tiers and "r5" not in tiers


def test_select_batch_respects_batch_size(spark, catalog_df, checks_df):
    batch = select_batch(catalog_df, checks_df, batch_size=1)
    assert batch.count() == 1


def _three_tier_select(catalog, checks, batch_size, now, seed):
    """The three-scan formulation ``select_batch`` replaced: each tier is
    its own filtered frame with its own md5 top-k, then a union and a
    second top-k in tier order. Kept here as the reference."""
    from udata_datalake_service_spark.operators.core import (
        deterministic_sample,
        union_tiers,
    )

    live = catalog.filter(excluded_clause())
    t1 = live.filter(F.col("priority")).withColumn("tier", F.lit("priority"))
    t2 = live.filter(
        ~F.col("priority") & F.col("last_check").isNull()
    ).withColumn("tier", F.lit("never_checked"))
    chk = checks.select(F.col("id").alias("__chk_id"), "next_check_at")
    t3 = (
        live.filter(~F.col("priority") & F.col("last_check").isNotNull())
        .join(chk, F.col("last_check") == F.col("__chk_id"), "inner")
        .filter(F.col("next_check_at").isNull() | (F.col("next_check_at") <= now))
        .drop("__chk_id", "next_check_at")
        .withColumn("tier", F.lit("outdated"))
    )
    sampled = [
        deterministic_sample(t, batch_size, salt_cols=["resource_id"], seed=seed)
        .withColumn("__tier_rank", F.lit(rank))
        for rank, t in enumerate((t1, t2, t3))
    ]
    rk = F.md5(F.concat_ws("|", F.lit(seed), F.col("resource_id").cast("string")))
    return (
        union_tiers(*sampled)
        .orderBy(F.asc("__tier_rank"), rk.asc())
        .limit(batch_size)
        .drop("__tier_rank")
    )


def test_select_batch_one_pass_equals_three_tier_reference(spark, tmp_path):
    """One scan ordered by (tier rank, sample key) selects exactly what the
    three sampled tiers did. The catalog holds every tier, a checked row
    whose last check is missing from ``checks`` (in no tier), NULL
    priorities, deleted and excluded rows."""
    base = dt.datetime(2024, 1, 1)
    cat_rows, chk_rows = [], []
    for i in range(120):
        prio = (None, True, False, False, False)[i % 5]
        last = None if i % 3 == 0 else 1000 + i
        if last is not None and i % 7 != 0:  # i % 7 == 0: no matching check
            nca = None if i % 4 == 0 else base + dt.timedelta(days=i)
            chk_rows.append((last, nca))
        url = f"https://h{i % 9}.org/r{i}" + ("?format=shp" if i % 17 == 0 else "")
        cat_rows.append((f"r{i}", url, i % 11 == 0, last, prio, None))
    cat_ddl = (
        "resource_id string, url string, deleted boolean, last_check long, "
        "priority boolean, status string"
    )
    spark.createDataFrame(cat_rows, cat_ddl).write.parquet(str(tmp_path / "catalog"))
    spark.createDataFrame(chk_rows, "id long, next_check_at timestamp").write.parquet(
        str(tmp_path / "checks")
    )
    catalog = spark.read.parquet(str(tmp_path / "catalog"))
    checks = spark.read.parquet(str(tmp_path / "checks"))

    seen_tiers = set()
    for seed in ("s0", "s1", "s7"):
        for day in (1, 40, 400):
            now = F.lit(base + dt.timedelta(days=day))
            for n in (1, 17, 40, 200):
                got = select_batch(catalog, checks, batch_size=n, now=now, seed=seed)
                ref = _three_tier_select(catalog, checks, n, now, seed)
                assert got.columns == catalog.columns + ["tier"]
                rows = [tuple(r) for r in got.collect()]
                assert rows == [tuple(r) for r in ref.collect()], (seed, day, n)
                seen_tiers |= {r[-1] for r in rows}
    assert seen_tiers == {"priority", "never_checked", "outdated"}

    plan = (
        select_batch(catalog, checks, batch_size=40, seed="s0")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the plan string truncates locations: tell the scans apart by schema
    catalog_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "resource_id:string" in ln
    ]
    assert len(catalog_scans) == 1, plan
    assert plan.count("TakeOrderedAndProject") == 1, plan


def test_claim_batch_sets_status(spark, catalog_df, checks_df):
    batch = select_batch(catalog_df, checks_df, batch_size=10)
    updated = claim_batch(catalog_df, batch)
    got = {r["resource_id"]: r["status"] for r in updated.collect()}
    for r in (r["resource_id"] for r in batch.collect()):
        assert got[r] == "CRAWLING_URL"
    assert got["r3"] is None  # unclaimed rows untouched


def test_domain_backoff_table(spark, checks_df):
    now = F.lit(dt.datetime(2024, 1, 3, 10, 0, 5))
    out = domain_backoff_table(checks_df, now=now, nb_req=1, period_s=3600)
    got = {r["domain"]: r for r in out.collect()}
    # a.org had a check within the last hour → recent_checks ≥ 1 → backoff
    assert got["a.org"]["backoff"] is True
    # c.org's 429 is outside cool-off (>1 day before now) → not present/not flagged
    assert "c.org" not in got or got["c.org"]["saw_429"] is False


def test_domain_backoff_429_cooloff(spark, checks_df):
    now = F.lit(dt.datetime(2024, 1, 2, 12))  # 3h after the 429
    out = domain_backoff_table(checks_df, now=now, nb_req=999, period_s=60)
    got = {r["domain"]: r for r in out.collect()}
    assert got["c.org"]["saw_429"] is True and got["c.org"]["backoff"] is True
    # ratelimit headers: remaining/limit = 1% ≤ 10% → ratelimit_low
    assert got["c.org"]["ratelimit_low"] is True


def test_backoff_allowlist(spark, checks_df):
    now = F.lit(dt.datetime(2024, 1, 2, 12))
    out = domain_backoff_table(
        checks_df, now=now, nb_req=1, period_s=86400 * 10,
        no_backoff_domains=("c.org",),
    )
    got = {r["domain"]: r for r in out.collect()}
    assert got["c.org"]["backoff"] is False  # allowlisted despite 429
    assert got["a.org"]["backoff"] is True


def test_next_check_ladder(spark):
    created = dt.datetime(2024, 1, 10)
    rows = [
        # (changed, last_modified) → expected delay hours
        (True, dt.datetime(2024, 1, 9), 12),    # changed → earliest rung
        (False, None, 12),                       # no info → earliest rung
        (False, dt.datetime(2024, 1, 9, 20), 12),   # 4h old → rung 12
        (False, dt.datetime(2024, 1, 9, 4), 24),    # 20h old → rung 24
        (False, dt.datetime(2024, 1, 5), 168),      # 5d old → rung 168
        (False, dt.datetime(2023, 11, 1), 720),     # 70d old → top rung
    ]
    df = spark.createDataFrame(
        [(i, c, lm) for i, (c, lm, _) in enumerate(rows)],
        "i long, changed boolean, lm timestamp",
    ).withColumn("created_at", F.lit(created))
    out = df.withColumn("nca", F.expr(next_check_at("created_at", "changed", "lm")))
    got = {r["i"]: (r["nca"] - created).total_seconds() / 3600 for r in out.collect()}
    for i, (_, _, expect) in enumerate(rows):
        assert got[i] == expect, f"row {i}"


def test_change_detection_cascade(spark, checks_df):
    out = with_change_detection(checks_df)
    got = {r["id"]: r for r in out.collect()}
    # r1 check2 vs check1: last_modified changed → cascade stops there
    assert got[2]["change_status"] == "HAS_CHANGED"
    assert got[2]["change_method"] == "last_modified"
    # r1 check3 vs check2: everything equal → HAS_NOT_CHANGED via last_modified
    assert got[3]["change_status"] == "HAS_NOT_CHANGED"
    # first check of r1 → NO_GUESS (no previous row)
    assert got[1]["change_status"] == "NO_GUESS"
    # r2 check5 vs check4: no last-modified either side, content-length
    # prev NULL → checksum prev NULL → NO_GUESS
    assert got[5]["change_status"] == "NO_GUESS"


def test_check_events_triggers(spark, checks_df):
    out = check_events(checks_df)
    got = {r["id"]: r for r in out.collect()}
    assert got[1]["evt_first_check"] is True and got[1]["any_trigger"] is True
    assert got[3]["evt_status_changed"] is False and got[3]["any_trigger"] is False
    # r2: 404 → 200 = availability regained + status changed
    assert got[5]["evt_status_changed"] is True
    assert got[5]["evt_availability_regained"] is True


# ----------------------------------------------------------------- fetch --
def test_check_batch_head_get_fallback_and_errors(spark):
    # stateless, so check_batch's fetch threads may call it at once
    def _fake_transport(url, method):
        if "timeout" in url:
            raise TimeoutError
        if "nohead" in url and method == "head":
            return 200, {}, None  # HEAD without useful headers → GET fallback
        if "err" in url:
            return None, {}, "connection refused"
        if "missing" in url:
            return 404, {"Content-Length": "10"}, None
        return 200, {"Content-Length": "123", "Last-Modified": "x"}, None

    batch = spark.createDataFrame(
        [
            ("r1", "https://a.org/ok.csv"),
            ("r2", "https://a.org/nohead.csv"),
            ("r3", "https://b.org/timeout.csv"),
            ("r4", "https://b.org/err.csv"),
            ("r5", "https://c.org/missing.csv"),
        ],
        "resource_id string, url string",
    )
    rows = {r["resource_id"]: r for r in check_batch(batch, _fake_transport, fan_out=2).collect()}
    assert rows["r1"]["method"] == "head" and rows["r1"]["status"] == 200
    assert rows["r1"]["headers"]["content-length"] == "123"  # lowered keys
    assert rows["r2"]["method"] == "get"  # HEAD lacked useful headers
    assert rows["r3"]["timeout"] is True and rows["r3"]["status"] is None
    assert rows["r4"]["error"] == "connection refused"
    # invalid HEAD status → GET retry, mirroring has_nice_head
    # (crawl/helpers.py:47-53): 404 HEADs are re-tried as GET
    assert rows["r5"]["status"] == 404 and rows["r5"]["method"] == "get"
    assert rows["r1"]["domain"] == "a.org"


BATCH_SCHEMA = T.StructType(
    [T.StructField("resource_id", T.StringType()), T.StructField("url", T.StringType())]
)


def _nice(url, method):
    return 200, {"Content-Length": "1"}, None


class _CountingTransport:
    """A HEAD-nice transport that counts its calls and the most calls in
    flight at once, under a lock; each call sleeps ``delay_s``."""

    def __init__(self, delay_s=0.0):
        self.delay_s, self.lock = delay_s, threading.Lock()
        self.calls = self.in_flight = self.peak = 0

    def __call__(self, url, method):
        with self.lock:
            self.calls += 1
            self.in_flight += 1
            self.peak = max(self.peak, self.in_flight)
        try:
            time.sleep(self.delay_s)
            return _nice(url, method)
        finally:
            with self.lock:
                self.in_flight -= 1


def _urls(spark, n):
    return local_relation(
        spark,
        [{"resource_id": f"r{i}", "url": f"https://a.org/{i}.csv"} for i in range(n)],
        BATCH_SCHEMA,
    )


def test_check_batch_empty_batch_makes_no_call(spark):
    transport = _CountingTransport()
    out = check_batch(spark.createDataFrame([], BATCH_SCHEMA), transport, fan_out=4)
    assert out.schema == CHECK_RESULT_SCHEMA
    assert out.collect() == []
    assert transport.calls == 0


@pytest.mark.parametrize("fan_out", [0, -1])
def test_check_batch_rejects_fan_out_below_one(spark, fan_out):
    transport = _CountingTransport()
    with pytest.raises(ValueError, match="fan_out"):
        check_batch(_urls(spark, 2), transport, fan_out=fan_out)
    assert transport.calls == 0


def test_check_batch_transport_error_propagates_with_threads_joined(spark):
    """A non-timeout exception from the transport is not a check row: it
    leaves check_batch, and only after the pool has joined its threads."""
    started = []

    def transport(url, method):
        started.append(threading.current_thread().name)
        if url.endswith("/3.csv"):
            raise ConnectionResetError("peer reset")
        return _nice(url, method)

    with pytest.raises(ConnectionResetError, match="peer reset"):
        check_batch(_urls(spark, 8), transport, fan_out=4)
    assert started and all(n.startswith("fetch_") for n in started)
    assert not [t for t in threading.enumerate() if t.name.startswith("fetch_")]


def test_check_batch_fan_out_bounds_concurrent_fetches(spark):
    """``fan_out`` is the number of fetches in flight: 8 slow URLs on 4
    threads peak at exactly 4."""
    transport = _CountingTransport(delay_s=0.2)
    rows = check_batch(_urls(spark, 8), transport, fan_out=4).collect()
    assert sorted(r["resource_id"] for r in rows) == [f"r{i}" for i in range(8)]
    assert transport.calls == 8  # HEAD-nice: no GET fallback
    assert transport.peak == 4


def test_check_batch_is_eager_into_a_local_relation(spark, count_jobs):
    """The fetch is check_batch's own action: the result is a
    LocalTableScan, collecting it twice makes no further transport call,
    and over a local-relation batch nothing runs a Spark job."""
    transport = _CountingTransport()
    out, jobs = count_jobs(lambda: check_batch(_urls(spark, 5), transport, fan_out=2))
    assert jobs == 0 and transport.calls == 5
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "MapInPandas" not in plan and "ExistingRDD" not in plan
    (first, second), jobs = count_jobs(lambda: (out.collect(), out.collect()))
    assert jobs == 0 and first == second and len(first) == 5
    assert transport.calls == 5


def test_cli_check_urls_runs_no_job(spark, count_jobs):
    from udata_datalake_service_spark.cli import check_urls

    transport = _CountingTransport()
    rows, jobs = count_jobs(
        lambda: check_urls(spark, ["https://a.org/x", "https://b.org/y"], transport).collect()
    )
    assert jobs == 0 and transport.calls == 2
    assert sorted((r["resource_id"], r["domain"]) for r in rows) == [
        ("0", "a.org"), ("1", "b.org")
    ]


# the Column-tree builders the SQL-text ones replaced sent 1,553 py4j
# commands for a warm with_next_check(check_events(with_change_detection(
# checks_df)))
PARENT_PY4J_COMMANDS = 1553


def test_change_detection_build_is_sql_text(spark, checks_df, count_py4j):
    """Building the three change-detection layers costs a few py4j
    commands per projection, not one per Column node, computes one lag
    per signal (three for the cascade, three for the events), and emits
    only the documented columns."""

    def build():
        return with_next_check(check_events(with_change_detection(checks_df)))

    build()  # warm
    out, sent = count_py4j(build)
    assert sent <= PARENT_PY4J_COMMANDS // 4, sent
    assert out._jdf.queryExecution().optimizedPlan().toString().count("lag(") == 6
    added = [c for c in out.columns if c not in checks_df.columns]
    assert added == [
        "chg_last_modified", "chg_content_length", "chg_checksum",
        "change_status", "change_method", "evt_first_check",
        "evt_status_changed", "evt_availability_lost",
        "evt_availability_regained", "evt_timeout_changed", "any_trigger",
    ]
    assert out.columns[: len(checks_df.columns)] == checks_df.columns


def test_wrong_url_repairs_and_apply(spark):
    """404 → stable-redirect discovery → catalog URL rewrite
    (check_resources.py:173-231)."""
    from udata_datalake_service_spark.plans.fetch import (
        apply_url_repairs,
        wrong_url_repairs,
    )

    def _fake_transport(url, method):
        assert method == "head" and url.startswith("https://portal/datasets/r/")
        rid = url.rsplit("/", 1)[1]
        if rid == "r1":  # moved
            return 302, {"Location": "https://new.org/r1.csv"}, None
        if rid == "r2":  # redirect target unchanged
            return 302, {"location": "https://a.org/r2.csv"}, None
        return None, {}, "unreachable"  # r3: portal down → no repair

    checks = spark.createDataFrame(
        [
            ("r1", "https://a.org/r1.csv", 404),
            ("r2", "https://a.org/r2.csv", 404),
            ("r3", "https://a.org/r3.csv", 404),
            ("r4", "https://a.org/r4.csv", 200),  # not a 404 → ignored
        ],
        "resource_id string, url string, status int",
    )
    repairs = wrong_url_repairs(checks, "https://portal", _fake_transport)
    got = [tuple(r) for r in repairs.collect()]
    assert got == [("r1", "https://a.org/r1.csv", "https://new.org/r1.csv")]

    catalog = spark.createDataFrame(
        [("r1", "https://a.org/r1.csv", False), ("r9", "https://a.org/r9.csv", False)],
        "resource_id string, url string, deleted boolean",
    )
    fixed = {r["resource_id"]: r["url"] for r in apply_url_repairs(catalog, repairs).collect()}
    assert fixed == {"r1": "https://new.org/r1.csv", "r9": "https://a.org/r9.csv"}
