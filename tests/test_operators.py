"""Operator-shape tests over synthetic frames + the testdata tables."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from udata_datalake_service_spark.operators.checks import (
    aggregate_for_date,
    all_checks,
    crawler_status,
    current_state,
    latest_check,
    stats,
    worker_status,
)
from udata_datalake_service_spark.operators.core import (
    count_over_all,
    deterministic_sample,
    latest_per_key,
    pct_histogram,
    snapshot_diff_load,
    top_k_groups,
    top_n_per_key,
    union_tiers,
    upsert,
)
from udata_datalake_service_spark.operators.gc import (
    orphan_converted_tables,
    purged_count,
    retention_filter,
)
from udata_datalake_service_spark.operators.profile import profile


def test_top_k_groups_accepts_expression(spark, checks_df):
    out = top_k_groups(checks_df, "headers['content-type']", k=2).collect()
    assert out[0]["value"] == "text/csv" and out[0]["count"] == 3


def test_latest_per_key(spark, checks_df):
    out = latest_per_key(
        checks_df, ["resource_id"], [F.desc("created_at"), F.desc("id")]
    )
    got = {r["resource_id"]: r["id"] for r in out.collect()}
    assert got == {"r1": 3, "r2": 5, "r3": 6}


def test_top_n_per_key(spark, checks_df):
    out = top_n_per_key(
        checks_df, ["resource_id"], [F.desc("created_at"), F.desc("id")], 2
    )
    r1 = sorted(r["id"] for r in out.filter(F.col("resource_id") == "r1").collect())
    assert r1 == [2, 3]


def test_pct_histogram_sums_to_100(spark, checks_df):
    rows = pct_histogram(checks_df, "status").collect()
    assert abs(sum(r["pct"] for r in rows) - 100.0) < 0.01


def test_count_over_all(spark, checks_df):
    rows = count_over_all(checks_df.select("id")).collect()
    assert all(r["count"] == 6 for r in rows)


def test_deterministic_sample_reproducible(spark, checks_df):
    a = [r["id"] for r in deterministic_sample(checks_df, 3, ["id"]).collect()]
    b = [r["id"] for r in deterministic_sample(checks_df, 3, ["id"]).collect()]
    c = [r["id"] for r in deterministic_sample(checks_df, 3, ["id"], seed="zz").collect()]
    assert a == b and len(a) == 3
    assert set(a) != set(c) or a != c  # different seed → (almost surely) different order


def test_union_tiers(spark, checks_df):
    t1 = checks_df.filter(F.col("id") <= 2)
    t2 = checks_df.filter(F.col("id") > 4)
    assert union_tiers(t1, t2).count() == 4


def test_upsert_updates_and_inserts(spark, catalog_df):
    updates = spark.createDataFrame(
        [("r1", "https://a.org/NEW.csv"), ("r9", "https://new.org/n.csv")],
        "resource_id string, url string",
    )
    out = upsert(catalog_df, updates, key="resource_id", update_cols=["url"])
    rows = {r["resource_id"]: r["url"] for r in out.collect()}
    assert rows["r1"] == "https://a.org/NEW.csv"
    assert rows["r9"] == "https://new.org/n.csv"
    assert rows["r2"] == "https://b.org/g.csv"
    assert out.count() == catalog_df.count() + 1


def test_snapshot_diff_load_marks_missing_deleted(spark, catalog_df):
    snap = catalog_df.filter(F.col("resource_id").isin("r1", "r2")).select(
        "resource_id", "url", "dataset_id"
    )
    out = snapshot_diff_load(catalog_df, snap, key="resource_id")
    got = {r["resource_id"]: r["deleted"] for r in out.collect()}
    # r1/r2 survive (un-deleted), everything absent from snapshot is deleted
    assert got["r1"] is False and got["r2"] is False
    assert got["r3"] is True and got["r4"] is True and got["r5"] is True


# ------------------------------------------------------- checks API plane --
def test_latest_check_by_resource(spark, catalog_df, checks_df):
    out = latest_check(current_state(catalog_df, checks_df), resource_id="r1")
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["checksum"] == "bbb"


def test_all_checks_by_url(spark, catalog_df, checks_df):
    out = all_checks(catalog_df, checks_df, url="https://a.org/f.csv")
    ids = [r["id"] for r in out.collect()]
    assert ids == [3, 2, 1]  # newest first


@pytest.mark.parametrize(
    "route",
    [
        lambda cat, chk, **k: latest_check(current_state(cat, chk), **k),
        all_checks,
    ],
    ids=["latest_check", "all_checks"],
)
@pytest.mark.parametrize(
    "key",
    [{}, {"url": "https://a.org/f.csv", "resource_id": "r1"}, {"dataset_id": "d1"}],
    ids=["no-key", "two-keys", "unknown-key"],
)
def test_check_routes_refuse_a_bad_key(spark, catalog_df, checks_df, route, key):
    with pytest.raises(ValueError, match="url= or resource_id="):
        route(catalog_df, checks_df, **key)


def test_aggregate_for_date(spark, checks_df):
    out = aggregate_for_date(checks_df, "domain", "2024-01-02")
    got = {r["value"]: r["count"] for r in out.collect()}
    assert got == {"a.org": 1, "b.org": 1, "c.org": 1}


def test_crawler_status(spark, catalog_df, checks_df):
    row = crawler_status(current_state(catalog_df, checks_df)).collect()[0]
    # live catalog: r1, r2, r4, r5 (r3 deleted); r4/r5 never checked
    assert row["total"] == 4
    assert row["never_checked"] == 2
    assert row["checked"] == 2


def test_worker_status_folds_null(spark, catalog_df):
    got = {r["status"]: r["count"] for r in worker_status(catalog_df).collect()}
    assert got == {"NULL": 5}


def test_stats_histogram(spark, catalog_df, checks_df):
    rows = stats(current_state(catalog_df, checks_df)).collect()
    got = {r["value"]: r["count"] for r in rows}
    assert got == {"200": 2}  # r1→check3 (200), r2→check5 (200); r3 deleted


# The two-table forms the last-check routes had before they read
# `current_state`: the parity reference for the degenerate inputs below.
def _latest_check_two_tables(catalog, checks, col, val):
    side = F.broadcast(catalog.filter(F.col(col) == val))
    return side.join(checks, side.last_check == checks.id, "inner")


def _crawler_status_two_tables(catalog, checks):
    live = catalog.filter(~F.col("deleted"))
    joined = live.join(
        checks.select(F.col("id").alias("__chk_id"), "next_check_at"),
        live.last_check == F.col("__chk_id"),
        "left",
    )
    return joined.agg(
        F.count(F.lit(1)).alias("total"),
        F.count_if(F.col("last_check").isNull()).alias("never_checked"),
        F.count_if(F.col("last_check").isNotNull()).alias("checked"),
        F.count_if(
            F.col("next_check_at").isNotNull()
            & (F.col("next_check_at") <= F.current_timestamp())
        ).alias("to_recheck"),
    )


def _stats_two_tables(catalog, checks):
    live = catalog.filter(~F.col("deleted") & F.col("last_check").isNotNull())
    cur = live.join(
        checks.select(F.col("id").alias("__chk_id"), F.col("status").alias("__chk_status")),
        live.last_check == F.col("__chk_id"),
        "inner",
    )
    return pct_histogram(cur, F.col("__chk_status").cast("string"))


def _relink(catalog, rid, check_id):
    return catalog.withColumn(
        "last_check",
        F.when(F.col("resource_id") == rid, F.lit(check_id).cast("long")).otherwise(
            F.col("last_check")
        ),
    )


# input -> (catalog, checks) from the fixture pair; every variant gives
# check 5 a past next_check_at and check 3 a future one, so to_recheck
# counts a row
DEGENERATE = {
    "fixture": lambda cat, chk: (cat, chk),
    "empty_checks": lambda cat, chk: (cat, chk.limit(0)),
    "missing_check_id": lambda cat, chk: (_relink(cat, "r1", 99), chk),
    "duplicate_check_ids": lambda cat, chk: (
        cat,
        chk.unionByName(
            chk.filter("id IN (3, 5)").withColumn("status", F.lit(500))
        ),
    ),
    "all_deleted": lambda cat, chk: (cat.withColumn("deleted", F.lit(True)), chk),
}
KEYS = [
    ("resource_id", "r1"),
    ("resource_id", "r2"),
    ("resource_id", "r4"),
    ("url", "https://a.org/f.csv"),
    ("url", "https://nowhere.org/"),
]


def _sorted_rows(df):
    return sorted(map(repr, df.collect()))


@pytest.mark.parametrize("shape", list(DEGENERATE))
def test_last_check_routes_match_the_two_table_forms(spark, catalog_df, checks_df, shape):
    checks = checks_df.withColumn(
        "next_check_at",
        F.when(F.col("id") == 5, F.lit("2024-01-05 00:00:00").cast("timestamp"))
        .when(F.col("id") == 3, F.lit("2999-01-01 00:00:00").cast("timestamp")),
    )
    catalog, checks = DEGENERATE[shape](catalog_df, checks)
    state = current_state(catalog, checks)
    for col, val in KEYS:
        got = latest_check(state, **{col: val})
        want = _latest_check_two_tables(catalog, checks, col, val)
        assert got.columns == want.columns, (col, val)
        assert got.schema == want.schema, (col, val)
        assert _sorted_rows(got) == _sorted_rows(want), (col, val)
    for got, want in (
        (crawler_status(state), _crawler_status_two_tables(catalog, checks)),
        (stats(state), _stats_two_tables(catalog, checks)),
    ):
        assert got.columns == want.columns
        assert _sorted_rows(got) == _sorted_rows(want)


# ----------------------------------------------------------------- gc/ret --
def test_orphan_converted_tables(spark, catalog_df, checks_df):
    import hashlib

    # make check 6's parsing_table the md5 of the *deleted* r3 url so the
    # J4 semantics (deleted → orphan) are exercised on the derived key
    url = "https://c.org/h.csv"
    checks = checks_df.withColumn(
        "parsing_table",
        F.when(
            F.col("id") == 6, F.lit(hashlib.md5(url.encode()).hexdigest())
        ).otherwise(F.col("parsing_table")),
    )
    out = [r["parsing_table"] for r in orphan_converted_tables(checks, catalog_df).collect()]
    # t1 belongs to live r1 url? t1 != md5(url) → cat_id NULL → orphan too
    assert hashlib.md5(url.encode()).hexdigest() in out
    assert "t1" in out  # not a valid md5(url) of any live row → orphan


def test_retention_filter_and_count(spark, checks_df):
    # all fixture rows are from 2024 → far older than 60 days from now
    assert retention_filter(checks_df, retention_days=60).count() == 0
    assert purged_count(checks_df, retention_days=60).collect()[0]["purged"] == 6


# ---------------------------------------------------------------- profile --
def test_profile_dict(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/nation.parquet")
    p = profile(df, exact_distinct=True)
    assert p["n_nationkey"]["nb_distinct"] == 25
    assert p["n_nationkey"]["nb_missing_values"] == 0
    assert p["n_nationkey"]["min"] == 0 and p["n_nationkey"]["max"] == 24
    assert len(p["n_name"]["tops"]) == 10


# ------------------------------------------------------------------- asof --
def _asof_frames(spark):
    from datetime import datetime

    T = datetime
    left = spark.createDataFrame(
        [
            (1, "a", T(2024, 1, 1, 10, 0)),
            (2, "a", T(2024, 1, 1, 12, 0)),
            (3, "a", T(2024, 1, 1, 9, 0)),   # before every right row
            (4, "b", T(2024, 1, 1, 10, 0)),  # key with no right rows
            (5, "a", None),                   # NULL ts never matches
        ],
        "id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("a", T(2024, 1, 1, 9, 30), 10, None),  # NULL payload field kept
            ("a", T(2024, 1, 1, 12, 0), 20, 2.0),   # tie with left id=2 → inclusive
            ("a", T(2024, 1, 1, 13, 0), 30, 3.0),
        ],
        "k string, ts timestamp, rid int, payload double",
    )
    return left, right


def test_asof_backward_inclusive_and_null_payload(spark):
    from udata_datalake_service_spark.operators.asof import asof_join

    left, right = _asof_frames(spark)
    out = asof_join(left, right, on="k", left_ts="ts", value_cols=["rid", "payload"])
    got = {r["id"]: (r["asof_rid"], r["asof_payload"]) for r in out.collect()}
    # id=1 @10:00 → right @9:30; its NULL payload must NOT be skipped for
    # the older row (the struct wrapper preserves genuinely-null fields)
    assert got[1] == (10, None)
    # id=2 @12:00 ties right @12:00 → inclusive match
    assert got[2] == (20, 2.0)
    assert got[3] == (None, None)   # nothing at-or-before
    assert got[4] == (None, None)   # key absent from right
    assert got[5] == (None, None)   # NULL left ts
    assert out.count() == 5         # left rows preserved exactly


def test_asof_forward_and_tolerance(spark):
    from udata_datalake_service_spark.operators.asof import asof_join

    left, right = _asof_frames(spark)
    fwd = asof_join(left, right, on="k", left_ts="ts", value_cols=["rid"],
                    direction="forward")
    got = {r["id"]: r["asof_rid"] for r in fwd.collect()}
    assert got == {1: 20, 2: 20, 3: 10, 4: None, 5: None}

    tol = asof_join(left, right, on="k", left_ts="ts", value_cols=["rid"],
                    tolerance_us=45 * 60 * 1_000_000)  # 45 min
    got_t = {r["id"]: r["asof_rid"] for r in tol.collect()}
    # id=1 @10:00 vs right @9:30 = 30 min → kept; id=2 ties → gap 0 → kept
    assert got_t == {1: 10, 2: 20, 3: None, 4: None, 5: None}


def test_asof_tie_break_latest_wins(spark):
    from datetime import datetime

    from udata_datalake_service_spark.operators.asof import asof_join

    T = datetime
    left = spark.createDataFrame(
        [(1, "a", T(2024, 1, 1, 12, 0))], "id long, k string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("a", T(2024, 1, 1, 11, 0), 1), ("a", T(2024, 1, 1, 11, 0), 2)],
        "k string, ts timestamp, rid int",
    )
    out = asof_join(left, right, on="k", left_ts="ts", value_cols=["rid"],
                    tie_break=["rid"])
    assert out.collect()[0]["asof_rid"] == 2


def test_asof_rejects_bad_direction(spark):
    import pytest as _pytest

    from udata_datalake_service_spark.operators.asof import asof_join

    left, right = _asof_frames(spark)
    with _pytest.raises(ValueError, match="direction"):
        asof_join(left, right, on="k", left_ts="ts", direction="nearest")


# --------------------------------------------------------------- sessions --
def test_sessionize_golden_boundaries(spark):
    from datetime import datetime

    from udata_datalake_service_spark.operators.sessions import sessionize

    T = datetime
    ev = spark.createDataFrame(
        [
            (1, "u", T(2024, 1, 1, 10, 0)),
            (2, "u", T(2024, 1, 1, 10, 20)),   # 20 min → same session
            (3, "u", T(2024, 1, 1, 10, 50)),   # exactly 30 min → NEW (>= gap)
            (4, "u", T(2024, 1, 1, 11, 10)),
            (5, "u", T(2024, 1, 2, 9, 0)),     # next day → new
            (6, "v", T(2024, 1, 1, 10, 0)),    # other key independent
        ],
        "event_id long, user_id string, ts timestamp",
    )
    out = sessionize(ev, ["user_id"], "ts", 30 * 60, tie_break=["event_id"])
    got = {r["event_id"]: r["session_idx"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 2, 5: 3, 6: 1}


def test_session_stats_matches_native_session_window(spark, sf_dir):
    """The lag-window form and Spark's built-in session_window must produce
    identical sessions — the guarantee that the batch-attested semantics
    carry to the streaming-capable formulation."""
    from udata_datalake_service_spark.operators.sessions import (
        session_stats,
        session_stats_native,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lag_form = {
        (r["user_id"], r["start_us"], r["end_us"], r["n_events"])
        for r in session_stats(ev, ["user_id"], "ts", 8 * 3600,
                               tie_break=["event_id"]).collect()
    }
    native = {
        (r["user_id"], r["start_us"], r["end_us"], r["n_events"])
        for r in session_stats_native(ev, ["user_id"], "ts", 8 * 3600).collect()
    }
    assert lag_form == native and len(lag_form) > 20


# --------------------------------------------------------------- interval --
def _interval_frames(spark):
    from datetime import datetime

    T = datetime
    points = spark.createDataFrame(
        [
            (1, "u", T(2024, 1, 1, 10, 30)),   # inside w1
            (2, "u", T(2024, 1, 1, 12, 0)),    # exactly at w1 end → inclusive
            (3, "u", T(2024, 1, 1, 13, 0)),    # in no window
            (4, "u", T(2024, 1, 1, 15, 30)),   # inside w2 AND w3 (2 matches)
            (5, "v", T(2024, 1, 1, 10, 30)),   # other key: no windows
        ],
        "pid long, k string, ts timestamp",
    )
    ranges = spark.createDataFrame(
        [
            (101, "u", T(2024, 1, 1, 10, 0), T(2024, 1, 1, 12, 0)),
            (102, "u", T(2024, 1, 1, 15, 0), T(2024, 1, 1, 16, 0)),
            (103, "u", T(2024, 1, 1, 15, 15), T(2024, 1, 1, 15, 45)),
        ],
        "rid long, k string, s timestamp, e timestamp",
    )
    return points, ranges


def test_interval_join_inner_left_golden(spark):
    from udata_datalake_service_spark.operators.interval import interval_join

    points, ranges = _interval_frames(spark)
    inner = interval_join(points, ranges, "ts", "s", "e", on=["k"],
                          bucket_width_us=30 * 60 * 1_000_000)
    pairs = sorted((r["pid"], r["rid"]) for r in inner.collect())
    assert pairs == [(1, 101), (2, 101), (4, 102), (4, 103)]

    left = interval_join(points, ranges, "ts", "s", "e", on=["k"], how="left")
    rows = sorted((r["pid"], r["rid"]) for r in left.collect())
    assert rows == [(1, 101), (2, 101), (3, None), (4, 102), (4, 103), (5, None)]


def test_interval_join_no_nested_loop_plan(spark):
    """The whole point: an equi-join on (key, bucket), never a
    BroadcastNestedLoopJoin over the inequality."""
    from udata_datalake_service_spark.operators.interval import interval_join

    points, ranges = _interval_frames(spark)
    j = interval_join(points, ranges, "ts", "s", "e", on=["k"])
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_interval_join_ranges_overlap_golden(spark):
    from datetime import datetime

    from udata_datalake_service_spark.operators.interval import interval_join_ranges

    T = datetime
    a = spark.createDataFrame(
        [(1, "u", T(2024, 1, 1, 10, 0), T(2024, 1, 1, 12, 0)),
         (2, "u", T(2024, 1, 1, 20, 0), T(2024, 1, 1, 21, 0))],
        "aid long, k string, s1 timestamp, e1 timestamp",
    )
    b = spark.createDataFrame(
        [(11, "u", T(2024, 1, 1, 11, 0), T(2024, 1, 1, 13, 0)),   # overlaps 1
         (12, "u", T(2024, 1, 1, 12, 0), T(2024, 1, 1, 12, 30)),  # touches 1 at 12:00
         (13, "u", T(2024, 1, 1, 14, 0), T(2024, 1, 1, 15, 0)),   # disjoint
         (14, "v", T(2024, 1, 1, 11, 0), T(2024, 1, 1, 13, 0))],  # other key
        "bid long, k string, s2 timestamp, e2 timestamp",
    )
    out = interval_join_ranges(a, b, "s1", "e1", "s2", "e2", on=["k"])
    pairs = sorted((r["aid"], r["bid"]) for r in out.collect())
    # closed intervals: boundary touch at 12:00 counts; each pair exactly once
    # even though (1,11) shares multiple hour buckets
    assert pairs == [(1, 11), (1, 12)]


# ------------------------------------------------------------- quantiles --
def test_quantile_profile_exact_matches_numpy(spark):
    import numpy as np

    from udata_datalake_service_spark.operators.profile import quantile_profile

    vals = [float(v) for v in [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7, 9]]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    row = quantile_profile(df, ["x"], probs=(0.25, 0.5, 0.9)).collect()[0]
    assert row["n"] == len(vals)
    assert row["nb_distinct"] == len(set(vals))
    for p, col in [(25, "p25"), (50, "p50"), (90, "p90")]:
        assert row[f"p{p}"] == pytest.approx(
            float(np.percentile(vals, p, method="linear")), abs=1e-6
        ), col


def test_quantile_profile_approx_tracks_exact(spark, sf_dir):
    from udata_datalake_service_spark.operators.profile import quantile_profile

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = {r["column"]: r for r in quantile_profile(li, ["l_extendedprice"]).collect()}
    approx = {
        r["column"]: r
        for r in quantile_profile(li, ["l_extendedprice"], approx=True).collect()
    }
    e, a = exact["l_extendedprice"], approx["l_extendedprice"]
    # GK sketch at accuracy 10000: rank error ≤ n/10000 → values land within
    # a tight relative band on this distribution; HLL ndv within 5%
    for c in ("p25", "p50", "p75", "p90", "p99"):
        assert a[c] == pytest.approx(e[c], rel=0.02), c
    assert a["nb_distinct"] == pytest.approx(e["nb_distinct"], rel=0.05)
    assert a["n"] == e["n"]


def test_quantile_profile_grouped_matches_per_group_numpy(spark):
    import numpy as np

    from udata_datalake_service_spark.operators.profile import quantile_profile_grouped

    rows = [("a", float(v)) for v in range(1, 11)] + [("b", float(v)) for v in (2, 4, 8)]
    df = spark.createDataFrame(rows, "g string, x double")
    got = {r["g"]: r for r in quantile_profile_grouped(df, "g", "x", probs=(0.5, 0.9)).collect()}
    assert got["a"]["n"] == 10 and got["b"]["n"] == 3
    for g, vals in (("a", list(range(1, 11))), ("b", [2, 4, 8])):
        assert got[g]["p50"] == pytest.approx(float(np.percentile(vals, 50)), abs=1e-6)
        assert got[g]["p90"] == pytest.approx(float(np.percentile(vals, 90)), abs=1e-6)


# ---------------------------------------------------------------- funnel --
def test_funnel_levels_anchored_window_golden(spark):
    from udata_datalake_service_spark.operators.funnel import funnel_levels

    rows = [
        # u1: single anchor; purchase misses the 100s window → level 2
        (1, "view", 0), (1, "click", 50), (1, "purchase", 120),
        # u2: first anchor fails, the LATER view@60 completes → level 3
        # (the case earliest-event greedy gets wrong)
        (2, "view", 0), (2, "view", 60), (2, "click", 70), (2, "purchase", 130),
        # u3: no step-1 event at all → level 0
        (3, "click", 10), (3, "purchase", 20),
        # u4: anchor only → level 1
        (4, "view", 5),
        # u5: order violated (purchase before click) → level 2
        (5, "view", 0), (5, "purchase", 10), (5, "click", 20),
    ]
    df = spark.createDataFrame(
        [(u, e, f"2024-01-01 00:{s//60:02d}:{s%60:02d}") for u, e, s in rows],
        "user_id long, event_type string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        r["user_id"]: r["level"]
        for r in funnel_levels(df, ["view", "click", "purchase"], horizon_s=100).collect()
    }
    assert got == {1: 2, 2: 3, 3: 0, 4: 1, 5: 2}


def test_funnel_levels_strictly_increasing_and_self_steps(spark):
    from udata_datalake_service_spark.operators.funnel import funnel_levels

    df = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00"), (1, "b", "2024-01-01 00:00:00"),
         (2, "a", "2024-01-01 00:00:00"), (2, "a", "2024-01-01 00:00:01")],
        "user_id long, event_type string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    # equal timestamps never chain
    got = {r["user_id"]: r["level"] for r in funnel_levels(df, ["a", "b"], 60).collect()}
    assert got[1] == 1
    # repeated step type chains on the strict inequality
    got2 = {r["user_id"]: r["level"] for r in funnel_levels(df, ["a", "a"], 60).collect()}
    assert got2[2] == 2 and got2[1] == 1

    import pytest as _p
    with _p.raises(ValueError):
        funnel_levels(df, [], 60)


def test_cohort_retention_golden(spark):
    from udata_datalake_service_spark.operators.funnel import cohort_retention

    # bucket_days=1: u1 first day0, active day0+day2; u2 first day0 only;
    # u3 first day2, active day2+day3
    rows = [
        (1, "2024-01-01 10:00:00"), (1, "2024-01-03 09:00:00"),
        (2, "2024-01-01 23:00:00"),
        (3, "2024-01-03 01:00:00"), (3, "2024-01-04 01:00:00"),
        (3, "2024-01-04 02:00:00"),  # same-bucket repeat never double-counts
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got = {
        (r["cohort_bucket"], r["bucket_offset"]): (r["n_active"], r["n_cohort"], r["retention"])
        for r in cohort_retention(df, bucket_days=1).collect()
    }
    d0 = 19723  # 2024-01-01 in days since epoch
    assert got[(d0, 0)] == (2, 2, 1.0)
    assert got[(d0, 2)] == (1, 2, 0.5)
    assert got[(d0 + 2, 0)] == (1, 1, 1.0)
    assert got[(d0 + 2, 1)] == (1, 1, 1.0)
    assert set(got) == {(d0, 0), (d0, 2), (d0 + 2, 0), (d0 + 2, 1)}


# -------------------------------------------------------------- sketches --
def test_ndv_sketches_merge_equals_full_rescan(spark, sf_dir):
    """The incremental contract: per-source sketches union-merged land
    within the sketch error bound of the exact distinct count — same bound
    as a one-pass sketch of the whole table. (Bit-equality with the
    one-pass sketch does NOT hold: a single stream can stay in sparse/
    exact mode while a union promotes to the dense estimator.)"""
    from pyspark.sql import functions as F

    from udata_datalake_service_spark.operators.sketches import (
        merge_ndv,
        ndv_sketch_table,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    per_source = ndv_sketch_table(d, ["source"], ["doc_id", "lang"])
    merged = merge_ndv(per_source, ["doc_id", "lang"]).collect()[0]

    exact = d.agg(
        F.count_distinct("doc_id").alias("d"), F.count_distinct("lang").alias("l")
    ).collect()[0]
    assert abs(merged["doc_id_ndv"] - exact["d"]) <= 0.05 * exact["d"]
    assert merged["lang_ndv"] == exact["l"]  # tiny cardinality: sketch exact


def test_ndv_sketch_regroup_daily_to_coarse(spark):
    from udata_datalake_service_spark.operators.sketches import (
        merge_ndv,
        ndv_sketch_table,
    )

    rows = [(d, d // 7, u) for d in range(28) for u in range(d * 3, d * 3 + 50)]
    df = spark.createDataFrame(rows, "day int, week int, user long")
    daily = ndv_sketch_table(df, ["day", "week"], ["user"])
    weekly = {r["week"]: r["user_ndv"] for r in merge_ndv(daily, ["user"], by=["week"]).collect()}
    # overlapping daily user ranges (stride 3, width 50) union correctly
    for wk, est in weekly.items():
        days = range(wk * 7, wk * 7 + 7)
        exact = len({u for d in days for u in range(d * 3, d * 3 + 50)})
        assert abs(est - exact) <= max(2, 0.05 * exact), (wk, est, exact)


def test_heavy_hitters_finds_true_top(spark):
    from udata_datalake_service_spark.operators.sketches import heavy_hitters

    rows = [("hot",)] * 500 + [("warm",)] * 100 + [(f"cold{i}",) for i in range(200)]
    df = spark.createDataFrame(rows, "v string")
    top = heavy_hitters(df, "v", k=2).collect()
    assert top[0]["item"] == "hot" and top[0]["count"] == 500
    assert top[1]["item"] == "warm"


def test_event_transitions_matrix(spark):
    from udata_datalake_service_spark.operators.markov import event_transitions

    rows = [
        # user 1: a -> b -> a -> c
        (1, 1, "2024-01-01 00:00:00", "a"),
        (2, 1, "2024-01-01 00:01:00", "b"),
        (3, 1, "2024-01-01 00:02:00", "a"),
        (4, 1, "2024-01-01 00:03:00", "c"),
        # user 2: a -> b  (boundary: c of user1 never chains to a of user2)
        (5, 2, "2024-01-01 00:00:30", "a"),
        (6, 2, "2024-01-01 00:01:30", "b"),
        # user 3: single event, no transition
        (7, 3, "2024-01-01 00:00:00", "z"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        (r["prev_event"], r["next_event"]): r.asDict()
        for r in event_transitions(df).collect()
    }
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "a")}
    assert out[("a", "b")]["n"] == 2 and out[("a", "c")]["n"] == 1
    assert out[("a", "b")]["p"] == round(2 / 3, 6)
    assert out[("a", "c")]["p"] == round(1 / 3, 6)
    assert out[("b", "a")]["p"] == 1.0
    assert out[("a", "b")]["rnk"] == 1 and out[("a", "c")]["rnk"] == 2


def test_event_transitions_tiebreak_on_equal_ts(spark):
    from udata_datalake_service_spark.operators.markov import event_transitions

    rows = [
        (10, 1, "2024-01-01 00:00:00", "x"),
        (11, 1, "2024-01-01 00:00:00", "y"),  # same ts: event_id orders x -> y
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = event_transitions(df).collect()
    assert len(out) == 1
    assert (out[0]["prev_event"], out[0]["next_event"]) == ("x", "y")


def test_fuzzy_join_blocked_levenshtein(spark):
    from udata_datalake_service_spark.operators.linkage import (
        fuzzy_join,
        self_fuzzy_matches,
    )

    a = spark.createDataFrame(
        [(1, "blue bolt"), (2, "blue belt"), (3, "red bolt")],
        "id long, name string",
    )
    b = spark.createDataFrame(
        [(10, "blue bolts"), (11, "blue melt"), (12, "green bolt")],
        "bid long, name string",
    )
    blk = F.split(F.col("name"), " ").getItem(0)
    out = fuzzy_join(
        a.withColumn("__blk", blk),
        b.withColumn("__blk", blk),
        "__blk",
        "name",
        "name",
        max_distance=2,
    ).select("id", "bid", "dist").collect()
    got = {(r["id"], r["bid"]): r["dist"] for r in out}
    # same block "blue": bolt~bolts(1), bolt~melt(2), belt~bolts(2), belt~melt(1)
    assert got == {(1, 10): 1, (1, 11): 2, (2, 10): 2, (2, 11): 1}

    pairs = self_fuzzy_matches(a, "id", "name", blk, max_distance=1).collect()
    # blue bolt ~ blue belt (dist 1); red bolt in another block
    assert [(p["id_a"], p["id_b"], p["dist"]) for p in pairs] == [(1, 2, 1)]


def test_weighted_sample_favors_heavy_weights_and_is_deterministic(spark):
    from udata_datalake_service_spark.operators.core import weighted_sample

    rows = [(i, 1000.0 if i < 10 else 0.001) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, w double")
    pick = lambda: {  # noqa: E731
        r["id"]
        for r in weighted_sample(df, 10, F.col("w"), ["id"]).collect()
    }
    a, b = pick(), pick()
    assert a == b  # deterministic
    # weight ratio 10^6: the 10 heavy rows dominate the sample
    assert len(a & set(range(10))) >= 8

    # zero/negative weights can never be sampled
    df2 = spark.createDataFrame(
        [(1, 0.0), (2, -5.0), (3, 1.0)], "id long, w double"
    )
    got = {r["id"] for r in weighted_sample(df2, 3, F.col("w"), ["id"]).collect()}
    assert got == {3}


def test_weighted_sample_plans_takeordered(spark):
    from udata_datalake_service_spark.operators.core import weighted_sample

    df = spark.range(100).withColumn("w", F.col("id") + 1.0)
    plan = weighted_sample(df, 5, F.col("w"), ["id"])._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_weighted_sample_grouped_quota_and_determinism(spark):
    from udata_datalake_service_spark.operators.core import weighted_sample_grouped

    rows = [(i, "g1" if i < 50 else "g2", float(i % 7 + 1)) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, grp string, w double")
    out = weighted_sample_grouped(df, 5, F.col("w"), ["grp"], ["id"]).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r["grp"], set()).add(r["id"])
    assert set(by_grp) == {"g1", "g2"}
    assert all(len(v) == 5 for v in by_grp.values())
    out2 = weighted_sample_grouped(df, 5, F.col("w"), ["grp"], ["id"]).collect()
    assert {(r["grp"], r["id"]) for r in out} == {(r["grp"], r["id"]) for r in out2}


def test_sessionize_null_ts_matches_sql_semantics(spark):
    """NULL timestamps order last: the first folds into the key's final
    session, subsequent ones each start a new session — the exact replay
    of the oracle's LAG/CASE window (asserted here so Spark's NULLS FIRST
    default can never silently diverge again)."""
    from udata_datalake_service_spark.operators.sessions import sessionize

    rows = [
        (1, 1, "2024-01-01 00:00:00"),
        (2, 1, "2024-01-01 09:00:00"),  # > 8h gap -> session 2
        (3, 1, None),                   # folds into session 2
        (4, 1, None),                   # lag is NULL-ts -> new session
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        r["event_id"]: r["session_idx"]
        for r in sessionize(df, ["user_id"], "ts", 8 * 3600, ["event_id"]).collect()
    }
    assert out == {1: 1, 2: 2, 3: 2, 4: 3}


def test_interval_join_left_keeps_null_column_matches_single(spark):
    """A matched point carrying a NULL in a non-join column must NOT be
    re-emitted as unmatched (the anti join is null-safe per column)."""
    from udata_datalake_service_spark.operators.interval import interval_join

    pts = spark.createDataFrame(
        [(1, None, "2024-01-01 10:00:00"), (2, "u", "2024-01-05 10:00:00")],
        "pid long, tag string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    rng = spark.createDataFrame(
        [(7, "2024-01-01 09:00:00", "2024-01-01 11:00:00")],
        "rid long, s string, e string",
    ).withColumn("s", F.to_timestamp("s")).withColumn("e", F.to_timestamp("e"))
    out = interval_join(pts, rng, "ts", "s", "e", how="left").collect()
    rows = {(r["pid"], r["rid"]) for r in out}
    # pid 1 matched exactly once despite its NULL tag; pid 2 unmatched once
    assert rows == {(1, 7), (2, None)}
    assert len(out) == 2


def test_sketch_functions_accept_hostile_column_names(spark):
    from udata_datalake_service_spark.operators.sketches import (
        heavy_hitters,
        merge_ndv,
        ndv_sketch_table,
    )

    df = spark.createDataFrame(
        [("x", 1), ("y", 2), ("x", 3)], "`a-b` string, `page views` long"
    )
    sk = ndv_sketch_table(df, [], ["a-b", "page views"])
    est = merge_ndv(sk, ["a-b", "page views"]).collect()[0]
    assert est["a-b_ndv"] == 2 and est["page views_ndv"] == 3
    top = heavy_hitters(df, "a-b", k=2)
    assert {r["item"] for r in top.collect()} == {"x", "y"}


def test_expectations_annotate_split_report(spark):
    """Constraint layer: NULL rule results count as violations (ingest-
    safe inversion of SQL CHECK), split partitions exactly, report
    includes the _any_ roll-up and zero-violation rules."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from udata_datalake_service_spark.operators.expectations import (
        annotate,
        report,
        split,
    )

    df = spark.createDataFrame(
        [(1, 10, "A"), (2, -5, "A"), (3, 7, None), (4, None, "B")],
        "id long, v long, s string",
    )
    rules = {
        "v_positive": F.col("v") > 0,
        "s_known": F.col("s").isin("A", "B"),
        "id_small": F.col("id") <= 100,
    }
    ann = {r["id"]: r["__violations"] for r in annotate(df, rules).collect()}
    assert ann[1] == []
    assert ann[2] == ["v_positive"]
    assert ann[3] == ["s_known"]          # NULL s -> violation
    assert ann[4] == ["v_positive"]       # NULL v -> violation

    valid, bad = split(df, rules)
    assert {r["id"] for r in valid.collect()} == {1}
    assert {r["id"] for r in bad.collect()} == {2, 3, 4}
    assert "__violations" not in valid.columns

    rep = {r["rule"]: (r["n_violations"], r["violation_rate"]) for r in report(df, rules).collect()}
    assert rep["v_positive"] == (2, 0.5)
    assert rep["s_known"] == (1, 0.25)
    assert rep["id_small"] == (0, 0.0)
    assert rep["_any_"] == (3, 0.75)

    with _pytest.raises(ValueError):
        annotate(df, {})


def test_scd2_merge_version_lifecycle(spark):
    """All four merge cases in one tiny dimension: change closes + reopens,
    no-op leaves the open version untouched, new key inserts, absent key
    passes through; historical rows never join. Within-batch duplicate
    updates resolve to the latest timestamp."""
    import datetime as _dt

    from pyspark.sql import functions as F

    from udata_datalake_service_spark.operators.scd import scd2_merge

    t0, t1, t2 = (_dt.datetime(2024, m, 1) for m in (1, 2, 3))
    current = spark.createDataFrame(
        [
            (1, "a", t0, t1, False),   # historical closed version of key 1
            (1, "b", t1, None, True),  # open version of key 1
            (2, "x", t0, None, True),  # will change
            (3, "y", t0, None, True),  # no-op re-send
            (4, "z", t0, None, True),  # absent from updates
        ],
        "k long, attr string, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    updates = spark.createDataFrame(
        [
            (2, "x2-stale", t1),  # superseded within the batch
            (2, "x2", t2),
            (3, "y", t2),         # unchanged -> no churn
            (5, "new", t2),       # new key
        ],
        "k long, attr string, valid_from timestamp",
    )
    out = scd2_merge(current, updates, ["k"], ["attr"])
    rows = {(r["k"], r["attr"]): r for r in out.collect()}
    assert len(rows) == 7
    # key 2: old version closed at t2, new open version with latest attr
    assert rows[(2, "x")]["valid_to"] == t2 and not rows[(2, "x")]["is_current"]
    assert rows[(2, "x2")]["is_current"] and rows[(2, "x2")]["valid_to"] is None
    assert (2, "x2-stale") not in rows
    # key 3: no-op -> original open row intact
    assert rows[(3, "y")]["is_current"] and rows[(3, "y")]["valid_from"] == t0
    # key 5 inserted open; key 4 untouched; key 1 history + open preserved
    assert rows[(5, "new")]["is_current"]
    assert rows[(4, "z")]["is_current"]
    assert not rows[(1, "a")]["is_current"] and rows[(1, "b")]["is_current"]


def test_pagerank_known_fixed_points(spark):
    """Closed-form checks: a symmetric 2-cycle splits rank evenly; the
    3-node chain a->b->c (c dangling) matches the hand-solved fixed
    point; total mass is 1 in every case; non-convergence raises."""
    import pytest as _pytest

    from udata_datalake_service_spark.operators.graph import pagerank

    # symmetric cycle: equal ranks
    cyc = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
    got = {r["v"]: r["rank"] for r in pagerank(cyc).collect()}
    assert abs(got["a"] - 0.5) < 1e-6 and abs(got["b"] - 0.5) < 1e-6

    # chain with dangling sink: solve the 3x3 fixed point by hand
    # r = base + d*(inflow + dangling/n), base=(1-d)/3, d=0.85
    chain = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    got = {r["v"]: r["rank"] for r in pagerank(chain, tol=1e-12, max_iter=200).collect()}
    d, n = 0.85, 3
    ra, rb, rc = got["a"], got["b"], got["c"]
    base = (1 - d) / n
    assert abs(sum(got.values()) - 1.0) < 1e-8  # ranks rounded to 9dp
    assert abs(ra - (base + d * rc / n)) < 1e-6           # a: only dangling mass
    assert abs(rb - (base + d * (ra + rc / n))) < 1e-6    # b: a's full rank
    assert abs(rc - (base + d * (rb + rc / n))) < 1e-6    # c: b's full rank
    # authority ordering along the chain
    assert rc > rb > ra

    with _pytest.raises(RuntimeError, match="converge"):
        pagerank(chain, max_iter=1, tol=1e-15)


# ------------------------------------------------------------ dense_ids ----
def test_dense_ids_matches_global_row_number(spark):
    from udata_datalake_service_spark.caching import adopted, settle
    from udata_datalake_service_spark.operators.ids import dense_ids

    rows = [(i % 7, 1000 - i) for i in range(500)]  # non-unique first key
    df = spark.createDataFrame(rows, "grp int, k int")
    r = dense_ids(df, ["grp", "k"], num_partitions=6)
    r = settle(r, *adopted(r))
    got = sorted((x["rid"], x["grp"], x["k"]) for x in r.collect())
    exp = sorted(rows, key=lambda t: (t[0], t[1]))
    assert [t[0] for t in got] == list(range(500))  # dense, 0-based, gap-free
    assert [(g, k) for _, g, k in got] == exp  # ordered exactly like the sort


def test_dense_ids_single_and_excess_partitions(spark):
    from udata_datalake_service_spark.caching import adopted, settle
    from udata_datalake_service_spark.operators.ids import dense_ids

    df = spark.createDataFrame([(i,) for i in range(10)], "k int")
    for parts in (1, 64):  # 64 >> 10 rows: most partitions empty
        r = dense_ids(df, ["k"], num_partitions=parts)
        r = settle(r, *adopted(r))
        assert sorted((x["k"], x["rid"]) for x in r.collect()) == [
            (i, i) for i in range(10)
        ]


def test_dense_ids_empty_and_validation(spark):
    from udata_datalake_service_spark.caching import adopted, settle
    from udata_datalake_service_spark.operators.ids import dense_ids

    empty = spark.createDataFrame([], "k int")
    r = dense_ids(empty, ["k"], num_partitions=4)
    assert settle(r, *adopted(r)).count() == 0
    with pytest.raises(ValueError, match="order_by"):
        dense_ids(empty, [])


# ------------------------------------------------------ reduced joins ----
def test_reduced_joins_row_identical_to_plain(spark):
    from udata_datalake_service_spark.caching import adopted, settle
    from udata_datalake_service_spark.operators.reduction import (
        reduced_anti_join,
        reduced_semi_join,
    )

    # duplicate keys on BOTH sides + a multi-column key: the rewrite must
    # not dedup batch rows, and candidate dedup must be per composite key
    batch = spark.createDataFrame(
        [(1, "a", 10), (1, "a", 11), (2, "b", 12), (3, "a", 13), (3, "c", 14)],
        "k int, s string, payload int",
    )
    corpus = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "x"), (3, "c"), (9, "z")], "k int, s string"
    )
    for fn, how in ((reduced_anti_join, "left_anti"), (reduced_semi_join, "left_semi")):
        plain = sorted(
            map(tuple, batch.join(corpus, ["k", "s"], how).collect())
        )
        red = fn(batch, corpus, ["k", "s"])
        red = settle(red, *adopted(red))
        assert sorted(map(tuple, red.collect())) == plain
    with pytest.raises(ValueError, match="on"):
        reduced_anti_join(batch, corpus, [])


# --------------------------------------------------- count-min sketch (r8) --
def test_countmin_never_underestimates_and_merge_is_exact(spark):
    """The two count-min laws: (1) est >= exact for every inserted item
    (one-sided error), (2) merging per-shard sketches equals building one
    sketch over the union — byte-for-byte, bucket-for-bucket."""
    from pyspark.sql import functions as F

    from udata_datalake_service_spark.operators.sketch import (
        countmin_build,
        countmin_estimate,
        countmin_merge,
    )

    rows = [(i, f"w{i % 13}") for i in range(400)]
    df = spark.createDataFrame(rows, "i long, t string")
    whole = countmin_build(df, "t", depth=3, width=8)
    merged = countmin_merge(
        countmin_build(df.filter(F.col("i") % 2 == 0), "t", depth=3, width=8),
        countmin_build(df.filter(F.col("i") % 2 == 1), "t", depth=3, width=8),
    )
    as_map = lambda s: {(r["row"], r["bucket"]): r["c"] for r in s.collect()}  # noqa: E731
    assert as_map(whole) == as_map(merged)

    exact = {r["t"]: r["cnt"] for r in df.groupBy("t").count().withColumnRenamed("count", "cnt").collect()}
    est = {
        r["t"]: r["est"]
        for r in countmin_estimate(
            whole, df.select("t").distinct(), "t", depth=3, width=8
        ).collect()
    }
    assert set(est) == set(exact)
    assert all(est[t] >= exact[t] for t in exact)
    # width 8 < 13 distinct items forces at least one collision
    assert any(est[t] > exact[t] for t in exact)


def test_bloom_one_sided_error_and_merge_is_exact(spark):
    """The two bloom laws: (1) no inserted member is EVER rejected
    (one-sided error), (2) merging per-shard filters equals building one
    filter over the union — set-bit for set-bit. With width 32 and 40
    distinct members the filter is saturated enough that at least one
    non-member passes (the false positive the sf0.01 oracle attests as
    real output rows)."""
    from pyspark.sql import functions as F

    from udata_datalake_service_spark.operators.sketch import (
        bloom_build,
        bloom_merge,
        bloom_probe,
    )

    members = spark.createDataFrame([(i, f"m{i}") for i in range(40)], "i long, t string")
    others = spark.createDataFrame([(f"x{i}",) for i in range(200)], "t string")
    whole = bloom_build(members, "t", depth=3, width=32)
    merged = bloom_merge(
        bloom_build(members.filter(F.col("i") % 2 == 0), "t", depth=3, width=32),
        bloom_build(members.filter(F.col("i") % 2 == 1), "t", depth=3, width=32),
    )
    as_set = lambda s: {(r["row"], r["bucket"]) for r in s.collect()}  # noqa: E731
    assert as_set(whole) == as_set(merged)

    hits = {
        r["t"]: r["bloom_hit"]
        for r in bloom_probe(
            whole, members.select("t").unionByName(others), "t", depth=3, width=32
        ).collect()
    }
    assert all(hits[f"m{i}"] for i in range(40))  # no member rejected, ever
    assert any(hits[f"x{i}"] for i in range(200))  # saturated -> real fp
    assert not all(hits[f"x{i}"] for i in range(200))  # but still filtering


def test_kmv_merge_equals_whole_and_small_groups_exact(spark):
    """The KMV laws: (1) min-k(min-k(A) ∪ min-k(B)) = min-k(A ∪ B) —
    merged per-shard sketches are hash-for-hash the whole-data build;
    (2) a group whose NDV < k holds its entire distinct set, so the
    estimate is EXACT; (3) for a big group the estimate lands within a
    loose 4/sqrt(k) of truth (the fixture's seed makes this stable)."""
    from pyspark.sql import functions as F

    from udata_datalake_service_spark.operators.sketch import (
        kmv_build,
        kmv_estimate,
        kmv_merge,
    )

    rows = [(i, "big", f"v{i}") for i in range(3000)] + [
        (i, "small", f"s{i % 5}") for i in range(200)
    ]
    df = spark.createDataFrame(rows, "i long, g string, v string")
    k = 32
    whole = kmv_build(df, "v", ["g"], k)
    merged = kmv_merge(
        kmv_build(df.filter(F.col("i") % 2 == 0), "v", ["g"], k),
        kmv_build(df.filter(F.col("i") % 2 == 1), "v", ["g"], k),
        group_cols=["g"],
        k=k,
    )
    as_set = lambda s: {(r["g"], r["rn"], r["h"]) for r in s.collect()}  # noqa: E731
    assert as_set(whole) == as_set(merged)

    est = {r["g"]: r for r in kmv_estimate(whole, ["g"], k).collect()}
    assert est["small"]["sketch_n"] == 5
    assert est["small"]["ndv_est"] == 5.0  # NDV < k -> exact
    assert est["big"]["sketch_n"] == k
    assert abs(est["big"]["ndv_est"] - 3000) / 3000 < 4 / (k**0.5)


def test_kmv_lake_rollup_merges_from_lake_and_retry_noops(spark):
    """sk_lake_rollup's laws, independent of the driver gate: per-day
    sketches persisted via append_app_table_exactly_once merge (from the
    lake alone) into the whole-data sketch hash-for-hash; the retried
    batch no-ops so the persisted row count stays exactly two k-sized
    sketches per group."""
    from udata_datalake_service_spark.entry_queries import QUERIES

    rows = QUERIES["sk_lake_rollup"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["merged_eq_whole"], r
        assert r["first_commits_applied"], r
        assert r["retry_was_noop"], r
        # two day-batches of <=k rows each — a double-committed retry
        # would push this past 2k
        assert r["sketch_n"] <= r["lake_rows"] <= 2 * 64, r


def test_countmin_weighted_build(spark):
    """A weight column aggregates like repeated inserts."""
    from udata_datalake_service_spark.operators.sketch import (
        countmin_build,
        countmin_estimate,
    )

    w = spark.createDataFrame([("a", 5), ("b", 2)], "t string, n long")
    flat = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 2, "t string"
    )
    sk_w = countmin_build(w, "t", depth=2, width=64, weight="n")
    sk_f = countmin_build(flat, "t", depth=2, width=64)
    as_map = lambda s: {(r["row"], r["bucket"]): r["c"] for r in s.collect()}  # noqa: E731
    assert as_map(sk_w) == as_map(sk_f)
    est = countmin_estimate(sk_w, w.select("t"), "t", depth=2, width=64)
    assert {r["t"]: r["est"] for r in est.collect()} == {"a": 5, "b": 2}


def test_sketch_explode_build_matches_literal_row_buckets(spark):
    """r13 single-scan explode build: the row index fed to md5 as a CAST
    COLUMN must render the exact bytes the literal-row form fed
    ("0".."d-1") — buckets are pinned against a pure-Python md5
    reference so the one-scan rewrite can never drift."""
    import hashlib

    from udata_datalake_service_spark.operators.sketch import (
        bloom_build,
        countmin_build,
    )

    items = ["alpha", "béta", "x:y", ""]
    df = spark.createDataFrame([(t,) for t in items], "t string")
    depth, width = 4, 16

    def ref_bucket(r: int, t: str) -> int:
        return int(hashlib.md5(f"{r}:{t}".encode()).hexdigest()[:15], 16) % width

    expected = {(r, ref_bucket(r, t)) for r in range(depth) for t in items}
    bl = {(x["row"], x["bucket"]) for x in bloom_build(df, "t", depth, width).collect()}
    assert bl == expected

    exp_counts: dict[tuple[int, int], int] = {}
    for r in range(depth):
        for t in items:
            key = (r, ref_bucket(r, t))
            exp_counts[key] = exp_counts.get(key, 0) + 1
    got = {
        (x["row"], x["bucket"]): x["c"]
        for x in countmin_build(df, "t", depth, width).collect()
    }
    assert got == exp_counts


def test_expectations_report_hostile_rule_names_and_empty_frame(spark):
    """Rule names are data, not SQL: quotes/backslashes in a name must
    flow through the one-row report unpivot untouched; an empty frame
    reports 0 violations at rate 0.0 (no divide-by-zero)."""
    from pyspark.sql import functions as F

    from udata_datalake_service_spark.operators.expectations import report

    df = spark.createDataFrame([(1,), (-2,), (3,)], "v long")
    name = "v 'positive' \\ check"
    rep = {
        r["rule"]: (r["n_violations"], r["violation_rate"])
        for r in report(df, {name: F.col("v") > 0}).collect()
    }
    assert rep[name] == (1, 0.333333)
    assert rep["_any_"] == (1, 0.333333)

    empty = df.filter(F.col("v") > 100)
    rep0 = {
        r["rule"]: (r["n_violations"], r["violation_rate"])
        for r in report(empty, {name: F.col("v") > 0}).collect()
    }
    assert rep0[name] == (0, 0.0)
    assert rep0["_any_"] == (0, 0.0)
