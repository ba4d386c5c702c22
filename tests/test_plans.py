"""Crawl-plane decision logic: batch selection, backoff, next-check ladder,
change detection — the reference's behavior matrix re-pinned as DataFrame
golden tests (SURVEY §5 taxonomy 3)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from udata_datalake_service_spark.plans.backoff import domain_backoff_table
from udata_datalake_service_spark.plans.change_detection import (
    check_events,
    with_change_detection,
)
from udata_datalake_service_spark.plans.next_check import next_check_at
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
    out = df.withColumn(
        "nca", next_check_at(F.col("created_at"), F.col("changed"), F.col("lm"))
    )
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
    from udata_datalake_service_spark.plans.fetch import check_batch

    # closure, not module-level: cloudpickle ships it by value to executors
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
