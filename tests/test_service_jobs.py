"""Spark job budget of the serving routes on a warm lake.

Each route is one API request: the route call plus ``collect()``. The
counts are exact, so a change that adds a job per request (for example a
schema inference per lake read) fails here, not only in a benchmark.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from udata_datalake_service_spark.service import HydraService
from udata_datalake_service_spark.sinks.lake import Lake

# route -> Spark jobs of one warm request (call + collect). Each lake
# read used to add one schema-inference job: 4, 6, 2, 5, 6, 3. The
# last-check routes scan the held catalog⟕checks join, so a warm request
# runs no broadcast job of its own.
ROUTE_JOBS = {
    "latest_check": 1,
    "all_checks": 4,
    "resource_status": 1,
    "crawler_status": 2,
    "stats": 3,
    "checks_aggregate": 2,
}
# route -> Spark jobs of the first request of a fresh service, which
# plans the join over the lazy lake reads.
COLD_ROUTE_JOBS = {**ROUTE_JOBS, "latest_check": 2, "crawler_status": 3, "stats": 4}


def _request(svc: HydraService, route: str):
    if route == "resource_status":
        return svc.resource_status("r1").collect()
    if route in ("latest_check", "all_checks"):
        return getattr(svc, route)(resource_id="r1").collect()
    if route == "checks_aggregate":
        return svc.checks_aggregate("headers['content-type']", "2024-01-02").collect()
    return getattr(svc, route)().collect()


@pytest.fixture()
def lake_root(spark, tmp_path, catalog_df, checks_df):
    """A lake holding catalog and checks (partitioned by check_date, as
    the crawl writes it)."""
    root = str(tmp_path / "lake")
    lake = Lake(spark, root)
    lake.write_app_table(catalog_df, "catalog")
    lake.write_app_table(
        checks_df.withColumn("check_date", F.to_date("created_at")),
        "checks",
        partition_by=["check_date"],
    )
    return root


@pytest.fixture()
def warm_service(spark, lake_root):
    """A service with every route called once: it holds a persisted
    snapshot of both tables."""
    svc = HydraService(spark, Lake(spark, lake_root))
    for route in ROUTE_JOBS:
        _request(svc, route)
    yield svc
    svc.close()


def test_warm_route_job_budget(warm_service, count_jobs):
    assert all(df.is_cached for _, df in warm_service._snapshots.values())
    got = {
        route: count_jobs(lambda: _request(warm_service, route))[1]
        for route in ROUTE_JOBS
    }
    assert got == ROUTE_JOBS


def test_cold_route_job_budget(spark, lake_root, count_jobs):
    """A fresh service over an already-written lake (a CLI verb, a
    restarted service) meets the same budget on the first request of each
    route: the lake's commit records spare it every schema inference."""
    got = {
        route: count_jobs(
            lambda: _request(HydraService(spark, Lake(spark, lake_root)), route)
        )[1]
        for route in COLD_ROUTE_JOBS
    }
    assert got == COLD_ROUTE_JOBS


def test_crawl_cycle_lake_call_job_budget(spark, lake_root, count_jobs):
    """The lake calls a crawl cycle makes, each pinned to its jobs: a
    read builds its frame with none (the record holds the schema), and a
    rewrite of the unpartitioned catalog or a partitioned append of
    checks runs only its write."""
    lake = Lake(spark, lake_root)
    assert count_jobs(lambda: lake.read_app_table("catalog"))[1] == 0
    assert count_jobs(lambda: lake.read_app_table("checks"))[1] == 0
    claimed = lake.read_app_table("catalog").withColumn("status", F.lit("CRAWLING_URL"))
    assert count_jobs(lambda: lake.rewrite_app_table(claimed, "catalog"))[1] == 1
    old = lake.read_app_table("checks")
    checks = spark.createDataFrame(old.take(2), old.schema)
    _, n = count_jobs(
        lambda: lake.append_app_table(checks, "checks", partition_by=["check_date"])
    )
    assert n == 1
    assert lake.read_app_table("checks").count() == 8


def test_crawl_round_status_job_budget(spark, lake_root, count_jobs):
    """A crawl cycle commits both tables before its status call, so the
    call plans the join anew over two lazy reads: the same 3 jobs as a
    per-request join, and nothing persisted."""
    lake = Lake(spark, lake_root)
    held = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    svc = HydraService(spark, lake)
    new_check = lake.read_app_table("checks").filter("id = 2")
    for round_ in range(3):
        claimed = lake.read_app_table("catalog").withColumn(
            "status", F.lit(f"CRAWLING_URL-{round_}")
        )
        lake.rewrite_app_table(claimed, "catalog")
        appended = spark.createDataFrame(
            new_check.withColumn("id", F.lit(100 + round_).cast("long")).collect(),
            new_check.schema,
        )
        lake.append_app_table(appended, "checks", partition_by=["check_date"])
        rows, n = count_jobs(lambda: svc.crawler_status().collect())
        assert n == 3
        assert rows[0]["total"] == 4
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) == held
    assert not any(df.is_cached for _, df in svc._snapshots.values())
    svc.close()


def test_warm_latest_check_compiles_nothing(warm_service, count_compiles):
    """Once a key column's plan over the held join has run, a request for
    any key reuses its generated classes: a string key is passed to the
    generated code as a reference, not inlined into its source."""
    warm_service.latest_check(resource_id="r1").collect()
    got = [
        count_compiles(lambda: warm_service.latest_check(resource_id=key).collect())[1]
        for key in ("r1", "r2", "r4", "missing")
    ]
    assert got == [0, 0, 0, 0]
