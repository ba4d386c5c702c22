"""The service's snapshot memo (`HydraService._table`).

A warm service, one that holds a persisted frame of each app table,
must answer as a fresh service after every kind of lake commit, and a
plain lake read must never get the held frame's pre-commit rows. The
memo must leave nothing persisted that it does not hold.
"""

from __future__ import annotations

import gc
import os
import shutil
import subprocess
import sys
import textwrap
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from udata_datalake_service_spark.service import HydraService
from udata_datalake_service_spark.sinks.lake import Lake
from udata_datalake_service_spark.sinks.store import PosixStore, S3SemanticsStore

STORES = {"posix": PosixStore, "s3-semantics": S3SemanticsStore}
URL = "https://a.org/f.csv"


def _answers(svc: HydraService) -> dict:
    """Every route's rows, each as a sorted list of reprs."""
    calls = {
        "latest_check": lambda: svc.latest_check(resource_id="r1"),
        "all_checks": lambda: svc.all_checks(url=URL),
        "resource_status_r1": lambda: svc.resource_status("r1"),
        "resource_status_r6": lambda: svc.resource_status("r6"),
        "crawler_status": svc.crawler_status,
        "stats": svc.stats,
        "checks_aggregate": lambda: svc.checks_aggregate(
            "headers['content-type']", "2024-01-02"
        ),
        "sql": lambda: svc.sql("SELECT count(*) AS n, max(id) AS m FROM checks"),
    }
    return {k: sorted(map(repr, f().collect())) for k, f in calls.items()}


def _warm(svc: HydraService) -> dict:
    """Read every table twice, so the service holds persisted frames."""
    _answers(svc)
    out = _answers(svc)
    assert all(df.is_cached for _, df in svc._snapshots.values())
    return out


def _persistent_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _rows(df) -> list[str]:
    return sorted(map(repr, df.collect()))


@pytest.fixture()
def tables(spark, catalog_df, checks_df):
    """The app tables, and the rows the commits add."""
    checks = checks_df.withColumn("check_date", F.to_date("created_at"))
    new_check = checks.filter("id = 2").select(
        F.lit(7).cast("long").alias("id"),
        *[c for c in checks.columns if c != "id"],
    )
    new_resource = catalog_df.filter("resource_id = 'r4'").withColumn(
        "resource_id", F.lit("r6")
    )
    return {
        "catalog": catalog_df,
        "checks": checks,
        "new_check": new_check,
        "new_resource": new_resource,
    }


def _append_check(lake, t):
    lake.append_app_table(t["new_check"], "checks", partition_by=["check_date"])


# commit kind -> (the table it changes, the commit)
COMMITS = {
    "write_app_table": (
        "catalog",
        lambda lake, t: lake.write_app_table(
            t["catalog"].withColumn(
                "last_check",
                F.when(F.col("resource_id") == "r1", F.lit(2)).otherwise(
                    F.col("last_check")
                ),
            ),
            "catalog",
        ),
    ),
    "rewrite_app_table": (
        "checks",
        lambda lake, t: lake.rewrite_app_table(
            lake.read_app_table("checks").filter("id != 3"), "checks"
        ),
    ),
    "append_app_table": ("checks", _append_check),
    "append_log_table_exactly_once": (
        "catalog",
        lambda lake, t: lake.append_log_table_exactly_once(
            t["new_resource"], "catalog", "batch-1"
        ),
    ),
    "compact_table": (
        "checks",
        lambda lake, t: lake.compact_table(
            "checks", app_table=True, transform=lambda df: df.filter("id != 3")
        ),
    ),
    "second_lake": (
        "checks",
        lambda lake, t: _append_check(Lake(lake.spark, str(lake.root), lake.store), t),
    ),
}


@pytest.mark.parametrize("store", list(STORES))
@pytest.mark.parametrize("kind", list(COMMITS))
def test_warm_service_sees_every_commit(spark, tmp_path, tables, store, kind):
    root = str(tmp_path / "lake")
    lake = Lake(spark, root, STORES[store]())
    lake.write_app_table(tables["catalog"], "catalog")
    lake.write_app_table(tables["checks"], "checks", partition_by=["check_date"])
    svc = HydraService(spark, lake)
    before = _warm(svc)
    name, commit = COMMITS[kind]
    pre_commit = _rows(lake.read_app_table(name))

    commit(lake, tables)

    plain = lake.read_app_table(name)
    assert "InMemoryRelation" not in plain._jdf.queryExecution().optimizedPlan().toString()
    assert _rows(plain) != pre_commit
    fresh = HydraService(spark, Lake(spark, root, STORES[store]()))
    after = _answers(fresh)
    assert after != before
    assert _answers(svc) == after
    # and once the new snapshot is persisted in turn
    assert _warm(svc) == after
    svc.close()
    fresh.close()


@pytest.mark.parametrize("store", list(STORES))
def test_plain_table_rewritten_on_disk(spark, tmp_path, tables, store):
    """An unpartitioned table whose one data file is replaced, in its
    recorded version dir, by a file of the same name: the record does
    not change, so the identity comes from the file's size and mtime."""
    root = tmp_path / "lake"
    lake = Lake(spark, str(root), STORES[store]())
    lake.write_app_table(tables["checks"], "checks", partition_by=["check_date"])
    lake.write_app_table(tables["catalog"].coalesce(1), "catalog")
    base = root / "catalog"
    record = lake._record(base)
    (part,) = (base / record["version"]).glob("part-*.parquet")
    svc = HydraService(spark, lake)
    before = _warm(svc)
    pre_commit = _rows(lake.read_app_table("catalog"))

    out = tmp_path / "v2"
    tables["catalog"].unionByName(tables["new_resource"]).coalesce(1).write.parquet(
        str(out)
    )
    (src,) = out.glob("part-*.parquet")
    os.replace(src, part)
    # the old file's Hadoop checksum would fail the new file's reads
    part.with_name(f".{part.name}.crc").unlink(missing_ok=True)
    shutil.rmtree(out)

    assert lake._record(base) == record
    assert _rows(lake.read_app_table("catalog")) != pre_commit
    after = _answers(HydraService(spark, Lake(spark, str(root), STORES[store]())))
    assert after != before
    assert _answers(svc) == after
    svc.close()


@pytest.fixture()
def lake(spark, tmp_path, tables):
    lake = Lake(spark, str(tmp_path / "lake"))
    lake.write_app_table(tables["catalog"], "catalog")
    lake.write_app_table(tables["checks"], "checks", partition_by=["check_date"])
    return lake


def test_crawl_rounds_persist_nothing(spark, lake, tables):
    """Each round commits both tables before the status call, so the
    call reads each snapshot once: nothing is persisted."""
    held = _persistent_rdds(spark)
    svc = HydraService(spark, lake)
    for round_ in range(3):
        claimed = lake.read_app_table("catalog").withColumn(
            "status",
            F.when(F.col("resource_id") == "r1", F.lit(f"CRAWLING_URL-{round_}"))
            .otherwise(F.col("status")),
        )
        lake.rewrite_app_table(claimed, "catalog")
        _append_check(lake, tables)
        svc.crawler_status().collect()
    assert _persistent_rdds(spark) == held
    assert not any(df.is_cached for _, df in svc._snapshots.values())


def test_replaced_snapshot_is_unpersisted(spark, lake):
    held = _persistent_rdds(spark)
    svc = HydraService(spark, lake)
    _warm(svc)
    # catalog, checks and their current_state join
    assert len(_persistent_rdds(spark) - held) == 3
    old = svc._snapshots["checks"][1]
    old_state = svc._snapshots["current_state"][1]
    # a rewrite, not an in-place append: Spark's own write path re-caches
    # any cached scan of the dir an append writes into
    lake.rewrite_app_table(lake.read_app_table("checks").filter("id != 3"), "checks")
    svc.checks.count()
    assert not old.is_cached
    assert old.storageLevel.useMemory is False
    # the join built from the old checks frame goes with it
    assert not old_state.is_cached
    assert "current_state" not in svc._snapshots
    # the catalog snapshot is still held; the new checks one is not yet
    assert len(_persistent_rdds(spark) - held) == 1
    svc.close()
    assert _persistent_rdds(spark) == held


def _last_check_answers(svc: HydraService) -> dict:
    """The rows of the routes that read the current_state join."""
    calls = {
        "latest_check_r1": lambda: svc.latest_check(resource_id="r1"),
        "latest_check_r4": lambda: svc.latest_check(resource_id="r4"),
        "latest_check_url": lambda: svc.latest_check(url=URL),
        "crawler_status": svc.crawler_status,
        "stats": svc.stats,
    }
    return {k: _rows(f()) for k, f in calls.items()}


# commit kind -> a commit of one table that changes what the join returns:
# r1's last check moves to check 2, or check 7, which r4's last_check
# already names, arrives
JOIN_COMMITS = {
    "catalog_rewrite": lambda lake, t: lake.rewrite_app_table(
        lake.read_app_table("catalog").withColumn(
            "last_check",
            F.when(F.col("resource_id") == "r1", F.lit(2).cast("long")).otherwise(
                F.col("last_check")
            ),
        ),
        "catalog",
    ),
    "checks_append": _append_check,
}


@pytest.mark.parametrize("store", list(STORES))
@pytest.mark.parametrize("kind", list(JOIN_COMMITS))
def test_held_join_follows_either_table(spark, tmp_path, tables, store, kind):
    root = str(tmp_path / "lake")
    lake = Lake(spark, root, STORES[store]())
    lake.write_app_table(
        tables["catalog"].withColumn(
            "last_check",
            F.when(F.col("resource_id") == "r4", F.lit(7).cast("long")).otherwise(
                F.col("last_check")
            ),
        ),
        "catalog",
    )
    lake.write_app_table(tables["checks"], "checks", partition_by=["check_date"])
    svc = HydraService(spark, lake)
    _warm(svc)
    before = _last_check_answers(svc)
    old = svc._snapshots["current_state"][1]
    assert old.is_cached

    JOIN_COMMITS[kind](lake, tables)

    fresh = HydraService(spark, Lake(spark, root, STORES[store]()))
    after = _last_check_answers(fresh)
    assert after != before
    assert _last_check_answers(svc) == after
    assert not old.is_cached
    # the new pair's join is persisted on its second read, and answers alike
    assert _last_check_answers(svc) == after
    new = svc._snapshots["current_state"][1]
    assert new is not old and new.is_cached
    svc.close()
    fresh.close()
    assert not new.is_cached


def test_close_and_collection_release_every_snapshot(spark, lake):
    held = _persistent_rdds(spark)
    svc = HydraService(spark, lake)
    answers = _warm(svc)
    frames = [df for _, df in svc._snapshots.values()]
    assert set(svc._snapshots) == {"catalog", "checks", "current_state"}
    svc.close()
    assert _persistent_rdds(spark) == held
    assert not any(df.is_cached for df in frames)
    # still usable, and released again when garbage-collected
    assert _warm(svc) == answers
    assert _persistent_rdds(spark) != held
    del svc
    gc.collect()
    assert _persistent_rdds(spark) == held


def test_threads_agree_with_a_fresh_service(spark, lake):
    svc = HydraService(spark, lake)
    with ThreadPoolExecutor(4) as pool:
        got = list(pool.map(lambda _: _answers(svc), range(4)))
    expected = _answers(HydraService(spark, Lake(spark, str(lake.root))))
    assert all(g == expected for g in got)
    svc.close()


def test_service_outliving_its_session_exits_quietly(tmp_path):
    """A service collected after its session stopped (a process that
    never calls `close`) forgets its frames instead of calling into the
    stopped context: nothing is printed as an ignored exception."""
    script = textwrap.dedent(
        f"""
        from pyspark.sql import functions as F
        from udata_datalake_service_spark.service import HydraService
        from udata_datalake_service_spark.session import get_spark
        from udata_datalake_service_spark.sinks.lake import Lake


        def main():
            spark = get_spark(app_name="exit", master="local[1]", shuffle_partitions=1)
            lake = Lake(spark, {str(tmp_path / "lake")!r})
            lake.write_app_table(
                spark.range(3).withColumn("last_check", F.col("id")), "catalog"
            )
            svc = HydraService(spark, lake)
            svc.catalog.count()
            svc.catalog.count()
            assert svc.catalog.is_cached
            spark.stop()


        main()
        print("exited main")
        """
    )
    root = Path(__file__).resolve().parents[1]
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        [str(root), os.environ.get("PYTHONPATH", "")]
    )}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr
    assert "exited main" in out.stdout
    assert "Exception ignored" not in out.stderr, out.stderr
