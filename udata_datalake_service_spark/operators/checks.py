"""The reference's query API over catalog/checks (SURVEY §2.4, §2.5, §2.11).

Each function is the Spark plan for one aiohttp route / db helper of the
reference; table arguments are DataFrames read from the lake.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from udata_datalake_service_spark.operators.core import top_k_groups


def _route_key(key: dict) -> tuple[str, object]:
    """The one ``url=`` or ``resource_id=`` a check route is called with;
    `ValueError` for none, two, or another name."""
    if len(key) != 1 or not set(key) <= {"url", "resource_id"}:
        raise ValueError(
            f"pass exactly one of url= or resource_id=, got {sorted(key) or 'none'}"
        )
    (col, val), = key.items()
    return col, val


def latest_check(catalog: DataFrame, checks: DataFrame, **key) -> DataFrame:
    """J1 — `/api/checks/latest?url|resource_id` (db/check.py:20-42).

    ``catalog JOIN checks ON catalog.last_check = checks.id`` with the key
    filter applied to *catalog first* so the join's left side is one row,
    which Catalyst broadcasts. The key filter is pushed to the catalog
    scan only: the checks scan gets just ``IsNotNull(id)``, so every
    checks row is read and probed against the broadcast row.
    """
    col, val = _route_key(key)
    side = broadcast(catalog.filter(F.col(col) == val))
    return side.join(checks, side.last_check == checks.id, "inner")


def all_checks(catalog: DataFrame, checks: DataFrame, **key) -> DataFrame:
    """J2 — `/api/checks/all` (db/check.py:76-84): full probe history of a
    resource, newest first. The url equi-join shuffles only the filtered
    (broadcast) side."""
    col, val = _route_key(key)
    side = broadcast(
        catalog.filter(F.col(col) == val).select(F.col("url").alias("__cat_url"))
    )
    return (
        checks.join(side, checks.url == F.col("__cat_url"), "inner")
        .drop("__cat_url")
        .orderBy(F.desc("created_at"))
    )


def aggregate_for_date(checks: DataFrame, group_by: str, day) -> DataFrame:
    """A1 — `/api/checks/aggregate?group_by=<expr>&created_at=<date>`
    (db/check.py:87-98). ``group_by`` is an *expression* (the reference
    interpolates it into SQL; e.g. ``headers['content-type']``). The
    ``to_date(created_at) == day`` predicate does not prune partitions: on
    a ``check_date``-partitioned table the executed plan shows
    ``PartitionFilters: []``, so every date is scanned and filtered row by
    row. Pruning would need a ``check_date`` predicate, which rests on the
    writer's rule ``check_date = to_date(created_at)``; this module does
    not own that rule, so it does not add one.
    """
    day_rows = checks.filter(F.to_date("created_at") == F.lit(day))
    return top_k_groups(day_rows, group_by, k=20)


def crawler_status(catalog: DataFrame, checks: DataFrame) -> DataFrame:
    """A2 — `/api/status/crawler` (routes/status.py:10-45): counts of
    never-checked / checked / to-recheck over the live catalog, one pass of
    conditional aggregation (count_if), no join needed for the null split."""
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


def worker_status(catalog: DataFrame) -> DataFrame:
    """A3 — `/api/status/worker` (routes/status.py:49-53): histogram of the
    9-state lifecycle with NULL folded to the literal 'NULL'."""
    return (
        catalog.groupBy(
            F.coalesce(F.col("status"), F.lit("NULL")).alias("status")
        )
        .agg(F.count(F.lit(1)).alias("count"))
    )


def stats(catalog: DataFrame, checks: DataFrame) -> DataFrame:
    """A4 — `/api/stats` (routes/status.py:106-139): status-code histogram of
    current checks with percentages. Join catalog→checks on last_check (the
    current-state denormalization), then a two-level aggregate; the
    percentage window runs over the tiny aggregated frame only."""
    from udata_datalake_service_spark.operators.core import pct_histogram

    live = catalog.filter(~F.col("deleted") & F.col("last_check").isNotNull())
    cur = live.join(
        checks.select(
            F.col("id").alias("__chk_id"),
            F.col("status").alias("__chk_status"),
            "error",
            "timeout",
        ),
        live.last_check == F.col("__chk_id"),
        "inner",
    )
    return pct_histogram(cur, F.col("__chk_status").cast("string"))
