"""The reference's query API over catalog/checks (SURVEY §2.4, §2.5, §2.11).

Each function is the Spark plan for one aiohttp route / db helper of the
reference; table arguments are DataFrames read from the lake, and the
last-check routes read the one join `current_state` builds from them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from udata_datalake_service_spark.operators.core import pct_histogram, top_k_groups


def _route_key(key: dict) -> tuple[str, object]:
    """The one ``url=`` or ``resource_id=`` a check route is called with;
    `ValueError` for none, two, or another name."""
    if len(key) != 1 or not set(key) <= {"url", "resource_id"}:
        raise ValueError(
            f"pass exactly one of url= or resource_id=, got {sorted(key) or 'none'}"
        )
    (col, val), = key.items()
    return col, val


# Prefix of the checks columns in `current_state`: the two tables share
# column names (id, url, resource_id, status).
CHECK_PREFIX = "__chk_"


def current_state(catalog: DataFrame, checks: DataFrame) -> DataFrame:
    """Each resource's current state (PAPER §0 plane 4; SURVEY J1):
    ``catalog LEFT JOIN checks ON catalog.last_check = checks.id``, every
    catalog row once per matching check (once with NULL checks columns
    when none matches), the checks columns renamed ``CHECK_PREFIX + name``.
    `latest_check`, `crawler_status` and `stats` read this one frame, so a
    service can hold it across requests instead of re-joining per call."""
    chk = checks.toDF(*[CHECK_PREFIX + c for c in checks.columns])
    return catalog.join(
        chk, catalog["last_check"] == chk[CHECK_PREFIX + "id"], "left"
    )


def _matched() -> Column:
    """A `current_state` row whose ``last_check`` found its check."""
    return F.col(CHECK_PREFIX + "id").isNotNull()


def latest_check(state: DataFrame, **key) -> DataFrame:
    """J1 — `/api/checks/latest?url|resource_id` (db/check.py:20-42) over
    `current_state`: the keyed resource's row with its current check, as
    ``catalog JOIN checks ON last_check = id`` returns it (the catalog
    columns, then the checks columns under their own names). A resource
    with no matching check has no row. Over a lazy `current_state` the
    key filter reaches the catalog scan and the outer join becomes inner;
    over a persisted one it is one scan of the in-memory frame. The names
    are restored by one positional `toDF`, not a Column per name, which
    cost about 45 ms of py4j calls per request on a 4-vCPU host (`toDF`:
    about 9 ms)."""
    col, val = _route_key(key)
    return state.filter((F.col(col) == val) & _matched()).toDF(
        *[c.removeprefix(CHECK_PREFIX) for c in state.columns]
    )


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


def crawler_status(state: DataFrame) -> DataFrame:
    """A2 — `/api/status/crawler` (routes/status.py:10-45): counts of
    never-checked / checked / to-recheck over the live rows of
    `current_state`, one pass of conditional aggregation (count_if)."""
    next_check = F.col(CHECK_PREFIX + "next_check_at")
    return state.filter(~F.col("deleted")).agg(
        F.count(F.lit(1)).alias("total"),
        F.count_if(F.col("last_check").isNull()).alias("never_checked"),
        F.count_if(F.col("last_check").isNotNull()).alias("checked"),
        F.count_if(
            next_check.isNotNull() & (next_check <= F.current_timestamp())
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


def stats(state: DataFrame) -> DataFrame:
    """A4 — `/api/stats` (routes/status.py:106-139): status-code histogram of
    the current checks of live resources, from `current_state`, with
    percentages; the percentage window runs over the tiny aggregated frame
    only."""
    cur = state.filter(~F.col("deleted") & _matched())
    return pct_histogram(cur, F.col(CHECK_PREFIX + "status").cast("string"))
