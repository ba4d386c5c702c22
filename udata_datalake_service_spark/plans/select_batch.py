"""O3/U1/U7 — crawl batch selection.

Reference: crawl/select_batch.py:34-91 — three tiered random-sampled
selects over the live catalog:
  tier 1: priority resources;
  tier 2: never checked (last_check IS NULL);
  tier 3: outdated (next_check_at <= now), via the last_check join;
each ``ORDER BY random() LIMIT BATCH_SIZE``, stopping once the batch is
full, all behind the EXCLUDED_PATTERNS clause (db/resource.py:116-129).
The temp-table + FOR UPDATE claim (:9-31) serializes competing crawlers.

Spark form: the three tiers are disjoint filtered frames over one catalog
scan, sampled with the deterministic md5 order (reproducible; executed as
TakeOrderedAndProject so no full sort), unioned and limited. The claim
step is a driver-side status update — Spark's single-writer driver replaces
Postgres' pessimistic lock (SURVEY §4.1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from udata_datalake_service_spark.operators.core import deterministic_sample, union_tiers

BATCH_SIZE = 40
EXCLUDED_PATTERNS = ("http%geo.data.gouv.fr%", "%?format=shp%")  # config_default.toml:24-28


def excluded_clause(patterns: tuple[str, ...] = EXCLUDED_PATTERNS) -> Column:
    """P3 — conjunction of NOT LIKE patterns + liveness/status gate
    (db/resource.py:116-129)."""
    cond = ~F.col("deleted") & (
        F.col("status").isNull() | (F.col("status") == "BACKOFF")
    )
    for p in patterns:
        cond = cond & ~F.col("url").like(p)
    return cond


def select_batch(
    catalog: DataFrame,
    checks: DataFrame,
    batch_size: int = BATCH_SIZE,
    now: Column | None = None,
    seed: str = "s0",
    excluded_patterns: tuple[str, ...] = EXCLUDED_PATTERNS,
) -> DataFrame:
    """Returns up to ``batch_size`` catalog rows to check, tier-tagged.

    Tiers are made disjoint by their predicates; the tie-broken sample keys
    make the whole selection reproducible for a given seed (the reference's
    ORDER BY random() is deliberately replaced — see deterministic_sample).
    """
    now = now if now is not None else F.current_timestamp()
    live = catalog.filter(excluded_clause(excluded_patterns))

    t1 = live.filter(F.col("priority")).withColumn("tier", F.lit("priority"))
    t2 = (
        live.filter(~F.col("priority") & F.col("last_check").isNull())
        .withColumn("tier", F.lit("never_checked"))
    )
    # outdated tier: J3 — join on last_check to read next_check_at
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
    # the final cut fills priority first, then never-checked, then outdated —
    # the reference's tier fill order (crawl/select_batch.py:56-89) — with
    # the sample key as tie-break so the batch is fully deterministic
    rk = F.md5(F.concat_ws("|", F.lit(seed), F.col("resource_id").cast("string")))
    return (
        union_tiers(*sampled)
        .orderBy(F.asc("__tier_rank"), rk.asc())
        .limit(batch_size)
        .drop("__tier_rank")
    )


def claim_batch(catalog: DataFrame, batch: DataFrame) -> DataFrame:
    """U7 — mark the selected resources CRAWLING_URL. Returns the updated
    catalog frame (lake rewrite / MERGE in a real deployment)."""
    ids = batch.select("resource_id").withColumn("__claimed", F.lit(True))
    return (
        catalog.join(F.broadcast(ids), on="resource_id", how="left")
        .withColumn(
            "status",
            F.when(F.col("__claimed"), F.lit("CRAWLING_URL")).otherwise(F.col("status")),
        )
        .drop("__claimed")
    )
