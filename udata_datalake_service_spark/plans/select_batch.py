"""O3/U1/U7 — crawl batch selection.

Reference: crawl/select_batch.py:34-91 — three tiered random-sampled
selects over the live catalog:
  tier 1: priority resources;
  tier 2: never checked (last_check IS NULL);
  tier 3: outdated (next_check_at <= now), via the last_check join;
each ``ORDER BY random() LIMIT BATCH_SIZE``, stopping once the batch is
full, all behind the EXCLUDED_PATTERNS clause (db/resource.py:116-129).
The temp-table + FOR UPDATE claim (:9-31) serializes competing crawlers.

Spark form, one pass: every tier samples by the same key,
``md5(seed|resource_id)``, so filling priority first, then never-checked,
then outdated is exactly the top ``batch_size`` rows ordered by
(tier rank, sample key). One scan of the live catalog, left-joined to
``checks(id, next_check_at)`` for the outdated tier, gets a ``CASE`` tier
rank (NULL = in no tier); one ``orderBy(rank, key).limit(n)`` executes as
a single TakeOrderedAndProject (no full sort). The claim step is a
driver-side status update — Spark's single-writer driver replaces
Postgres' pessimistic lock (SURVEY §4.1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

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

    The tiers are disjoint by their predicates, and the sample key breaks
    ties, so the selection is reproducible for a given seed (the
    reference's ORDER BY random() is deliberately replaced — see
    ``operators.core.deterministic_sample``). ``checks.id`` is the checks
    key: the left join adds no rows.
    """
    now = now if now is not None else F.current_timestamp()
    live = catalog.filter(excluded_clause(excluded_patterns))
    # outdated tier: J3 — join on last_check to read next_check_at
    chk = checks.select(F.col("id").alias("__chk_id"), "next_check_at")
    prio, nca = F.col("priority"), F.col("next_check_at")
    rank = (
        F.when(prio, 0)
        .when(~prio & F.col("last_check").isNull(), 1)
        # an outdated row needs a MATCHING check; a NULL priority is in no tier
        .when(
            ~prio & F.col("__chk_id").isNotNull() & (nca.isNull() | (nca <= now)),
            2,
        )
    )
    r = F.col("__tier_rank")
    # the reference's tier fill order (crawl/select_batch.py:56-89), with
    # the sample key as tie-break so the batch is fully deterministic
    rk = F.md5(F.concat_ws("|", F.lit(seed), F.col("resource_id").cast("string")))
    return (
        live.join(chk, F.col("last_check") == F.col("__chk_id"), "left")
        .withColumn("__tier_rank", rank)
        .filter(r.isNotNull())
        .orderBy(r.asc(), rk.asc())
        .limit(batch_size)
        .select(
            *live.columns,
            F.when(r == 0, "priority")
            .when(r == 1, "never_checked")
            .otherwise("outdated")
            .alias("tier"),
        )
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
