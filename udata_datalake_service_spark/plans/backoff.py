"""ST2/A5 — per-domain rate limiting decisions.

Reference: crawl/helpers.py:66-139 gates every URL before checking:
1. domain in NO_BACKOFF_DOMAINS allowlist → never back off;
2. ≥ BACKOFF_NB_REQ (180) checks of that domain in the last BACKOFF_PERIOD
   (360 s) → back off;
3. a 429 from that domain within COOL_OFF_PERIOD (1 day) → back off;
4. last ratelimit headers show remaining/limit ≤ 10% → back off.

The reference asks Postgres per-domain per-URL. Set-oriented Spark form:
ONE aggregate over the recent slice of checks produces the full backoff
table for the batch — a single shuffle on domain, reused for every URL in
the batch (the reference re-runs its COUNT per resource).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BACKOFF_NB_REQ = 180
BACKOFF_PERIOD_S = 360
COOL_OFF_PERIOD_S = 86_400
# the reference's shipped allowlist (config_default.toml)
NO_BACKOFF_DOMAINS = (
    "static.data.gouv.fr",
    "www.data.gouv.fr",
    "inspire.data.gouv.fr",
)


def domain_backoff_table(
    checks: DataFrame,
    now: Column | None = None,
    nb_req: int = BACKOFF_NB_REQ,
    period_s: int = BACKOFF_PERIOD_S,
    cool_off_s: int = COOL_OFF_PERIOD_S,
    no_backoff_domains: tuple[str, ...] = NO_BACKOFF_DOMAINS,
) -> DataFrame:
    """Per-domain decision frame: ``domain, recent_checks, saw_429,
    ratelimit_low, backoff(bool)``.

    The created_at lower bound is pushed into the parquet scan (and prunes
    date partitions); with ~thousands of domains the result broadcasts into
    the batch-selection join.
    """
    now = now if now is not None else F.current_timestamp()
    recent_cut = now - F.expr(f"INTERVAL {period_s} SECONDS")
    cool_cut = now - F.expr(f"INTERVAL {cool_off_s} SECONDS")

    # newest ratelimit headers per domain (O2 latest-row probe, one window)
    w = Window.partitionBy("domain").orderBy(F.desc("created_at"), F.desc("id"))
    latest = (
        checks.filter(F.col("created_at") >= cool_cut)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "domain",
            F.col("headers")["x-ratelimit-remaining"].cast("double").alias("__rl_rem"),
            F.col("headers")["x-ratelimit-limit"].cast("double").alias("__rl_lim"),
        )
    )

    per_domain = (
        checks.filter(F.col("created_at") >= cool_cut)
        .groupBy("domain")
        .agg(
            F.count_if(F.col("created_at") >= recent_cut).alias("recent_checks"),
            F.count_if(F.col("status") == 429).alias("recent_429"),
        )
        .join(latest, on="domain", how="left")
    )

    allow = F.col("domain").isin(*no_backoff_domains) if no_backoff_domains else F.lit(False)
    ratelimit_low = (
        F.col("__rl_lim").isNotNull()
        & F.col("__rl_rem").isNotNull()
        & (F.col("__rl_lim") > 0)
        & (F.col("__rl_rem") / F.col("__rl_lim") <= 0.1)
    )
    return per_domain.select(
        "domain",
        "recent_checks",
        (F.col("recent_429") > 0).alias("saw_429"),
        ratelimit_low.alias("ratelimit_low"),
        (
            ~allow
            & (
                (F.col("recent_checks") >= nb_req)
                | (F.col("recent_429") > 0)
                | ratelimit_low
            )
        ).alias("backoff"),
    )
