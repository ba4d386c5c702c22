"""ST4/ST5 — change detection over the checks history as lag windows.

Reference: analysis/resource.py:216-267 runs an ordered short-circuit
cascade per resource against the last two checks (SQL ``ORDER BY created_at
DESC LIMIT 2``): harvest metadata → last-modified header Δ → content-length
Δ → body checksum Δ; each method yields HAS_CHANGED / HAS_NOT_CHANGED /
NO_GUESS and the first non-NO_GUESS wins. crawl/preprocess_check_data.py:69-105
derives webhook-trigger events from the same pair of checks.

Spark design: instead of a per-resource point query, ONE window pass
(``lag`` over partitionBy(resource_id) orderBy(created_at)) computes the
cascade for *every* check row simultaneously — the set-oriented form of the
reference's row-at-a-time probe. Scale: single shuffle on resource_id; with
the checks table bucketed by resource_id even that shuffle disappears.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

HAS_CHANGED = "HAS_CHANGED"
HAS_NOT_CHANGED = "HAS_NOT_CHANGED"
NO_GUESS = "NO_GUESS"


def _verdict(cur: Column, prev: Column) -> Column:
    """Tri-state comparison of one signal across consecutive checks."""
    return (
        F.when(cur.isNull() | prev.isNull(), F.lit(NO_GUESS))
        .when(cur != prev, F.lit(HAS_CHANGED))
        .otherwise(F.lit(HAS_NOT_CHANGED))
    )


def cascade(verdicts: list[tuple[str, Column]]) -> tuple[Column, Column]:
    """(``change_status``, ``change_method``) of an ordered short-circuit
    cascade over (method name, tri-state verdict) pairs: the first
    conclusive verdict and the name of the method that gave it, or
    NO_GUESS and null when every method abstains."""
    status: Column = F.lit(NO_GUESS)
    method: Column = F.lit(None).cast("string")
    # build the short-circuit from the lowest priority up
    for name, verdict in reversed(verdicts):
        status = F.when(verdict != NO_GUESS, verdict).otherwise(status)
        method = F.when(verdict != NO_GUESS, F.lit(name)).otherwise(method)
    return status, method


def with_change_detection(
    checks: DataFrame,
    key: str = "resource_id",
    order: str = "created_at",
    id_col: str = "id",
) -> DataFrame:
    """Append per-method verdicts + the cascade outcome to every check row.

    Columns added: ``chg_last_modified``, ``chg_content_length``,
    ``chg_checksum`` (each tri-state) and ``change_status`` = first
    conclusive verdict in the reference's priority order, plus
    ``change_method`` naming the method that decided.
    """
    w = Window.partitionBy(key).orderBy(F.col(order).asc(), F.col(id_col).asc())

    lm = F.col("detected_last_modified_at")
    cl = F.col("headers")["content-length"].cast("long")
    ck = F.col("checksum")

    out = (
        checks.withColumn("__prev_lm", F.lag(lm).over(w))
        .withColumn("__prev_cl", F.lag(cl).over(w))
        .withColumn("__prev_ck", F.lag(ck).over(w))
        .withColumn("__is_first", F.lag(F.col(id_col)).over(w).isNull())
    )
    out = (
        out.withColumn("chg_last_modified", _verdict(lm, F.col("__prev_lm")))
        .withColumn("chg_content_length", _verdict(cl, F.col("__prev_cl")))
        .withColumn("chg_checksum", _verdict(ck, F.col("__prev_ck")))
    )
    status, method = cascade([
        ("last_modified", F.col("chg_last_modified")),
        ("content_length", F.col("chg_content_length")),
        ("checksum", F.col("chg_checksum")),
    ])
    return (
        out.withColumn("change_status", status)
        .withColumn("change_method", method)
        .drop("__prev_lm", "__prev_cl", "__prev_ck")
    )


def check_events(checks: DataFrame, key: str = "resource_id") -> DataFrame:
    """ST5 — webhook-trigger derivation (crawl/preprocess_check_data.py:69-105).

    Emits one row per check with boolean trigger flags: first check, status
    changed, availability lost/regained, timeout flipped. The downstream
    notification sink filters ``any_trigger``.
    """
    w = Window.partitionBy(key).orderBy(F.col("created_at").asc(), F.col("id").asc())
    prev_status = F.lag("status").over(w)
    prev_timeout = F.lag("timeout").over(w)
    first = prev_status.isNull() & F.lag("id").over(w).isNull()

    ok = (F.col("status") >= 200) & (F.col("status") < 400)
    prev_ok = (prev_status >= 200) & (prev_status < 400)

    out = (
        checks.withColumn("evt_first_check", first)
        .withColumn(
            "evt_status_changed",
            (~first) & ~(F.col("status").eqNullSafe(prev_status)),
        )
        .withColumn("evt_availability_lost", (~first) & prev_ok & ~ok)
        .withColumn("evt_availability_regained", (~first) & ~prev_ok & ok)
        .withColumn(
            "evt_timeout_changed",
            (~first) & ~(F.col("timeout").eqNullSafe(prev_timeout)),
        )
    )
    return out.withColumn(
        "any_trigger",
        F.col("evt_first_check")
        | F.col("evt_status_changed")
        | F.col("evt_availability_lost")
        | F.col("evt_availability_regained")
        | F.col("evt_timeout_changed"),
    )
