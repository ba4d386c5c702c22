"""ST3 — adaptive re-check scheduling ladder.

Reference: crawl/calculate_next_check.py:6-44 with
``CHECK_DELAYS = [12h, 24h, 168h, 720h]`` (config_default.toml:46):
- resource CHANGED (or no last-modification info) → earliest rung (12h);
- UNCHANGED → the first rung ≥ time since the detected last modification,
  capped at the top rung (720h).

Spark: one CASE ladder appended at check-insert time — a pure
projection, no shuffle, built as SQL text (see ``change_detection``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from udata_datalake_service_spark.plans.change_detection import (
    HAS_CHANGED,
    with_sql_columns,
)

CHECK_DELAYS_HOURS = (12, 24, 168, 720)


def next_check_at(
    created_at: str,
    has_changed: str,
    detected_last_modified_at: str,
    delays_hours: tuple[int, ...] = CHECK_DELAYS_HOURS,
) -> str:
    """SQL text of checks.next_check_at from the SQL text of its three
    inputs."""
    age_hours = (
        f"(CAST({created_at} AS DOUBLE) - CAST({detected_last_modified_at} AS DOUBLE))"
        " / 3600D"
    )
    rungs = " ".join(
        f"WHEN {age_hours} <= {d}D THEN {d}" for d in delays_hours[:-1]
    )
    chosen = (
        f"CASE WHEN ({has_changed}) OR ({detected_last_modified_at}) IS NULL "
        f"THEN {delays_hours[0]} {rungs} ELSE {delays_hours[-1]} END"
    )
    return f"{created_at} + CAST({chosen} AS INT) * INTERVAL 1 HOUR"


def with_next_check(checks: DataFrame) -> DataFrame:
    """Apply the ladder to a checks frame that already carries
    ``change_status`` (see change_detection.with_change_detection)."""
    return with_sql_columns(checks, {
        "next_check_at": next_check_at(
            "created_at",
            f"change_status = '{HAS_CHANGED}'",
            "detected_last_modified_at",
        ),
    })
