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

The columns are built as SQL text, one ``selectExpr`` per layer, instead
of Column trees: every ``F.when``/``F.lit``/``F.col`` is a py4j round trip
on the driver, and the three builders made about 1,600 of them per crawl
cycle. Each signal's ``lag`` is projected once beneath the columns that
compare against it, however often they reference it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

HAS_CHANGED = "HAS_CHANGED"
HAS_NOT_CHANGED = "HAS_NOT_CHANGED"
NO_GUESS = "NO_GUESS"


def _q(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def with_sql_columns(
    df: DataFrame, cols: dict[str, str], lags: dict[str, str] | None = None
) -> DataFrame:
    """``df`` with ``cols`` (name → SQL text) added, or replaced in place
    as ``withColumn`` does, in one projection. ``lags`` (name → SQL text,
    typically a ``lag(…) OVER (…)``) are projected beneath it, so each is
    computed once however often ``cols`` reference it by name; they are
    not in the output."""
    names = df.columns
    src = df.selectExpr("*", *(f"{e} AS {_q(n)}" for n, e in lags.items())) if lags else df
    exprs = [f"{cols[c]} AS {_q(c)}" if c in cols else _q(c) for c in names]
    exprs += [f"{e} AS {_q(n)}" for n, e in cols.items() if n not in names]
    return src.selectExpr(*exprs)


def verdict(cur: str, prev: str) -> str:
    """SQL text of the tri-state comparison of one signal across
    consecutive checks."""
    return (
        f"CASE WHEN ({cur}) IS NULL OR ({prev}) IS NULL THEN '{NO_GUESS}' "
        f"WHEN ({cur}) <> ({prev}) THEN '{HAS_CHANGED}' "
        f"ELSE '{HAS_NOT_CHANGED}' END"
    )


def cascade(verdicts: list[tuple[str, str]]) -> tuple[str, str]:
    """SQL text of (``change_status``, ``change_method``) of an ordered
    short-circuit cascade over (method name, tri-state verdict text)
    pairs: the first conclusive verdict and the name of the method that
    gave it, or NO_GUESS and null when every method abstains."""
    hits = [(name, f"({v}) <> '{NO_GUESS}'", v) for name, v in verdicts]
    status = " ".join(f"WHEN {hit} THEN {v}" for _, hit, v in hits)
    method = " ".join(f"WHEN {hit} THEN '{name}'" for name, hit, _ in hits)
    return f"CASE {status} ELSE '{NO_GUESS}' END", f"CASE {method} END"


def _over(key: str, order: str, id_col: str) -> str:
    return f"OVER (PARTITION BY {_q(key)} ORDER BY {_q(order)} ASC, {_q(id_col)} ASC)"


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
    over = _over(key, order, id_col)
    signals = {
        "last_modified": "detected_last_modified_at",
        "content_length": "CAST(headers['content-length'] AS BIGINT)",
        "checksum": "checksum",
    }
    verdicts = {name: verdict(cur, f"__prev_{name}") for name, cur in signals.items()}
    status, method = cascade(list(verdicts.items()))
    return with_sql_columns(
        checks,
        {
            **{f"chg_{name}": v for name, v in verdicts.items()},
            "change_status": status,
            "change_method": method,
        },
        lags={f"__prev_{name}": f"lag({cur}) {over}" for name, cur in signals.items()},
    )


def check_events(checks: DataFrame, key: str = "resource_id") -> DataFrame:
    """ST5 — webhook-trigger derivation (crawl/preprocess_check_data.py:69-105).

    Emits one row per check with boolean trigger flags: first check, status
    changed, availability lost/regained, timeout flipped. The downstream
    notification sink filters ``any_trigger``.
    """
    over = _over(key, "created_at", "id")
    first = "(__prev_status IS NULL AND __prev_id IS NULL)"
    ok = "(status >= 200 AND status < 400)"
    prev_ok = "(__prev_status >= 200 AND __prev_status < 400)"
    flags = {
        "evt_first_check": first,
        "evt_status_changed": f"NOT {first} AND NOT (status <=> __prev_status)",
        "evt_availability_lost": f"NOT {first} AND {prev_ok} AND NOT {ok}",
        "evt_availability_regained": f"NOT {first} AND NOT {prev_ok} AND {ok}",
        "evt_timeout_changed": f"NOT {first} AND NOT (timeout <=> __prev_timeout)",
    }
    return with_sql_columns(
        checks,
        {**flags, "any_trigger": " OR ".join(f"({f})" for f in flags.values())},
        lags={
            "__prev_status": f"lag(status) {over}",
            "__prev_timeout": f"lag(timeout) {over}",
            "__prev_id": f"lag(id) {over}",
        },
    )
