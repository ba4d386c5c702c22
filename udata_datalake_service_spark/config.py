"""Runtime configuration — the Spark-side mirror of the reference's
``config_default.toml`` surface (udata_hydra/config_default.toml:20-67).

Only the data-plane keys exist here; Postgres/Redis/RQ/Sentry plumbing has
no Spark counterpart (the lake and the scheduler replace them). Key names
keep the reference's UPPER_SNAKE spelling in TOML so an existing deployment
file ports by deleting the dead sections.

Precedence: dataclass defaults < TOML file (explicit path or
``$SPARK_HYDRA_CONFIG``) < environment (``SPARK_HYDRA_<KEY>``, parsed by
field type — ints as ints, tuples as comma-separated strings).

The crawl defaults are the constants the plans themselves default to
(``select_batch``, ``backoff``), so the two paths cannot drift apart.
"""

from __future__ import annotations

import dataclasses
import os
from dataclasses import dataclass

from udata_datalake_service_spark.plans.backoff import (
    BACKOFF_NB_REQ,
    BACKOFF_PERIOD_S,
    COOL_OFF_PERIOD_S,
    NO_BACKOFF_DOMAINS,
)
from udata_datalake_service_spark.plans.select_batch import (
    BATCH_SIZE,
    EXCLUDED_PATTERNS,
)


@dataclass(frozen=True)
class Config:
    # crawler (config_default.toml:20-49)
    excluded_patterns: tuple[str, ...] = EXCLUDED_PATTERNS
    no_backoff_domains: tuple[str, ...] = NO_BACKOFF_DOMAINS
    backoff_nb_req: int = BACKOFF_NB_REQ
    backoff_period: int = BACKOFF_PERIOD_S  # seconds
    cool_off_period: int = COOL_OFF_PERIOD_S  # seconds
    batch_size: int = BATCH_SIZE


def _coerce(current, raw: str):
    if isinstance(current, int):
        return int(raw)
    if isinstance(current, tuple):
        return tuple(p.strip() for p in raw.split(",") if p.strip())
    return raw


def _check_toml(key: str, current, v):
    """A TOML value must have its field's type: a list of strings for
    the tuple fields, an integer (not a bool) for the int fields. A bare
    string where a list belongs would otherwise iterate into one-letter
    patterns."""
    if isinstance(current, tuple):
        if not (isinstance(v, list) and all(isinstance(x, str) for x in v)):
            raise ValueError(f"{key} must be a list of strings, got {v!r}")
        return tuple(v)
    if isinstance(current, int) and (isinstance(v, bool) or not isinstance(v, int)):
        raise ValueError(f"{key} must be an integer, got {v!r}")
    return v


def load_config(
    toml_path: str | None = None, env: dict | None = None
) -> Config:
    """defaults < TOML < environment. Unknown TOML keys are ignored (the
    reference's Postgres/Redis keys port over silently as no-ops); a known
    key whose value has the wrong type raises ``ValueError``."""
    env = os.environ if env is None else env
    values: dict = {}

    path = toml_path or env.get("SPARK_HYDRA_CONFIG")
    if path:
        import tomllib

        with open(path, "rb") as f:
            doc = tomllib.load(f)
        for f_ in dataclasses.fields(Config):
            key = f_.name.upper()
            if key in doc:
                values[f_.name] = _check_toml(key, f_.default, doc[key])

    for f_ in dataclasses.fields(Config):
        raw = env.get(f"SPARK_HYDRA_{f_.name.upper()}")
        if raw is not None:
            values[f_.name] = _coerce(values.get(f_.name, f_.default), raw)

    return Config(**values)
