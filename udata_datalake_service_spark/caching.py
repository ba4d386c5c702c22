"""Persist-lifecycle helpers: adopt / settle.

Spark's ``CacheManager`` holds a strong reference to every persisted
DataFrame, so a ``df.persist()`` without a matching ``unpersist()`` leaks
executor storage for the whole session — a real problem for long-lived
services (the reference runs as a daemon; see
``/root/reference/udata_hydra/crawl.py`` for its always-on loop).

Operators in this package must stay LAZY: composition, AQE re-planning
and fault-tolerant lineage at cluster scale all depend on returning
undeclared plans, so an operator can never know when "its" action runs
and therefore can never release its own intermediate caches. The
contract that squares this:

* an operator that persists an intermediate (inverted index, signature
  table, doc-term grain…) attaches it to its result with
  ``adopt(result, cache, …)`` — zero behavior change, pure bookkeeping;
* whoever owns the ACTION (a query wrapper, a CLI verb, a sink write)
  finishes with ``settle(result, *extra)`` — materialize the result once
  (``localCheckpoint(eager=True)``: the result is job-output-sized and
  about to be consumed anyway) and release every adopted cache.

``settle`` is an action boundary: never call it inside a lazy
composition, only where the result is about to be collected/written.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

_ATTR = "_adopted_caches"

_CACHED_AQE = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


@contextmanager
def cached_plan_aqe(spark):
    """Let AQE re-optimize CACHED plans inside this block (r13 opt).

    By default Spark pins a persisted plan's output partitioning, so a
    persist downstream of a shuffle materializes at the full
    ``spark.sql.shuffle.partitions`` ceiling — dozens of near-empty
    cache blocks locally, and at cluster scale cache partitions sized
    by the pre-AQE ceiling instead of by bytes. Every action planned
    while this flag is on coalesces cached shuffle output exactly like
    uncached shuffles (advisory partition size, parallelism-first).

    Deliberately NOT a session default: a cache that feeds compute-
    heavy per-row work with no shuffle in between (the shingle/LSH
    self-join planes) would lose its parallelism to the byte-based
    coalesce — measured 3× slower on dd_jaccard_prefix. Scope it to
    pipelines whose caches feed joins/aggregates/writes (the lake
    ingest plane), where fewer right-sized partitions win on both the
    cache scan and the files written from it.
    """
    prev = spark.conf.get(_CACHED_AQE, None)
    spark.conf.set(_CACHED_AQE, "true")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(_CACHED_AQE)
        else:
            spark.conf.set(_CACHED_AQE, prev)


def adopt(result: DataFrame, *caches: DataFrame) -> DataFrame:
    """Attach persisted intermediates to ``result`` for later release.

    Propagates caches already adopted by ``caches``' own lineage is the
    caller's job: pass ``*adopted(upstream)`` explicitly when composing.
    """
    result.__dict__.setdefault(_ATTR, []).extend(caches)
    return result


def adopted(*dfs: DataFrame) -> list[DataFrame]:
    """The caches adopted by each of ``dfs`` (for re-adoption after a
    derived DataFrame — union, join, select — drops the attribute)."""
    return [c for d in dfs for c in getattr(d, _ATTR, [])]


def settle(result: DataFrame, *extra: DataFrame) -> DataFrame:
    """Materialize ``result`` eagerly and unpersist every adopted (and
    ``extra``) intermediate cache.

    ``localCheckpoint`` rather than collect: the materialized blocks live
    on the executors (result-sized, freed when the returned frame is
    garbage-collected by the ContextCleaner), and downstream consumers —
    the driver's collect, a sink write — read them without recomputing
    the released subtree. The caches are released even when the
    materialization raises; the error then propagates."""
    try:
        return result.localCheckpoint(eager=True)
    finally:
        seen: dict[int, DataFrame] = {}
        for c in [*adopted(result), *extra]:
            seen.setdefault(id(c), c)
        for c in seen.values():
            c.unpersist()
        result.__dict__.pop(_ATTR, None)
