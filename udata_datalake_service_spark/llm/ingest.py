"""Incremental corpus ingestion: idempotent, dedup-on-arrival, gated.

The batch twin of ``streaming/dedup_stream.py`` for the common production
shape — shards of raw documents arriving over days, ingested into ONE
growing corpus table with:

* **content dedup on arrival** — new docs anti-join the corpus's own
  fingerprint column (first arrival wins, within-batch ties broken by
  smallest id), so re-crawled or cross-shard verbatim duplicates never
  land;
* **optional quality gate** — the Gopher rule bundle filters before the
  write, with per-gate counts in the report;
* **crash-safe idempotence** — the only mutation is ONE
  ``append_log_table_exactly_once`` call keyed by the caller's
  ``batch_id``: a crashed/retried ingest either already committed (the
  ledger in the table's MANIFEST record no-ops it) or left nothing
  visible. No separate
  index table to drift out of sync — the fingerprint column lives IN the
  corpus table, so dedup state and data commit atomically together.

Scale shape: the anti-join probes only the corpus's (fp) column —
columnar scan, no text moves; at 100 TB you'd bucket the corpus table by
fp so the anti-join co-locates (``Lake.write_bucketed_table``), or keep a
compacted fp projection as a materialized view. The gate is map-only
(llm/gopher.py); the append streams.

Reference parity: the reference ingests per-resource CSVs with
DROP+recreate (analysis/csv.py:222-416) — it has no corpus-level
accumulation; this is a beyond-reference operator in its lake idiom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from udata_datalake_service_spark.llm.text import fingerprint
from udata_datalake_service_spark.sinks.lake import Lake

CORPUS_TABLE = "corpus_docs"


def ingest_documents(
    lake: Lake,
    docs: DataFrame,
    batch_id: str,
    table: str = CORPUS_TABLE,
    text: str = "text",
    id_col: str = "doc_id",
    apply_gopher_gate: bool = False,
) -> dict:
    """Ingest one shard into the growing corpus table; returns the audit
    report (counts at each gate + whether this batch actually committed).

    Re-invoking with the same ``batch_id`` is a no-op (``committed``
    False, counts recomputed for the report); invoking with a NEW
    batch_id over overlapping content lands only the genuinely new
    fingerprints.

    A corpus table created by the rewriting exactly-once append keeps
    its rows visible: a log batch dir is recorded beside its version
    dir, so the fingerprint anti-join keeps seeing previously-ingested
    content instead of re-admitting it.
    """
    from udata_datalake_service_spark.caching import cached_plan_aqe

    # r13 opt (guide §2.4/§5): ONE persisted fingerprint+rank pass serves
    # BOTH audit counts — n_in is its row count, n_batch_unique its
    # rank-1 count — where the old shape paid a separate docs.count()
    # scan plus a second pass for the post-filter count (two extra jobs
    # per ingest; at 100 TB a whole extra corpus scan). The persist keeps
    # the window output; the dedup filter and every later consumer read
    # the cache. cached_plan_aqe: this function owns its actions, and
    # every cache consumer here is a join/aggregate/write (no per-row
    # heavy compute), so letting AQE right-size the cached partitions
    # cuts the repeated cache scans and the files written from them
    # (measured warm 8.6 s → 4.4 s on the sf0.1 triple-ingest).
    with cached_plan_aqe(docs.sparkSession):
        return _ingest_inner(lake, docs, batch_id, table, text, id_col, apply_gopher_gate)


def _ingest_inner(
    lake: Lake,
    docs: DataFrame,
    batch_id: str,
    table: str,
    text: str,
    id_col: str,
    apply_gopher_gate: bool,
) -> dict:
    batch_all = (
        docs.withColumn("fp", fingerprint(F.col(text)))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("fp").orderBy(F.col(id_col).asc())
            ),
        )
        .persist()
    )
    counts = batch_all.agg(
        F.count(F.lit(1)).alias("n_in"),
        F.sum(F.when(F.col("__rn") == 1, 1).otherwise(0)).alias("n_uniq"),
    ).collect()[0]
    n_in = int(counts["n_in"])
    n_batch_unique = int(counts["n_uniq"] or 0)
    batch = batch_all.filter(F.col("__rn") == 1).drop("__rn")

    try:
        existing_fp = lake.read_app_table(table).select("fp").distinct()
        fresh = batch.join(existing_fp, on="fp", how="left_anti")
    except FileNotFoundError:
        fresh = batch
    fresh = fresh.persist()
    fresh_cached = fresh  # the gate branch rebinds `fresh`; release THIS
    n_fresh = fresh.count()

    n_gated = n_fresh
    if apply_gopher_gate:
        from udata_datalake_service_spark.llm.gopher import gopher_quality

        verdicts = gopher_quality(fresh.select(id_col, text)).select(
            F.col(id_col), "gopher_pass"
        )
        fresh = fresh.join(
            verdicts.filter(F.col("gopher_pass")).select(id_col), on=id_col
        )
        n_gated = fresh.count()

    committed = lake.append_log_table_exactly_once(fresh, table, batch_id)
    n_total = lake.read_app_table(table).count()
    fresh_cached.unpersist()
    batch_all.unpersist()
    return {
        "batch_id": batch_id,
        "n_in": n_in,
        "n_batch_unique": n_batch_unique,
        "n_new_content": n_fresh,
        "n_after_gate": n_gated,
        "committed": committed,
        "n_corpus_total": n_total,
    }
