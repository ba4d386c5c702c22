"""Streaming sketch rollup: per-micro-batch KMV sketches → exactly-once
lake appends → corpus NDV answered from the lake alone.

The statistics half of the 100 TB ingest pattern (`sk_lake_rollup` is
its batch twin): an endless document stream must answer "how many
distinct X per group so far?" without ever rescanning history. Each
micro-batch contributes a k-row-per-group KMV sketch
(`operators/sketch.kmv_build`) appended through
``Lake.append_app_table_exactly_once`` keyed by the epoch id — Spark
replays a failed epoch with the SAME id, the ledger in the table's
MANIFEST record no-ops the second delivery, so the sketch table is exactly-once end to end. Any NDV
question then reads ONLY the sketch table: min-k(∪ min-k) = min-k(∪),
so the lake rollup is hash-for-hash the sketch of everything ever
streamed.

Two properties fall out of KMV itself (pinned by test_streaming.py):

* duplicate-insensitivity — re-crawled content contributes the same
  hashes, and min-k of a multiset ignores multiplicity, so the rolled-
  up NDV needs NO cross-batch dedup state (where `corpus_ingest_stream`
  carries a fingerprint state store, the sketch stream is STATELESS
  beyond source offsets);
* mergeability across any batch slicing — the stream's epoch boundaries
  are invisible in the final sketch.

State/size at scale: the lake gains k rows per group per epoch; compact
with `Lake.compact_table` or re-sketch (merge epochs into one row set)
periodically — both are sketch-grain, never raw-data-grain.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from udata_datalake_service_spark.operators.sketch import (
    kmv_build,
    kmv_estimate,
    kmv_merge,
)
from udata_datalake_service_spark.sinks.lake import Lake
from udata_datalake_service_spark.streaming.dedup_stream import stream_documents


def kmv_sketch_stream(
    spark: SparkSession,
    docs_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    col: str = "doc_id",
    group_cols: Sequence[str] = ("lang",),
    k: int = 64,
    table: str = "kmv_batches",
    available_now: bool = True,
    ledger_prefix: str | None = None,
) -> StreamingQuery:
    """Start the sketch stream; returns the running query.

    Same ledger-prefix contract as ``corpus_ingest_stream``: epoch ids
    are unique PER CHECKPOINT, so the prefix defaults to a hash of
    ``checkpoint_dir`` (replays of the same checkpoint no-op; a fresh
    checkpoint commits independently)."""
    import hashlib

    if ledger_prefix is None:
        ledger_prefix = (
            "stream-kmv-" + hashlib.md5(str(checkpoint_dir).encode()).hexdigest()[:8]
        )
    docs = stream_documents(spark, docs_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sk = kmv_build(batch_df, col, list(group_cols), k).withColumn(
            "batch_epoch", F.lit(int(epoch_id))
        )
        lake.append_app_table_exactly_once(sk, table, f"{ledger_prefix}-{epoch_id}")

    writer = docs.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def kmv_ndv_from_lake(
    lake: Lake,
    table: str = "kmv_batches",
    group_cols: Sequence[str] = ("lang",),
    k: int = 64,
) -> DataFrame:
    """NDV per group from the persisted batch sketches ALONE — no raw
    data touched. Returns `kmv_estimate`'s (group…, sketch_n, kth_h,
    ndv_est)."""
    g = list(group_cols)
    return kmv_estimate(kmv_merge(lake.read_app_table(table), group_cols=g, k=k), g, k)


def kmv_compact_lake_sketches(
    lake: Lake,
    table: str = "kmv_batches",
    group_cols: Sequence[str] = ("lang",),
    k: int = 64,
) -> dict:
    """Fold all persisted epoch sketches into ONE merged sketch version —
    the maintenance verb that bounds the sketch table at k rows per
    group FOREVER, however many epochs the stream has committed. The
    min-k merge law guarantees the compacted table answers every future
    rollup identically (pinned by test), so this is a pure size/read
    optimization at sketch grain — raw data is never touched.

    Two invariants make compaction safe to run NEXT TO a live stream
    (ADVICE r10 — the first cut had neither and could lose or duplicate
    epochs):

    * **CAS against racing appends.** The table version is snapshotted
      before reading and the rewrite commits with
      ``expected_version=snapshot`` — a stream epoch whose
      exactly-once append flips between compaction's read and its
      manifest flip makes the compaction raise `ConcurrentWriteError`
      (retry) instead of silently dropping a committed epoch the
      checkpoint already considers durable.
    * **The exactly-once ledger is CARRIED, not dropped.** Compaction
      preserves every committed epoch's *data* (merged), so the epoch
      ids must stay committed too: `rewrite_app_table` carries the
      ledger, so a crash-replayed epoch keeps no-opping against the
      compacted version. Dropping it would re-admit replayed epochs as
      duplicate ``batch_epoch`` rows.

    Raises `ConcurrentWriteError` if a commit raced; the caller retries.
    Returns {"rows_before", "rows_after"}."""
    g = list(group_cols)
    snapshot = lake.table_version(table, app=True)
    before = lake.read_app_table(table)
    n_before = before.count()
    merged = kmv_merge(before, group_cols=g, k=k).withColumn(
        "batch_epoch", F.lit(-1)  # sentinel: the compacted epoch
    )
    n_after = merged.count()
    lake.rewrite_app_table(
        merged, table, expected_version=snapshot
    )
    return {"rows_before": int(n_before), "rows_after": int(n_after)}
