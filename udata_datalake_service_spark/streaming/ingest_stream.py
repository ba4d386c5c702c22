"""Streaming corpus ingestion: dedup stream → exactly-once lake sink.

The streaming twin of ``llm/ingest.py``: an append-only directory of
document shards becomes a continuously-growing corpus table with

* cross-batch content dedup from the state store
  (``dedup_stream.exact_dedup_stream`` — stateful ``dropDuplicates`` on
  the canonical fingerprint), and
* END-TO-END exactly-once delivery via the canonical Structured
  Streaming pattern: ``foreachBatch`` + an idempotent sink keyed by the
  epoch id. Spark replays a failed epoch with the SAME id after restart;
  ``Lake.append_log_table_exactly_once`` finds the epoch id in the
  ledger of the table's MANIFEST record and no-ops the duplicate, so source-replay ∘ idempotent-sink =
  exactly-once (the composition Delta's ``txnAppId``/``txnVersion``
  implements; here it is the lake's own ledger).

At scale: state is one fingerprint row per distinct document within the
watermark horizon (use the watermarked dedup variant for endless
streams); the sink appends files — no rewrite amplification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from udata_datalake_service_spark.sinks.lake import Lake
from udata_datalake_service_spark.streaming.dedup_stream import (
    exact_dedup_stream,
    stream_documents,
)


def corpus_ingest_stream(
    spark: SparkSession,
    docs_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    table: str = "corpus_docs",
    available_now: bool = True,
    ledger_prefix: str | None = None,
) -> StreamingQuery:
    """Start the ingest stream; returns the running query.

    ``available_now=True`` drains everything currently in ``docs_dir``
    and stops — the batch-ish mode tests and backfills use; ``False``
    runs continuously. The checkpoint carries both the source offsets
    and the dedup state, so a restart resumes mid-stream without
    re-emitting survivors already written.

    ``ledger_prefix`` defaults to a hash of ``checkpoint_dir``: epoch
    ids are only unique PER CHECKPOINT, so a fixed prefix would let a
    second stream (new checkpoint, same table) silently no-op its
    epochs 0..N against the first stream's ledger entries. Binding the
    prefix to the checkpoint keeps replays of the SAME checkpoint
    exactly-once while fresh checkpoints commit independently; only
    wiping and recreating a checkpoint at the same path reuses ids —
    pass an explicit prefix in that recovery scenario.
    """
    import hashlib

    if ledger_prefix is None:
        ledger_prefix = (
            "stream-ingest-"
            + hashlib.md5(str(checkpoint_dir).encode()).hexdigest()[:8]
        )
    deduped = exact_dedup_stream(stream_documents(spark, docs_dir))

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # epoch id is stable across replays of the same failed batch —
        # the ledger makes the second delivery a no-op
        lake.append_log_table_exactly_once(
            batch_df, table, f"{ledger_prefix}-{epoch_id}"
        )

    writer = deduped.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
