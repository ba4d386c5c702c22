"""Streaming BM25 index maintenance: per-micro-batch raw postings →
exactly-once lake appends → retrieval answered from the lake alone.

The search half of the 100 TB ingest pattern (`rt_bm25_topk` is its
batch twin): an endless document stream must stay *queryable* — "what
retrieves for this eval question right now?" — without ever
re-tokenizing history. This is exactly what `llm/retrieval.py`'s
index shape was designed for: ``bm25_postings`` rows are raw
(term, doc, tf, dl) with NO corpus statistics baked in, so each
micro-batch's postings are pure appends, and ``bm25_stats`` rows are
mergeable 2-counters summed at probe time. Nothing ever rebuilds;
epoch boundaries are invisible to the scorer (the append law pinned
in `tests/test_llm.py`, re-pinned end-to-end through the real
streaming engine in `tests/test_streaming.py`).

Each epoch commits TWO exactly-once appends keyed by the same epoch
id — postings through ``Lake.append_log_table_exactly_once`` (one
batch dir per epoch: a data-plane table must never pay a rewrite of
epochs 0..N-1 to commit epoch N) and the 1-row stats through the
rewriting ``append_app_table_exactly_once`` (a control table): Spark
replays a failed epoch with the SAME id, each table's ledger (in its
MANIFEST record) no-ops the second delivery, and a crash between the
two appends heals on replay (the committed one no-ops, the missing one
lands) — the torn-commit discipline `streaming/neardup_stream.py`
established.

State/size at scale: the stream itself is STATELESS beyond source
offsets (no dedup store, no watermark — postings are per-(doc, term)
facts). The postings table grows with the corpus, as an index must;
compact batch-dir counts with ``Lake.compact_table`` (row-preserving
and ledger-carrying, so retrieval and replay-no-ops are unaffected);
the stats table grows 1 row per epoch and sums at probe time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from udata_datalake_service_spark.llm.retrieval import bm25_epoch, bm25_topk
from udata_datalake_service_spark.sinks.lake import Lake
from udata_datalake_service_spark.streaming.dedup_stream import stream_documents


def bm25_index_stream(
    spark: SparkSession,
    docs_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    text: str = "text",
    id_col: str = "doc_id",
    postings_table: str = "bm25_postings",
    stats_table: str = "bm25_stats",
    available_now: bool = True,
    ledger_prefix: str | None = None,
) -> StreamingQuery:
    """Start the index-maintenance stream; returns the running query.

    Same ledger-prefix contract as ``kmv_sketch_stream``: epoch ids are
    unique PER CHECKPOINT, so the prefix defaults to a hash of
    ``checkpoint_dir`` (replays of the same checkpoint no-op; a fresh
    checkpoint commits independently).

    **Unique-doc contract (ADVICE r11, enforced at compaction since
    r13):** the stream performs no doc-identity dedup — epochs SHOULD
    carry disjoint doc ids (feed it from a fingerprint-deduped source:
    the `neardup_stream` / `ingest_documents` corpus table). When the
    feed IS a raw crawl, a re-crawled doc's postings append a second
    time under a later epoch and its stats row contributes again —
    every score drifts. The escape hatch is now real code, in two
    strengths: `compact_bm25_index` folds the postings table keeping
    only each doc's LATEST epoch (per-doc, not per-(doc, term): a term
    the re-crawl dropped must vanish, not linger at its old tf) and
    rewrites the stats table to the exact post-dedup counters; and
    ``bm25_from_lake(dedup_recrawls=True)`` applies the same fold at
    probe time, exact even for re-crawls committed after the last
    compaction. The ``batch_epoch`` column is persisted for precisely
    this."""
    import hashlib

    if ledger_prefix is None:
        ledger_prefix = (
            "stream-bm25-" + hashlib.md5(str(checkpoint_dir).encode()).hexdigest()[:8]
        )
    docs = stream_documents(spark, docs_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ep = int(epoch_id)
        # one tokenization pass feeds both tables (bm25_epoch persists
        # the token frame; released after the second commit)
        p, st, toks = bm25_epoch(batch_df, text, id_col)
        p = p.withColumn("batch_epoch", F.lit(ep))
        st = st.withColumn("batch_epoch", F.lit(ep))
        try:
            # two tables, one epoch id: a crash between the appends heals
            # on replay — the committed table no-ops, the missing one
            # lands. Postings are DATA-PLANE (they grow with the corpus)
            # → the O(batch) log append; stats are a 1-row-per-epoch
            # control table → the rewriting append is fine.
            lake.append_log_table_exactly_once(
                p, postings_table, f"{ledger_prefix}-{ep}"
            )
            lake.append_app_table_exactly_once(st, stats_table, f"{ledger_prefix}-{ep}")
        finally:
            toks.unpersist()

    writer = docs.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def latest_crawl_postings(postings: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Keep only each doc's LATEST-epoch postings — the re-crawl fold.

    Per-doc, not per-(doc, term): a re-crawl REPLACES the document, so a
    term absent from the new text must disappear entirely (a
    per-(doc, term) max-epoch would keep it at its stale tf). One
    hash-partitioned window over ``id_col`` — doc ids are high-
    cardinality and uniform, so the shuffle is skew-free and the fold
    scales with the index, never with the re-crawl rate."""
    w = Window.partitionBy(id_col)
    return (
        postings.withColumn("__ep_max", F.max("batch_epoch").over(w))
        .filter(F.col("batch_epoch") == F.col("__ep_max"))
        .drop("__ep_max")
    )


def stats_from_postings(postings: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact (n_docs, total_dl) recomputed from a postings frame — the
    corrected counters after a re-crawl fold (the per-epoch stats rows
    double-count re-crawled docs and cannot be un-summed). ``dl`` is
    constant within a doc's posting rows, so max-per-doc then sum is
    exact; both aggregates partial-combine map-side."""
    per_doc = postings.groupBy(id_col).agg(F.max("dl").alias("dl"))
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    )


def compact_bm25_index(
    lake: Lake,
    postings_table: str = "bm25_postings",
    stats_table: str = "bm25_stats",
    id_col: str = "doc_id",
) -> dict:
    """Fold the streamed BM25 index, enforcing the unique-doc contract:
    postings keep each doc's latest epoch (`latest_crawl_postings` as
    `Lake.compact_table`'s transform — idempotent, so repeated folds and
    post-fold re-crawls converge on the next run), and the stats table
    is REWRITTEN to the exact post-dedup counters (ledger carried, so a
    crash-replayed stats epoch still no-ops). After this, a plain
    ``bm25_from_lake`` scores a re-crawled corpus identically to a
    single-ingest index of the latest versions."""
    res = lake.compact_table(
        postings_table, app_table=True,
        transform=lambda rows: latest_crawl_postings(rows, id_col),
    )
    folded = lake.read_app_table(postings_table)
    max_ep = folded.agg(F.max("batch_epoch")).collect()[0][0]
    corrected = stats_from_postings(folded, id_col).withColumn(
        "batch_epoch", F.lit(-1 if max_ep is None else int(max_ep))
    )
    lake.rewrite_app_table(corrected, stats_table)
    return res


def bm25_from_lake(
    lake: Lake,
    queries: DataFrame,
    postings_table: str = "bm25_postings",
    stats_table: str = "bm25_stats",
    id_col: str = "doc_id",
    query_id: str = "query_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    exclude_self: bool = False,
    dedup_recrawls: bool = False,
) -> DataFrame:
    """Top-``k`` per query from the persisted index ALONE — no raw
    documents touched, however many epochs the stream has committed.
    Stats rows are summed (the mergeable-counter law); postings feed
    ``bm25_topk`` unchanged, since epoch boundaries are invisible to
    per-(doc, term) facts.

    ``dedup_recrawls=True`` applies the re-crawl fold at probe time
    (latest epoch per doc + stats recomputed from the folded postings)
    — exact even when re-crawls landed after the last
    `compact_bm25_index`, at the cost of a doc-partitioned window over
    the matched index scan."""
    raw = lake.read_app_table(postings_table)
    if dedup_recrawls:
        folded = latest_crawl_postings(raw, id_col)
        postings = folded.select("term", id_col, "tf", "dl")
        stats = stats_from_postings(folded, id_col)
    else:
        postings = raw.select("term", id_col, "tf", "dl")
        stats = lake.read_app_table(stats_table).agg(
            F.sum("n_docs").alias("n_docs"), F.sum("total_dl").alias("total_dl")
        )
    return bm25_topk(
        corpus=None,
        queries=queries,
        id_col=id_col,
        query_id=query_id,
        k=k,
        k1=k1,
        b=b,
        exclude_self=exclude_self,
        postings=postings,
        stats=stats,
    )
