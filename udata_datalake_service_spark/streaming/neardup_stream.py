"""Streaming VERIFIED near-dup ingest: continuous MinHash/LSH dedup
against a lake-backed band index.

The batch plane answers "dedup this corpus" (`llm/dedup.py`); the
exact-fingerprint stream answers "drop verbatim re-crawls"
(`dedup_stream.py`). What a continuous 100 TB crawl actually needs is
the composition of both: each arriving micro-batch must be checked for
NEAR duplicates against EVERYTHING ingested so far, without ever
re-shuffling history. This module is that operator:

  stream_documents → exact_dedup_stream (verbatim re-crawls out)
    → foreachBatch:
        batch MinHash signatures                       (scan-shaped)
        in-batch candidates  (lsh_candidate_pairs)
        cross candidates     (band equi-join vs the LAKE band index —
                              the `incremental_lsh_pairs` probe shape:
                              only the batch is new data)
        estimate-VERIFY both (candidates are not duplicates; the ×64
                              soak measured 93 % false drops unverified
                              vs verified — see lsh_candidate_pairs)
        survivors → THREE exactly-once appends, all tagged with the
        epoch: corpus_docs, lsh_band_index, minhash_sigs

State lives in the LAKE, not the stream checkpoint: the band index and
signature tables ARE the dedup state, queryable/compactable like any
table (contrast the exact stream's opaque state store). The checkpoint
carries only source offsets + the verbatim-dedup fingerprints.

**Deterministic crash-replay across a MULTI-table sink.** A crash
between the three appends leaves them partially committed; Spark
replays the epoch with the same id and each table's ledger no-ops
independently. Replay must recompute the SAME survivor set, so the
probe reads index/sigs rows with ``batch_epoch < current epoch`` ONLY —
a partially-committed own-epoch row can never feed back into the
replay's candidate generation (pinned by
test_neardup_stream_crash_replay_heals).

At 100 TB: per epoch the probe is one equi-join on (band, bkey) whose
batch side is micro-batch-sized; the index side is a plain lake table
here (one shuffle per epoch) — a production deployment buckets the
index by band key (`Lake.write_bucketed_table`) and compacts it
(`Lake.compact_table`, which folds the log batch dirs and carries the
exactly-once ledger of the table's MANIFEST record), after
which the probe shuffle moves only the batch. ``max_bucket`` caps
template-family buckets at probe time (drops enumerable, same
contract as `lsh_candidate_pairs`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from udata_datalake_service_spark.llm.dedup import (
    lsh_band_table,
    lsh_candidate_pairs,
    minhash_jaccard_estimate,
    minhash_signatures,
)
from udata_datalake_service_spark.sinks.lake import Lake
from udata_datalake_service_spark.streaming.dedup_stream import (
    exact_dedup_stream,
    stream_documents,
)


def near_dup_ingest_stream(
    spark: SparkSession,
    docs_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    num_hashes: int = 8,
    k: int = 2,
    num_bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    max_bucket: int | None = 256,
    table: str = "corpus_docs",
    index_table: str = "lsh_band_index",
    sigs_table: str = "minhash_sigs",
    available_now: bool = True,
    ledger_prefix: str | None = None,
    phase_acc: dict | None = None,
    hash_family: str = "xxh64",
) -> StreamingQuery:
    """Start the verified near-dup ingest stream; returns the query.

    ``hash_family`` selects the MinHash family (see
    ``minhash_signatures``). Default is ``"xxh64"``: the zipf ×16 soak
    measured the signatures phase at 65 % of total wall on the md5
    family, and it is pure per-doc hash arithmetic — the non-crypto
    fixed-width family is the named lever. The family is STATE-BINDING:
    the sigs/index tables a run creates only mean anything to probes
    using the same family (and the same ``num_hashes``/``k``/banding),
    so never restart an existing deployment with a different value.

    First arrival wins: a batch document whose estimated Jaccard vs any
    EARLIER-epoch survivor (or a lower-id survivor in its own batch)
    reaches ``threshold`` is dropped; survivors extend the index. Same
    ledger-prefix contract as `corpus_ingest_stream`.

    Probe shape (r12, VERDICT r11 task 3): everything state-sized is
    SCANNED but never shuffled per epoch — the batch's band/bucket-key
    set is broadcast against the index (bucket membership IS the join
    key, so every member of a probed bucket survives the semi-join and
    the hot-bucket cap keeps its exact semantics while counting only
    probed buckets, not the whole index), and the historical signature
    table is semi-joined down to candidate ids before the estimate. The
    pre-r12 shape re-aggregated the FULL index per epoch for the cap —
    an O(state) shuffle every micro-batch.

    ``phase_acc`` (measurement only): a dict that accumulates per-phase
    wall seconds across epochs (keys: ``ingest_fp_state, signatures,
    index_probe, estimate_verify, commits_docs, commits_index,
    commits_sigs``). Enabling it inserts materialization barriers
    between phases, so throughput drops slightly; leave None in
    production."""
    import hashlib

    if ledger_prefix is None:
        ledger_prefix = (
            "stream-neardup-"
            + hashlib.md5(str(checkpoint_dir).encode()).hexdigest()[:8]
        )
    deduped = exact_dedup_stream(stream_documents(spark, docs_dir))

    import time as _time

    def _tick(name: str, t0: float) -> float:
        t1 = _time.monotonic()
        if phase_acc is not None:
            phase_acc[name] = phase_acc.get(name, 0.0) + (t1 - t0)
        return t1

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ep = int(epoch_id)
        t0 = _time.monotonic()
        # localCheckpoint, not persist: the sink SELF-JOINS the micro-
        # batch (docs_out = batch ⋈ f(batch)) and Spark's cache
        # substitution does not survive the self-join attribute rewrite
        # on a stateful streaming lineage — each epoch re-ran the whole
        # candidate/verify pipeline inside the docs append (measured
        # 30 s/epoch vs 0.4 s with a truncated lineage; batch-mode hits
        # the cache either way). Checkpointing cuts the lineage at the
        # micro-batch boundary; on failure Spark replays the epoch and
        # the exactly-once ledgers no-op, so losing the checkpoint to a
        # dead executor only costs a recompute.
        batch = batch_df.localCheckpoint(eager=True)
        t0 = _tick("ingest_fp_state", t0)
        # localCheckpoint again, not persist: sigs is the hub of every
        # downstream SELF-join (in-batch pairs, the estimate's s_a/s_b
        # legs, and the survivor anti-join are all sigs ⋈ f(sigs)), and
        # the persisted subtree is not substituted through those
        # rewrites — on token-heavy documents the minhash job re-ran
        # 4-6× per epoch inside the verify phase (measured: zipf ×4
        # estimate_verify 795 s → ~100 s from this one change).
        sigs = minhash_signatures(
            batch, num_hashes=num_hashes, k=k, hash_family=hash_family
        ).localCheckpoint(eager=True)
        t0 = _tick("signatures", t0)

        # ---- in-batch near-dups: min-id wins inside the epoch --------
        in_pairs = lsh_candidate_pairs(
            sigs, num_bands=num_bands, rows_per_band=rows_per_band,
            max_bucket=max_bucket,
        )
        in_drops = (
            minhash_jaccard_estimate(sigs, in_pairs)
            .filter(F.col("jaccard_est") >= threshold)
            .select(F.col("id_b").alias("id"))
        )

        # ---- cross near-dups vs STRICTLY-EARLIER epochs ----------------
        # the epoch filter is the determinism contract: a crash-replay
        # must see exactly the state the first attempt saw, even if this
        # epoch's own index/sigs append already committed before the crash
        def _earlier(name: str) -> DataFrame | None:
            try:
                t = lake.read_app_table(name)
            except Exception:  # noqa: BLE001  (first epoch: table absent)
                return None
            return t.filter(F.col("batch_epoch") < ep)

        index = _earlier(index_table)
        cross_drops = None
        cand = None
        if index is not None:
            ib = index.select(F.col("id").alias("id_a"), "band", "bkey")
            bb = lsh_band_table(sigs, num_bands, rows_per_band).select(
                F.col("id").alias("id_b"), "band", "bkey"
            )
            # broadcast-probe (r12): the batch's bucket-key set is
            # micro-batch-bounded, so the state-sized index is scanned
            # with a broadcast hash join and NEVER shuffled. Bucket
            # membership is the join key itself, so all members of a
            # probed bucket survive this semi-join — counting matched
            # rows gives the EXACT bucket size for every probed bucket,
            # which is the only place the hot-bucket cap matters (the
            # pre-r12 shape aggregated the whole index per epoch).
            probe_keys = bb.select("band", "bkey").distinct()
            matched = ib.join(F.broadcast(probe_keys), on=["band", "bkey"])
            if max_bucket is not None:
                keep = (
                    matched.groupBy("band", "bkey")
                    .agg(F.count(F.lit(1)).alias("__n"))
                    .filter(F.col("__n") <= max_bucket)
                    .select("band", "bkey")
                )
                matched = matched.join(F.broadcast(keep), on=["band", "bkey"])
            cand = (
                matched.join(F.broadcast(bb), on=["band", "bkey"])
                # defense in depth: the epoch filter already excludes
                # own-epoch index rows, so a doc can never meet itself
                # here — but a self-pair would self-drop at est 1.0, so
                # filter it structurally too
                .filter(F.col("id_a") != F.col("id_b"))
                .select("id_a", "id_b")
                .distinct()
                # candidate set is bucket-cap- and batch-bounded; persist
                # so the verify leg and the sig semi-join share one probe
                .persist()
            )
            if phase_acc is not None:
                cand.count()  # barrier: index probe materialized
            t0 = _tick("index_probe", t0)
            earlier_sigs = _earlier(sigs_table)
            # a torn epoch-0 commit can leave the index table existing
            # while the sigs table does not; the epoch filter makes both
            # empty, so batch-only sigs are sufficient and consistent.
            # Semi-join the HISTORICAL sig table down to candidate ids
            # (broadcast — candidates are bounded) before the estimate:
            # the state-sized table contributes a pruned scan, not a
            # shuffle.
            if earlier_sigs is None:
                all_sigs = sigs.select("id", "sig")
            else:
                need = cand.select(F.col("id_a").alias("id")).distinct()
                all_sigs = (
                    earlier_sigs.select("id", "sig")
                    .join(F.broadcast(need), on="id", how="left_semi")
                    .unionByName(sigs.select("id", "sig"))
                )
            cross_drops = (
                minhash_jaccard_estimate(all_sigs, cand)
                .filter(F.col("jaccard_est") >= threshold)
                .select(F.col("id_b").alias("id"))
            )
        else:
            t0 = _tick("index_probe", t0)

        drops = in_drops if cross_drops is None else in_drops.unionByName(cross_drops)
        # localCheckpoint for the same reason as the batch frame above:
        # survivors feeds a SELF-join (docs_out = batch ⋈ survivors,
        # both containing the micro-batch subtree) and the persisted
        # subtree was not substituted through the self-join rewrite —
        # the docs append silently re-ran candidate generation + verify
        # a second (and third) time per epoch. The eager checkpoint IS
        # the materialization barrier.
        survivors = (
            sigs.join(drops.distinct(), on="id", how="left_anti")
            .select("id", "sig")
            .localCheckpoint(eager=True)
        )
        t0 = _tick("estimate_verify", t0)

        # ---- three exactly-once appends, all epoch-stamped -------------
        docs_out = batch.join(
            survivors.select(F.col("id").alias("doc_id")), on="doc_id", how="left_semi"
        ).withColumn("batch_epoch", F.lit(ep))
        lake.append_log_table_exactly_once(
            docs_out, table, f"{ledger_prefix}-docs-{ep}"
        )
        t0 = _tick("commits_docs", t0)
        band_out = lsh_band_table(survivors, num_bands, rows_per_band).withColumn(
            "batch_epoch", F.lit(ep)
        )
        lake.append_log_table_exactly_once(
            band_out, index_table, f"{ledger_prefix}-index-{ep}"
        )
        t0 = _tick("commits_index", t0)
        sigs_out = survivors.withColumn("batch_epoch", F.lit(ep))
        lake.append_log_table_exactly_once(
            sigs_out, sigs_table, f"{ledger_prefix}-sigs-{ep}"
        )
        t0 = _tick("commits_sigs", t0)
        from udata_datalake_service_spark.caching import adopted

        # unpersist() frees only the PERSISTED frames (cand and the
        # pair-stage caches). survivors/sigs/batch are localCheckpoints,
        # whose blocks unpersist() cannot touch (ADVICE r12 low): a
        # checkpoint RDD's blocks are released by the ContextCleaner
        # once the driver drops its last reference. We rely on that
        # deliberately — the frames are epoch-scoped locals, so the
        # references die when this closure returns — and give the
        # cleaner a periodic nudge: py4j detaches JVM refs lazily, so
        # without an occasional driver gc a long soak accumulates
        # checkpoint blocks for epochs that are long gone (observed as
        # monotonically-growing executor storage in the ×16 soak).
        extra = [cand] if cand is not None else []
        for df in (*extra, *adopted(in_pairs)):
            df.unpersist()
        if ep % 8 == 7:
            import gc as _gc

            _gc.collect()

    writer = deduped.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
