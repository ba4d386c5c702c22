"""Measured soak for the streaming verified near-dup ingest
(streaming/neardup_stream.py) — per-epoch rows/wall at ×N of sf0.1.

Fixture: one shard per copy, three tiers (identical / long-word-salted
near-dup / distinct — same construction as the batch soak, letters-only
salts). The identical tier exercises the verbatim-fingerprint state
across epochs (rows_in = 0 at the sink); the near-dup tier exercises the
band-index probe + estimate-verify (survivors drop); distinct tiers
pass through. Ends with the lake-state audit: corpus rows == distinct
fingerprints, index/sigs row accounting, survivor fraction per tier.

Phase attribution (VERDICT r11 task 3): the stream runs with
``phase_acc`` enabled, so the final table splits cumulative per-epoch
wall into ingest_fp_state (source read + verbatim-fingerprint state
store), signatures, index_probe (band equi-join vs the lake index),
estimate_verify (Jaccard estimate + survivor anti-join), and commits
(the three exactly-once appends). The barriers the instrumentation
inserts cost a few percent of wall; docs/s is reported from THIS
instrumented run, so compare like with like across rounds.

Fixture arg: `zipf` (default — natural-statistics generator, see
llm/synthtext.py) or `legacy` (the sf documents table).

Usage: python tools/soak_neardup.py [sf_dir] [scale] [zipf|legacy] [xxh64|md5]
The 4th arg picks the MinHash hash family (default xxh64 = the stream's
default; md5 is the r12-and-earlier baseline for A/B).
Prints a markdown table; paste into SOAK.md §streaming.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    scale = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    fixture = sys.argv[3] if len(sys.argv) > 3 else "zipf"
    assert fixture in ("zipf", "legacy"), fixture
    hash_family = sys.argv[4] if len(sys.argv) > 4 else "xxh64"
    assert hash_family in ("xxh64", "md5"), hash_family

    import os
    import shutil

    from pyspark.sql import functions as F

    from udata_datalake_service_spark.session import get_spark
    from udata_datalake_service_spark.sinks.lake import Lake
    from udata_datalake_service_spark.streaming.neardup_stream import (
        near_dup_ingest_stream,
    )

    spark = get_spark()
    root = "/tmp/spark_hydra_soak_neardup"
    shutil.rmtree(root, ignore_errors=True)
    shards_dir = f"{root}/shards"
    os.makedirs(shards_dir, exist_ok=True)
    lake = Lake(spark, f"{root}/lake")

    def _alpha26(i: int) -> str:
        s, i = "", i + 1
        while i:
            s += chr(ord("a") + i % 26)
            i //= 26
        return s

    if fixture == "zipf":
        from udata_datalake_service_spark.llm.synthtext import zipf_documents

        zipf_documents(spark, 5000, seed="soak-zipf", num_partitions=32).write.mode(
            "overwrite"
        ).parquet(f"{root}/base_docs")
        docs = spark.read.parquet(f"{root}/base_docs")
    else:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n0 = docs.count()
    for i in range(scale):
        if i % 8 == 0:
            body = F.col("text")
        elif i % 8 == 1:
            body = F.regexp_replace(
                F.col("text"), r"([A-Za-z0-9]{6,})", f"$1s{_alpha26(i)}"
            )
        else:
            body = F.regexp_replace(
                F.col("text"), r"([A-Za-z0-9]{3,})", f"$1s{_alpha26(i)}"
            )
        shard = docs.select(
            (F.col("doc_id") + F.lit(i * n0)).alias("doc_id"),
            body.alias("text"),
            "lang",
            "source",
            F.length(body).cast("long").alias("n_chars"),
        )
        stage = f"{root}/stage-{i:02d}"
        shard.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        os.replace(
            os.path.join(stage, part), os.path.join(shards_dir, f"shard-{i:02d}.parquet")
        )
        shutil.rmtree(stage)
    src = "zipf synthtext base" if fixture == "zipf" else sf_dir
    print(f"fixture: {scale * n0} docs ({scale}x {src}), {scale} shards, "
          f"hash_family={hash_family}", flush=True)

    phase_acc: dict[str, float] = {}
    t0 = time.monotonic()
    q = near_dup_ingest_stream(
        spark, shards_dir, lake, f"{root}/ckpt", phase_acc=phase_acc,
        hash_family=hash_family,
    )
    q.awaitTermination(3600)
    wall = time.monotonic() - t0

    corpus = lake.read_app_table("corpus_docs")
    n_rows = corpus.count()
    n_fp = corpus.select("fp").distinct().count()
    assert n_rows == n_fp, (n_rows, n_fp)
    per_epoch = (
        corpus.groupBy("batch_epoch").agg(F.count(F.lit(1)).alias("n"))
        .orderBy("batch_epoch")
        .collect()
    )
    n_index = lake.read_app_table("lsh_band_index").count()
    n_sigs = lake.read_app_table("minhash_sigs").count()
    assert n_sigs == n_rows, (n_sigs, n_rows)

    print(f"\n{scale * n0} docs in, {n_rows} survivors "
          f"({100.0 * n_rows / (scale * n0):.1f}%), {wall:.1f}s total "
          f"({scale * n0 / wall:.0f} docs/s); index rows {n_index}, "
          f"sigs rows {n_sigs} == corpus rows")
    print("| epoch | survivors |")
    print("|---|---|")
    for r in per_epoch:
        print(f"| {r['batch_epoch']} | {r['n']} |")
    attributed = sum(phase_acc.values())
    print(f"\nphase attribution (cumulative across {scale} epochs; "
          f"{attributed:.1f}s of {wall:.1f}s wall attributed, remainder = "
          f"micro-batch scheduling + source listing):")
    print("| phase | cum s | % of attributed |")
    print("|---|---|---|")
    for name in ("ingest_fp_state", "signatures", "index_probe",
                 "estimate_verify", "commits_docs", "commits_index",
                 "commits_sigs"):
        v = phase_acc.get(name, 0.0)
        print(f"| {name} | {v:.1f} | {100.0 * v / attributed:.0f}% |")
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
