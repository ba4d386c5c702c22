"""Incremental corpus ingestion (llm/ingest.py): dedup-on-arrival,
idempotent batches, optional quality gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from udata_datalake_service_spark.llm.ingest import ingest_documents
from udata_datalake_service_spark.sinks.lake import Lake


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ingest_dedups_within_and_across_batches(spark, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    b1 = _docs(
        spark,
        [
            (1, "alpha beta gamma"),
            (2, "delta epsilon zeta"),
            (3, "Alpha  beta GAMMA!"),  # same canonical content as 1
        ],
    )
    r1 = ingest_documents(lake, b1, batch_id="b1")
    assert r1["n_in"] == 3 and r1["n_batch_unique"] == 2
    assert r1["n_new_content"] == 2 and r1["committed"]
    assert r1["n_corpus_total"] == 2
    # smallest id won the within-batch race
    ids = {r["doc_id"] for r in lake.read_app_table("corpus_docs").collect()}
    assert ids == {1, 2}

    # overlapping second batch: only the genuinely new content lands
    b2 = _docs(
        spark,
        [
            (10, "delta epsilon zeta"),     # dup of doc 2
            (11, "eta theta iota"),
        ],
    )
    r2 = ingest_documents(lake, b2, batch_id="b2")
    assert r2["n_new_content"] == 1 and r2["committed"]
    assert r2["n_corpus_total"] == 3


def test_ingest_same_batch_id_is_idempotent(spark, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    b = _docs(spark, [(1, "one two three"), (2, "four five six")])
    r1 = ingest_documents(lake, b, batch_id="retry-me")
    assert r1["committed"] and r1["n_corpus_total"] == 2
    # the retry after a lost ack: ledger no-ops the append
    r2 = ingest_documents(lake, b, batch_id="retry-me")
    assert not r2["committed"]
    assert r2["n_corpus_total"] == 2


def test_ingest_gopher_gate_counts(spark, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    good = (
        "the project of data and analysis is done with care for every case here "
        + " ".join(f"topic{i} detail{i} value{i}" for i in range(20))
    )
    b = _docs(
        spark,
        [
            (1, good),
            (2, "x"),  # fails min-word-count rules
        ],
    )
    r = ingest_documents(lake, b, batch_id="g1", apply_gopher_gate=True)
    assert r["n_new_content"] == 2
    assert r["n_after_gate"] == 1
    assert r["n_corpus_total"] == 1
    kept = lake.read_app_table("corpus_docs").select("doc_id").collect()
    assert [r["doc_id"] for r in kept] == [1]


def test_ingest_preserves_extra_columns_and_fp(spark, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    df = spark.createDataFrame(
        [(1, "hello world", "web")], "doc_id long, text string, source string"
    )
    ingest_documents(lake, df, batch_id="c1")
    row = lake.read_app_table("corpus_docs").collect()[0]
    assert row["source"] == "web"
    assert len(row["fp"]) == 32  # md5 hex of the canonical token stream


def test_ingest_keeps_seeing_legacy_rewrite_corpus(spark, tmp_path):
    """ADVICE r11 (medium), end to end: a corpus table built by the
    pre-r11 REWRITE append must keep its rows — and its fingerprint
    anti-join power — after ingestion switches to the commit-log path.
    Without the legacy fold, the first log append hid every old row and
    previously-ingested content was re-admitted as 'new'."""
    from udata_datalake_service_spark.llm.text import fingerprint

    lake = Lake(spark, str(tmp_path / "lake"))
    legacy = _docs(
        spark, [(1, "alpha beta gamma"), (2, "delta epsilon zeta")]
    ).withColumn("fp", fingerprint(F.col("text")))
    # the old rewrite-path table shape: rows at the version-dir root
    assert lake.append_app_table_exactly_once(legacy, "corpus_docs", "old-0")

    # overlapping re-crawl through the NEW path: doc 1's content is old
    r = ingest_documents(
        lake,
        _docs(spark, [(10, "alpha beta gamma"), (11, "brand new words")]),
        batch_id="new-0",
    )
    assert r["committed"] is True
    assert r["n_new_content"] == 1, "legacy fingerprints must still gate"
    assert r["n_corpus_total"] == 3  # 2 legacy + 1 genuinely new
    got = sorted(
        r["doc_id"] for r in lake.read_app_table("corpus_docs").collect()
    )
    assert got == [1, 2, 11]
