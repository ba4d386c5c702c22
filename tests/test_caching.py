"""adopt/settle persist-lifecycle contract (caching.py).

The round-4 audit found persisted intermediates (shingle indexes, ANN
baselines, doc-term grains) with no paired unpersist — a storage leak in
long-lived sessions. Operators now `adopt` their caches onto the result;
action owners `settle` (materialize + release). These tests prove the
release actually happens and that settling never changes values.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from udata_datalake_service_spark.caching import adopt, adopted, settle


def _is_cached(df) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def test_settle_releases_adopted_caches_and_preserves_values(spark):
    base = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    cache = base.groupBy("k").agg(F.count(F.lit(1)).alias("n")).persist()
    result = adopt(base.join(cache, on="k"), cache)
    assert adopted(result) == [cache]

    expected = sorted(map(tuple, result.collect()))
    settled = settle(result)
    assert not _is_cached(cache), "settle must unpersist adopted caches"
    assert adopted(result) == [], "settle clears the adoption list"
    assert sorted(map(tuple, settled.collect())) == expected


def test_settle_extra_caches_and_dedup(spark):
    c1 = spark.range(10).persist()
    c2 = spark.range(5).persist()
    result = adopt(c1.crossJoin(c2.withColumnRenamed("id", "id2")), c1)
    # c1 passed twice (adopted + extra) — settle must tolerate duplicates
    settled = settle(result, c1, c2)
    assert not _is_cached(c1) and not _is_cached(c2)
    assert settled.count() == 50


def test_operator_adoption_ngram_jaccard(spark):
    """ngram_jaccard_pairs* adopt their internally-persisted indexes, and
    the query-level settle releases them."""
    from udata_datalake_service_spark.llm.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    rows = [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for fn in (ngram_jaccard_pairs, ngram_jaccard_pairs_prefix):
        out = fn(df, k=1, threshold=0.5)
        caches = adopted(out)
        assert caches, f"{fn.__name__} should adopt its internal caches"
        settle(out)
        assert all(not _is_cached(c) for c in caches), fn.__name__


def test_surprisal_and_dsir_adopt(spark):
    from udata_datalake_service_spark.llm.tfidf import (
        dsir_log_weights,
        unigram_surprisal,
    )

    df = spark.createDataFrame(
        [(1, "a b c", "en"), (2, "b c d", "fr")], "doc_id long, text string, lang string"
    )
    for out in (
        unigram_surprisal(df),
        dsir_log_weights(df, F.col("lang") == "en", n_buckets=8),
    ):
        caches = adopted(out)
        assert caches
        settle(out)
        assert all(not _is_cached(c) for c in caches)


def test_settle_releases_caches_when_materialization_raises(spark):
    """A query that fails inside settle's checkpoint (here a UDF that
    raises) must not leave its adopted caches persisted for the rest of
    the session: settle re-raises and the caches are released."""
    import pytest

    @F.udf("long")
    def boom(x):
        raise ValueError("udf failure")

    cache = spark.range(10).persist()
    result = adopt(cache.select(boom(F.col("id")).alias("y")), cache)
    with pytest.raises(Exception, match="udf failure"):
        settle(result)
    assert cache.is_cached is False
    assert not _is_cached(cache)
    assert adopted(result) == []
