"""The r13 single-shuffle wide-aggregate forms of `label_centroids` and
`_cell_means` are value-identical to the exploded two-stage forms on
fixed-dim vectors (including null components)."""

from __future__ import annotations

import pytest

from udata_datalake_service_spark.llm.similarity import _cell_means, label_centroids


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        ("a", [1.0, 2.0, 3.0, 4.0]),
        ("a", [2.0, 2.0, 2.0, 2.0]),
        ("b", [-1.0, 0.0, 0.5, 1.25]),
        ("b", [0.000001, -0.0000004, 9.9, -3.3]),
        ("b", [None, 1.0, 1.0, 1.0]),  # null component: sum skips, count keeps
    ]
    return spark.createDataFrame(
        rows, "label string, embedding array<double>"
    ).repartition(3)


def _rows(df):
    return sorted(
        (r["label"], tuple(r["centroid"]), r["n_vectors"]) for r in df.collect()
    )


def test_label_centroids_wide_matches_exploded(vecs):
    exploded = label_centroids(vecs)
    wide = label_centroids(vecs, dim=4)
    assert _rows(exploded) == _rows(wide)


def test_cell_means_wide_matches_exploded(vecs, spark):
    cells = vecs.selectExpr(
        "1 as sub", "label as code", "embedding as sv"
    )
    exploded = {
        (r["sub"], r["code"]): tuple(r["cw"]) for r in _cell_means(cells).collect()
    }
    wide = {
        (r["sub"], r["code"]): tuple(r["cw"])
        for r in _cell_means(cells, d=4).collect()
    }
    assert exploded == wide
