"""Staged-token text helpers (r13 opt) are value-identical to the inline
forms, and `pinned_filter` is a plain filter semantically.

The optimization round rewrote the text/curation plane onto *_from
variants that take a pre-projected token array (one tokenize per row
instead of one per helper) and onto an array_max argmax for language
detection. These tests pin the equivalences the oracle parity relies on,
on adversarial inputs: NULL text, empty text, punctuation-only, marker
ties between languages, unicode, and boundary word lengths.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from udata_datalake_service_spark.llm.text import (
    detect_language,
    detect_language_from,
    fingerprint,
    fingerprint_from,
    quality_score,
    quality_score_from,
    stopword_ratio,
    stopword_ratio_from,
    tokens,
)
from udata_datalake_service_spark.planshape import pinned_filter

CASES = [
    None,
    "",
    "   ",
    "!!! ??? ...",
    "the and of to is in that it for with plainly english text here",
    "le la les de et un une est pour que bien sûr",
    # tie case: one 'en' marker and one 'fr' marker → 1-1 tie, sorted
    # language-name order must win in both forms
    "the le",
    "de la",  # 'de' is a german AND french/spanish marker; 'la' fr+es
    "der die das und ist ein",
    "el los y una es para",
    "Üñïçôdé text with ACCENTS étoile naïve 123 456",
    "a b c d e",  # exactly 5 tokens (length_ok boundary)
    "aa " * 50,  # mean word length exactly 2.0 (wlen_ok boundary)
    ("twelveletter " * 10),  # mean word length exactly 12.0
    "x" * 300,  # one giant token
    "the " * 200,  # stopword-saturated
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(CASES)], "doc_id int, text string"
    ).repartition(3)


def _collect(df):
    return sorted(
        tuple(r) for r in df.collect()
    )


def test_staged_helpers_match_inline(docs):
    c = F.col("text")
    inline = docs.select(
        "doc_id",
        detect_language(c).alias("lang"),
        quality_score(c).alias("q"),
        F.round(stopword_ratio(c), 6).alias("sr"),
        fingerprint(c).alias("fp"),
    )
    staged = docs.select("doc_id", "text", tokens(c).alias("__t")).select(
        "doc_id",
        detect_language_from(F.col("__t")).alias("lang"),
        quality_score_from(F.col("text"), F.col("__t")).alias("q"),
        F.round(stopword_ratio_from(F.col("__t")), 6).alias("sr"),
        fingerprint_from(F.col("__t")).alias("fp"),
    )
    assert _collect(inline) == _collect(staged)


def test_detect_language_min_hits_matches(docs):
    c = F.col("text")
    inline = docs.select("doc_id", detect_language(c, min_hits=3).alias("lang"))
    staged = docs.select("doc_id", tokens(c).alias("__t")).select(
        "doc_id", detect_language_from(F.col("__t"), min_hits=3).alias("lang")
    )
    assert _collect(inline) == _collect(staged)


def test_pinned_filter_matches_plain_filter(docs):
    c = F.col("text")
    staged = docs.select("doc_id", "text", tokens(c).alias("__t")).select(
        "doc_id",
        detect_language_from(F.col("__t")).alias("lang"),
        quality_score_from(F.col("text"), F.col("__t")).alias("q"),
    )
    cond = (F.col("lang") != "und") & (F.col("q") >= 0.55)
    plain = staged.filter(cond)
    pinned = pinned_filter(staged, cond)
    assert plain.columns == pinned.columns
    assert _collect(plain) == _collect(pinned)


def test_pinned_filter_stays_above_projection(docs):
    """The plan must NOT contain the tokenize inside the filter condition:
    the staging projection computes it, the filter reads attributes."""
    c = F.col("text")
    staged = docs.select("doc_id", tokens(c).alias("__t")).select(
        "doc_id", detect_language_from(F.col("__t")).alias("lang")
    )
    pinned = pinned_filter(staged, F.col("lang") != "und")
    plan = pinned._jdf.queryExecution().optimizedPlan().toString()
    filter_lines = [ln for ln in plan.splitlines() if "Filter" in ln]
    assert filter_lines, plan
    # the pushed-down pathology inlines split(lower(text)...) into the
    # predicate; the pin keeps the filter on attribute references
    assert all("split(" not in ln for ln in filter_lines), plan


def test_pinned_conditions_reference_only_staged_columns():
    """planshape RULE (VERDICT r13 item 8): a pinned predicate blocks
    parquet pushdown of everything bundled into it, so no call site may
    pin a condition referencing a RAW scannable column — only staged
    ("__"-prefixed or known staged-alias) columns. Walks every
    ``pinned_filter(df, cond)`` call in the modules that use it and
    checks the quoted column names inside ``cond``."""
    import ast
    from pathlib import Path

    import udata_datalake_service_spark as pkg

    root = Path(pkg.__file__).parent
    staged_aliases = {"t", "lang_detected", "quality"}
    checked = 0
    for mod in (root / "entry_queries.py", root / "llm" / "contamination.py"):
        src = mod.read_text()
        tree = ast.parse(src)
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "pinned_filter"
            ):
                continue
            assert len(node.args) >= 2, f"{mod}:{node.lineno}"
            # column references = literal args of F.col / F.size inside
            # the condition (comparison literals like "und" are values,
            # not columns)
            names = {
                sub.args[0].value
                for sub in ast.walk(node.args[1])
                if isinstance(sub, ast.Call)
                and isinstance(sub.func, ast.Attribute)
                and sub.func.attr in ("col", "size")
                and sub.args
                and isinstance(sub.args[0], ast.Constant)
                and isinstance(sub.args[0].value, str)
            }
            bad = {
                n
                for n in names
                if not n.startswith("__") and n not in staged_aliases
            }
            assert not bad, (
                f"{mod}:{node.lineno} pins a predicate on {sorted(bad)} — "
                "raw scannable columns must be filtered plainly BEFORE "
                "the staging projection (planshape.py rule)"
            )
            checked += 1
    assert checked >= 4, "expected the known pinned_filter call sites"


def test_text_metrics_refuses_diverged_stopwords(spark, sf_dir, monkeypatch):
    """q_tx_text_metrics counts stopwords with the 'en' marker hits; if
    the two constants diverge it must raise (not assert: ``python -O``
    strips asserts) before building a silently wrong plan."""
    import udata_datalake_service_spark.llm.text as text_mod
    from udata_datalake_service_spark.entry_queries import QUERIES

    monkeypatch.setattr(text_mod, "STOPWORDS", frozenset({"diverged"}))
    with pytest.raises(RuntimeError, match="diverged"):
        QUERIES["tx_text_metrics"](spark, sf_dir)
