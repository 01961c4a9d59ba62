"""Highlighting + Explain (reference: searcher_highlight c/src/search.c:836-965,
goldens adapted from tm_searcher.rb test_highlighter:267-340)."""

import numpy as np
import pytest

from ferret_spark.highlight import Explanation, highlight, match_positions
from ferret_spark.analysis import get_analyzer
from ferret_spark.query import (
    MUST,
    SHOULD,
    BooleanQuery,
    PhraseQuery,
    PrefixQuery,
    TermQuery,
)

TEXT = (
    "the words we are searching for are one and two also "
    "sometimes looking for them as a phrase like this; one "
    "two lets see how it goes"
)


def test_term_highlight_excerpt():
    q = TermQuery(field="field", term="one")
    ex = highlight(
        "whitespace", q, TEXT, field="field", excerpt_length=10, num_excerpts=1
    )
    assert len(ex) == 1
    assert "<b>one</b>" in ex[0]
    assert ex[0].startswith("...") and ex[0].endswith("...")


def test_term_highlight_all_occurrences():
    q = TermQuery(field="field", term="one")
    ex = highlight(
        "whitespace", q, TEXT, field="field", excerpt_length=len(TEXT) + 10
    )
    assert ex[0].count("<b>one</b>") == 2


def test_phrase_highlight_tags_both_words():
    q = PhraseQuery.of("field", ["one", "two"])
    ex = highlight(
        "whitespace", q, TEXT, field="field", excerpt_length=len(TEXT) + 10
    )
    # only the adjacent "one two" occurrence matches, not the lone "one";
    # a phrase match is ONE range covering the whole phrase (reference
    # phq_get_matchv_i semantics)
    assert "<b>one two</b>" in ex[0]
    assert ex[0].count("<b>") == 1


def test_match_positions_phrase_exact_vs_sloppy():
    tokens = get_analyzer("whitespace").analyze_offsets(TEXT)
    exact = match_positions(PhraseQuery.of("field", ["one", "two"]), tokens)
    assert exact == {20, 21}
    sloppy = match_positions(
        PhraseQuery.of("field", ["one", "also"], slop=2), tokens
    )
    assert 7 in sloppy and 10 in sloppy


def test_multi_excerpts():
    q = TermQuery(field="field", term="one")
    ex = highlight(
        "whitespace", q, TEXT, field="field", excerpt_length=15, num_excerpts=2
    )
    assert len(ex) == 2
    assert all("<b>one</b>" in e for e in ex)


@pytest.fixture(scope="module")
def seg(spark, tmp_path_factory):
    from ferret_spark.segments import SegmentIndexBuilder
    from ferret_spark.fixtures import GOLDEN_FIELD_CONFIG, golden_rows

    rows = [dict(r, doc_id=i) for i, r in enumerate(golden_rows())]
    path = str(tmp_path_factory.mktemp("hl_idx"))
    return SegmentIndexBuilder(
        spark, path, GOLDEN_FIELD_CONFIG, seg_size=6
    ).build(spark.createDataFrame(rows), doc_id_col="doc_id")


def test_explain_matches_search_score(spark, seg):
    from ferret_spark.highlight import explain

    q = BooleanQuery.of(
        (TermQuery(field="content", term="word1"), MUST),
        (TermQuery(field="content", term="word3"), MUST),
    )
    top = seg.search(q, k=3).collect()
    for r in top:
        e = explain(seg, q, r["doc_id"])
        assert np.float32(e.value) == np.float32(r["score"]), (
            r["doc_id"], e.to_s()
        )
    # explain of a non-matching doc is 0
    e0 = explain(seg, q, 0)
    assert e0.value == 0.0


def test_explain_phrase(spark, seg):
    from ferret_spark.highlight import explain

    q = PhraseQuery.of("content", ["quick", "brown", "fox"])
    r = seg.search(q, k=1).collect()[0]
    e = explain(seg, q, r["doc_id"])
    assert np.float32(e.value) == np.float32(r["score"])
    assert "phraseFreq" in e.description


def test_explain_many_matches_per_doc_explain(spark, seg):
    """explain_many (one postings fetch for a whole top-k page) must
    return per-doc trees identical to one-at-a-time explain, including a
    non-matching doc, across segment boundaries (seg_size=6)."""
    from ferret_spark.highlight import explain, explain_many

    q = BooleanQuery.of(
        (TermQuery(field="content", term="word1"), MUST),
        (TermQuery(field="content", term="word3"), SHOULD),
    )
    ids = [r["doc_id"] for r in seg.search(q, k=5).collect()] + [0]
    many = explain_many(seg, q, ids)
    assert set(many) == set(ids)
    for d in ids:
        one = explain(seg, q, d)
        assert many[d].to_s() == one.to_s(), d


def test_stemmed_analyzer_highlights():
    # analyze_offsets must apply the stem filter so stemmed query terms
    # (e.g. 'search' from 'searching') still highlight
    q = TermQuery(field="field", term="search")
    ex = highlight(
        get_analyzer("stem_en"), q, TEXT, field="field",
        excerpt_length=len(TEXT) + 10,
    )
    assert ex and "<b>searching</b>" in ex[0]


def test_mapped_analyzer_highlights():
    from ferret_spark.analysis import Analyzer

    a = Analyzer("whitespace", lowercase=True, mappings={"å": "a"})
    q = TermQuery(field="field", term="aha")
    ex = highlight(a, q, "big åhå moment", field="field", excerpt_length=40)
    assert ex and "<b>åhå</b>" in ex[0]


REPEAT_DOCS = [
    "a b a x a b a", "a b x a", "b a b a", "a x b x a", "x y z", "a b a",
    "fox fox fox", "fox",
]
REPEAT_PHRASES = [
    PhraseQuery.of("content", ["a", "b", "a"], slop=2),
    PhraseQuery.of("content", [("fox", "fox")]),
    PhraseQuery.of("content", [("fox", "fox")], slop=1),
    PhraseQuery.of("content", ["fox"], slop=1),
]


@pytest.mark.parametrize("engine", ["segments", "declarative"])
def test_explain_phrase_matches_search_repeated_terms(
    spark, tmp_path, engine
):
    """explain recomputes a phrase freq with the search kernels'
    dispatcher: repeated terms walk with repeat reconciliation, a single
    slot counts every occurrence of every alternative, and a one-slot
    sloppy phrase is a count (not a walk), on both engines."""
    from ferret_spark.highlight import explain_many
    from ferret_spark.index import SparkIndex
    from ferret_spark.segments import SegmentIndexBuilder

    fc = {"content": "whitespace"}
    df = spark.createDataFrame(
        [{"doc_id": i, "content": t} for i, t in enumerate(REPEAT_DOCS)]
    )
    if engine == "segments":
        idx = SegmentIndexBuilder(spark, str(tmp_path), fc, seg_size=4).build(
            df, doc_id_col="doc_id"
        )
    else:
        idx = SparkIndex.build(spark, df, fc, doc_id_col="doc_id")
    for q in REPEAT_PHRASES:
        hits = idx.search(q, k=10).collect()
        assert hits, q
        ex = explain_many(idx, q, [r["doc_id"] for r in hits])
        for r in hits:
            assert np.float32(ex[r["doc_id"]].value) == np.float32(
                r["score"]
            ), (q, r["doc_id"], ex[r["doc_id"]].to_s())
