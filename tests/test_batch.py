"""batch_search parity: every query in a batch must return exactly the
single-query declarative planner's top-k (doc order AND float32 scores),
since the batch is the union of the single-query plans. Every shape the
single-query planner takes is accepted, one it does not take raises as
it does alone, and the whole batch looks up its dfs once."""

import numpy as np
import pytest

from ferret_spark.fixtures import GOLDEN_FIELD_CONFIG, golden_rows
from ferret_spark.index import SparkIndex
from ferret_spark.query import (
    MUST,
    MUST_NOT,
    SHOULD,
    BooleanQuery,
    FilteredQuery,
    FuzzyQuery,
    MatchAllQuery,
    PhraseQuery,
    PrefixQuery,
    Query,
    RangeFilter,
    RangeQuery,
    TermQuery,
    WildcardQuery,
)
from ferret_spark.search import (
    ConstantScoreMatch,
    batch_search,
    plan_topk,
    spark_rewrite,
)


def T(t, field="content", boost=1.0):
    return TermQuery(field=field, term=t, boost=boost)


BATCH = [
    T("word2"),
    T("word1"),
    T("zzzzz"),  # df == 0: absent from results
    BooleanQuery.of((T("word1"), MUST), (T("word3"), MUST)),
    BooleanQuery.of((T("word1"), MUST), (T("word3"), MUST), (T("word2"), SHOULD)),
    BooleanQuery.of((T("word2"), SHOULD), (T("word3"), SHOULD)),
    BooleanQuery.of((T("word3"), MUST), (T("word2"), MUST_NOT)),
    BooleanQuery.of((T("word3"), MUST_NOT)),  # pure NOT -> MatchAll MUST
    BooleanQuery.of((T("word3", boost=2.0), MUST), (T("quick", boost=0.5), SHOULD)),
    BooleanQuery.of((T("word1"), MUST), (T("word1"), SHOULD)),  # repeated term
    PrefixQuery(field="content", prefix="word"),  # rewrite -> MultiTermQuery
    WildcardQuery(field="content", pattern="w*d2"),
    FuzzyQuery(field="content", term="worde", min_sim=0.5),
    # phrases: every freq kernel of plan_phrase
    PhraseQuery.of("content", ["quick", "brown"]),              # exact 2-slot
    PhraseQuery.of("content", ["word1", "word3"], slop=4),      # sloppy 2-slot
    PhraseQuery.of("content", ["quick", "brown", "fox"], slop=3),  # k=3 sloppy
    PhraseQuery.of("content", ["word1", "word2", "word1"], slop=5),  # repeats
    PhraseQuery.of("content", ["word2"]),                       # 1-slot
    PhraseQuery.of("content", ["word1", "zzzzz"]),              # dead slot
    PhraseQuery(  # multi-alternative slot + skip offset
        field="content",
        positions=((0, ("quick", "word1")), (2, ("fox", "word3"))),
        slop=6,
    ),
]

K = 25


@pytest.fixture(scope="module")
def sidx(spark):
    rows = golden_rows()
    corpus = spark.createDataFrame(
        [dict(r, doc_id=i) for i, r in enumerate(rows)]
    )
    return SparkIndex.build(spark, corpus, GOLDEN_FIELD_CONFIG, doc_id_col="doc_id")


def _assert_matches_single(sidx, queries, got):
    by_qid = {}
    for r in got:
        by_qid.setdefault(r["query_id"], []).append(r)
    for rows in by_qid.values():
        assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == list(
            range(1, len(rows) + 1)
        )
    for qid, q in enumerate(queries):
        want = plan_topk(sidx, q, k=K).collect()
        have = sorted(by_qid.get(qid, []), key=lambda r: r["rank"])
        assert [r["doc_id"] for r in have] == [r["doc_id"] for r in want], (
            qid,
            q,
        )
        for h, w in zip(have, want):
            assert np.float32(h["score"]) == np.float32(w["score"]), (qid, q)


def test_batch_matches_single_query_topk(sidx):
    _assert_matches_single(sidx, BATCH, batch_search(sidx, BATCH, k=K).collect())


def test_batch_empty_and_pure_not(sidx):
    got = batch_search(sidx, BATCH, k=K).collect()
    qids = {r["query_id"] for r in got}
    assert 2 not in qids  # df == 0 term
    # pure MUST_NOT rewrites to MatchAll MUST + NOT: all-but-excluded,
    # every survivor scoring the MatchAll 1.0 (same as the single planner)
    not_rows = [r for r in got if r["query_id"] == 7]
    assert not_rows and all(r["score"] == 1.0 for r in not_rows)


def test_batch_score_round_mode(sidx):
    got = batch_search(sidx, [T("word2")], k=5, score_round=4).collect()
    assert got, "rounded mode returned nothing"
    for r in got:
        assert abs(r["score"] - round(r["score"], 4)) < 1e-12


@pytest.mark.parametrize("score_round", [None, 4])
def test_batch_empty_schema_matches_scored(sidx, score_round):
    """A batch that matches nothing, or holds no query, declares the score
    type of the scored path: float when ranking on the float32 cast,
    double when rounding."""
    scored = batch_search(sidx, [T("word2")], k=5, score_round=score_round)
    for queries in ([T("zzzzz")], []):
        empty = batch_search(sidx, queries, k=5, score_round=score_round)
        assert empty.collect() == []
        assert empty.schema == scored.schema


def test_batch_takes_every_single_query_shape(sidx, monkeypatch):
    """Shapes outside flat term booleans and top-level phrases go through
    the batch like any other query and score as they do alone."""
    monkeypatch.setattr("ferret_spark.search.MAX_EXPANDED_TERMS", 1)
    capped = PrefixQuery(field="content", prefix="word")
    assert isinstance(spark_rewrite(sidx, capped), ConstantScoreMatch)
    shapes = [
        MatchAllQuery(),
        # a single-clause inner boolean flattens in spark_rewrite, so the
        # genuinely-nested case needs >=2 inner clauses
        BooleanQuery.of(
            (BooleanQuery.of((T("word1"), SHOULD), (T("word3"), SHOULD)), MUST),
            (T("word2"), MUST),
        ),
        BooleanQuery.of(
            (PhraseQuery.of("content", ["quick", "brown"]), MUST),
            (T("word2"), MUST),
        ),
        RangeQuery(field="date", lower="20051006", upper="20051010"),
        FilteredQuery(
            query=T("word1"),
            filter=RangeFilter(field="date", lower="20051006", upper="20051010"),
        ),
        capped,
    ]
    got = batch_search(sidx, shapes, k=K).collect()
    assert {r["query_id"] for r in got} == set(range(len(shapes)))
    _assert_matches_single(sidx, shapes, got)


@pytest.mark.parametrize(
    "bad",
    [
        Query(),
        # a filter is not a query: it goes through FilteredQuery
        RangeFilter(field="date", lower="20051006", upper="20051010"),
        # an unplannable clause fails the whole boolean
        BooleanQuery.of((Query(), MUST), (T("word2"), MUST)),
    ],
)
def test_batch_unsupported_raises(sidx, bad):
    """A query no planner takes fails the batch as it fails plan_topk,
    when the plan is built, and alongside supported queries."""
    with pytest.raises(TypeError, match="unsupported query"):
        plan_topk(sidx, bad, k=K)
    with pytest.raises(TypeError, match="unsupported query"):
        batch_search(sidx, [T("word2"), bad], k=K)


def test_batch_one_doc_freqs_lookup(sidx, monkeypatch):
    """The whole batch reads its dfs in one driver lookup over the union
    of its queries' terms."""
    calls = []
    real = sidx.doc_freqs

    def spy(pairs):
        calls.append(list(pairs))
        return real(pairs)

    monkeypatch.setattr(sidx, "doc_freqs", spy)
    batch_search(sidx, BATCH, k=K)
    assert len(calls) == 1, calls
    assert ("content", "quick") in calls[0] and ("content", "word3") in calls[0]


# a slot that repeats an alternative: one slot, exact and sloppy, and an
# exact / sloppy two-slot phrase
DUP_ALTS = [
    PhraseQuery.of("content", [("fox", "fox")]),
    PhraseQuery.of("content", [("fox", "fox")], slop=1),
    PhraseQuery.of("content", [("quick", "quick"), "brown"]),
    PhraseQuery.of("content", [("quick", "quick"), "fox"], slop=2),
]


def test_phrase_duplicate_alternatives_match_oracle(spark, sidx, tmp_path):
    """A repeated alternative adds its positions once per occurrence, as
    the oracle's per-alternative merge does: a single slot counts every
    occurrence, an exact multi-slot phrase intersects distinct positions.
    The declarative planner, its batch and the segmented engine all
    return the oracle's top-k."""
    from ferret_spark.oracle import OracleIndex
    from ferret_spark.segments import SegmentIndexBuilder
    from ferret_spark.wand import segment_search

    rows = golden_rows()
    oracle = OracleIndex(rows, GOLDEN_FIELD_CONFIG)
    seg = SegmentIndexBuilder(
        spark, str(tmp_path / "seg"), GOLDEN_FIELD_CONFIG, seg_size=6
    ).build(
        spark.createDataFrame([dict(r, doc_id=i) for i, r in enumerate(rows)]),
        doc_id_col="doc_id",
    )
    batch = batch_search(sidx, DUP_ALTS, k=K).collect()
    for qid, q in enumerate(DUP_ALTS):
        want = oracle.search(q, k=K)
        assert want, q
        engines = {
            "plan_phrase": plan_topk(sidx, q, k=K).collect(),
            "batch": sorted(
                (r for r in batch if r["query_id"] == qid),
                key=lambda r: r["rank"],
            ),
            "segments": segment_search(seg, q, k=K).collect(),
        }
        for name, got in engines.items():
            assert [r["doc_id"] for r in got] == [d for d, _ in want], (name, q)
            assert [np.float32(r["score"]) for r in got] == [
                s for _, s in want
            ], (name, q)
