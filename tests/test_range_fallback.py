"""Uncapped-range fallback: wide ranges over high-cardinality fields must
never materialize the matching term list driver-side (RangeFilter
semantics, c/src/q_range.c:218-277) — past RANGE_EXPAND_CAP the rewrite
returns a pushed predicate and the segment evaluator re-checks the bound."""

import pytest

from ferret_spark.query import (
    MUST,
    BooleanQuery,
    Clause,
    RangeQuery,
    TermQuery,
)
from ferret_spark.segments import SegmentIndexBuilder
from ferret_spark.wand import (
    ConstantScoreRange,
    ConstantScoreTerms,
    wand_rewrite,
)


@pytest.fixture(scope="module")
def num_idx(spark, tmp_path_factory):
    # 60 docs, each with a DISTINCT numeric keyword value -> any wide range
    # matches more terms than the patched cap
    rows = [
        {"doc_id": i, "content": f"alpha beta w{i % 5}", "num": str(100 + i)}
        for i in range(60)
    ]
    path = str(tmp_path_factory.mktemp("range_idx"))
    return SegmentIndexBuilder(
        spark, path, {"content": "whitespace", "num": "keyword"}, seg_size=16
    ).build(spark.createDataFrame(rows), doc_id_col="doc_id")


def test_wide_range_rewrites_to_pushed_predicate(num_idx, monkeypatch):
    import ferret_spark.wand as W

    monkeypatch.setattr(W, "RANGE_EXPAND_CAP", 8)
    q = RangeQuery(field="num", lower=100, upper=200, typed=True)
    rq = wand_rewrite(num_idx, q)
    assert isinstance(rq, ConstantScoreRange)


def test_narrow_range_still_expands(num_idx):
    q = RangeQuery(field="num", lower=100, upper=105, typed=True)
    rq = wand_rewrite(num_idx, q)
    assert isinstance(rq, ConstantScoreTerms)
    assert len(rq.terms) == 6


def test_fallback_results_match_expanded(num_idx, monkeypatch):
    import ferret_spark.wand as W

    q = RangeQuery(field="num", lower=110, upper=130, typed=True)
    expanded = {
        r["doc_id"]
        for r in num_idx.search(q, k=None).collect()
    }
    monkeypatch.setattr(W, "RANGE_EXPAND_CAP", 4)
    num_idx.filter_cache.clear()
    fallback = {
        r["doc_id"]
        for r in num_idx.search(q, k=None).collect()
    }
    assert fallback == expanded == set(range(10, 31))


def test_fallback_in_boolean_must(num_idx, monkeypatch):
    import ferret_spark.wand as W

    monkeypatch.setattr(W, "RANGE_EXPAND_CAP", 4)
    num_idx.filter_cache.clear()
    q = BooleanQuery(
        clauses=(
            Clause(TermQuery(field="content", term="w3"), MUST),
            Clause(
                RangeQuery(field="num", lower=110, upper=140, typed=True),
                MUST,
            ),
        )
    )
    got = {r["doc_id"] for r in num_idx.search(q, k=None).collect()}
    assert got == {d for d in range(10, 41) if d % 5 == 3}


def test_string_range_fallback(num_idx, monkeypatch):
    import ferret_spark.wand as W

    monkeypatch.setattr(W, "RANGE_EXPAND_CAP", 4)
    num_idx.filter_cache.clear()
    q = RangeQuery(field="num", lower="110", upper="119", typed=False)
    got = {r["doc_id"] for r in num_idx.search(q, k=None).collect()}
    assert got == set(range(10, 20))


def test_matches_bounds():
    r = ConstantScoreRange(
        field="num", lower=1, upper=5, include_lower=False,
        include_upper=True, typed=True,
    )
    assert not r.matches("1")
    assert r.matches("1.5")
    assert r.matches("5")
    assert not r.matches("5.1")
    assert not r.matches("not-a-number")
