"""Bounded multi-term expansion: prefix/wildcard/fuzzy expansion must never
materialize an unbounded term list driver-side. The cap is pushed into the
term-dict scan (orderBy+limit -> TakeOrderedAndProject); past the cap,
prefix/wildcard rewrite to a pushed predicate (ConstantScoreMatch — the
RangeFilter analog, c/src/q_range.c:218-277) and fuzzy's top-cap-by-score
truncation runs JVM-side (F.levenshtein), mirroring the reference
MultiTermQuery min-boost PQ (c/src/q_multi_term.c:41-120)."""

import pytest

from ferret_spark.query import (
    MUST,
    BooleanQuery,
    Clause,
    FuzzyQuery,
    MultiTermQuery,
    PrefixQuery,
    TermQuery,
    WildcardQuery,
    expand_terms,
)
from ferret_spark.search import ConstantScoreMatch, spark_expand
from ferret_spark.segments import SegmentIndexBuilder
from ferret_spark.wand import wand_rewrite


@pytest.fixture(scope="module")
def pre_idx(spark, tmp_path_factory):
    # 60 docs, each contributing a DISTINCT "tag..." term -> any wide
    # prefix matches more terms than the patched cap
    rows = [
        {"doc_id": i, "content": f"alpha w{i % 5} tag{i:03d}"}
        for i in range(60)
    ]
    path = str(tmp_path_factory.mktemp("prefix_idx"))
    return SegmentIndexBuilder(
        spark, path, {"content": "whitespace"}, seg_size=16
    ).build(spark.createDataFrame(rows), doc_id_col="doc_id")


def test_wide_prefix_rewrites_to_pushed_predicate(pre_idx, monkeypatch):
    import ferret_spark.search as S

    monkeypatch.setattr(S, "MAX_EXPANDED_TERMS", 8)
    rq = wand_rewrite(pre_idx, PrefixQuery(field="content", prefix="tag"))
    assert isinstance(rq, ConstantScoreMatch)
    assert rq.prefix == "tag" and rq.pattern is None


def test_narrow_prefix_still_expands(pre_idx):
    rq = wand_rewrite(pre_idx, PrefixQuery(field="content", prefix="tag00"))
    assert isinstance(rq, MultiTermQuery)
    assert [t for t, _ in rq.terms] == [f"tag00{i}" for i in range(10)]


def test_prefix_fallback_results_match_expanded(pre_idx, monkeypatch):
    import ferret_spark.search as S

    q = PrefixQuery(field="content", prefix="tag00")
    expanded = {
        r["doc_id"] for r in pre_idx.search(q, k=None).collect()
    }
    monkeypatch.setattr(S, "MAX_EXPANDED_TERMS", 4)
    pre_idx.filter_cache.clear()
    fallback = {
        r["doc_id"] for r in pre_idx.search(q, k=None).collect()
    }
    assert fallback == expanded == set(range(10))


def test_wildcard_fallback_results_match_expanded(pre_idx, monkeypatch):
    import ferret_spark.search as S

    q = WildcardQuery(field="content", pattern="tag*5")
    expanded = {
        r["doc_id"] for r in pre_idx.search(q, k=None).collect()
    }
    monkeypatch.setattr(S, "MAX_EXPANDED_TERMS", 2)
    pre_idx.filter_cache.clear()
    rq = wand_rewrite(pre_idx, q)
    assert isinstance(rq, ConstantScoreMatch)
    assert rq.prefix == "tag"  # literal prefix pruned into the scan
    fallback = {
        r["doc_id"] for r in pre_idx.search(q, k=None).collect()
    }
    assert fallback == expanded == {5, 15, 25, 35, 45, 55}


def test_fallback_in_boolean_must(pre_idx, monkeypatch):
    import ferret_spark.search as S

    monkeypatch.setattr(S, "MAX_EXPANDED_TERMS", 4)
    pre_idx.filter_cache.clear()
    q = BooleanQuery(
        clauses=(
            Clause(TermQuery(field="content", term="w3"), MUST),
            Clause(PrefixQuery(field="content", prefix="tag00"), MUST),
        )
    )
    got = {r["doc_id"] for r in pre_idx.search(q, k=None).collect()}
    assert got == {3, 8}


def test_fuzzy_expansion_is_bounded_and_parity(pre_idx, monkeypatch):
    """JVM-pushed fuzzy scoring (levenshtein + top-cap TakeOrdered) must
    produce the exact (term, boost) pairs of the Python reference scorer."""
    import ferret_spark.search as S

    all_terms = sorted(
        r["term"]
        for r in pre_idx.term_stats.select("term").collect()
    )
    q = FuzzyQuery(field="content", term="tag011", min_sim=0.6)
    for cap in (512, 5):
        monkeypatch.setattr(S, "MAX_EXPANDED_TERMS", cap)
        monkeypatch.setattr("ferret_spark.query.MAX_EXPANDED_TERMS", cap)
        got = spark_expand(pre_idx, q)
        ref = expand_terms(q, all_terms)
        assert isinstance(got, MultiTermQuery)
        assert list(got.terms) == ref
        assert len(got.terms) <= cap


def test_matches_predicate():
    m = ConstantScoreMatch(field="content", prefix="tag")
    assert m.matches("tag123") and not m.matches("tab123")
    from ferret_spark.query import glob_to_regex

    w = ConstantScoreMatch(
        field="content", prefix="tag", pattern=glob_to_regex("tag*5")
    )
    assert w.matches("tag005") and not w.matches("tag006")
    assert not w.matches("zag005")


def test_declarative_path_fallback(spark, tmp_path_factory, monkeypatch):
    """The declarative planner (SparkIndex) must also honor the fallback:
    past the cap, plan_const_match scans postings with the pushed
    predicate and scores constant — same doc set as full expansion."""
    import ferret_spark.search as S
    from ferret_spark.index import SparkIndex

    rows = [
        {"doc_id": i, "content": f"alpha w{i % 5} tag{i:03d}"}
        for i in range(60)
    ]
    idx = SparkIndex.build(
        spark, spark.createDataFrame(rows), {"content": "whitespace"},
        doc_id_col="doc_id",
    )
    path = str(tmp_path_factory.mktemp("decl_fb"))
    idx.save(path)
    idx = SparkIndex.load(spark, path)
    q = PrefixQuery(field="content", prefix="tag00")
    expanded = {r["doc_id"] for r in idx.search(q, k=60).collect()}
    monkeypatch.setattr(S, "MAX_EXPANDED_TERMS", 4)
    fallback = {r["doc_id"] for r in idx.search(q, k=60).collect()}
    assert fallback == expanded == set(range(10))
    # and the fallback plan carries no Python eval node
    plan = idx.search(q, k=60)._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan
