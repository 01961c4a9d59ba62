"""Round-7: segment scan predicates list exactly the requested
(field, term) pairs — an OR of per-field term lists, never the
fields x terms cross-product (VERDICT r6 finding #2)."""

from __future__ import annotations

from ferret_spark.wand import _exact_pair_cond
from tests.conftest import spark  # noqa: F401


def test_exact_pair_cond_filters_only_requested_pairs(spark):  # noqa: F811
    rows = [
        ("text", "a"), ("text", "b"), ("lang", "en"),
        ("lang", "a"),  # cross-product trap: 'a' exists in BOTH fields
        ("text", "en"),
    ]
    df = spark.createDataFrame(rows, "field string, term string")
    pairs = [("text", "a"), ("lang", "en")]
    got = sorted(
        (r["field"], r["term"])
        for r in df.where(_exact_pair_cond(pairs)).collect()
    )
    # the cross-product predicate would ALSO match ('lang','a') and
    # ('text','en'); the exact predicate must not
    assert got == sorted(pairs)


def test_exact_pair_cond_plan_pushes_per_field_lists(spark, tmp_path):  # noqa: F811
    rows = [("text", "a", 1), ("lang", "en", 2)]
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        rows, "field string, term string, df long"
    ).write.parquet(p)
    df = spark.read.parquet(p).where(
        _exact_pair_cond([("text", "a"), ("lang", "en")])
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # pushed as per-field conjunctions, visible in the scan's filters
    assert "PushedFilters" in plan
    assert plan.count("Or(And(") >= 1 or "And(EqualTo(field,text)" in plan


def test_doc_freqs_push_exact_pairs_in_both_engines(spark):  # noqa: F811
    """Both engines' df lookups push the exact (field, term) pairs: the
    cross-field trap rows must not survive the pushed filter."""
    from types import SimpleNamespace

    from ferret_spark.index import SparkIndex
    from ferret_spark.segments import SegmentIndex

    ts = spark.createDataFrame(
        [
            ("text", "a", 1), ("lang", "en", 2),
            ("lang", "a", 3), ("text", "en", 4),  # cross-product traps
        ],
        "field string, term string, df long",
    )
    pairs = [("text", "a"), ("lang", "en")]
    for engine in (SparkIndex, SegmentIndex):
        conds = []

        class Spy:
            def where(self, cond):
                conds.append(cond)
                return ts.where(cond)

        dfs = engine.doc_freqs(SimpleNamespace(term_stats=Spy()), pairs)
        assert dfs == {("text", "a"): 1, ("lang", "en"): 2}, engine
        (cond,) = conds
        got = sorted((r["field"], r["term"]) for r in ts.where(cond).collect())
        assert got == sorted(pairs), engine
