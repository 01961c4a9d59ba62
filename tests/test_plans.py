"""Physical-plan regression guards: the properties that make the engine
scale must be visible in the executed plan (predicate pushdown to parquet,
column pruning, broadcast of tiny dims) — not just fast today by accident."""

import pytest

from ferret_spark.fixtures import golden_rows
from ferret_spark.index import SparkIndex
from ferret_spark.query import TermQuery


@pytest.fixture(scope="module")
def saved_idx(spark, tmp_path_factory):
    rows = [dict(r, doc_id=i) for i, r in enumerate(golden_rows())]
    corpus = spark.createDataFrame(rows)
    idx = SparkIndex.build(
        spark, corpus, {"content": "whitespace"}, doc_id_col="doc_id"
    )
    path = str(tmp_path_factory.mktemp("plan_idx"))
    idx.save(path)
    return SparkIndex.load(spark, path)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_term_filter_pushed_to_parquet_scan(saved_idx):
    df = saved_idx.search(TermQuery(field="content", term="word2"), k=10)
    plan = _executed_plan(df)
    # the term predicate must reach the FileScan (rowgroup pruning = the
    # .tii term-dict tier analog)
    scan_lines = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert any("term" in l and "PushedFilters" in plan for l in scan_lines)
    assert "EqualTo(term,word2)" in plan or "(term = word2)" in plan or (
        "term" in plan and "word2" in plan
    )


def test_term_query_prunes_positions_column(saved_idx):
    # a term query never reads the positions column
    df = saved_idx.search(TermQuery(field="content", term="word2"), k=10)
    plan = _executed_plan(df)
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "positions" not in line, line


def test_topk_uses_take_ordered(saved_idx):
    df = saved_idx.search(TermQuery(field="content", term="word1"), k=5)
    plan = _executed_plan(df)
    assert "TakeOrderedAndProject" in plan


def test_segment_scan_pushdown(spark, tmp_path_factory):
    from ferret_spark.segments import SegmentIndexBuilder

    rows = [dict(r, doc_id=i) for i, r in enumerate(golden_rows())]
    path = str(tmp_path_factory.mktemp("plan_seg"))
    sidx = SegmentIndexBuilder(
        spark, path, {"content": "whitespace"}, seg_size=6
    ).build(spark.createDataFrame(rows), doc_id_col="doc_id")
    df = sidx.search(TermQuery(field="content", term="word2"), k=10)
    plan = _executed_plan(df)
    assert "PushedFilters" in plan
    assert "word2" in plan


def test_multiterm_or_plan_has_no_python_udf(saved_idx):
    """The declarative OR plan (prefix/wildcard/fuzzy/bool_or rewrite
    target) must stay entirely JVM-side: sorted-order float summation is an
    aggregate() fold over array_sort(collect_list(...)), not a pandas UDF."""
    from ferret_spark.query import PrefixQuery

    df = saved_idx.search(PrefixQuery(field="content", prefix="word"), k=10)
    plan = _executed_plan(df)
    for marker in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan, f"{marker} found in OR plan:\n{plan}"
    # and it still returns scored hits
    assert len(df.collect()) > 0


def test_exact_phrase_plan_has_no_python_udf(saved_idx):
    """Slop-0 phrase freq is a JVM array_intersect chain over
    offset-adjusted position arrays (same dedup semantics as the scorer's
    set intersection) — the per-row pandas loop is reserved for sloppy
    matching only."""
    from ferret_spark.query import PhraseQuery

    q = PhraseQuery.of("content", ["word1", "word2"])
    df = saved_idx.search(q, k=10)
    plan = _executed_plan(df)
    for marker in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan, f"{marker} found in exact-phrase plan:\n{plan}"
    assert len(df.collect()) > 0


def _assert_one_sloppy_udf(plan: str):
    """The one sloppy-phrase pandas UDF (phrase_freq, whose kernel choice
    is phrase_np.phrase_freqs — pinned in tests/test_phrase_np.py): one
    Arrow-batched UDF over the whole batch, no row-at-a-time Python."""
    assert "phrase_freq" in plan, plan
    assert "BatchEvalPython" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_sloppy2_phrase_routes_to_batch_kernel(saved_idx):
    """Declarative slop>0 two-term phrases score through the sloppy
    pandas UDF, never a row-at-a-time Python UDF."""
    from ferret_spark.query import PhraseQuery

    q = PhraseQuery.of("content", ["word1", "word2"], slop=2)
    df = saved_idx.search(q, k=10)
    _assert_one_sloppy_udf(_executed_plan(df))
    assert len(df.collect()) > 0


def test_sloppy3_phrase_routes_to_lockstep_kernel(saved_idx):
    """>=3-slot sloppy phrases (no repeats) take the same one UDF."""
    from ferret_spark.query import PhraseQuery

    q = PhraseQuery.of("content", ["word1", "word2", "word3"], slop=3)
    df = saved_idx.search(q, k=10)
    _assert_one_sloppy_udf(_executed_plan(df))


def test_repeated_term_sloppy_phrase_keeps_per_doc_walk(saved_idx):
    """Repeated-term slots take the same one UDF too (its dispatcher
    walks them per doc: sphsc_check_repeats is genuinely sequential)."""
    from ferret_spark.query import PhraseQuery

    q = PhraseQuery.of("content", ["word1", "word2", "word1"], slop=3)
    df = saved_idx.search(q, k=10)
    _assert_one_sloppy_udf(_executed_plan(df))


def test_phrase_join_broadcasts_rare_side(saved_idx):
    """The df-ordered phrase join broadcasts the df-bounded accumulator
    when the rarest slot is under PHRASE_BROADCAST_DF — the hot slot's
    positional postings never shuffle."""
    from ferret_spark.query import PhraseQuery

    for slop in (0, 2):
        q = PhraseQuery.of("content", ["word1", "word2"], slop=slop)
        df = saved_idx.search(q, k=10)
        plan = _executed_plan(df)
        assert "BroadcastHashJoin" in plan, plan
