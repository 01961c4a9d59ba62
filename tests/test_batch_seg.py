"""segment_batch_search parity: every query in a batch must return
exactly segment_search's top-k (doc order AND float32 scores) — both
run the same _SegEval fold per segment, so any drift is a bug.  Plus
plan-shape guards (one segments scan for the whole batch, one
applyInPandas; a single query has no window, and on a cached index one
job with no exchange)."""

import numpy as np
import pytest

from ferret_spark.fixtures import GOLDEN_FIELD_CONFIG, golden_rows
from ferret_spark.query import (
    MUST,
    MUST_NOT,
    SHOULD,
    BooleanQuery,
    PhraseQuery,
    PrefixQuery,
    RangeQuery,
    TermQuery,
)
from ferret_spark.segments import SegmentIndex, SegmentIndexBuilder
from ferret_spark.wand import segment_batch_search, segment_search, wand_rewrite
from tests.conftest import jobs_in_group


def T(t, field="content", boost=1.0):
    return TermQuery(field=field, term=t, boost=boost)


BATCH = [
    T("word1"),
    T("word2"),
    T("zzzzz"),  # df == 0: absent from results
    BooleanQuery.of((T("word1"), MUST), (T("word3"), MUST)),
    BooleanQuery.of((T("word1"), MUST), (T("word3"), MUST), (T("word2"), SHOULD)),
    BooleanQuery.of((T("word2"), SHOULD), (T("word3"), SHOULD)),
    BooleanQuery.of((T("word3"), MUST), (T("word2"), MUST_NOT)),
    BooleanQuery.of((T("word3"), MUST_NOT)),  # pure NOT -> MatchAll MUST
    BooleanQuery.of((T("word3", boost=2.0), MUST), (T("quick", boost=0.5), SHOULD)),
    PrefixQuery(field="content", prefix="word"),  # rewrite -> MultiTermQuery
]

K = 25


@pytest.fixture(scope="module")
def seg(spark, tmp_path_factory):
    rows = [dict(r, doc_id=i) for i, r in enumerate(golden_rows())]
    path = str(tmp_path_factory.mktemp("bseg_idx"))
    # seg_size 6 -> multiple segments, so cross-segment merge is exercised
    return SegmentIndexBuilder(
        spark, path, GOLDEN_FIELD_CONFIG, seg_size=6
    ).build(spark.createDataFrame(rows), doc_id_col="doc_id")


def test_seg_batch_matches_segment_search(seg):
    got = segment_batch_search(seg, BATCH, k=K).collect()
    by_qid = {}
    for r in got:
        by_qid.setdefault(r["query_id"], []).append(r)
    for rows in by_qid.values():
        assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == list(
            range(1, len(rows) + 1)
        )
    for qid, q in enumerate(BATCH):
        want = segment_search(seg, q, k=K).collect()
        have = sorted(by_qid.get(qid, []), key=lambda r: r["rank"])
        assert [r["doc_id"] for r in have] == [r["doc_id"] for r in want], (
            qid,
            q,
        )
        for h, w in zip(have, want):
            assert np.float32(h["score"]) == np.float32(w["score"]), (qid, q)


def test_seg_batch_empty_and_pure_not(seg):
    got = segment_batch_search(seg, BATCH, k=K).collect()
    qids = {r["query_id"] for r in got}
    assert 2 not in qids  # df == 0 term matches nothing
    not_rows = [r for r in got if r["query_id"] == 7]
    assert not_rows and all(r["score"] == 1.0 for r in not_rows)


def _every_shape():
    """The perfbench single-query stream's shapes (hot / mid / rare /
    absent term, AND, OR, NOT, exact and sloppy phrase, prefix) plus
    multi-alternative phrase, SpanNear, range (uncapped under the patched
    cap), range filter and pure NOT."""
    from ferret_spark.spans import SpanNearQuery, SpanTermQuery

    def S(t):
        return SpanTermQuery(field="content", term=t)

    return [
        T("word1"),
        T("word3"),
        T("hairy"),
        T("zzzzz"),
        BooleanQuery.of((T("word3"), MUST), (T("word1"), MUST)),
        BooleanQuery.of(
            (T("word2"), SHOULD), (T("fox"), SHOULD), (T("red"), SHOULD)
        ),
        BooleanQuery.of((T("word1"), MUST), (T("word3"), MUST_NOT)),
        PhraseQuery.of("content", ["brown", "fox"]),
        PhraseQuery.of("content", ["quick", "fox"], slop=2),
        PrefixQuery(field="content", prefix="wor"),
        PhraseQuery.of("content", ["quick", ("brown", "red", "hairy")]),
        SpanNearQuery(clauses=(S("quick"), S("fox")), slop=1, in_order=True),
        RangeQuery(field="number", lower=0, upper=100, typed=True),
        BooleanQuery.of(
            (T("word1"), MUST),
            (RangeQuery(field="date", lower="20051001", upper="20051003"), MUST),
        ),
        BooleanQuery.of((T("word2"), MUST_NOT)),
    ]


@pytest.mark.parametrize(
    "lazy_delete", [False, True], ids=["no_delete", "lazy_delete"]
)
def test_seg_batch_parity_every_shape(
    spark, tmp_path, monkeypatch, lazy_delete
):
    """One batch of every query shape equals per-query search(): doc ids
    and float32 scores at a top-k that binds inside 6-doc segments, with
    the filter doc-set cache off (the range scans as a pushed predicate)
    and on (both ranges ship as cached filters), with and without a lazy
    delete."""
    import ferret_spark.wand as W
    from ferret_spark.ind import FerretIndex

    monkeypatch.setattr(W, "RANGE_EXPAND_CAP", 3)
    rows = [dict(r, doc_id=i) for i, r in enumerate(golden_rows())]
    idx = FerretIndex(
        spark, str(tmp_path / "shapes"), GOLDEN_FIELD_CONFIG, seg_size=6
    )
    idx.add_documents(spark.createDataFrame(rows), doc_id_col="doc_id")
    if lazy_delete:
        assert idx.delete_by_term("content", "fox") == 6
    shapes = _every_shape()
    rq = wand_rewrite(idx.index, shapes[12])
    assert isinstance(rq, W.ConstantScoreRange)
    # the absent term, and with fox deleted the shapes whose hits all hold it
    empty = {3} | ({2, 7, 8, 10, 11} if lazy_delete else set())
    for cache in (False, True):
        idx.index.filter_doc_cache = cache
        got = idx.search_batch(shapes, k=5).collect()
        for qid, q in enumerate(shapes):
            want = idx.search(q, k=5).collect()
            have = sorted(
                (r for r in got if r["query_id"] == qid),
                key=lambda r: r["rank"],
            )
            assert bool(want) == (qid not in empty), (cache, qid, q)
            assert [r["doc_id"] for r in have] == [
                r["doc_id"] for r in want
            ], (cache, qid, q)
            for h, w in zip(have, want):
                assert np.float32(h["score"]) == np.float32(w["score"]), (
                    cache, qid, q,
                )


def test_single_query_plan_one_scoring_node_no_window(spark, seg):
    """A single query is the planner's batch of one with the orderBy/limit
    tail: exactly one Python scoring node and no per-query window. On a
    cached index (segment rows clustered by seg_id) term, AND and phrase
    queries plan no exchange below the scoring node — dfs come from the
    driver, not a broadcast join — and run exactly one Spark job, with the
    uncached index's hits."""
    for q in (T("word1"), PhraseQuery.of("content", ["brown", "fox"]), BATCH[7]):
        df = segment_search(seg, q, k=10)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FlatMapGroupsInPandas") == 1, plan
        assert "Window" not in plan, plan

    cached = SegmentIndex.load(spark, seg.path).cache()
    sc = spark.sparkContext
    try:
        for i, q in enumerate(
            (T("word1"), BATCH[3], PhraseQuery.of("content", ["brown", "fox"]))
        ):
            group = f"one_job_{i}"
            sc.setJobGroup(group, group)
            try:
                df = segment_search(cached, q, k=10)
                plan = df._jdf.queryExecution().executedPlan().toString()
                got = df.collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            # below the scoring node, up to the cached relation (whose own
            # build plan holds the clustering exchange)
            below = plan.split("FlatMapGroupsInPandas", 1)[1]
            below = below.split("InMemoryRelation", 1)[0]
            assert "Exchange" not in below, plan  # also BroadcastExchange
            assert len(jobs_in_group(sc, group)) == 1, q
            assert got == segment_search(seg, q, k=10).collect(), q
    finally:
        cached.segments.unpersist()
        cached.term_stats.unpersist()


def test_seg_batch_facade_with_deletes(spark, tmp_path):
    """FerretIndex.search_batch applies the same packed-deletes path as
    search(): after a delete, batch results equal per-query search()
    exactly — the deleted doc gone, global dfs unchanged (lazy apply)."""
    from ferret_spark.ind import FerretIndex

    rows = [dict(r, doc_id=i) for i, r in enumerate(golden_rows())]
    idx = FerretIndex(
        spark, str(tmp_path / "fbatch"), GOLDEN_FIELD_CONFIG, seg_size=6
    )
    idx.add_documents(spark.createDataFrame(rows), doc_id_col="doc_id")
    batch = BATCH[:2] + [BATCH[3], BATCH[9]]
    before = segment_batch_search(idx.index, batch, k=K).collect()
    gone = {r["doc_id"] for r in before if r["query_id"] == 0}
    assert gone
    idx.delete_by_term("content", "word1")  # lazy delete, dfs unchanged
    got = idx.search_batch(batch, k=K).collect()
    assert not gone & {r["doc_id"] for r in got}
    by_qid = {}
    for r in got:
        by_qid.setdefault(r["query_id"], []).append(r)
    for qid, q in enumerate(batch):
        want = idx.search(q, k=K).collect()
        have = sorted(by_qid.get(qid, []), key=lambda r: r["rank"])
        assert [r["doc_id"] for r in have] == [r["doc_id"] for r in want], qid
        for h, w in zip(have, want):
            assert np.float32(h["score"]) == np.float32(w["score"]), qid


def test_seg_batch_term_budget_split(seg):
    """A term budget smaller than the batch's union forces sub-jobs; the
    result (query_id mapping, docs, float32 scores) must be identical to
    the unsplit run."""
    whole = segment_batch_search(seg, BATCH, k=K, term_budget=0).collect()
    split = segment_batch_search(seg, BATCH, k=K, term_budget=3).collect()

    def keyed(rows):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], np.float32(r["score"]))
            for r in rows
        )

    assert keyed(split) == keyed(whole)


def test_seg_batch_plan_shape(seg):
    """The whole batch (no MatchAll) must be ONE segments scan — dfs are
    read on the driver, so no term_stats scan — and exactly one Python
    eval node, independent of batch size."""
    df = segment_batch_search(seg, BATCH[:7], k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan
    n_py = plan.count("FlatMapGroupsInPandas") + plan.count("MapInPandas")
    assert n_py == 1, plan
    df.collect()  # and it actually runs


def test_pure_not_same_hits_on_posting_less_segment(spark, tmp_path):
    """A pure-NOT query is MatchAll minus the NOT term, so both search
    paths must visit every segment of the id span — including one whose
    docs have no postings at all (the second generation's empty docs)."""
    from ferret_spark.ind import FerretIndex

    idx = FerretIndex(
        spark, str(tmp_path / "gens"), {"content": "whitespace"}, seg_size=2
    )
    gen1 = [
        {"doc_id": 0, "content": "apple banana"},
        {"doc_id": 1, "content": "cherry"},
        {"doc_id": 2, "content": "apple"},
    ]
    gen2 = [{"doc_id": 0, "content": ""}, {"doc_id": 1, "content": ""}]
    idx.add_documents(spark.createDataFrame(gen1), doc_id_col="doc_id")
    idx.add_documents(spark.createDataFrame(gen2), doc_id_col="doc_id")
    q = BooleanQuery.of((T("apple"), MUST_NOT))
    single = segment_search(idx.index, q, k=K).collect()
    batch = sorted(
        segment_batch_search(idx.index, [q], k=K).collect(),
        key=lambda r: r["rank"],
    )
    # gen2 starts at the next segment boundary: ids 4, 5 in segment 2
    assert [r["doc_id"] for r in single] == [1, 4, 5]
    assert [r["doc_id"] for r in batch] == [r["doc_id"] for r in single]
    for b, s in zip(batch, single):
        assert np.float32(b["score"]) == np.float32(s["score"])
