"""Segmented compressed index: rank-identity vs oracle, postings
correctness, manifest/resume (north_rule: segments + compression +
hierarchical term-dictionary merge + resume)."""

import numpy as np
import pytest

from ferret_spark.codec import decode_posting_list, posting_row
from ferret_spark.fixtures import GOLDEN_FIELD_CONFIG, golden_rows, synth_corpus_pdf
from ferret_spark.oracle import OracleIndex
from ferret_spark.query import (
    MUST,
    MUST_NOT,
    SHOULD,
    BooleanQuery,
    FuzzyQuery,
    MatchAllQuery,
    PhraseQuery,
    PrefixQuery,
    RangeQuery,
    TermQuery,
)
from ferret_spark.segments import (
    SegmentIndex,
    SegmentIndexBuilder,
    append_manifest,
    read_manifest,
)

from tests.test_search_spark import GOLDEN_QUERIES, SYNTH_QUERIES, T


@pytest.fixture(scope="module")
def golden_seg(spark, tmp_path_factory):
    rows = golden_rows()
    oracle = OracleIndex(rows, GOLDEN_FIELD_CONFIG)
    pdf_rows = [dict(r, doc_id=i) for i, r in enumerate(rows)]
    corpus = spark.createDataFrame(pdf_rows)
    path = str(tmp_path_factory.mktemp("golden_seg"))
    b = SegmentIndexBuilder(
        spark, path, GOLDEN_FIELD_CONFIG, seg_size=5, salt_buckets=2
    )
    sidx = b.build(corpus, doc_id_col="doc_id")
    return oracle, sidx


def assert_seg_rank_identical(oracle, sidx, q, k=25):
    expected = oracle.search(q, k=k)
    got = [(r["doc_id"], r["score"]) for r in sidx.search(q, k=k).collect()]
    assert [d for d, _ in got] == [d for d, _ in expected], (
        f"doc order mismatch: {got} vs {expected}"
    )
    for (gd, gs), (ed, es) in zip(got, expected):
        assert np.float32(gs) == np.float32(es), (gd, gs, es)


@pytest.mark.parametrize("name,q", GOLDEN_QUERIES, ids=[n for n, _ in GOLDEN_QUERIES])
def test_golden_segment_rank_identity(golden_seg, name, q):
    oracle, sidx = golden_seg
    assert_seg_rank_identical(oracle, sidx, q)


def test_merged_postings_match_oracle(golden_seg):
    """Each term's segment rows, decoded and concatenated in seg_id
    order, are the oracle's global posting list; term_stats holds its df."""
    oracle, sidx = golden_seg
    rows = sidx.segments.where(sidx.segments.field == "content").collect()
    got = {}
    for r in sorted(rows, key=lambda r: r["seg_id"]):
        ids, tfs, pos, dls = decode_posting_list(posting_row(r))
        g = got.setdefault(r["term"], ([], [], []))
        g[0].extend(ids.tolist())
        g[1].extend(tfs.tolist())
        g[2].extend(p.tolist() for p in pos)
    want = oracle.postings["content"]
    dfs = sidx.doc_freqs([("content", t) for t in want])
    assert dfs == {("content", t): len(p) for t, p in want.items()}
    assert set(got.keys()) == set(want.keys())
    for term, plist in want.items():
        ids = [d for d, _, _ in plist]
        tfs = [t for _, t, _ in plist]
        poss = [list(p) for _, _, p in plist]
        gids, gtfs, gpos = got[term]
        assert gids == ids, term
        assert gtfs == tfs, term
        assert gpos == poss, term


@pytest.fixture(scope="module")
def synth_seg(spark, tmp_path_factory):
    pdf = synth_corpus_pdf(120, mu=3.0, sigma=0.8)
    fc = {"content": "letter", "lang": "keyword"}
    corpus = spark.createDataFrame(pdf)
    path = str(tmp_path_factory.mktemp("synth_seg"))
    b = SegmentIndexBuilder(spark, path, fc, seg_size=16, salt_buckets=3)
    sidx = b.build(corpus, id_cols=("repo", "path", "commit"))
    id_map = {
        r["commit"]: r["doc_id"]
        for r in sidx.docs.select("commit", "doc_id").collect()
    }
    rows = sorted(pdf.to_dict("records"), key=lambda r: id_map[r["commit"]])
    oracle = OracleIndex(rows, fc)
    return oracle, sidx


@pytest.mark.parametrize("name,q", SYNTH_QUERIES, ids=[n for n, _ in SYNTH_QUERIES])
def test_synth_segment_rank_identity(synth_seg, name, q):
    oracle, sidx = synth_seg
    assert_seg_rank_identical(oracle, sidx, q, k=15)


def test_wand_prune_parity(synth_seg):
    oracle, sidx = synth_seg
    # a prefix expands to a multi-term disjunction, cut to a top-k inside
    # every segment
    q = PrefixQuery(field="content", prefix="re")
    assert_seg_rank_identical(oracle, sidx, q, k=10)


@pytest.fixture(scope="module")
def resume_full(spark, tmp_path_factory):
    """An uninterrupted build the resumed ones must answer like."""
    pdf = synth_corpus_pdf(50, mu=2.5, sigma=0.5)
    corpus = spark.createDataFrame(pdf)
    path = str(tmp_path_factory.mktemp("resume_a"))
    full = SegmentIndexBuilder(spark, path, {"content": "letter"}, seg_size=8)
    return corpus, full.build(corpus, id_cols=("repo", "path", "commit"))


@pytest.mark.parametrize(
    "stop_after", ["docs", "segments", "term_stats", "old_merged"]
)
def test_resume_after_crash(spark, tmp_path_factory, resume_full, stop_after):
    """Kill the build after each stage but the last, then resume.
    ``old_merged`` is an older build killed after its merged stage: the
    manifest says 'merged' done and 'term_stats' not."""
    corpus, full = resume_full
    ids = ("repo", "path", "commit")
    path_b = str(tmp_path_factory.mktemp("resume_b"))
    crash_builder = SegmentIndexBuilder(
        spark, path_b, {"content": "letter"}, seg_size=8
    )
    stages = SegmentIndexBuilder.STAGES
    if stop_after == "old_merged":
        out = crash_builder.build(corpus, id_cols=ids, stop_after="segments")
        append_manifest(spark, path_b, "merged", {"rows": 1})
        want = {"docs", "segments", "merged"}
    else:
        out = crash_builder.build(corpus, id_cols=ids, stop_after=stop_after)
        want = set(stages[: stages.index(stop_after) + 1])
    assert out is None
    m = read_manifest(spark, path_b)
    assert set(m) == want
    resumed = crash_builder.build(corpus, id_cols=ids)
    m2 = read_manifest(spark, path_b)
    assert set(m2) == want | set(stages)
    # earlier stages were NOT recomputed (same manifest timestamp)
    assert all(m2[s]["ts"] == m[s]["ts"] for s in want)

    # resumed index answers identically to the uninterrupted one
    q = BooleanQuery.of((T("def"), MUST), (T("return"), SHOULD))
    a = [(r["doc_id"], r["score"]) for r in full.search(q, k=10).collect()]
    b = [(r["doc_id"], r["score"]) for r in resumed.search(q, k=10).collect()]
    assert a == b
    assert resumed.stats == full.stats


def test_manifest_metrics(golden_seg, spark):
    _, sidx = golden_seg
    m = read_manifest(spark, sidx.path)
    for stage in ["docs", "segments", "term_stats", "meta"]:
        assert m[stage]["status"] == "done"
        assert m[stage]["elapsed_sec"] >= 0
    assert m["docs"]["rows"] == 18
    assert m["segments"]["bytes"] > 0


def test_fql_string_query_end_to_end(golden_seg):
    # FQL string -> parse -> segment search; parity with the equivalent tree
    oracle, sidx = golden_seg
    got = [
        (r["doc_id"], r["score"])
        for r in sidx.query(
            'word1 AND word3 "quick brown fox"~4', k=20, analyzer="whitespace"
        ).collect()
    ]
    from ferret_spark.parser import QueryParser

    p = QueryParser(
        default_field="content",
        fields=list(GOLDEN_FIELD_CONFIG),
        tokenized_fields=["content"],
        analyzer="whitespace",
    )
    q = p.parse('word1 AND word3 "quick brown fox"~4')
    exp = oracle.search(q, k=20)
    assert [d for d, _ in got] == [d for d, _ in exp]


def test_filter_cache_reuses_range_expansion(golden_seg):
    """Second execution of the same range filter must not touch the term
    dictionary (frt_filter_get_bv caching analog): poison term_stats after
    the first run and re-run."""
    from ferret_spark.query import RangeQuery

    from ferret_spark.wand import _range_to_const

    _, sidx = golden_seg
    q = RangeQuery(field="date", lower="20051006", upper="20051010", typed=False)
    first = {r["doc_id"] for r in sidx.search(q, k=None).collect()}
    assert ("range", "date", "20051006", "20051010", True, True, False) in (
        sidx.filter_cache
    )
    # the cached rewrite must not re-scan the term dictionary: poison
    # term_stats and re-run the rewrite
    saved = sidx.term_stats
    try:
        sidx.term_stats = None  # would crash on any term-dict access
        rw = _range_to_const(sidx, q)
    finally:
        sidx.term_stats = saved
    assert set(rw.terms) and rw.field == "date"
    second = {r["doc_id"] for r in sidx.search(q, k=None).collect()}
    assert second == first


def test_typed_range_pushdown_no_full_collect(golden_seg):
    """Typed RangeQuery must filter term_stats IN SPARK (term_num column),
    never collect the whole dictionary driver-side."""
    from ferret_spark.query import RangeQuery
    from ferret_spark.wand import _range_to_const, ConstantScoreTerms

    _, sidx = golden_seg
    q = RangeQuery(field="number", lower=-1.0, upper=1.0, typed=True)
    rw = _range_to_const(sidx, q)
    assert isinstance(rw, ConstantScoreTerms)
    # term_num shadow column exists and the expansion matches a manual scan
    assert "term_num" in sidx.term_stats.columns
    import pyspark.sql.functions as F

    expect = {
        r["term"]
        for r in sidx.term_stats.where(
            (F.col("field") == "number")
            & F.col("term_num").isNotNull()
            & (F.col("term_num") >= -1.0)
            & (F.col("term_num") <= 1.0)
        ).collect()
    }
    assert set(rw.terms) == expect and len(expect) > 0


@pytest.mark.parametrize("aname", ["standard_hyphen", "hyphen_ws"])
def test_hyphen_analyzer_rejected_before_any_stage(spark, tmp_path, aname):
    """Neither engine's build can tokenize a hyphen pipeline (same-position
    pairs): both reject the field_config on the driver, naming the field,
    before a stage is written or a Python worker fails mid-build."""
    from ferret_spark.index import SparkIndex

    fc = {"content": "whitespace", "body": aname}
    corpus = spark.createDataFrame(
        [(0, "a b", "e-mail x")], "doc_id long, content string, body string"
    )
    path = tmp_path / "hyphen"
    with pytest.raises(ValueError, match="'body'"):
        SegmentIndexBuilder(spark, str(path), fc, seg_size=4).build(
            corpus, doc_id_col="doc_id"
        )
    assert not path.exists()
    with pytest.raises(ValueError, match="'body'"):
        SparkIndex.build(spark, corpus, fc, doc_id_col="doc_id")
