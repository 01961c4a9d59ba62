"""Edge-case corpus through the full segmented engine: empty docs, unicode,
single-token spam, punctuation-only — rank identity vs oracle must hold."""

import numpy as np
import pytest

from ferret_spark.oracle import OracleIndex
from ferret_spark.query import (
    MUST,
    BooleanQuery,
    MatchAllQuery,
    PhraseQuery,
    PrefixQuery,
    TermQuery,
)
from ferret_spark.segments import SegmentIndexBuilder

ROWS = [
    {"doc_id": 0, "content": ""},                          # empty
    {"doc_id": 1, "content": "   "},                       # whitespace only
    {"doc_id": 2, "content": "hello"},                     # single token
    {"doc_id": 3, "content": "hello " * 500},              # huge tf
    {"doc_id": 4, "content": "héllo wörld ünïcode tokens"},  # unicode
    {"doc_id": 5, "content": "!!! ??? ... ###"},           # punct only (ws toks)
    {"doc_id": 6, "content": "hello world hello again"},
    {"doc_id": 7, "content": "MiXeD CaSe HELLO"},
]
FC = {"content": "whitespace"}


@pytest.fixture(scope="module")
def pair(spark, tmp_path_factory):
    oracle = OracleIndex(ROWS, FC)
    path = str(tmp_path_factory.mktemp("edge_idx"))
    sidx = SegmentIndexBuilder(spark, path, FC, seg_size=3).build(
        spark.createDataFrame(ROWS), doc_id_col="doc_id"
    )
    return oracle, sidx


QUERIES = [
    TermQuery(field="content", term="hello"),
    TermQuery(field="content", term="wörld"),
    TermQuery(field="content", term="!!!"),
    MatchAllQuery(),
    BooleanQuery.of(
        (TermQuery(field="content", term="hello"), MUST),
        (TermQuery(field="content", term="world"), MUST),
    ),
    PhraseQuery.of("content", ["hello", "world"]),
    PrefixQuery(field="content", prefix="h"),
]


@pytest.mark.parametrize("q", QUERIES, ids=[str(i) for i in range(len(QUERIES))])
def test_edge_rank_identity(pair, q):
    oracle, sidx = pair
    exp = oracle.search(q, k=10)
    got = [(r["doc_id"], r["score"]) for r in sidx.search(q, k=10).collect()]
    assert [d for d, _ in got] == [d for d, _ in exp], (got, exp)
    for (gd, gs), (ed, es) in zip(got, exp):
        assert np.float32(gs) == np.float32(es), (gd, gs, es)


def test_empty_docs_counted_in_stats(pair):
    oracle, sidx = pair
    assert sidx.n_docs == 8
    assert abs(sidx.avgdl("content") - oracle.avgdl["content"]) < 1e-9
    # matchall includes empty docs
    assert sidx.search(MatchAllQuery(), k=None).count() == 8


def test_huge_tf_block_meta(pair):
    _, sidx = pair
    seg = sidx.segments
    rows = seg.where((seg.field == "content") & (seg.term == "hello")).collect()
    assert sum(r["df"] for r in rows) == 4
    assert sidx.doc_freqs([("content", "hello")]) == {("content", "hello"): 4}
    r = next(r for r in rows if r["seg_id"] == 1)  # doc 3 alone
    assert r["df"] == 1
    assert max(bm["max_tf"] for bm in r["block_meta"]) == 500


def test_media_resize_and_frame_sample_plumbing(spark):
    """Binary-media transforms: schema, fan-out and determinism are real
    (pixel decode itself is stubbed — no image/av libs in container)."""
    from ferret_spark.pipeline import frame_sample, media_resize, synth_media

    media = synth_media(spark, "/root/testdata/sf0.001")
    n = media.count()
    resized = media_resize(media, out_w=16, out_h=16)
    rows = resized.limit(5).collect()
    assert resized.count() == n
    for r in rows:
        assert r["width"] == 16 and r["height"] == 16
        assert 0 < len(bytes(r["media"])) <= 32
    # deterministic: same input -> same bytes
    again = {r["doc_id"]: bytes(r["media"]) for r in resized.limit(5).collect()}
    assert {r["doc_id"]: bytes(r["media"]) for r in rows} == again

    frames = frame_sample(media, n_frames=3)
    assert frames.count() == 3 * n
    one = frames.where(frames.doc_id == rows[0]["doc_id"]).collect()
    assert sorted(f["frame_no"] for f in one) == [0, 1, 2]
