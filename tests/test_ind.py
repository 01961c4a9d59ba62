"""FerretIndex facade: incremental add, lazy delete, optimize — the
reference Index lifecycle (ruby/lib/ferret/index.rb, test analog:
ruby/test/unit/index/tc_index.rb patterns)."""

import pytest

from ferret_spark.ind import FerretIndex
from ferret_spark.oracle import OracleIndex
from ferret_spark.query import MUST, BooleanQuery, MatchAllQuery, TermQuery


def T(t):
    return TermQuery(field="content", term=t)


ROWS_A = [
    {"doc_id": 0, "content": "apple banana cherry"},
    {"doc_id": 1, "content": "banana cherry date"},
    {"doc_id": 2, "content": "cherry date egg"},
]
ROWS_B = [
    {"doc_id": 0, "content": "apple egg fig"},
    {"doc_id": 1, "content": "fig grape apple"},
]

FC = {"content": "whitespace"}


@pytest.fixture()
def fidx(spark, tmp_path):
    idx = FerretIndex(spark, str(tmp_path / "fidx"), FC, seg_size=2)
    idx.add_documents(spark.createDataFrame(ROWS_A), doc_id_col="doc_id")
    return idx


def _hits(df):
    return {r["doc_id"] for r in df.collect()}


def test_incremental_add_global_stats(spark, fidx):
    assert fidx.size() == 3
    fidx.add_documents(spark.createDataFrame(ROWS_B), doc_id_col="doc_id")
    assert fidx.size() == 5
    # batch B ids start at the next segment boundary (seg_size=2 -> base 4)
    got = _hits(fidx.search(T("apple"), k=None))
    assert got == {0, 4, 5}
    # oracle over the union corpus (in id order) must rank-match:
    # global df/N/avgdl were refreshed after the add
    all_rows = [
        {"content": ROWS_A[0]["content"]},
        {"content": ROWS_A[1]["content"]},
        {"content": ROWS_A[2]["content"]},
        {"content": ROWS_B[0]["content"]},
        {"content": ROWS_B[1]["content"]},
    ]
    oracle = OracleIndex(all_rows, FC)
    id_map = {0: 0, 1: 1, 2: 2, 3: 4, 4: 5}
    exp = [(id_map[d], s) for d, s in oracle.search(T("apple"), k=5)]
    got_ranked = [
        (r["doc_id"], r["score"]) for r in fidx.search(T("apple"), k=5).collect()
    ]
    assert [d for d, _ in got_ranked] == [d for d, _ in exp]
    import numpy as np

    for (gd, gs), (ed, es) in zip(got_ranked, exp):
        assert np.float32(gs) == np.float32(es)


def test_match_all_respects_id_gaps(spark, fidx):
    fidx.add_documents(spark.createDataFrame(ROWS_B), doc_id_col="doc_id")
    got = _hits(fidx.search(MatchAllQuery(), k=None))
    assert got == {0, 1, 2, 4, 5}


def test_delete_and_search(spark, fidx):
    n = fidx.delete_by_term("content", "egg")
    assert n == 1  # doc 2
    assert _hits(fidx.search(T("cherry"), k=None)) == {0, 1}
    assert _hits(fidx.search(MatchAllQuery(), k=None)) == {0, 1}


def test_optimize_expunges(spark, fidx):
    fidx.delete_by_term("content", "egg")
    fidx.optimize()
    assert fidx.deleted_df() is None
    assert fidx.size() == 2
    assert _hits(fidx.search(T("cherry"), k=None)) == {0, 1}
    # stats now reflect the compacted corpus (df of 'cherry' drops to 2)
    dfs = fidx.index.doc_freqs([("content", "cherry"), ("content", "egg")])
    assert dfs[("content", "cherry")] == 2
    assert dfs[("content", "egg")] == 0
    # doc ids unchanged after compaction
    assert fidx.get_doc(1)["content"] == "banana cherry date"


def test_query_string_facade(spark, fidx):
    got = _hits(fidx.query("banana AND cherry", k=10))
    assert got == {0, 1}


def test_bulk_delete_distributed(spark, tmp_path):
    """Bulk deletes (10^4 ids) flow as a DataFrame through packed per-
    segment __del__ rows — no driver-side set — and search + optimize
    both honor them."""
    import pyspark.sql.functions as F

    n = 12000
    rows = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("tok"),
            (F.col("id") % 7).cast("string"),
            F.lit(" common"),
        ).alias("content"),
    )
    idx = FerretIndex(spark, str(tmp_path / "bulk"), FC, seg_size=1024)
    idx.add_documents(rows, doc_id_col="doc_id")
    # delete every doc with tok0 (~1715 docs) plus an explicit wide range
    idx.delete_by_query(T("tok0"))
    extra = spark.range(2000, 12000).select(F.col("id").alias("doc_id"))
    extra.write.mode("append").parquet(idx._deleted_path())

    got = _hits(idx.search(T("common"), k=None))
    live = {
        i for i in range(2000) if i % 7 != 0
    }
    assert got == live
    idx.optimize()
    assert idx.size() == len(live)
    got2 = _hits(idx.search(T("common"), k=None))
    assert got2 == live


def test_geometric_merge_policy_tier_local(spark, tmp_path):
    """K incremental batches: only small tiers merge (the big base
    generation's files are untouched), generation count stays bounded by
    merge_factor, and search results equal a from-scratch rebuild
    (iw_maybe_merge_segments analog, c/src/index.c:6280-6309)."""
    import os

    import pyspark.sql.functions as F

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("alpha tok"), (F.col("id") % 5).cast("string")
            ).alias("content"),
        )

    idx = FerretIndex(
        spark, str(tmp_path / "geo"), FC, seg_size=64, merge_factor=2
    )
    idx.add_documents(batch(0, 512), doc_id_col="doc_id")
    base_meta = idx._meta()
    assert base_meta["generations"][0]["term_stats"] == "term_stats"
    base_mtime = os.path.getmtime(str(tmp_path / "geo" / "term_stats"))

    for k in range(3):  # three incremental adds with factor 2
        b = batch(0, 40)  # ids re-based internally
        idx.add_documents(b, doc_id_col="doc_id")
        gens = idx._meta()["generations"]
        assert len(gens) <= 2, gens
        # the base generation is never rewritten by tier-local merges
        ts_mtime = os.path.getmtime(str(tmp_path / "geo" / "term_stats"))
        assert ts_mtime == base_mtime
        assert any(g["term_stats"] == "term_stats" for g in gens)
    # no posting byte was written twice: no merged/ copy anywhere
    assert not [d for d, _s, _f in os.walk(idx.path) if d.endswith("merged")]

    # global df/search correctness vs a from-scratch rebuild
    got = {
        (r["doc_id"], round(r["score"], 4))
        for r in idx.search(T("alpha"), k=None).collect()
    }
    rebuilt = FerretIndex(
        spark, str(tmp_path / "geo_rebuild"), FC, seg_size=64
    )
    all_docs = idx.index.docs.select("doc_id", "content")
    rebuilt.add_documents(all_docs, doc_id_col="doc_id")
    want = {
        (r["doc_id"], round(r["score"], 4))
        for r in rebuilt.search(T("alpha"), k=None).collect()
    }
    assert got == want
    # optimize() collapses everything back to one generation
    idx.optimize()
    assert len(idx._meta()["generations"]) == 1
    got2 = {
        (r["doc_id"], round(r["score"], 4))
        for r in idx.search(T("alpha"), k=None).collect()
    }
    assert got2 == want


def test_post_filter_hook(spark, fidx):
    """PostFilter (c/include/search.h:763-769): falsy factor drops the
    hit, factor < 1.0 scales the score."""
    base = {r["doc_id"]: r["score"] for r in fidx.search(T("cherry"), k=None).collect()}
    assert set(base) == {0, 1, 2}

    def pf(doc_id, score):
        if doc_id == 1:
            return 0.0  # drop
        if doc_id == 2:
            return 0.5  # halve
        return 1.0

    got = {
        r["doc_id"]: r["score"]
        for r in fidx.search(T("cherry"), k=None, post_filter=pf).collect()
    }
    assert set(got) == {0, 2}
    assert abs(got[0] - base[0]) < 1e-6
    assert abs(got[2] - base[2] * 0.5) < 1e-6


def test_add_index_reader_to_reader(spark, tmp_path):
    """iw_add_readers analog: append a prebuilt index byte-for-byte
    (shifted ids), no re-tokenize; results match indexing the union."""
    import pyspark.sql.functions as F

    def mk(path, lo, hi, word):
        rows = spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit(f"{word} shared tok"),
                     (F.col("id") % 3).cast("string")).alias("content"),
        )
        idx = FerretIndex(spark, str(tmp_path / path), FC, seg_size=32)
        idx.add_documents(rows, doc_id_col="doc_id")
        return idx

    a = mk("ia", 0, 100, "alpha")
    b = mk("ib", 0, 60, "beta")
    a.add_index(b)
    assert a.size() == 160
    # all of b's docs found under shifted ids, with correct per-term hits
    alpha = _hits(a.search(T("alpha"), k=None))
    beta = _hits(a.search(T("beta"), k=None))
    assert len(alpha) == 100 and len(beta) == 60
    assert not (alpha & beta)
    shared = _hits(a.search(T("shared"), k=None))
    assert shared == alpha | beta
    # scores match a from-scratch index over the union (global df/avgdl)
    union = a.index.docs.select("doc_id", "content")
    fresh = FerretIndex(spark, str(tmp_path / "iu"), FC, seg_size=32)
    fresh.add_documents(union, doc_id_col="doc_id")
    got = {(r["doc_id"], round(r["score"], 5))
           for r in a.search(T("shared"), k=None).collect()}
    want = {(r["doc_id"], round(r["score"], 5))
            for r in fresh.search(T("shared"), k=None).collect()}
    assert got == want
    # positional queries survive the byte-copy (positions never re-encoded)
    from ferret_spark.query import PhraseQuery

    ph = _hits(a.search(PhraseQuery.of("content", ["beta", "shared"]), k=None))
    assert ph == beta


def test_all_keyword_field_config_stats(spark, tmp_path):
    """An all-keyword field_config emits NO doc-length marker rows; n_docs
    must fall back to the docs-table row count (a 0 would flip bm25_idf
    negative and invert ranking) — across add(), incremental add() and
    optimize()."""
    fc = {"tag": "keyword"}
    rows1 = [{"doc_id": i, "tag": f"t{i % 2}"} for i in range(6)]
    rows2 = [{"doc_id": i, "tag": "t2"} for i in range(4)]
    idx = FerretIndex(spark, str(tmp_path / "kw"), fc, seg_size=4)
    idx.add_documents(spark.createDataFrame(rows1), doc_id_col="doc_id")
    assert idx.size() == 6
    idx.add_documents(spark.createDataFrame(rows2), doc_id_col="doc_id")
    assert idx.size() == 10
    hits = idx.search(TermQuery(field="tag", term="t0"), k=None).collect()
    assert {r["doc_id"] for r in hits} == {0, 2, 4}
    assert all(r["score"] > 0 for r in hits)
    idx.delete_by_term("tag", "t2")
    idx.optimize()
    assert idx.size() == 6


def test_phrase_df_stubs_cover_gap_pushed_segments(spark, tmp_path):
    """Incremental adds align each batch to the next segment boundary, so
    doc-id GAPS push the last segments past ceil(n_docs / seg_size).  A
    phrase match there must still score with the global dfs (idf_sum > 0):
    any per-segment df delivery bounded by the doc COUNT instead of the id
    SPAN would leave those segments with none (regression: the former
    __df__ stub rows from spark.range(n_segs) replacing the data-derived
    distinct())."""
    import numpy as np

    from ferret_spark.query import PhraseQuery

    fc = {"content": "whitespace"}
    rows1 = [
        {"doc_id": i, "content": f"apple banana filler{i}"} for i in range(5)
    ]
    rows2 = [
        {"doc_id": i, "content": f"cherry date filler{i + 5}"}
        for i in range(4)
    ] + [{"doc_id": 4, "content": "grape kiwi lemon"}]
    idx = FerretIndex(spark, str(tmp_path / "gap"), fc, seg_size=4)
    idx.add_documents(spark.createDataFrame(rows1), doc_id_col="doc_id")
    idx.add_documents(spark.createDataFrame(rows2), doc_id_col="doc_id")
    # n_docs = 10 -> ceil(10/4) = 3 segments, but batch 2 starts at id 8,
    # so its last doc (global id 12) lives in segment 3 — past that bound
    assert idx.size() == 10
    assert max(hi for _, hi in idx.index.id_ranges) > idx.size()
    hits = idx.search(
        PhraseQuery.of("content", ["grape", "kiwi"]), k=5
    ).collect()
    assert [r["doc_id"] for r in hits] == [12]
    all_rows = [{"content": r["content"]} for r in rows1 + rows2]
    oracle = OracleIndex(all_rows, fc)
    exp = oracle.search(PhraseQuery.of("content", ["grape", "kiwi"]), k=5)
    assert np.float32(hits[0]["score"]) == np.float32(exp[0][1])
    # sloppy variant exercises the same df plumbing
    sh = idx.search(
        PhraseQuery.of("content", ["grape", "lemon"], slop=1), k=5
    ).collect()
    assert [r["doc_id"] for r in sh] == [12] and sh[0]["score"] > 0


def _assert_oracle_ranks(idx, rows, ids, queries, fc=FC):
    """``idx`` ranks like an OracleIndex over ``rows`` (in doc-id order,
    ``ids`` their engine doc ids): same ids, float32-identical scores."""
    import numpy as np

    oracle = OracleIndex(rows, fc)
    for q in queries:
        exp = [(ids[d], s) for d, s in oracle.search(q, k=10)]
        got = [(r["doc_id"], r["score"]) for r in idx.search(q, k=10).collect()]
        assert [d for d, _ in got] == [d for d, _ in exp], q
        for (_, gs), (_, es) in zip(got, exp):
            assert np.float32(gs) == np.float32(es), q


def test_older_layout_index_opens_adds_and_optimizes(spark, tmp_path):
    """An index in the layout older builds wrote — a merged/ posting copy at
    the root and in each generation, generations naming them, a 'merged'
    manifest row and stats without the exact doc-length sums — opens with
    no Spark job, ranks like the oracle, takes an add that tier-merges, and
    optimizes. No merged/ directory outlives its generation or optimize."""
    import json
    import os

    from ferret_spark.segments import append_manifest, read_table
    from tests.conftest import jobs_in_group

    path = str(tmp_path / "old")
    idx = FerretIndex(spark, path, FC, seg_size=2, merge_factor=2)
    idx.add_documents(spark.createDataFrame(ROWS_A), doc_id_col="doc_id")
    idx.add_documents(spark.createDataFrame(ROWS_B), doc_id_col="doc_id")
    meta = idx._meta()
    postings = read_table(spark, os.path.join(path, "segments")).drop("seg_id")
    for g in meta["generations"]:
        g["merged"] = os.path.join(os.path.dirname(g["term_stats"]), "merged")
        postings.write.parquet(os.path.join(path, g["merged"]))
    old_gen_merged = os.path.join(path, meta["generations"][1]["merged"])
    for k in ("dl_docs", "dl_sum"):
        del meta["stats"][k]
    meta["merged_stale"] = False
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f)
    append_manifest(spark, path, "merged", {"rows": 1})

    sc = spark.sparkContext
    sc.setJobGroup("old_open", "old_open")
    try:
        old = FerretIndex(spark, path, merge_factor=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs_in_group(sc, "old_open") == []

    rows = [{"content": r["content"]} for r in ROWS_A + ROWS_B]
    ids = [0, 1, 2, 4, 5]
    queries = [
        T("apple"), T("fig"),
        BooleanQuery.of((T("apple"), MUST), (T("egg"), MUST)),
    ]
    _assert_oracle_ranks(old, rows, ids, queries)

    rows_c = [
        {"doc_id": 0, "content": "apple kiwi"},
        {"doc_id": 1, "content": "kiwi lemon apple apple"},
    ]
    old.add_documents(spark.createDataFrame(rows_c), doc_id_col="doc_id")
    gens = old._meta()["generations"]
    assert len(gens) == 2  # base + the tier merge of the two small ones
    assert not os.path.exists(old_gen_merged)
    assert "dl_sum" in old._meta()["stats"]
    rows += [{"content": r["content"]} for r in rows_c]
    ids += [6, 7]
    _assert_oracle_ranks(old, rows, ids, queries + [T("kiwi")])

    old.optimize()
    leftovers = [
        d for d, sub, _f in os.walk(path) if os.path.basename(d) == "merged"
    ]
    assert leftovers == []
    assert old._meta()["generations"] == [{"term_stats": "term_stats", "rows": 7}]
    _assert_oracle_ranks(old, rows, ids, queries + [T("kiwi")])


def _assert_rows_reencode(spark, path):
    """Every segment row of the index at ``path`` (postings and doc-length
    markers) decodes and re-encodes through the one encoder to the same
    df, streams and block_meta; returns the rows."""
    import os

    from ferret_spark.codec import (
        decode_posting_list,
        encode_posting_list,
        posting_row,
    )
    from ferret_spark.segments import read_table

    rows = read_table(spark, os.path.join(path, "segments")).collect()
    assert rows
    for r in rows:
        row = posting_row(r)
        ids, tfs, (pos, _bounds), dls = decode_posting_list(row, "flat")
        enc = encode_posting_list(ids, tfs, pos if len(pos) else None, dls)
        assert enc == row, (r["seg_id"], r["field"], r["term"])
    return rows


def test_segment_rows_reencode_identically(spark, tmp_path):
    """Decode-then-encode reproduces every segment row of a golden build,
    and the rows add_index (shifted block_meta) and a delete plus optimize
    (re-encoded lists) wrote."""
    from ferret_spark.fixtures import GOLDEN_FIELD_CONFIG, golden_rows

    rows = [dict(r, doc_id=i) for i, r in enumerate(golden_rows())]

    def build(name):
        idx = FerretIndex(spark, str(tmp_path / name), GOLDEN_FIELD_CONFIG, seg_size=5)
        idx.add_documents(spark.createDataFrame(rows), doc_id_col="doc_id")
        return idx

    a = build("a")
    built = _assert_rows_reencode(spark, a.path)
    assert any(r["term"] is None for r in built)  # doc-length markers
    a.add_index(build("b"))
    assert len(_assert_rows_reencode(spark, a.path)) == 2 * len(built)
    assert a.delete_by_term("content", "word3") == 12
    a.optimize()
    _assert_rows_reencode(spark, a.path)


def test_optimize_keeps_positions_across_blocks(spark, tmp_path):
    """optimize re-encodes posting lists that span several 128-doc blocks:
    after deleting docs inside them, a phrase query and a keyword-field
    term query rank like the oracle over the surviving docs, and keyword
    rows keep an empty position stream."""
    import os

    from ferret_spark.query import PhraseQuery
    from ferret_spark.segments import read_table

    fc = {"content": "whitespace", "tag": "keyword"}
    rows = [
        {
            "doc_id": i,
            "content": " ".join(
                ["alpha", "beta"] * (1 + i % 3) + [f"w{i % 7}"] * (i % 4)
            ),
            "tag": "rare" if i % 10 == 0 else "common",
        }
        for i in range(600)
    ]
    idx = FerretIndex(spark, str(tmp_path / "blocks"), fc, seg_size=256)
    idx.add_documents(spark.createDataFrame(rows), doc_id_col="doc_id")
    assert idx.delete_by_term("content", "w3") > 0
    idx.optimize()

    live = [r for r in rows if "w3" not in r["content"].split()]
    queries = [
        PhraseQuery.of("content", ["alpha", "beta"]),
        PhraseQuery.of("content", ["beta", "alpha"], slop=1),
        TermQuery(field="tag", term="common"),
    ]
    _assert_oracle_ranks(
        idx,
        [{"content": r["content"], "tag": r["tag"]} for r in live],
        [r["doc_id"] for r in live],
        queries,
        fc,
    )
    segs = read_table(spark, os.path.join(idx.path, "segments")).collect()
    tag_rows = [r for r in segs if r["field"] == "tag" and r["term"] is not None]
    assert tag_rows and all(len(r["pos_bin"]) == 0 for r in tag_rows)
    multi = [r for r in segs if r["term"] == "common" or r["term"] == "alpha"]
    assert any(len(r["block_meta"]) > 1 for r in multi)
