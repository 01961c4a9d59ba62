"""Build, reader open and incremental add run no metadata jobs: tables the
library wrote are read with the schema their footers record, an add
computes its batch once, sizes its doc-id window and its term_stats by the
batch and folds only the batch into the corpus stats, and doc-id
assignment holds its bucket offsets in the plan."""

import os
import re

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ferret_spark import build as B
from ferret_spark import ind, segments
from ferret_spark.ind import FerretIndex
from ferret_spark.segments import (
    SegmentIndex,
    SegmentIndexBuilder,
    data_files,
    read_manifest,
    read_table,
)

from tests.conftest import jobs_in_group

FC = {"content": "whitespace"}


def _rows(lo, n):
    return [
        {"commit": f"c{i:05d}", "path": f"p{i % 3}", "content": f"alpha tok{i % 5} w{i}"}
        for i in range(lo, lo + n)
    ]


def _in_group(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return jobs_in_group(sc, group)


@pytest.fixture()
def fidx(spark, tmp_path):
    idx = FerretIndex(spark, str(tmp_path / "fidx"), FC, seg_size=64, merge_factor=2)
    idx.add_documents(spark.createDataFrame(_rows(0, 40)), id_cols=["commit"])
    return idx


def test_read_table_schema_equals_inference(spark, fidx, tmp_path):
    fidx.add_documents(spark.createDataFrame(_rows(100, 5)), id_cols=["commit"])
    fidx.delete_by_term("content", "tok1")
    gen = fidx._meta()["generations"][-1]
    empty = str(tmp_path / "empty")
    spark.createDataFrame([], "doc_id long, content string").write.parquet(empty)
    # no Spark schema in the footer: the plain read
    foreign = str(tmp_path / "foreign")
    os.makedirs(foreign)
    pd.DataFrame({"doc_id": [1, 2]}).to_parquet(f"{foreign}/part-0.parquet")
    tables = ["docs", "segments", "term_stats", "deleted", gen["term_stats"]]
    for p in [os.path.join(fidx.path, t) for t in tables] + [empty, foreign]:
        assert read_table(spark, p).schema == spark.read.parquet(p).schema, p


def _assign_doc_ids_broadcast(df, order_cols, buckets=B.DOC_ID_BUCKETS):
    """Frozen copy of the previous assign_doc_ids: offsets joined in from a
    broadcast createDataFrame."""
    cols = [F.col(c) for c in order_cols]
    with_b = df.withColumn("_b", F.pmod(F.xxhash64(*cols), F.lit(buckets)))
    counts = {
        r["_b"]: r["cnt"]
        for r in with_b.groupBy("_b").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for b in range(buckets):
        offsets[b] = acc
        acc += counts.get(b, 0)
    off_df = F.broadcast(
        df.sparkSession.createDataFrame(
            [(b, o) for b, o in offsets.items() if counts.get(b)],
            "_b long, _off long",
        )
    )
    w = Window.partitionBy("_b").orderBy(*cols)
    return (
        with_b.withColumn("_rn", F.row_number().over(w) - 1)
        .join(off_df, "_b")
        .withColumn("doc_id", (F.col("_off") + F.col("_rn")).cast("long"))
        .drop("_b", "_rn", "_off")
    )


@pytest.mark.parametrize("buckets", [2, 7, B.DOC_ID_BUCKETS])
def test_assign_doc_ids_parity_with_broadcast_join(spark, buckets):
    df = spark.createDataFrame(_rows(0, 300))
    order = ["path", "commit"]
    got = B.assign_doc_ids(df, order, buckets=buckets)
    want = _assign_doc_ids_broadcast(df, order, buckets=buckets)
    assert got.columns == want.columns
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)
    assert sorted(r["doc_id"] for r in got.collect()) == list(range(300))


def test_build_docs_plan_has_no_broadcast(spark):
    docs = B.build_docs(spark.createDataFrame(_rows(0, 20)), FC, id_cols=["commit"])
    plan = docs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan


def test_add_jobs_bounded(spark, fidx):
    sc = spark.sparkContext
    one = spark.createDataFrame(_rows(100, 5))
    jobs = _in_group(sc, "add_plain", lambda: fidx.add_documents(one, id_cols=["commit"]))
    assert len(fidx._meta()["generations"]) == 2
    assert len(jobs) <= 4, jobs
    two = spark.createDataFrame(_rows(200, 5))
    jobs = _in_group(sc, "add_tier", lambda: fidx.add_documents(two, id_cols=["commit"]))
    assert len(fidx._meta()["generations"]) == 2  # three collapsed to two
    assert len(jobs) <= 5, jobs


def test_open_runs_no_job(spark, fidx):
    sc = spark.sparkContext
    fidx.add_documents(spark.createDataFrame(_rows(100, 5)), id_cols=["commit"])
    assert _in_group(sc, "seg_open", lambda: SegmentIndex.load(spark, fidx.path)) == []
    assert _in_group(sc, "ferret_open", lambda: FerretIndex(spark, fidx.path)) == []


def test_add_leaves_no_persisted_frame(spark, fidx, monkeypatch):
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    fidx.add_documents(spark.createDataFrame(_rows(100, 5)), id_cols=["commit"])
    assert jsc.getPersistentRDDs().size() == before

    def boom(*a, **kw):
        raise RuntimeError("write_generation failed")

    monkeypatch.setattr(ind, "write_generation", boom)
    with pytest.raises(RuntimeError, match="write_generation failed"):
        fidx.add_documents(spark.createDataFrame(_rows(200, 5)), id_cols=["commit"])
    assert jsc.getPersistentRDDs().size() == before


def test_add_generation_reads_only_term_columns(spark, fidx, monkeypatch):
    """An add's generation is the batch's term_stats: its plan reads only
    field, term and df of the batch's segment rows and runs no Python (the
    posting-byte concat it replaced was a MapInPandas)."""
    plans = []
    real = segments.term_stats_frame

    def spy(rows, n_rows):
        out = real(rows, n_rows)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(segments, "term_stats_frame", spy)
    fidx.add_documents(spark.createDataFrame(_rows(100, 5)), id_cols=["commit"])
    assert len(plans) == 1
    assert "MapInPandas" not in plans[0]
    scan = next(ln for ln in plans[0].splitlines() if "TableScan" in ln)
    cols = re.findall(r"(\w+)#\d+", scan.split("TableScan", 1)[1].split("]")[0])
    assert sorted(cols) == ["df", "field", "term"], scan


def test_add_index_shift_runs_no_python(spark, fidx, tmp_path, monkeypatch):
    """add_index shifts the other index's posting rows with one JVM
    projection — no MapInPandas or other Python node — and the shifted
    rows decode to the source ids plus the id base."""
    import numpy as np

    from ferret_spark.codec import decode_posting_list, posting_row

    other = FerretIndex(spark, str(tmp_path / "other"), FC, seg_size=64)
    other.add_documents(spark.createDataFrame(_rows(500, 150)), id_cols=["commit"])
    plans = []
    real = segments.shift_posting_rows

    def spy(df, id_shift, seg_shift=None):
        out = real(df, id_shift, seg_shift)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        assert out.schema == df.schema
        return out

    monkeypatch.setattr(segments, "shift_posting_rows", spy)
    fidx.add_index(other)
    assert len(plans) == 1
    assert not re.search(r"MapInPandas|Python|ArrowEval|MapInArrow", plans[0]), plans[0]

    def decoded(idx, lo):
        """(field, term) -> its ids over every segment from ``lo`` on."""
        segs = read_table(spark, os.path.join(idx.path, "segments"))
        out = {}
        for r in segs.where(segs.seg_id >= lo).orderBy("seg_id").collect():
            ids = decode_posting_list(posting_row(r), False)[0]
            k = (r["field"], r["term"])
            out[k] = np.concatenate([out.get(k, ids[:0]), ids])
        return out

    src = decoded(other, 0)
    got = decoded(fidx, 1)  # base 64: 40 docs, seg_size 64
    assert got.keys() == src.keys()
    assert all(np.array_equal(got[k], src[k] + 64) for k in src)


def test_one_segment_add_appends_one_docs_file(spark, fidx):
    """The doc-id window is sized by the batch: a one-segment add writes one
    docs/ file (one per shuffle partition before), its ids unchanged, and
    the window plans no exchange past its own."""
    docs_dir = os.path.join(fidx.path, "docs")
    before = set(data_files(docs_dir))
    batch = spark.createDataFrame(_rows(100, 40))
    fidx.add_documents(batch, id_cols=["commit"])
    new = sorted(set(data_files(docs_dir)) - before)
    assert len(new) == 1, new
    base = fidx._meta()["id_ranges"][-1][0]
    got = {r["commit"]: r["doc_id"] for r in spark.read.parquet(*new).collect()}
    want = {
        r["commit"]: r["doc_id"] + base
        for r in _assign_doc_ids_broadcast(batch, ["commit"]).collect()
    }
    assert got == want
    ids = B.assign_doc_ids(batch, ["commit"], seg_size=64)
    assert ids.rdd.getNumPartitions() == 1
    assert ids._jdf.queryExecution().executedPlan().toString().count("Exchange") == 1


def _varied(lo, n):
    return [
        {"commit": f"c{i:05d}", "content": " ".join(f"t{j}" for j in range(i % 7 + 1))}
        for i in range(lo, lo + n)
    ]


def test_add_stats_fold_only_the_batch(spark, tmp_path, monkeypatch):
    """After three adds the corpus stats equal a from-scratch build's
    exactly (float avgdl included), and an add decodes the doc-length
    markers of only the segment files it appended."""
    idx = FerretIndex(spark, str(tmp_path / "fold"), FC, seg_size=16, merge_factor=2)
    idx.add_documents(spark.createDataFrame(_varied(0, 40)), id_cols=["commit"])
    for lo, n in ((100, 7), (200, 9)):
        idx.add_documents(spark.createDataFrame(_varied(lo, n)), id_cols=["commit"])
    seen = []
    real = ind.marker_sums

    def spy(spark_, files):
        seen.append(sorted(files))
        return real(spark_, files)

    monkeypatch.setattr(ind, "marker_sums", spy)
    seg_dir = os.path.join(idx.path, "segments")
    before = set(data_files(seg_dir))
    idx.add_documents(spark.createDataFrame(_varied(300, 20)), id_cols=["commit"])
    assert seen == [sorted(set(data_files(seg_dir)) - before)]
    rebuilt = SegmentIndexBuilder(
        spark, str(tmp_path / "fold_rebuilt"), FC, seg_size=16
    ).build(idx.index.docs.select("doc_id", "content"), doc_id_col="doc_id")
    assert idx.index.stats == rebuilt.stats
    assert idx.index.stats["avgdl"]["content"] == 300 / 76


def test_manifest_records_merge_fanout(spark, fidx):
    for lo in (100, 200):
        fidx.add_documents(spark.createDataFrame(_rows(lo, 5)), id_cols=["commit"])
    m = read_manifest(spark, fidx.path)
    adds = [r for s, r in m.items() if s.startswith("add_batch_")]
    tiers = [r for s, r in m.items() if s.startswith("tier_merge_")]
    assert adds and tiers
    for r in adds + tiers:
        assert r["partitions"] == 4  # a few hundred rows: the 4-task floor
        assert r["elapsed_sec"] >= 0
