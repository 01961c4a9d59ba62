"""dedup_ngram_jaccard round-7 pair-pipeline parity: the blob-sharded
numpy pair counter must reproduce the nested-transform JVM enumeration
exactly (same pairs, same n_common, same thresholded output)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ferret_spark.pipeline import dedup_ngram_jaccard, _shingle_rows
from tests.conftest import spark  # noqa: F401


def _reference_pairs(spark, sf_dir, threshold=0.4, cap=500):
    """Pre-r7 shape: nested-transform pair explosion + row groupBy."""
    ex = _shingle_rows(spark, sf_dir)
    sizes = ex.groupBy("doc_id").agg(F.first("n_sh").alias("n_sh"))
    buckets = ex.groupBy("s").agg(
        F.collect_list("doc_id").alias("ids")
    ).where((F.size("ids") >= 2) & (F.size("ids") <= cap))
    pairs = (
        buckets.select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(ids,"
                    " x -> transform(ids, y -> struct(x AS doc_a, y AS doc_b)))),"
                    " p -> p.doc_a < p.doc_b)"
                )
            ).alias("p")
        )
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    out = (
        pairs.join(
            sizes.withColumnRenamed("doc_id", "doc_a")
            .withColumnRenamed("n_sh", "n_a"),
            "doc_a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b")
            .withColumnRenamed("n_sh", "n_b"),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (
                    F.col("n_a") + F.col("n_b") - F.col("n_common")
                ).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )
    return out


def test_ngram_jaccard_matches_reference(spark):  # noqa: F811
    sf_dir = "/root/testdata/sf0.01"
    got = dedup_ngram_jaccard(spark, sf_dir).collect()
    want = _reference_pairs(spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) > 0  # non-vacuous


def test_ngram_jaccard_low_threshold_matches_reference(spark):  # noqa: F811
    # a permissive threshold exercises many more surviving pairs through
    # the numpy pre-filter + Spark exact-filter boundary
    sf_dir = "/root/testdata/sf0.001"
    got = dedup_ngram_jaccard(spark, sf_dir, threshold=0.05).collect()
    want = _reference_pairs(spark, sf_dir, threshold=0.05).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) > 0


def test_size_ratio_bound_emptying_every_pair(spark, tmp_path):  # noqa: F811
    """The map-side size-ratio bound can drop every candidate pair of a
    batch; the blob stage must then emit nothing instead of indexing an
    empty shard array (IndexError at threshold 0.4)."""
    long_doc = "a b c " + " ".join(f"w{i}" for i in range(40))
    spark.createDataFrame(
        [(0, "a b c"), (1, long_doc)], "doc_id long, text string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    assert dedup_ngram_jaccard(spark, str(tmp_path), threshold=0.4).collect() == []
