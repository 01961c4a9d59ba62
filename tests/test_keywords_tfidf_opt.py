"""keywords_tfidf round-7 rewrite parity: the Arrow per-doc tf counter,
with df counted from its rows, must reproduce the explode/groupBy/self-join
form exactly (same tokens, same counts, same top-k serialization)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ferret_spark.pipeline import keywords_tfidf
from tests.conftest import spark  # noqa: F401
from tests.jvm_forms import toks_col


def _reference_keywords(spark, sf_dir, k=3):
    """The pre-r7 shape: explode + groupBy tf, df from the tf lineage."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = d.select(
        "doc_id",
        F.explode(toks_col()).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs = d.count()
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(dfreq, "term")
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf").cast("double")
                * F.log(F.lit(float(n_docs)) / F.col("df").cast("double")),
                9,
            ).alias("s"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.desc("s"), F.asc("term"))
            ),
        )
        .where(F.col("rk") <= k)
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rk", "term"))),
                    lambda x: x["term"],
                ),
            ).alias("keywords")
        )
        .orderBy("doc_id")
    )


def test_keywords_matches_reference_shape(spark):  # noqa: F811
    sf_dir = "/root/testdata/sf0.01"
    got = keywords_tfidf(spark, sf_dir, k=3).collect()
    want = _reference_keywords(spark, sf_dir, k=3).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_arrow_tokenizer_matches_jvm_split(spark):  # noqa: F811
    # the pipeline's one tokenizer on whitespace-edge shapes: Java \s
    # class, empties, case folding, Python-only whitespace inside a token
    rows = [
        (0, "A b  c\td\ne"),
        (1, "  leading and trailing  "),
        (2, ""),
        (3, "ONE one OnE"),
        (4, "x\x0by\fz\rw"),
        (5, "solo"),
        (6, "nbsp\u00a0inside x\u2028y\x1cz"),
        (7, "\u00a0lead and trail\u2028"),
        (8, "\u00a0"),
        (9, " \x1c \u00a0\u00a0 \x85"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    jvm = d.select(
        "doc_id",
        F.explode(toks_col()).alias("term"),
    ).groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    from collections import Counter

    from ferret_spark.pipeline import _tokenize

    toks, null = _tokenize([t for _, t in rows])
    assert not null.any()
    want = {
        (i, term, tf)
        for (i, _), tl in zip(rows, toks)
        for term, tf in Counter(tl).items()
    }
    got = {(r["doc_id"], r["term"], r["tf"]) for r in jvm.collect()}
    assert got == want
