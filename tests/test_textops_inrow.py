"""r7 in-row text-op kernels (quality / lang_id / token_count /
fingerprint) vs the JVM expression forms they replaced: values must match
exactly, including NULL-text propagation and Java-\\s tokenization.
Where the JVM form and the DuckDB twin disagree on a NULL or zero-token
doc, the kernels give the twin's value (tests/test_pipeline_edge_twins.py)
and the expectation here says so row by row."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import ferret_spark.pipeline as P
from tests.conftest import spark  # noqa: F401
from tests.jvm_forms import toks_col

EDGE_ROWS = [
    (0, "The quick brown fox and the lazy dog of it"),
    (1, ""),
    (2, None),
    (3, "   \t\n mixed \r\x0b WS   "),
    (4, "a\u00a0b \u00a0 stays one token"),
    (5, "num3ric 42 mix3d punct!x, y-z"),
    (6, "dup dup dup"),
    (7, "UPPER lower MiXeD"),
    # NBSP, not U+2028, at the end: Java's '$' in rlike '^[a-z]+$' also
    # matches before a final U+2028, the kernel and the DuckDB twin do not
    # (tests/test_pipeline_edge_twins.py holds that row)
    (8, "\u00a0lead and trail\u00a0"),
    (9, "\u00a0"),
]


@pytest.fixture()
def docs_df(spark):  # noqa: F811
    return spark.createDataFrame(EDGE_ROWS, "doc_id long, text string")


def _patch(monkeypatch, df):
    monkeypatch.setattr(P, "_docs", lambda s, d: df)
    monkeypatch.setattr(P, "_docs_wide", lambda s, d: df)


def _by_id(rows):
    return {r["doc_id"]: tuple(r)[1:] for r in rows}


def test_quality_matches_jvm(spark, docs_df, monkeypatch):  # noqa: F811
    _patch(monkeypatch, docs_df)
    got = _by_id(P.text_quality(spark, "unused").collect())
    toked = docs_df.select("doc_id", toks_col().alias("_t"))
    staged = toked.select(
        "doc_id",
        F.expr(
            "aggregate(_t, 0D, (s, t) -> s + length(t))"
            " / greatest(size(_t), 1)"
        ).alias("_ml"),
        F.expr(
            "size(filter(_t, t -> t rlike '^[a-z]+$'))"
            " / greatest(size(_t), 1)"
        ).alias("_af"),
        F.expr("size(_t)").alias("n_tokens"),
    )
    want = _by_id(
        staged.select(
            "doc_id",
            F.expr("round(_ml, 6)").alias("mean_token_len"),
            F.expr("round(_af, 6)").alias("alpha_fraction"),
            "n_tokens",
            F.expr(
                "round(least(_ml / 10.0, 1.0) * 0.3 + _af * 0.4"
                " + least(n_tokens / 100.0, 1.0) * 0.3, 6)"
            ).alias("quality_score"),
        ).collect()
    )
    # zero-token "": the JVM form gives mean_token_len 0.0 and score 0.0;
    # the twin's sum over an empty list is NULL, scoring least(NULL, 1)
    assert want[1] == (0.0, 0.0, 0, 0.0)
    want[1] = (None, 0.0, 0, 0.3)
    assert got == want


def test_lang_id_matches_jvm(spark, docs_df, monkeypatch):  # noqa: F811
    _patch(monkeypatch, docs_df)
    got = _by_id(P.text_lang_id(spark, "unused").collect())
    sw_lit = ", ".join(f"'{w}'" for w in sorted(P.ENGLISH_STOP_WORDS))
    toked = docs_df.select("doc_id", toks_col().alias("_t"))
    want = _by_id(
        toked.select(
            "doc_id",
            F.expr(
                f"round(size(filter(_t, t -> t IN ({sw_lit})))"
                f" / greatest(size(_t), 1), 6)"
            ).alias("stopword_ratio"),
        )
        .withColumn(
            "is_englishlike", (F.col("stopword_ratio") >= 0.1).cast("int")
        )
        .collect()
    )
    # NULL text: the JVM form's flag is NULL, the twin's CASE gives 0
    assert want[2] == (None, None)
    want[2] = (None, 0)
    assert got == want


def test_token_count_matches_jvm(spark, docs_df, monkeypatch):  # noqa: F811
    _patch(monkeypatch, docs_df)
    got = _by_id(P.text_token_count(spark, "unused").collect())
    want = _by_id(
        docs_df.select(
            "doc_id",
            F.expr(
                r"size(filter(split(text, '\\s+'), t -> t <> ''))"
            ).alias("ws_tokens"),
            F.expr(
                r"size(regexp_extract_all(text,"
                r" '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]', 0))"
            ).alias("subword_tokens"),
            F.length("text").alias("n_chars_actual"),
        ).collect()
    )
    assert got == want


def test_fingerprint_matches_jvm(spark, docs_df, monkeypatch):  # noqa: F811
    _patch(monkeypatch, docs_df)
    got = _by_id(P.text_fingerprint(spark, "unused").collect())
    want = _by_id(
        docs_df.select(
            "doc_id",
            F.expr(
                r"md5(array_join(array_sort(array_distinct("
                r"filter(split(lower(text), '\\s+'), t -> t <> ''))), ' '))"
            ).alias("fingerprint"),
        ).collect()
    )
    # zero-token "": the JVM form hashes "", the twin's md5 is of NULL
    assert want[1] == ("d41d8cd98f00b204e9800998ecf8427e",)
    want[1] = (None,)
    assert got == want


def test_textops_match_jvm_on_corpus(spark, monkeypatch):  # noqa: F811
    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    _patch(monkeypatch, df)
    got = _by_id(P.text_quality(spark, "unused").collect())
    toked = df.select("doc_id", toks_col().alias("_t"))
    staged = toked.select(
        "doc_id",
        F.expr(
            "aggregate(_t, 0D, (s, t) -> s + length(t))"
            " / greatest(size(_t), 1)"
        ).alias("_ml"),
        F.expr(
            "size(filter(_t, t -> t rlike '^[a-z]+$'))"
            " / greatest(size(_t), 1)"
        ).alias("_af"),
        F.expr("size(_t)").alias("n_tokens"),
    )
    want = _by_id(
        staged.select(
            "doc_id",
            F.expr("round(_ml, 6)").alias("mean_token_len"),
            F.expr("round(_af, 6)").alias("alpha_fraction"),
            "n_tokens",
            F.expr(
                "round(least(_ml / 10.0, 1.0) * 0.3 + _af * 0.4"
                " + least(n_tokens / 100.0, 1.0) * 0.3, 6)"
            ).alias("quality_score"),
        ).collect()
    )
    assert got == want
