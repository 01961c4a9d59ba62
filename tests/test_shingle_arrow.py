"""Round-7 Arrow shingle kernel vs the JVM lookahead-regex extraction:
exploded (doc_id, n_sh, shingle) rows must be set-identical. NULL and
zero-token docs are the one exception: the JVM form gives them the
empty shingle, the kernel (like the DuckDB twin) gives them none."""

from __future__ import annotations

from pyspark.sql import functions as F

import ferret_spark.pipeline as P
from tests.conftest import spark  # noqa: F401


def _shingles_from_text(n: int = P.SHINGLE_N):
    """Shingles computed from the text column with one codegen'd regex
    scan: normalize whitespace, then a lookahead regex emits every n-token
    window (a consuming `^| ` anchor plus zero-width capture keeps windows
    overlapping). Docs with fewer than n tokens yield their single
    whole-doc shingle."""
    norm = "trim(regexp_replace(lower(text), '\\\\s+', ' '))"
    window = " ".join(["\\\\S+"] * n)
    pat = f"(?:^| )(?=({window}))"
    return F.expr(
        f"IF(size(split({norm}, ' ')) < {n},"
        f" array({norm}),"
        f" array_distinct(regexp_extract_all({norm}, '{pat}', 1)))"
    )


def _jvm_rows(spark, df):
    # NULL text gives a NULL array (size -1); a zero-token doc gives [""]
    sh = df.select(
        "doc_id", _shingles_from_text().alias("sh")
    ).where((F.size("sh") > 0) & (F.col("sh") != F.array(F.lit(""))))
    ex = sh.select(
        "doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("s")
    )
    return sorted(tuple(r) for r in ex.collect())


def _arrow_docs(df):
    return df.select("doc_id", "text").mapInArrow(
        P._shingle_docs_arrow, "doc_id long, n_sh int, shs array<string>"
    )


def _arrow_rows(spark, df):
    ex = _arrow_docs(df).select("doc_id", "n_sh", F.explode("shs").alias("s"))
    return sorted(tuple(r) for r in ex.collect())


def test_shingle_kernel_matches_jvm_on_corpus(spark):  # noqa: F811
    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assert _arrow_rows(spark, d) == _jvm_rows(spark, d)


def test_shingle_kernel_matches_jvm_edge_cases(spark):  # noqa: F811
    rows = [
        (0, "one two three four five"),
        (1, "  Leading And   multi  spaces\tmix\nhere  "),
        (2, "two tokens"),
        (3, "one"),
        (4, ""),
        (5, "a b c a b c a b c"),  # heavy duplicate windows
        (6, "UPPER case MiX three words"),
        (7, "x\x0by\fz\rq w"),
        (8, None),
        (9, " \t\x0b "),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = _arrow_rows(spark, d)
    assert got == _jvm_rows(spark, d)
    assert {r[0] for r in got} == {0, 1, 2, 3, 5, 6, 7}


def test_shingle_docs_kernel_matches_exploded_rows(spark):  # noqa: F811
    """r7 per-doc cache shape: the exploded _shingle_rows view the Jaccard
    path reads must be _shingle_docs_arrow's rows exploded, and every
    cached doc has n_sh == its array size >= 1."""
    sf = "/root/testdata/sf0.01"
    d = spark.read.parquet(f"{sf}/documents.parquet")
    got = sorted(tuple(r) for r in P._shingle_rows(spark, sf).collect())
    assert got == _arrow_rows(spark, d)
    bad = _arrow_docs(d).where(
        (F.size("shs") != F.col("n_sh")) | (F.col("n_sh") < 1)
    ).count()
    assert bad == 0
