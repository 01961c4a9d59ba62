"""r7 in-row simhash kernel edge cases: empty/whitespace-only docs map to
simhash 0 (old restore-join semantics), mixed-whitespace tokenization and
the factorized md5 match the JVM exploded aggregate form exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

import ferret_spark.pipeline as P
from tests.conftest import spark  # noqa: F401
from tests.jvm_forms import toks_col

ROWS = [
    (0, "one two three two one"),
    (1, ""),
    (2, "   \t\n  "),
    (3, "Single"),
    (4, "MiXeD CaSe MIXED case mixed"),
    (5, "a\tb\nc\x0bd\fe\rf  g"),
    (6, "dup dup dup dup"),
]


def _jvm_simhash(spark, df):
    """Pre-r7 shape: exploded JVM md5 + 60 conditional SUM aggregates."""
    ex = df.select("doc_id", F.explode(toks_col()).alias("t")).select(
        "doc_id",
        F.expr("cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint)").alias(
            "h"
        ),
    )
    aggs = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"_b{b}")
        for b in range(60)
    ]
    per_doc = ex.groupBy("doc_id").agg(*aggs)
    fp = None
    for b in range(60):
        term = F.when(F.col(f"_b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return {
        r["doc_id"]: r["s"]
        for r in per_doc.select("doc_id", fp.cast("long").alias("s")).collect()
    }


def test_simhash_kernel_edge_cases(spark, monkeypatch):  # noqa: F811
    df = spark.createDataFrame(ROWS, "doc_id long, text string")
    monkeypatch.setattr(P, "_docs_wide", lambda s, d: df)
    monkeypatch.setattr(P, "_docs", lambda s, d: df.select("doc_id"))
    got = {
        r["doc_id"]: r["simhash"]
        for r in P.dedup_simhash(spark, "unused").collect()
    }
    want = _jvm_simhash(spark, df)
    assert set(got) == {d for d, _ in ROWS}
    for did, _ in ROWS:
        # zero-token docs are absent from the JVM aggregate; they must be 0
        assert got[did] == want.get(did, 0), did
