"""Round-7 ANN numpy kernels vs the JVM left-fold expressions they
replaced: buckets, IVF assignment and cosines must be BIT-identical
(the kernels replay the same float64 add order, vectorized across
rows)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

import ferret_spark.pipeline as P
from tests.conftest import spark  # noqa: F401
from tests.jvm_forms import toks_col

SF = "/root/testdata/sf0.01"

# --- the JVM expression forms the numpy kernels replaced ---------------------


def _bucket_expr_sql(vec: str, planes: list[list[float]]) -> str:
    """Spark SQL: LSH bucket id = sign-bit pattern of plane projections."""
    parts = []
    for p, plane in enumerate(planes):
        arr = ", ".join(repr(c) for c in plane)
        dot = (
            f"aggregate(zip_with({vec}, array({arr}), (x, y) -> x * y),"
            f" 0D, (s, x) -> s + x)"
        )
        parts.append(f"IF({dot} > 0, {1 << p}, 0)")
    return " + ".join(parts)


def _ivf_assign(emb, spark, cents):
    """Assign every vector to its max-dot centroid as a JVM fold over one
    broadcast codebook row; ties go to the larger centroid id (struct max
    over (dot, id))."""
    cents_df = spark.createDataFrame(
        [([(i, c) for i, c in enumerate(cents)],)],
        "cents array<struct<cid:int,c:array<double>>>",
    )
    return (
        emb.crossJoin(F.broadcast(cents_df))
        .withColumn(
            "cid",
            F.expr(
                "array_max(transform(cents, s -> struct("
                "aggregate(zip_with(e, s.c, (x, y) -> x * y), 0D,"
                " (a, x) -> a + x) AS d, s.cid AS i))).i"
            ),
        )
        .drop("cents")
    )


def _emb_np(spark):
    rows = (
        P._emb(spark, SF).select("vec_id", "embedding").orderBy("vec_id").collect()
    )
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    E = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in rows]
    )
    return ids, E


def test_bucket_bits_match_jvm(spark):  # noqa: F811
    ids, E = _emb_np(spark)
    planes = P._plane_literals(E.shape[1], 12)
    jvm = (
        P._emb(spark, SF)
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("e"),
        )
        .withColumn("bucket", F.expr(_bucket_expr_sql("e", planes)))
        .orderBy("vec_id")
        .collect()
    )
    got = P._np_bucket(E, np.asarray(planes, dtype=np.float64))
    assert list(got) == [r["bucket"] for r in jvm]


def test_cosine_vs_query_matches_jvm_bitwise(spark):  # noqa: F811
    ids, E = _emb_np(spark)
    qe = P._query_vec(spark, SF, 0)
    qv = spark.createDataFrame([(qe,)], "qv array<double>")
    jvm = (
        P._emb(spark, SF)
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("e"),
        )
        .crossJoin(F.broadcast(qv))
        .select("vec_id", P._cosine_expr("e", "qv").alias("c"))
        .orderBy("vec_id")
        .collect()
    )
    got = P._np_cos_vs_query(E, np.asarray(qe, dtype=np.float64))
    want = np.array([r["c"] for r in jvm])
    assert np.array_equal(got, want)  # exact, not approx


def test_pair_cos_matches_jvm_bitwise(spark):  # noqa: F811
    ids, E = _emb_np(spark)
    sub = E[:40]
    C = P._np_pair_cos(sub)
    # JVM per-pair fold for a sample of pairs
    pairs = [(0, 1), (3, 17), (20, 39), (5, 5), (12, 30)]
    rows = [
        ([float(x) for x in sub[a]], [float(x) for x in sub[b]])
        for a, b in pairs
    ]
    df = spark.createDataFrame(rows, "ev array<double>, en array<double>")
    jvm = df.select(P._cosine_expr("ev", "en").alias("c")).collect()
    for (a, b), r in zip(pairs, jvm):
        assert C[a, b] == r["c"]


def test_ivf_assignment_matches_jvm(spark):  # noqa: F811
    ids, E = _emb_np(spark)
    cents = P.ivf_trained_centroids(SF)
    emb = P._emb(spark, SF).select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("e"),
    )
    jvm = {
        r["vec_id"]: r["cid"]
        for r in _ivf_assign(emb, spark, cents).select("vec_id", "cid").collect()
    }
    C_arr = np.asarray(cents, dtype=np.float64)
    D = np.empty((len(E), len(cents)), dtype=np.float64)
    for i in range(len(cents)):
        D[:, i] = P._foldl_dots(E, C_arr[i])
    cid = (len(cents) - 1) - np.argmax(D[:, ::-1], axis=1)
    assert {int(v): int(c) for v, c in zip(ids, cid)} == jvm


def test_simhash_matches_aggregate_form(spark):  # noqa: F811
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"
    got = {
        r["doc_id"]: r["simhash"]
        for r in P.dedup_simhash(spark, sf).collect()
    }
    # pre-r7 shape: 60 conditional SUM aggregates over exploded tokens
    d = P._docs_wide(spark, sf).select(
        "doc_id", toks_col().alias("toks")
    )
    ex = d.select("doc_id", F.explode("toks").alias("t")).select(
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
    want = {
        r["doc_id"]: r["s"]
        for r in per_doc.select(
            "doc_id", fp.cast("long").alias("s")
        ).collect()
    }
    for k, v in want.items():
        assert got[k] == v


def test_minhash_signatures_match_aggregate_form(spark):  # noqa: F811
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"
    got = {
        r["doc_id"]: list(r["sig"])
        for r in P.minhash_signatures(spark, sf).collect()
    }
    ex = P._shingle_rows(spark, sf).select(
        "doc_id",
        F.expr("cast(conv(substr(md5(s), 1, 10), 16, 10) as bigint)").alias(
            "h"
        ),
    )
    a, b = P.minhash_coeffs()
    aggs = [
        F.min(
            (F.lit(a[i]) * F.col("h") + F.lit(b[i])) % F.lit(P.MINHASH_P)
        ).alias(f"_m{i}")
        for i in range(P.MINHASH_PERMS)
    ]
    want = {
        r["doc_id"]: [r[f"_m{i}"] for i in range(P.MINHASH_PERMS)]
        for r in ex.groupBy("doc_id").agg(*aggs).collect()
    }
    assert got == want
