"""Round-7 pure-SHOULD boolean plan (union + ordinal fold) must be
bit-identical to the full-outer-join + coalesce-sum chain it replaced."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from ferret_spark.query import SHOULD, BooleanQuery, TermQuery
from ferret_spark.search import _Planner, plan_scores, spark_rewrite
from tests.conftest import spark  # noqa: F401

SF = "/root/testdata/sf0.01"


def _reference_or(idx, terms):
    """Pre-r7 shape: chained FULL OUTER joins + coalesce sum."""
    plans = []
    pl = _Planner(idx, idx.doc_freqs([("text", t) for t in terms]))
    cols = []
    base = None
    for i, t in enumerate(terms):
        sp = pl.plan(TermQuery(field="text", term=t))
        cname = f"_s{i}"
        sp = sp.withColumnRenamed("score", cname)
        cols.append(cname)
        base = sp if base is None else base.join(sp, "doc_id", "full")
    expr = None
    for c in cols:
        col = F.coalesce(F.col(c), F.lit(0.0))
        expr = col if expr is None else expr + col
    return base.select("doc_id", expr.alias("score"))


@pytest.mark.parametrize(
    "terms",
    [
        ["spark", "stream"],
        ["spark", "stream", "scan"],
        ["spark", "nosuchterm_xyz", "join"],
        ["table", "hash", "scan", "join"],
    ],
)
def test_should_union_fold_bitwise_equal(spark, terms):  # noqa: F811
    idx = entry._get_index(spark, SF)
    q = BooleanQuery.of(
        *[(TermQuery(field="text", term=t), SHOULD) for t in terms]
    )
    got = {
        r["doc_id"]: r["score"]
        for r in plan_scores(idx, spark_rewrite(idx, q)).collect()
    }
    want = {
        r["doc_id"]: r["score"] for r in _reference_or(idx, terms).collect()
    }
    assert got == want  # exact float64 equality, not approx
