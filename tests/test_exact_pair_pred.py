"""Round-7: segment scan predicates list exactly the requested
(field, term) pairs — an OR of per-field term lists, never the
fields x terms cross-product (VERDICT r6 finding #2)."""

from __future__ import annotations

import json

from ferret_spark.wand import _exact_pair_cond
from tests.conftest import jobs_in_group, spark  # noqa: F401


def test_exact_pair_cond_filters_only_requested_pairs(spark):  # noqa: F811
    rows = [
        ("text", "a"), ("text", "b"), ("lang", "en"),
        ("lang", "a"),  # cross-product trap: 'a' exists in BOTH fields
        ("text", "en"),
    ]
    df = spark.createDataFrame(rows, "field string, term string")
    pairs = [("text", "a"), ("lang", "en")]
    got = sorted(
        (r["field"], r["term"])
        for r in df.where(_exact_pair_cond(pairs)).collect()
    )
    # the cross-product predicate would ALSO match ('lang','a') and
    # ('text','en'); the exact predicate must not
    assert got == sorted(pairs)


def test_exact_pair_cond_plan_pushes_per_field_lists(spark, tmp_path):  # noqa: F811
    rows = [("text", "a", 1), ("lang", "en", 2)]
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        rows, "field string, term string, df long"
    ).write.parquet(p)
    df = spark.read.parquet(p).where(
        _exact_pair_cond([("text", "a"), ("lang", "en")])
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # pushed as per-field conjunctions, visible in the scan's filters
    assert "PushedFilters" in plan
    assert plan.count("Or(And(") >= 1 or "And(EqualTo(field,text)" in plan


def test_doc_freqs_push_exact_pairs_in_both_engines(spark, tmp_path):  # noqa: F811
    """Both engines' df lookups read only the exact (field, term) pairs:
    the cross-field trap pairs must not leak into the answer. The
    segmented engine reads its generations' term_stats parquet on the
    driver: dfs sum over generations, an absent pair reads 0, and the
    lookup runs no Spark job."""
    from types import SimpleNamespace

    from ferret_spark.ind import FerretIndex
    from ferret_spark.index import SparkIndex

    ts = spark.createDataFrame(
        [
            ("text", "a", 1), ("lang", "en", 2),
            ("lang", "a", 3), ("text", "en", 4),  # cross-product traps
        ],
        "field string, term string, df long",
    )
    pairs = [("text", "a"), ("lang", "en")]
    conds = []

    class Spy:
        def where(self, cond):
            conds.append(cond)
            return ts.where(cond)

    dfs = SparkIndex.doc_freqs(SimpleNamespace(term_stats=Spy()), pairs)
    assert dfs == {("text", "a"): 1, ("lang", "en"): 2}
    (cond,) = conds
    got = sorted((r["field"], r["term"]) for r in ts.where(cond).collect())
    assert got == sorted(pairs)

    # the same trap layout as two real generations of a segmented index
    fc = {"text": "whitespace", "lang": "whitespace"}
    idx = FerretIndex(spark, str(tmp_path / "gens"), fc, seg_size=2)
    gen1 = [
        {"doc_id": 0, "text": "a", "lang": "en"},
        {"doc_id": 1, "text": "en en", "lang": "a"},
        {"doc_id": 2, "text": "en", "lang": "a"},
    ]
    gen2 = [
        {"doc_id": 0, "text": "a x", "lang": "en"},
        {"doc_id": 1, "text": "en", "lang": "a a"},
    ]
    for rows in (gen1, gen2):
        idx.add_documents(
            spark.createDataFrame(rows, "doc_id long, text string, lang string"),
            doc_id_col="doc_id",
        )
    with open(tmp_path / "gens" / "meta.json") as f:
        assert len(json.load(f)["generations"]) == 2
    sidx = idx.index
    sc = spark.sparkContext
    sc.setJobGroup("doc_freqs_probe", "doc_freqs")
    try:
        dfs = sidx.doc_freqs(pairs + [("text", "zzz"), ("lang", "x")])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs_in_group(sc, "doc_freqs_probe") == []
    assert dfs == {
        ("text", "a"): 2,  # 1 + 1 over the two generations
        ("lang", "en"): 2,
        ("text", "zzz"): 0,  # absent everywhere
        ("lang", "x"): 0,  # present only as a text term
    }


def test_term_dict_filter_prunes_row_groups(tmp_path):
    """The driver-side df read touches only the row groups whose min/max
    can hold a requested pair — never the whole sorted term dictionary."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from ferret_spark.segments import _term_dict_filter

    terms = [f"t{i:05d}" for i in range(2000)]
    pq.write_table(
        pa.table({"field": ["text"] * 2000, "term": terms, "df": range(2000)}),
        tmp_path / "ts.parquet",
        row_group_size=100,
    )
    (frag,) = ds.dataset(tmp_path, format="parquet").get_fragments()
    pairs = [("text", "t00005"), ("text", "t01505"), ("lang", "t00005")]
    kept = frag.split_by_row_group(_term_dict_filter(pairs))
    assert frag.num_row_groups == 20 and len(kept) == 2
    got = ds.dataset(tmp_path, format="parquet").to_table(
        filter=_term_dict_filter(pairs)
    )
    assert sorted(got["term"].to_pylist()) == ["t00005", "t01505"]


def test_explain_pushes_exact_pairs_in_both_engines(spark):  # noqa: F811
    """explain's postings fetch pushes the exact (field, term) pairs on
    both engines, like doc_freqs: the cross-field trap rows must not
    pass its scan condition."""
    from types import SimpleNamespace

    from ferret_spark.highlight import _doc_postings_many

    trap = spark.createDataFrame(
        [
            (0, 0, "text", "a"), (0, 0, "lang", "en"),
            (0, 0, "lang", "a"), (0, 0, "text", "en"),  # cross-product traps
        ],
        "seg_id long, doc_id long, field string, term string",
    )
    pairs = [("text", "a"), ("lang", "en")]
    conds = []

    class Spy:
        def where(self, cond):
            conds.append(cond)
            return SimpleNamespace(collect=lambda: [])

    _doc_postings_many(SimpleNamespace(segments=Spy(), seg_size=4), pairs, [0])
    _doc_postings_many(SimpleNamespace(postings=Spy()), pairs, [0])
    assert len(conds) == 2
    for cond in conds:
        got = sorted((r["field"], r["term"]) for r in trap.where(cond).collect())
        assert got == sorted(pairs)
