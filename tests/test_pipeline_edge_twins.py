"""NULL and empty docs through every text pipeline op and its DuckDB twin.

The sf corpora hold no NULL, empty or whitespace-only text, so the
contract checks never see them. Here the sf0.001 documents plus such rows
(and 1- and 2-token docs, shorter than a shingle) run through the 8
dedup-workload ops and lang_id, quality and text_fingerprint; each result
must equal its oracle_sql() twin. A second set holds docs that begin,
end or consist of whitespace only Python counts as such (NBSP, U+2028,
\\x1c-\\x1f, \\x85): both engines keep it inside tokens. No row holds
\\x0b: Java's \\s (Spark) matches it and DuckDB's does not, so the
JVM-form tests pin that case."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry
import ferret_spark.pipeline as P
from scripts.correctness_local import norm, values_match
from tests.conftest import spark  # noqa: F401

OPS = [
    "pp_dedup_exact",
    "pp_dedup_ngram_jaccard",
    "pp_dedup_minhash_lsh",
    "pp_dedup_simhash",
    "pp_dedup_clusters",
    "pp_keywords_tfidf",
    "pp_fingerprint_winnow",
    "pp_token_count",
    "pp_lang_id",
    "pp_quality",
    "pp_fingerprint",
]

EDGE_TEXTS = [None, None, "", "", "  \t\n  ", "solo", "Solo", "two words"]
# Python's str.strip()/str.split() whitespace that Java's and DuckDB's \s
# leave inside tokens, at the ends of a doc and making up whole docs
PY_WS_TEXTS = [
    "\u00a0",
    "\u00a0",
    "\u2028",
    "\u00a0lead and trail\u2028",
    "\x1cends\x1f \u00a0 x\x85",
]


def _edge_dir(tmp_path_factory, texts):
    docs = pq.read_table(
        "/root/testdata/sf0.001/documents.parquet", columns=["doc_id", "text"]
    )
    base = max(docs.column("doc_id").to_pylist()) + 1
    edge = pa.table(
        {
            "doc_id": pa.array(range(base, base + len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
        }
    )
    d = tmp_path_factory.mktemp("edge_twins")
    pq.write_table(
        pa.concat_tables([docs.cast(edge.schema), edge]),
        d / "documents.parquet",
    )
    return str(d)


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    return _edge_dir(tmp_path_factory, EDGE_TEXTS)


@pytest.fixture(scope="module")
def py_ws_dir(tmp_path_factory):
    return _edge_dir(tmp_path_factory, PY_WS_TEXTS)


@pytest.mark.parametrize("name", OPS)
def test_op_matches_twin_on_null_and_empty_docs(spark, edge_dir, name):  # noqa: F811
    _check_twin(spark, edge_dir, name)


@pytest.mark.parametrize("name", OPS)
def test_op_matches_twin_on_python_only_whitespace(
    spark, py_ws_dir, name  # noqa: F811
):
    _check_twin(spark, py_ws_dir, name)


def _check_twin(spark, edge_dir, name):  # noqa: F811
    got = norm(entry.queries()[name](spark, edge_dir).toPandas())
    con = duckdb.connect()
    try:
        con.execute(
            "create view documents as select * from "
            f"parquet_scan('{edge_dir}/documents.parquet')"
        )
        want = norm(con.execute(entry.oracle_sql()[name]).df())
    finally:
        con.close()
    assert list(got.columns) == list(want.columns)
    assert values_match(got, want), (got.tail(12), want.tail(12))


def test_tokenizer_null_mask_and_zero_token_docs():
    texts = [None, "", " \x0b\f ", "A\u00a0b  C", "\u00a0", "\u00a0x y\u2028"]
    toks, null = P._tokenize(texts, lower=False)
    assert toks == [
        [],
        [],
        [],
        ["A\u00a0b", "C"],
        ["\u00a0"],
        ["\u00a0x", "y\u2028"],
    ]
    assert null.tolist() == [True, False, False, False, False, False]
    assert P._tokenize(texts)[0][3] == ["a\u00a0b", "c"]


def test_tokenizer_splits_vertical_tab_like_spark(spark):  # noqa: F811
    """The kernels' whitespace is Java's \\s (Spark's split), which holds
    vertical tab; RE2's \\s (the DuckDB twins) does not."""
    toks, null = P._tokenize(["a\x0bb c"])
    assert toks == [["a", "b", "c"]] and null.tolist() == [False]
    (row,) = spark.sql(
        "select filter(split('a\\u000Bb c', '\\\\s+'), t -> t <> '') as t"
    ).collect()
    assert row["t"] == toks[0]
