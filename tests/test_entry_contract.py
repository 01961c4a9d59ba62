"""Rehearsal of the driver's correctness gate: run every queries() entry at
sf0.01 AND its oracle_sql() twin in DuckDB over the same parquet, compare
row count, column names, and order-insensitive values."""

import math

import duckdb
import pytest

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _norm_val(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if hasattr(v, "tolist"):  # numpy array / scalar
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_val(x) for x in v)
    return v


def normalize(rows, cols):
    out = []
    for r in rows:
        out.append(tuple(_norm_val(r[c]) for c in sorted(cols)))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return out


@pytest.mark.parametrize("name", sorted(entry.queries().keys()))
def test_query_matches_oracle(spark, ddb, name):
    qfn = entry.queries()[name]
    sdf = qfn(spark, SF_DIR)
    scols = sdf.columns
    srows = [r.asDict() for r in sdf.collect()]

    sqls = entry.oracle_sql()
    if name not in sqls:
        assert len(srows) >= 0  # rows-only check
        return
    odf = ddb.sql(sqls[name]).df()
    ocols = list(odf.columns)
    assert sorted(scols) == sorted(ocols), f"schema mismatch: {scols} vs {ocols}"
    orows = odf.to_dict("records")
    assert len(srows) == len(orows), f"row count {len(srows)} vs {len(orows)}"
    got = normalize(srows, scols)
    want = normalize(orows, ocols)
    for i, (g, w) in enumerate(zip(got, want)):
        assert g == w, f"{name} row {i}: {g} != {w}"


def test_entry_smoke(spark):
    df = entry.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert set(df.columns) == {"rank", "doc_id", "score"}


def test_seg_size_from_parquet_footers(spark, tmp_path, monkeypatch):
    """_get_seg_index sizes segments from footer row counts: no table read
    on the driver, same seg_size over a multi-file documents table."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    import ferret_spark.segments as segments

    docs = tmp_path / "documents.parquet"
    docs.mkdir()
    start = 0
    for i, n in enumerate((3000, 3000, 3500)):
        ids = list(range(start, start + n))
        start += n
        pq.write_table(
            pa.table({"doc_id": ids, "text": [f"w{j % 7}" for j in ids]}),
            docs / f"part-{i}.parquet",
        )

    def no_read(*_a, **_k):
        raise AssertionError("documents read on the driver")

    got = {}

    class FakeBuilder:
        def __init__(self, _spark, _path, _fields, seg_size):
            got["seg_size"] = seg_size

        def build(self, _docs, doc_id_col):
            return "built"

    monkeypatch.setattr(pq.ParquetDataset, "read", no_read)
    monkeypatch.setattr(segments, "SegmentIndexBuilder", FakeBuilder)
    monkeypatch.setattr(tempfile, "mkdtemp", lambda prefix: str(tmp_path / "seg"))
    monkeypatch.setattr(entry, "_SEG_CACHE", {})
    assert entry._get_seg_index(spark, str(tmp_path)) == "built"
    assert got["seg_size"] == 9500 // 32
