"""Segmented compressed index: build + term dictionary + resume.

The scale architecture (SURVEY §7):

  corpus --assign doc_id--> docs --seg_id = doc_id // seg_size-->
  B3  groupBy(seg).applyInPandas(invert+encode)  -> segments table
      (seg_id, field, term, df, doc_bin, tf_bin, pos_bin, dl_bin, block_meta)
  B4  term dictionary: groupBy(field, term).sum(df) over the segment rows'
      (field, term, df) columns -> term_stats. Spark's map-side partial
      aggregation makes it a hierarchical merge keyed by the (field, term)
      hash, one row per term per map task, so the Zipf head is no skew.
      No posting byte moves: the segments are the only copy of the
      postings.
  B5  corpus stats from the segments' doc-length marker rows; manifest
      rows per stage.

Layout on disk (<path>/):
  docs/        parquet (doc_id, original cols, sha256_*)
  segments/    parquet partitioned by seg_id bucket — the SCORING layout:
               a query ships its terms to every segment (doc-range shard),
               scores every hit locally, cuts a local top-k, then global
               top-k —
               the MultiSearcher shape (c/src/search.c:1443-1840)
  term_stats/  parquet (field, term, df, term_num), sorted by (field, term)
               within each file — the term dictionary; under FerretIndex
               incremental adds this is generation 0 of the tiered-merge
               LSM (generations/g*/term_stats)
  manifest/    parquet: (stage, part, rows, bytes, status, ts) — lineage +
               metrics; resume skips stages whose manifest says 'done'
  meta.json    stats (with the exact doc-length sums) + field_config +
               build params

Indexes written by older builds also hold merged/ (one row of
concatenated posting bytes per term), named by their generations'
"merged" keys. Readers ignore it; FerretIndex deletes it when its
generation is merged away, and at optimize.

Segments are doc-range partitions, so doc ids never remap (the reference
remaps via doc_map + base, c/src/index.c:6008-6065; our global doc_id
makes that unnecessary).
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ferret_spark import build as B
from ferret_spark.analysis import get_analyzer
from ferret_spark.codec import (
    BLOCK_META_TYPE,
    POSTING_COLUMNS,
    decode_posting_list,
    encode_posting_list,
    encode_segment_terms,
    posting_row,
)

SEGMENT_SCHEMA = (
    "seg_id int, field string, term string, df long, "
    "doc_bin binary, tf_bin binary, pos_bin binary, dl_bin binary, "
    f"block_meta {BLOCK_META_TYPE}"
)
SEGMENT_COLUMNS = ["seg_id", "field", "term", *POSTING_COLUMNS]


def invert_partition(
    pdf: pd.DataFrame, field_config: dict, seg_id: int
) -> pd.DataFrame:
    """One segment's docs -> encoded posting rows (dw_invert_field analog,
    c/src/index.c:5565-5640). Fully vectorized: tokenize via the pandas
    analyzer surface, flatten to (term_code, doc, pos) numpy arrays, one
    lexsort, run-length boundaries, flat codec encode — no per-token
    Python.

    For every tokenized field one extra MARKER row (term = NULL) carries
    the segment's per-doc BM25 lengths, encoded with the same posting
    codec (ids = sorted doc ids, dls = token counts incl. zeros). The one
    tokenize pass thus serves postings AND corpus stats — no separate
    doc_len job — and optimize()'s delete-expunge rewrite handles markers
    exactly like postings."""
    out_rows = []

    def _dl_marker(field: str, doc_ids: np.ndarray, dls_all: np.ndarray):
        if len(doc_ids) == 0:
            return
        o = np.argsort(doc_ids, kind="stable")
        enc = encode_posting_list(
            doc_ids[o], np.ones(len(doc_ids), dtype=np.int64), None, dls_all[o]
        )
        out_rows.append((seg_id, field, None, *enc.values()))

    for field, aname in field_config.items():
        doc_ids = pdf["doc_id"].to_numpy()
        n_rows = len(doc_ids)
        if aname == "keyword":
            terms_flat = pd.Series(pdf[field].astype(str).to_numpy(), dtype=object)
            docs_flat = doc_ids.astype(np.int64)
            pos_flat = np.zeros(n_rows, dtype=np.int64)
            dls_per_doc = np.ones(n_rows, dtype=np.int64)
            valid = terms_flat.notna().to_numpy() & (terms_flat != "").to_numpy()
            terms_v = terms_flat.to_numpy()[valid]
            docs_v = docs_flat[valid]
            pos_v = pos_flat[valid]
            dl_flat_v = dls_per_doc[valid]
        else:
            # aname may be a pre-resolved Analyzer instance (shipped in the
            # closure so runtime-registered analyzers reach executors) or a
            # registry name
            analyzer = aname if hasattr(aname, "tokens_pandas") else get_analyzer(aname)
            tok_lists = analyzer.tokens_pandas(pdf[field].astype(str))
            lens = np.fromiter(
                (len(t) for t in tok_lists), dtype=np.int64, count=n_rows
            )
            total = int(lens.sum())
            if total == 0:
                _dl_marker(field, doc_ids, np.zeros(n_rows, dtype=np.int64))
                continue
            row_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            pos_flat = np.arange(total, dtype=np.int64) - np.repeat(
                row_starts, lens
            )
            row_idx = np.repeat(np.arange(n_rows, dtype=np.int64), lens)
            docs_flat = doc_ids[row_idx].astype(np.int64)
            # one C-level chain instead of a per-doc object-array
            # concatenate (the per-doc np.asarray calls dominated the
            # flatten cost in profile)
            from itertools import chain

            flat = np.empty(total, dtype=object)
            flat[:] = list(chain.from_iterable(tok_lists))
            terms_flat = pd.Series(flat, dtype=object)
            valid = terms_flat.notna().to_numpy() & (terms_flat != "").to_numpy()
            # per-doc token count after stop-removal = BM25 doc_len
            dls_per_doc = np.bincount(
                row_idx[valid], minlength=n_rows
            ).astype(np.int64)
            _dl_marker(field, doc_ids, dls_per_doc)
            terms_v = terms_flat.to_numpy()[valid]
            docs_v = docs_flat[valid]
            pos_v = pos_flat[valid]
            dl_flat_v = dls_per_doc[row_idx[valid]]
        if len(terms_v) == 0:
            continue
        codes, uniques = pd.factorize(pd.Series(terms_v, dtype=object), sort=True)
        # single stable argsort on a packed (code, local_doc) key; token
        # order within a doc is already position order, so stability gives
        # the (term, doc, pos) order one lexsort would — at ~half the
        # memory traffic
        doc_min = docs_v.min() if len(docs_v) else 0
        packed = (codes.astype(np.int64) << np.int64(32)) | (
            docs_v - doc_min
        )
        order = np.argsort(packed, kind="stable")
        codes_s = codes[order]
        docs_s = docs_v[order]
        pos_s = pos_v[order]
        dls_s = dl_flat_v[order]
        # posting boundaries (term-major token stream -> (term, doc) runs)
        t_change = np.flatnonzero(np.diff(codes_s)) + 1
        t_starts_tok = np.concatenate(([0], t_change))
        d_change = np.flatnonzero(np.diff(docs_s)) + 1
        doc_start_mask = np.zeros(len(docs_s), dtype=bool)
        doc_start_mask[0] = True
        doc_start_mask[d_change] = True
        doc_start_mask[t_starts_tok] = True
        doc_start_idx = np.flatnonzero(doc_start_mask)
        posting_ends = np.concatenate((doc_start_idx[1:], [len(docs_s)]))
        udocs = docs_s[doc_start_idx]
        tfs = (posting_ends - doc_start_idx).astype(np.int64)
        u_dls = dls_s[doc_start_idx]
        term_of_posting = codes_s[doc_start_idx]
        tp_change = np.flatnonzero(np.diff(term_of_posting)) + 1
        term_starts_p = np.concatenate(([0], tp_change))
        with_positions = aname != "keyword"
        encoded = encode_segment_terms(
            udocs,
            tfs,
            u_dls,
            term_starts_p,
            pos_s if with_positions else None,
        )
        term_ids = term_of_posting[term_starts_p]
        for ti, enc in enumerate(encoded):
            out_rows.append((seg_id, field, str(uniques[term_ids[ti]]), *enc))
    return pd.DataFrame(out_rows, columns=SEGMENT_COLUMNS)


def build_segments(
    docs: DataFrame,
    field_config: dict[str, str],
    seg_size: int,
    n_segments: int | None = None,
) -> DataFrame:
    """docs (with doc_id) -> segment posting rows. seg_id = doc_id//seg_size
    (doc-range segments -> merge is pure concat).

    When ``n_segments`` is known, docs are range-partitioned one segment
    per partition first: plain groupBy hash-partitions G segments into P
    shuffle partitions, and for G within ~2x of P the binomial collisions
    leave some tasks with 3-4 segments while others idle — a straggler tax
    that shows up directly as lost scaling efficiency at higher
    parallelism. RangePartitioning satisfies the groupBy's clustered
    distribution, so no second shuffle is added."""
    cols = ["doc_id"] + [f for f in field_config]
    src = docs.select(*cols).withColumn(
        "seg_id", (F.col("doc_id") / F.lit(seg_size)).cast("int")
    )
    if n_segments:
        # one segment (a small add or build): one range partition, no
        # sampling job, one task instead of spark.sql.shuffle.partitions.
        # cap shuffle partitions: one-partition-per-segment is ideal while
        # segments ≈ cores, but at corpus scale (doc_count/seg_size can be
        # millions) it would explode scheduler + shuffle metadata. Past the
        # cap, range partitioning on seg_id still clusters several WHOLE
        # segments per partition (satisfies the groupBy distribution; the
        # sampling job's cost is bounded by the partition count too).
        try:
            par = docs.sparkSession.sparkContext.defaultParallelism
        except Exception:  # pragma: no cover
            par = 32
        n_part = min(n_segments, max(4 * par, 64))
        src = src.repartitionByRange(n_part, "seg_id")

    # resolve analyzer instances DRIVER-side so runtime-registered custom
    # analyzers are pickled into the task closure (executor workers only
    # know the stock registry)
    fc = {
        f: (a if a == "keyword" else get_analyzer(a) if isinstance(a, str) else a)
        for f, a in field_config.items()
    }

    def fn(key, pdf):  # no hints: pyspark warns on partial grouped-map hints
        return invert_partition(pdf, fc, int(key[0]))

    return src.groupBy("seg_id").applyInPandas(fn, SEGMENT_SCHEMA)


def term_stats_partitions(spark: SparkSession, n_rows: int | None) -> int:
    """Partitions (and files) of a term_stats write over ``n_rows`` input
    rows: 4x cores, capped at ~2k input rows per task, so a small write (an
    add batch, a tier of small generations) runs a few tasks.
    term_stats_frame coalesces to it, so spark.sql.shuffle.partitions
    caps it."""
    n_part = max(4, 4 * spark.sparkContext.defaultParallelism)
    if n_rows is not None and n_rows > 0:
        n_part = max(4, min(n_part, n_rows // 2000 + 1))
    return n_part


def term_stats_of(postings: DataFrame) -> DataFrame:
    """(field, term, df, term_num) of one-row-per-term postings. term_num
    is the numeric shadow of the term: a typed RangeQuery rewrites to a
    PUSHED parquet range predicate instead of collecting the whole term
    dictionary to the driver."""
    return postings.select(
        "field", "term", "df",
        F.expr("try_cast(term as double)").alias("term_num"),
    )


def term_stats_frame(rows: DataFrame, n_rows: int | None) -> DataFrame:
    """The term dictionary of ``rows`` — segment posting rows or other
    term_stats rows: one (field, term, df, term_num) row per term, its df
    summed. Only (field, term, df) are read, so no posting byte moves.
    Spark's map-side partial aggregation makes the sum a hierarchical
    merge keyed by the (field, term) hash: each map task sends one row per
    term, so a Zipf-head term present in every segment is no skew.
    ``n_rows`` (the input's footer row count) sets the partitions by
    term_stats_partitions; each is sorted by (field, term), so file and
    row-group min/max statistics bound the driver-side doc_freqs read."""
    summed = (
        rows.where(F.col("term").isNotNull())  # doc-length markers
        .groupBy("field", "term")
        .agg(F.sum("df").alias("df"))
    )
    return (
        term_stats_of(summed)
        .coalesce(term_stats_partitions(rows.sparkSession, n_rows))
        .sortWithinPartitions("field", "term")
    )


def base_generation(n_docs: int) -> dict:
    """meta.json entry of the generation the builder itself wrote (the
    index root's term_stats/)."""
    return {"term_stats": "term_stats", "rows": n_docs}


def write_generation(
    root: str, gname: str, rows: DataFrame, n_rows: int | None, docs: int
) -> dict:
    """Write one merge generation, the term_stats of ``rows`` (see
    term_stats_frame), under ``root/gname`` and return its meta.json
    entry; ``docs`` is the doc count the tier policy sizes it by."""
    term_stats_frame(rows, n_rows).write.mode("overwrite").parquet(
        os.path.join(root, gname, "term_stats")
    )
    return {"term_stats": f"{gname}/term_stats", "rows": docs}


# ---------------------------------------------------------------------------
# manifest / staged build with resume


def shift_posting_rows(
    df: DataFrame, id_shift: int, seg_shift: int | None = None
) -> DataFrame:
    """Shift every absolute doc id in posting rows by ``id_shift`` WITHOUT
    re-encoding: the codec's blocks are self-contained (each block's ids
    decode from block_meta.first), so only block_meta.first/last move —
    the compressed doc/tf/pos/dl bytes are copied verbatim. This is what
    makes reader-to-reader index appends (iw_add_readers analog,
    c/src/index.c:6530-6750) O(metadata), not O(re-tokenize). Doc-length
    marker rows shift identically. A projection: no Python worker."""
    n = F.lit(id_shift).cast("long")
    out = df.withColumn(
        "block_meta",
        F.transform(
            "block_meta",
            lambda b: b.withField("first", b["first"] + n).withField(
                "last", b["last"] + n
            ),
        ),
    )
    if seg_shift is not None:
        out = out.withColumn("seg_id", F.col("seg_id") + F.lit(seg_shift))
    return out


def _manifest_path(path: str) -> str:
    return os.path.join(path, "manifest")


def read_manifest(spark: SparkSession, path: str) -> dict[str, dict]:
    """Manifest rows (stage -> metrics). Driver-side pyarrow read — the
    manifest is tiny lineage metadata and must not cost Spark jobs (the
    builder consults it between every stage; job-launch latency there is
    pure serial fraction against the scaling gate)."""
    import pyarrow.parquet as pq

    mp = _manifest_path(path)
    if not os.path.exists(mp):
        return {}
    out = {}
    for fn in sorted(os.listdir(mp)):
        if not fn.endswith(".parquet"):
            continue
        for r in pq.read_table(os.path.join(mp, fn)).to_pylist():
            out[r["stage"]] = r
    return out


def append_manifest(spark: SparkSession, path: str, stage: str, metrics: dict):
    import pyarrow as pa
    import pyarrow.parquet as pq

    row = {
        "stage": stage,
        "rows": int(metrics.get("rows", -1)),
        "bytes": int(metrics.get("bytes", -1)),
        "partitions": int(metrics.get("partitions", -1)),
        "status": "done",
        "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "elapsed_sec": float(metrics.get("elapsed_sec", -1.0)),
    }
    mp = _manifest_path(path)
    os.makedirs(mp, exist_ok=True)
    schema = pa.schema(
        [
            ("stage", pa.string()),
            ("rows", pa.int64()),
            ("bytes", pa.int64()),
            ("partitions", pa.int64()),
            ("status", pa.string()),
            ("ts", pa.string()),
            ("elapsed_sec", pa.float64()),
        ]
    )
    table = pa.Table.from_pylist([row], schema=schema)
    fn = f"stage-{stage}-{time.time_ns()}.parquet"
    pq.write_table(table, os.path.join(mp, fn))


def data_files(path: str) -> list[str]:
    """The parquet data files of a table directory, in name order (Spark's
    hidden ``_``/``.`` files and directories such as ``_temporary``
    skipped)."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        out += [
            os.path.join(root, fn)
            for fn in sorted(files)
            if fn.endswith(".parquet") and not fn.startswith(("_", "."))
        ]
    return out


def footer_rows(files) -> int:
    """Summed row counts of parquet files, from their footers (driver-side,
    no Spark job)."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in files)


def parquet_rows(path: str) -> int:
    """Row count of a table directory from parquet footers (no Spark job)."""
    return footer_rows(data_files(path))


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a table this library wrote with the Spark schema recorded in
    its data files' footers — the row-metadata key Spark's one-task
    schema-inference job would read, here read on the driver with
    pyarrow — so opening the table runs no Spark job. A plain (inferring)
    read when there is no flat data file or no key. Caller-supplied inputs
    keep a plain read."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    files = data_files(path)
    raw = None
    # no file yet, or a directory-partitioned layout: let Spark infer
    if files and not any(os.sep in os.path.relpath(f, path) for f in files):
        raw = (pq.read_metadata(files[0]).metadata or {}).get(_SPARK_ROW_METADATA)
    if raw is None:
        return spark.read.parquet(path)
    return spark.read.schema(StructType.fromJson(json.loads(raw))).parquet(path)


def _driver_marker_sums(files) -> dict | None:
    """marker_sums decoded on the driver with pyarrow (no Spark job — job
    launch latency is serial fraction against the scaling gate); None
    when the marker count is too big for the driver."""
    import pyarrow.dataset as ds

    tbl = ds.dataset(files, format="parquet").to_table(
        columns=["field", "df", "doc_bin", "tf_bin", "pos_bin", "dl_bin",
                 "block_meta"],
        filter=ds.field("term").is_null(),
    )
    if tbl.num_rows > 100_000:
        return None
    sums: dict[str, list] = {}
    for r in tbl.to_pylist():
        _ids, _tfs, _pos, dls = decode_posting_list(
            posting_row(r), with_positions=False
        )
        a = sums.setdefault(r["field"], [0, 0, 0, 1 << 62])
        a[0] += len(dls)
        a[1] += int(dls.sum())
        a[2] = max(a[2], int(dls.max()))
        a[3] = min(a[3], int(dls.min()))
    return sums


def _spark_marker_sums(segments: DataFrame) -> dict:
    """marker_sums as one small distributed decode over one row per
    (segment, field)."""

    def dec(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                _ids, _tfs, _pos, dls = decode_posting_list(
                    posting_row(r), with_positions=False
                )
                rows.append(
                    (
                        r["field"],
                        int(len(dls)),
                        int(dls.sum()),
                        int(dls.max()),
                        int(dls.min()),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["field", "n", "s", "mx", "mn"]
            )

    agg = (
        segments.where(F.col("term").isNull())
        .mapInPandas(dec, "field string, n long, s long, mx long, mn long")
        .groupBy("field")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s").alias("s"),
            F.max("mx").alias("mx"),
            F.min("mn").alias("mn"),
        )
        .collect()
    )
    return {
        r["field"]: [int(r["n"]), int(r["s"]), int(r["mx"]), int(r["mn"])]
        for r in agg
    }


def marker_sums(spark: SparkSession, files: list[str]) -> dict:
    """Exact per-field doc-length sums ``{field: [docs, dl_sum, dl_max,
    dl_min]}`` over the doc-length marker rows of these segment files — no
    docs-table scan, no extra tokenize pass. Decoded on the driver up to
    100k markers, past that by Spark."""
    if not files:
        return {}
    sums = _driver_marker_sums(files)
    if sums is None:
        sums = _spark_marker_sums(spark.read.parquet(*files))
    return sums


def add_sums(a: dict, b: dict) -> dict:
    """marker_sums of the union of two disjoint doc sets."""
    out = {f: list(v) for f, v in a.items()}
    for f, (n, s, mx, mn) in b.items():
        o = out.get(f)
        out[f] = (
            [n, s, mx, mn] if o is None
            else [o[0] + n, o[1] + s, max(o[2], mx), min(o[3], mn)]
        )
    return out


def stats_from_sums(
    sums: dict, field_config: dict, n_docs_fallback: int = 0
) -> dict:
    """meta.json corpus stats: n_docs and per-field avgdl / dl_max /
    dl_min, plus the exact sums they come from (``dl_docs``, ``dl_sum``)
    so an add can fold in its own batch (see sums_of). Keyword fields and
    an all-keyword config have no markers: n_docs falls back to
    ``n_docs_fallback``, the docs row count."""
    n_docs = max((a[0] for a in sums.values()), default=n_docs_fallback)
    stats = {
        "n_docs": n_docs, "avgdl": {}, "dl_max": {}, "dl_min": {},
        "dl_docs": {}, "dl_sum": {},
    }
    for field, aname in field_config.items():
        if aname == "keyword" or field not in sums:
            stats["avgdl"][field] = 1.0
            stats["dl_max"][field] = 1
            stats["dl_min"][field] = 1
            continue
        n, s, mx, mn = sums[field]
        stats["avgdl"][field] = float(s) / max(n, 1)
        stats["dl_max"][field] = mx
        stats["dl_min"][field] = mn
        stats["dl_docs"][field] = n
        stats["dl_sum"][field] = s
    return stats


def sums_of(stats: dict) -> dict | None:
    """The marker_sums a stats dict keeps; None for stats written before
    the sums were kept."""
    if "dl_sum" not in stats:
        return None
    return {
        f: [stats["dl_docs"][f], s, stats["dl_max"][f], stats["dl_min"][f]]
        for f, s in stats["dl_sum"].items()
    }


def _dir_bytes(p: str) -> int:
    if os.path.isfile(p):
        try:
            return os.path.getsize(p)
        except OSError:
            return 0
    total = 0
    for root, _d, files in os.walk(p):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total


class SegmentIndexBuilder:
    """Staged, resumable build. Each stage writes its parquet output then a
    manifest row; a re-run (after a crash) skips stages already 'done' —
    the segments_N commit-point protocol analog (c/src/index.c:1129-1167).

    ``salt_buckets`` is accepted and unused: it sized the salted merge of
    posting bytes that the term_stats stage replaced, and callers that
    still pass it keep working."""

    STAGES = ["docs", "segments", "term_stats", "meta"]

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        field_config: dict[str, str],
        seg_size: int = 4096,
        salt_buckets: int = 8,
    ):
        B.check_field_config(field_config)
        self.spark = spark
        self.path = path
        self.field_config = field_config
        self.seg_size = seg_size

    def _done(self) -> dict:
        return read_manifest(self.spark, self.path)

    def _finish(self, stage: str, df_count: int | None, t0: float, out_dir: str):
        append_manifest(
            self.spark,
            self.path,
            stage,
            {
                "rows": df_count if df_count is not None else -1,
                "bytes": _dir_bytes(out_dir),
                "elapsed_sec": time.time() - t0,
            },
        )

    def build(
        self,
        corpus: DataFrame | None,
        id_cols=None,
        doc_id_col: str | None = None,
        stop_after: str | None = None,
    ) -> "SegmentIndex | None":
        """Run (or resume) the staged build. ``stop_after`` kills the build
        after the named stage — used by resume tests to simulate a crash."""
        spark, path = self.spark, self.path
        os.makedirs(path, exist_ok=True)
        done = self._done()

        docs_dir = os.path.join(path, "docs")
        if "docs" not in done:
            t0 = time.time()
            # no tokenize here: the segment inverter is the single tokenize
            # pass (doc lengths ride its marker rows) — this stage is just
            # doc_id assignment + content sha256 + write
            docs = B.build_docs(
                corpus, self.field_config, id_cols, doc_id_col,
                keep_tokens=False, doc_lens=False, seg_size=self.seg_size,
            )
            keep = [c for c in docs.columns if not c.startswith("_toks_")]
            docs.select(*keep).write.mode("overwrite").parquet(docs_dir)
            # row count from parquet footers — no extra Spark job
            self._finish("docs", parquet_rows(docs_dir), t0, docs_dir)
        if stop_after == "docs":
            return None

        seg_dir = os.path.join(path, "segments")
        if "segments" not in self._done():
            t0 = time.time()
            docs = read_table(spark, docs_dir)
            n_docs_known = int(self._done().get("docs", {}).get("rows", 0))
            n_segs = max(1, (n_docs_known + self.seg_size - 1) // self.seg_size)
            segs = build_segments(
                docs, self.field_config, self.seg_size, n_segments=n_segs
            )
            # sorted-by-term within files -> parquet rowgroup stats prune
            # query-term scans (the .tii tier analog)
            (
                segs.sortWithinPartitions("seg_id", "field", "term")
                .write.mode("overwrite")
                .parquet(seg_dir)
            )
            self._finish("segments", parquet_rows(seg_dir), t0, seg_dir)
        if stop_after == "segments":
            return None

        ts_dir = os.path.join(path, "term_stats")
        if "term_stats" not in self._done():
            t0 = time.time()
            # reads only (field, term, df) of the segment rows
            term_stats_frame(
                read_table(spark, seg_dir), self._done()["segments"]["rows"]
            ).write.mode("overwrite").parquet(ts_dir)
            self._finish("term_stats", parquet_rows(ts_dir), t0, ts_dir)
        if stop_after == "term_stats":
            return None

        if "meta" not in self._done():
            t0 = time.time()
            n_docs = int(self._done().get("docs", {}).get("rows", 0))
            stats = stats_from_sums(
                marker_sums(spark, data_files(seg_dir)),
                self.field_config,
                n_docs_fallback=n_docs,
            )
            meta = {
                "stats": stats,
                "field_config": self.field_config,
                "seg_size": self.seg_size,
            }
            with open(os.path.join(path, "meta.json"), "w") as f:
                json.dump(meta, f)
            # size only meta.json — the whole index dir would double-count
            # every prior stage's bytes in the manifest
            self._finish("meta", 1, t0, os.path.join(path, "meta.json"))
        return SegmentIndex.load(spark, path)


def _term_dict_filter(pairs):
    """pyarrow filter matching exactly ``pairs``: an OR of (field, term)
    equalities, never the fields x terms cross-product. Equalities, not
    ``isin``: pyarrow prunes row groups by min/max for the former only."""
    import pyarrow.dataset as ds

    cond = None
    for f, t in pairs:
        c = (ds.field("field") == f) & (ds.field("term") == t)
        cond = c if cond is None else (cond | c)
    return cond


class SegmentIndex:
    """Read side of the segmented index."""

    def __init__(self, spark, path, docs, segments, term_stats, meta):
        self.spark = spark
        self.path = path
        self.docs = docs
        self.segments = segments
        self.term_stats = term_stats
        self.stats = meta["stats"]
        self.field_config = meta["field_config"]
        self.seg_size = meta["seg_size"]
        # live doc-id ranges (incremental adds leave boundary gaps)
        self.id_ranges = meta.get(
            "id_ranges", [[0, self.stats["n_docs"]]]
        )
        # per-reader filter cache: filter key -> expanded term tuple
        # (frt_filter_get_bv analog, c/src/filter.c:24-38)
        self.filter_cache: dict = {}
        # generation for the on-disk filter DOC-SET cache (bumped by
        # FerretIndex add/optimize via meta version); True enables the
        # per-generation doc-id parquet cache in wand._attach_filter_cache
        self.generation = meta.get("version", 0)
        self.filter_doc_cache = True

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "SegmentIndex":
        import pyarrow.dataset as ds

        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        seg_raw = read_table(spark, os.path.join(path, "segments"))
        # one term_stats per merge generation (tiered merge policy,
        # iw_maybe_merge_segments analog c/src/index.c:6280-6309). A
        # generation's "merged" key, written by older builds, names a copy
        # of the postings that nothing reads
        ts_dirs = [
            os.path.join(path, g["term_stats"])
            for g in meta.get("generations") or [{"term_stats": "term_stats"}]
        ]
        term_stats = read_table(spark, ts_dirs[0])
        if len(ts_dirs) > 1:
            # lazily aggregated union: a term filter pushes below the union
            # and the aggregate, so df lookups stay cheap
            for d in ts_dirs[1:]:
                term_stats = term_stats.unionByName(read_table(spark, d))
            term_stats = term_stats_of(
                term_stats.groupBy("field", "term").agg(F.sum("df").alias("df"))
            )
        idx = cls(
            spark,
            path,
            read_table(spark, os.path.join(path, "docs")),
            # NULL-term rows are per-segment doc-length markers, not postings
            seg_raw.where(F.col("term").isNotNull()),
            term_stats,
            meta,
        )
        idx.seg_markers = seg_raw.where(F.col("term").isNull())
        # the generations' term dictionaries as driver-side pyarrow
        # datasets for doc_freqs (file listing once per reader open; each
        # file's footer is read on its first lookup and kept)
        idx._term_dicts = [ds.dataset(d, format="parquet") for d in ts_dirs]
        return idx

    @property
    def n_docs(self) -> int:
        return self.stats["n_docs"]

    def avgdl(self, field: str) -> float:
        return self.stats["avgdl"][field]

    def doc_freqs(self, pairs):
        """Global df of each requested (field, term) pair, 0 when absent,
        summed over the generations. A driver-side pyarrow read of exactly
        those pairs: every term_stats file is written sorted by (field,
        term), so file and row-group min/max statistics bound the read,
        and a lookup runs no Spark job — the TermInfo seek of the
        reference's searcher (c/include/index.h:239-252)."""
        out = dict.fromkeys(pairs, 0)
        if not out:
            return out
        cond = _term_dict_filter(out)
        for d in self._term_dicts:
            t = d.to_table(columns=["field", "term", "df"], filter=cond)
            for f, term, df in zip(
                *(t[c].to_pylist() for c in ("field", "term", "df"))
            ):
                out[(f, term)] += df
        return out

    def search(
        self,
        q,
        k: int = 10,
        offset: int = 0,
        similarity: str = "bm25",
        doc_boosts: dict[int, float] | None = None,
        post_filter=None,
    ):
        from ferret_spark.wand import segment_search

        return segment_search(
            self,
            q,
            k=k,
            offset=offset,
            similarity=similarity,
            doc_boosts=doc_boosts,
            post_filter=post_filter,
        )

    def query(self, fql: str, k: int = 10, offset: int = 0, **parser_kw):
        """Parse an FQL string (Ferret Query Language) and search."""
        from ferret_spark.parser import QueryParser

        tokenized = [
            f for f, a in self.field_config.items() if a != "keyword"
        ]
        default_analyzer = (
            self.field_config.get(tokenized[0], "standard") if tokenized else "standard"
        )
        p = QueryParser(
            default_field=tokenized[0] if tokenized else "content",
            fields=list(self.field_config),
            tokenized_fields=tokenized,
            analyzer=parser_kw.pop("analyzer", default_analyzer),
            **parser_kw,
        )
        q = p.parse(fql)
        if q is None:
            return self.spark.createDataFrame([], "doc_id long, score float")
        return self.search(q, k=k, offset=offset)

    def cache(self) -> "SegmentIndex":
        """Persist the hot query-side tables in executor memory (the warm
        'reader open' state — segment rows + term dictionary).

        Segment rows are cached range-partitioned by seg_id into
        n = min(spark.sql.shuffle.partitions, segment span) partitions:
        every segment's rows sit in one partition, so the scoring
        groupBy(seg_id) finds its clustered distribution satisfied and
        plans no Exchange — a query over the cached rows is one job of one
        stage. Contiguous seg_id ranges per partition also even out the
        scoring tasks, where hash placement put 12–20 of 128 segments on
        each of 8 partitions. Plans that union stub, ``__filt__`` or
        ``__del__`` rows still exchange."""
        from ferret_spark.wand import _n_segs_span

        n = min(
            int(self.spark.conf.get("spark.sql.shuffle.partitions")),
            _n_segs_span(self, self.n_docs, self.seg_size),
        )
        self.segments = self.segments.repartitionByRange(n, "seg_id").persist()
        self.term_stats = self.term_stats.persist()
        self.segments.count()
        self.term_stats.count()
        return self
