"""Index build (write path) — DataFrame jobs.

Reference parity (WHAT, not HOW):
- field inversion  dw_invert_field  c/src/index.c:5565-5640
- norms replaced by exact doc_len   c/src/index.c:5676-5681 (BM25 needs dl)
- global stats (df, N, avgdl) computed BEFORE scoring — the reference's own
  distributed-correctness blueprint (MultiSearcher CachedDFSearcher,
  c/src/search.c:1305-1441,1516-1554)

Spark-first design notes (100 TB posture):
- doc_id assignment is the only global ordering step: a two-phase
  bucket-count + window trick — per-bucket row_number plus bucket offsets
  held in the plan as one array literal — no single-partition window, no
  RDD round-trip.
- tokenization is one vectorized pandas UDF (Arrow batches); positions ride
  for free as posexplode indices (stop-dropped slots are NULL so positional
  gaps survive).
- postings groupBy((field,term,doc_id)) is a map-side-combinable aggregate;
  Catalyst does partial aggregation before the shuffle.
- the postings table is written repartitionByRange(field, term) +
  sortWithinPartitions so parquet rowgroup min/max stats give term-dict
  pruning at query time (the .tii tier analog, c/src/index.c:2256-2295).
"""

from __future__ import annotations

from typing import Iterable, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ferret_spark.analysis import get_analyzer

DOC_ID_BUCKETS = 1024


def check_field_config(field_config: dict[str, str]) -> None:
    """Reject, on the driver and before anything is written, a field whose
    analyzer no build path can run: a hyphen pipeline emits same-position
    (term, pos) pairs that ``Analyzer.tokens_pandas`` (index == position)
    cannot express, so it would raise inside a Python worker after the
    first stage had committed."""
    for field, aname in field_config.items():
        if aname != "keyword" and get_analyzer(aname).hyphens:
            raise ValueError(
                f"field {field!r}: analyzer {aname!r} is a hyphen pipeline, "
                "which the index builds cannot tokenize"
            )


def tokenize_udf(analyzer_name: str):
    """array<string> tokens where index == position; NULL = stopped slot."""
    analyzer = get_analyzer(analyzer_name)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _tok(s: pd.Series) -> pd.Series:
        return analyzer.tokens_pandas(s)

    return _tok


def doc_len_udf(analyzer_name: str):
    """int doc_len (post-filter token count) — avoids shipping whole token
    arrays through Arrow when only the BM25 length is needed."""
    analyzer = get_analyzer(analyzer_name)

    @F.pandas_udf(T.IntegerType())
    def _dl(s: pd.Series) -> pd.Series:
        toks = analyzer.tokens_pandas(s)
        return toks.map(
            lambda ts: sum(1 for t in ts if t is not None and t != "")
        ).astype("int32")

    return _dl


# Analyzers whose token stream is exactly expressible as whole-stage-
# codegen JVM expressions (guide §4.1: built-ins over UDFs). Semantics
# mirrored from analysis.tokens_pandas and property-tested against it
# (tests/test_build_jvm_tokens.py):
#   whitespace      findall(\S+) + lower  == filter(split, t<>'') + lower
#   whitespace_raw  findall(\S+)
#   letter          findall([A-Za-z]+) + lower
# (split on \s+ yields only a leading empty segment — Java split drops
# trailing empties — so the filtered array equals the findall list, and
# the array index stays the token position.)
_JVM_TOKEN_EXPRS = {
    # coalesce to '' first: the pandas surface fillna("")s, and a NULL
    # would otherwise propagate to a NULL token array
    "whitespace": (
        r"transform(filter(split(coalesce(cast({c} as string), ''),"
        r" '\\s+'), t -> t != ''), t -> lower(t))"
    ),
    "whitespace_raw": (
        r"filter(split(coalesce(cast({c} as string), ''), '\\s+'),"
        r" t -> t != '')"
    ),
    "letter": (
        r"transform(regexp_extract_all(coalesce(cast({c} as string), ''),"
        r" '[A-Za-z]+', 0), t -> lower(t))"
    ),
}


def jvm_tokens_expr(analyzer_name, col: str):
    """JVM token-array expression for ``analyzer_name`` or None when the
    pipeline needs the Python surface (standard rules, stop words, stems,
    custom instances)."""
    if not isinstance(analyzer_name, str):
        return None
    tpl = _JVM_TOKEN_EXPRS.get(analyzer_name)
    return None if tpl is None else F.expr(tpl.format(c=col))


def assign_doc_ids(
    df: DataFrame,
    order_cols: Sequence[str],
    buckets: int = DOC_ID_BUCKETS,
    seg_size: int | None = None,
) -> DataFrame:
    """Deterministic dense global doc_id without a single-partition sort.

    Global order = (bucket, *order_cols) where bucket = xxhash64(order_cols)
    mod ``buckets``. Per-bucket row_number runs as an ordinary shuffled
    window; bucket base offsets are a tiny driver-side cumulative sum.
    Stable across parallelism levels (N vs 4N) because the order is purely
    data-dependent.

    With ``seg_size`` the window runs one partition per ``seg_size`` rows
    of the batch, at most ``spark.sql.shuffle.partitions``: a one-segment
    add runs one task and writes one docs file.
    """
    cols = [F.col(c) for c in order_cols]
    with_b = df.withColumn("_b", F.pmod(F.xxhash64(*cols), F.lit(buckets)))
    counts = {
        r["_b"]: r["cnt"]
        for r in with_b.groupBy("_b").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for b in range(buckets):
        offsets.append(acc)
        acc += counts.get(b, 0)
    # the offsets as ONE array literal indexed by bucket, built as a single
    # SQL string: a plan constant, where a join against a createDataFrame
    # of them broadcast a LogicalRDD in its own job on every action, and
    # F.lit(list) would cost one py4j call per bucket
    off = F.expr(f"array({', '.join(f'{o}L' for o in offsets)})[_b]")
    if seg_size:
        # hash partitioning on _b satisfies the window's distribution, so
        # this is its only exchange
        cap = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        n_part = min(cap, max(1, -(-acc // seg_size)))
        with_b = with_b.repartition(n_part, "_b")
    w = Window.partitionBy("_b").orderBy(*cols)
    return (
        with_b.withColumn("_rn", F.row_number().over(w) - 1)
        .withColumn("doc_id", (off + F.col("_rn")).cast("long"))
        .drop("_b", "_rn")
    )


def build_docs(
    corpus: DataFrame,
    field_config: dict[str, str],
    id_cols: Sequence[str] | None = None,
    doc_id_col: str | None = None,
    keep_tokens: bool = True,
    doc_lens: bool = True,
    seg_size: int | None = None,
) -> DataFrame:
    """Docs table: doc_id + original columns + sha256 of each tokenized
    field (input_hint invariant), plus per-field doc_len when requested.

    ``keep_tokens=True`` (declarative postings path) materializes token
    arrays. ``keep_tokens=False, doc_lens=True`` computes doc_len via a
    count-only UDF. ``doc_lens=False`` (segment build path) skips
    tokenization entirely — the segment inverter is the ONLY tokenize pass
    and emits per-segment doc-length marker rows itself. ``seg_size`` sizes
    doc-id assignment's partitions by the batch (see assign_doc_ids).
    """
    if doc_id_col:
        df = corpus.withColumn("doc_id", F.col(doc_id_col).cast("long"))
    else:
        assert id_cols, "need id_cols or doc_id_col"
        df = assign_doc_ids(corpus, id_cols, seg_size=seg_size)
    for field, aname in field_config.items():
        if aname == "keyword":
            continue
        jvm_toks = jvm_tokens_expr(aname, field)
        if keep_tokens:
            if jvm_toks is not None:
                # pure-JVM tokenize: no ArrowEvalPython in the build plan,
                # no null slots (these pipelines drop nothing), so doc_len
                # is just the array size
                df = df.withColumn(f"_toks_{field}", jvm_toks).withColumn(
                    f"doc_len_{field}", F.size(F.col(f"_toks_{field}"))
                )
            else:
                tok = tokenize_udf(aname)
                df = df.withColumn(
                    f"_toks_{field}", tok(F.col(field).cast("string"))
                ).withColumn(
                    f"doc_len_{field}",
                    F.size(
                        F.filter(
                            F.col(f"_toks_{field}"), lambda t: t.isNotNull()
                        )
                    ),
                )
        elif doc_lens:
            if jvm_toks is not None:
                df = df.withColumn(f"doc_len_{field}", F.size(jvm_toks))
            else:
                dl = doc_len_udf(aname)
                df = df.withColumn(
                    f"doc_len_{field}", dl(F.col(field).cast("string"))
                )
        df = df.withColumn(
            f"sha256_{field}", F.sha2(F.col(field).cast("string"), 256)
        )
    return df


def build_postings(docs: DataFrame, field_config: dict[str, str]) -> DataFrame:
    """Exploded postings: (field, term, doc_id, tf, positions, doc_len).

    doc_len is denormalized into postings so query-time scoring never joins
    back to the docs table (norms inlined next to postings, like the
    reference keeps norms segment-local).
    """
    parts = []
    for field, aname in field_config.items():
        if aname == "keyword":
            fp = docs.select(
                F.lit(field).alias("field"),
                F.col(field).cast("string").alias("term"),
                "doc_id",
                F.lit(1).alias("tf"),
                F.array(F.lit(0)).alias("positions"),
                F.lit(1).alias("doc_len"),
            ).where(F.col("term").isNotNull())
            parts.append(fp)
            continue
        toks = docs.select(
            "doc_id",
            F.col(f"doc_len_{field}").alias("doc_len"),
            F.posexplode(F.col(f"_toks_{field}")).alias("pos", "term"),
        ).where(F.col("term").isNotNull() & (F.col("term") != ""))
        fp = (
            toks.groupBy("doc_id", "doc_len", "term")
            .agg(
                F.count("*").cast("int").alias("tf"),
                F.sort_array(F.collect_list("pos")).alias("positions"),
            )
            .select(
                F.lit(field).alias("field"),
                "term",
                "doc_id",
                "tf",
                "positions",
                "doc_len",
            )
        )
        parts.append(fp)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def build_term_stats(postings: DataFrame) -> DataFrame:
    """(field, term, df) — global document frequency. Must be global before
    any scoring (CachedDFSearcher lesson, c/src/search.c:1305-1441)."""
    return postings.groupBy("field", "term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("ttf")
    )


def build_corpus_stats(docs: DataFrame, field_config: dict[str, str]) -> dict:
    aggs = [F.count("*").alias("n_docs")]
    for field, aname in field_config.items():
        if aname != "keyword":
            aggs.append(F.avg(f"doc_len_{field}").alias(f"avgdl_{field}"))
    row = docs.agg(*aggs).collect()[0].asDict()
    stats = {"n_docs": row["n_docs"], "avgdl": {}}
    for field, aname in field_config.items():
        if aname != "keyword":
            stats["avgdl"][field] = float(row[f"avgdl_{field}"] or 0.0)
        else:
            stats["avgdl"][field] = 1.0
    return stats
