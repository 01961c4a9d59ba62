"""SparkIndex — the engine facade (the reference's Index facade analog,
ruby/lib/ferret/index.rb:91-161 / c/src/ind.c).

Bundles the index tables (docs, postings, term_stats) + driver-cached
corpus stats (N, avgdl per field), and exposes build/load/save/search.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from ferret_spark import build as B
from ferret_spark.query import Query


class SparkIndex:
    def __init__(
        self,
        spark: SparkSession,
        docs: DataFrame,
        postings: DataFrame,
        term_stats: DataFrame,
        stats: dict,
        field_config: dict[str, str],
    ):
        self.spark = spark
        self.docs = docs
        self.postings = postings
        self.term_stats = term_stats
        self.stats = stats
        self.field_config = field_config

    # -- construction --------------------------------------------------------
    @classmethod
    def build(
        cls,
        spark: SparkSession,
        corpus: DataFrame,
        field_config: dict[str, str],
        id_cols=None,
        doc_id_col: str | None = None,
        cache: bool = True,
    ) -> "SparkIndex":
        B.check_field_config(field_config)
        # r7: widen a narrow source before the build — a single-file
        # corpus otherwise scans as ONE task, and the cached docs keep
        # that width, so tokenize + the postings explode/partial-agg all
        # ran serially until the first exchange (measured 3x on the whole
        # build). Only applied when the scan is narrower than the
        # cluster's parallelism; an already-wide 100 TB scan is left
        # untouched.
        try:
            par = spark.sparkContext.defaultParallelism
            if corpus.rdd.getNumPartitions() < par:
                corpus = corpus.repartition(par)
        except Exception:  # pragma: no cover — exotic sources
            pass
        docs = B.build_docs(corpus, field_config, id_cols, doc_id_col)
        if cache:
            docs = docs.persist()
        postings = B.build_postings(docs, field_config)
        if cache:
            # cluster the cached postings by (field, term): the in-memory
            # cache keeps per-batch min/max stats, and with terms
            # clustered a term-filter scan prunes to a handful of cached
            # batches instead of evaluating the predicate over every
            # posting row (r7: ~0.36s per term scan at sf1.0 -> ~10ms;
            # every declarative query scans postings once per term). One
            # extra range exchange at build time; row order is internal —
            # results are unaffected.
            # (a partition-local sort without the range exchange was
            # measured and rejected: hash partitions span the whole
            # vocabulary, so cached batches stay term-wide and term scans
            # regressed to ~2.4s)
            postings = postings.repartitionByRange(
                "field", "term"
            ).sortWithinPartitions("field", "term").persist()
        term_stats = B.build_term_stats(postings)
        if cache:
            term_stats = term_stats.persist()
        stats = B.build_corpus_stats(docs, field_config)
        return cls(spark, docs, postings, term_stats, stats, field_config)

    def save(self, path: str):
        """Persist as parquet laid out for query-time pruning: postings
        range-partitioned+sorted by (field, term) so parquet min/max stats
        act as the term-dict index tier (.tii analog)."""
        (
            self.postings.repartitionByRange("field", "term")
            .sortWithinPartitions("field", "term", "doc_id")
            .write.mode("overwrite")
            .parquet(os.path.join(path, "postings"))
        )
        self.docs.write.mode("overwrite").parquet(os.path.join(path, "docs"))
        (
            self.term_stats.repartitionByRange("field", "term")
            .sortWithinPartitions("field", "term")
            .write.mode("overwrite")
            .parquet(os.path.join(path, "term_stats"))
        )
        meta = {"stats": self.stats, "field_config": self.field_config}
        with open(os.path.join(path, "meta.json"), "w") as f:
            json.dump(meta, f)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "SparkIndex":
        from ferret_spark.segments import read_table

        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        return cls(
            spark,
            read_table(spark, os.path.join(path, "docs")),
            read_table(spark, os.path.join(path, "postings")),
            read_table(spark, os.path.join(path, "term_stats")),
            meta["stats"],
            meta["field_config"],
        )

    # -- stats helpers -------------------------------------------------------
    @property
    def n_docs(self) -> int:
        return self.stats["n_docs"]

    def avgdl(self, field: str) -> float:
        return self.stats["avgdl"][field]

    def doc_freqs(self, pairs: list[tuple[str, str]]) -> dict[tuple[str, str], int]:
        """Driver-side df lookup for the query terms (one tiny job with
        pushed-down predicates — the 'reader open' analog)."""
        from ferret_spark.wand import _exact_pair_cond

        if not pairs:
            return {}
        rows = (
            self.term_stats.where(_exact_pair_cond(pairs))
            .select("field", "term", "df")
            .collect()
        )
        got = {(r["field"], r["term"]): r["df"] for r in rows}
        return {p: got.get(p, 0) for p in pairs}

    # -- search (declarative DataFrame planner) ------------------------------
    def search(self, q: Query, k: int = 10, offset: int = 0) -> DataFrame:
        from ferret_spark.search import plan_topk

        return plan_topk(self, q, k, offset)

    def hits_df(self, q: Query) -> DataFrame:
        from ferret_spark.search import plan_scores, spark_rewrite

        return plan_scores(self, spark_rewrite(self, q)).select("doc_id")
