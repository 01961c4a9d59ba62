"""The two workloads. Each generates its inputs in ``__init__`` (not
timed); a ``warm`` call, the first public call on a tiny input, which
every set-up repetition runs; a ``prime`` call that runs the whole
workload once on the tiny input, so that the timed region starts after
Spark's code generation and the first JIT compiles; and a ``run`` step:
the timed region, then the output checks.

Why these two: ``index`` runs the index-build layers (tokenize, invert,
encode, salted merge, tiered generation merge) and the query layers
(rewrite, term stats, segment scan and decode, scoring, top-k) and no
pipeline op; ``dedup`` runs only ``ferret_spark.pipeline`` and neither
index engine. A change to one side is exercised by one workload and
bypassed by the other, where the prediction is no change.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import inputs as I
import tracing as T


@dataclass
class Checks:
    """Operations attempted and failed (raised or mismatched the oracle)."""

    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)

    def record(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(name)


@dataclass
class Ctx:
    spark: object
    tracer: T.Tracer
    work: str
    checks: Checks = field(default_factory=Checks)
    # every figure the run reports: name -> (value, unit)
    table: dict = field(default_factory=dict)
    # the end-to-end metrics of BENCHMARK.json, and per-layer figures
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    timed_end: float = 0.0
    session: tuple = ()

    def put(self, name: str, value: float, unit: str) -> None:
        self.table[name] = (float(value), unit)


def _write(pdf: pd.DataFrame, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf.to_parquet(path, index=False)
    return path


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(path)
        for f in fs
    )


def _topk_matches(rows, expect) -> bool:
    """Engine rows (doc_id, score) against oracle [(doc_id, float32)]: same
    ids in the same order and float32-identical scores."""
    got = [(int(r["doc_id"]), np.float32(r["score"])) for r in rows]
    return got == [(int(d), np.float32(s)) for d, s in expect]


class _Oracle:
    """OracleIndex over source rows ordered by the engine's doc ids, so
    that ties break identically. Engine ids may have gaps (incremental
    adds start at a segment boundary); oracle positions map to them in
    order."""

    def __init__(self, corpus: pd.DataFrame, docs_dir: str):
        from ferret_spark.oracle import OracleIndex

        ids = pd.read_parquet(docs_dir, columns=["doc_id", "commit"])
        ordered = corpus.merge(ids, on="commit").sort_values("doc_id")
        self.ids = ordered["doc_id"].to_numpy()
        self.index = OracleIndex(ordered.to_dict("records"), I.FIELD_CONFIG)

    def search(self, q, k: int = 10):
        return [(int(self.ids[d]), s) for d, s in self.index.search(q, k=k)]


# --------------------------------------------------------------------- index

SEG_SIZE = 512
SALT_BUCKETS = 8
# two generations allowed: the base plus one add; the second add makes
# three and triggers one tiered merge of the two smallest
MERGE_FACTOR = 2
BATCH_SIZE = 16


class Index:
    """Bulk build, reader open, a batched query log, single queries, then
    small incremental adds, all on one seeded source-code corpus."""

    name = "index"

    def __init__(self, seed: int, seconds: int, work: str):
        # input sizes scale with ``seconds``
        self.n_bulk = 75 * seconds
        self.n_add = 5 * seconds
        self.n_adds = 2
        self.n_single = 20
        self.n_batches = 2
        self.seed = seed
        self.work = work
        self.corpus = I.code_corpus(seed, 0, self.n_bulk)
        self.src = _write(self.corpus, f"{work}/in/bulk.parquet")
        self.adds = [
            I.code_corpus(seed, self.n_bulk + j * self.n_add, self.n_add)
            for j in range(self.n_adds)
        ]
        self.add_paths = [
            _write(a, f"{work}/in/add{j}.parquet") for j, a in enumerate(self.adds)
        ]
        self.tiny = _write(I.code_corpus(seed + 1, 0, 32), f"{work}/in/tiny.parquet")
        self.source_bytes = int(self.corpus["content"].str.len().sum())
        from ferret_spark.oracle import OracleIndex

        postings = OracleIndex(self.corpus.to_dict("records"), I.FIELD_CONFIG).postings[I.FIELD]
        self.singles = I.query_stream(seed, self.corpus, postings, self.n_single)
        log = I.query_stream(seed, self.corpus, postings, 2 * BATCH_SIZE * self.n_batches, stream=1)
        self.batch_log = [q for q in log if not I.is_phrase(q)][: BATCH_SIZE * self.n_batches]
        self._warm_n = 0

    def warm(self, spark) -> None:
        from ferret_spark.segments import SegmentIndexBuilder

        self._warm_n += 1
        self._tiny_path = f"{self.work}/tiny{self._warm_n}"
        SegmentIndexBuilder(spark, self._tiny_path, I.FIELD_CONFIG, seg_size=SEG_SIZE).build(
            spark.read.parquet(self.tiny), id_cols=I.ID_COLS, stop_after="docs"
        )

    def prime(self, spark) -> None:
        """Finish the last warm-up's tiny build, open it, and run one batch
        and one single query of each shape on it. The add path runs the
        build's plan shapes."""
        from ferret_spark.segments import SegmentIndex, SegmentIndexBuilder
        from ferret_spark.wand import segment_batch_search

        path = self._tiny_path
        SegmentIndexBuilder(spark, path, I.FIELD_CONFIG, seg_size=SEG_SIZE).build(
            spark.read.parquet(self.tiny), id_cols=I.ID_COLS
        )
        idx = SegmentIndex.load(spark, path).cache()
        segment_batch_search(idx, self.batch_log[:BATCH_SIZE], k=10).collect()
        for q in self.singles[:8]:  # one of each shape
            idx.search(q, k=10).collect()

    def run(self, ctx: Ctx) -> None:
        from ferret_spark.ind import FerretIndex
        from ferret_spark.segments import SegmentIndex, SegmentIndexBuilder

        spark, tr = ctx.spark, ctx.tracer
        path = f"{ctx.work}/index"
        t_start = time.perf_counter()
        builder = SegmentIndexBuilder(
            spark, path, I.FIELD_CONFIG, seg_size=SEG_SIZE, salt_buckets=SALT_BUCKETS
        )
        stage_s = {}
        if tr.enabled:
            # one call per stage, each resuming the last
            for stage in builder.STAGES:
                s0 = time.perf_counter()
                with tr.span("build", stage):
                    corpus = spark.read.parquet(self.src)
                    builder.build(corpus, id_cols=I.ID_COLS, stop_after=stage)
                stage_s[stage] = time.perf_counter() - s0
        else:
            builder.build(spark.read.parquet(self.src), id_cols=I.ID_COLS)
        bulk_s = time.perf_counter() - t_start
        codec = {
            d: _dir_bytes(f"{path}/{d}") for d in ("docs", "segments", "merged", "term_stats")
        }
        with tr.span("segments", "open"):
            o0 = time.perf_counter()
            idx = SegmentIndex.load(spark, path).cache()
            open_s = time.perf_counter() - o0

        batches = self._batches(ctx, idx)
        singles = self._singles(ctx, idx)

        with tr.span("ind", "open"):
            fi = FerretIndex(spark, path, merge_factor=MERGE_FACTOR)
        add_ms, merge_ms, gens = [], [], 1
        for j, p in enumerate(self.add_paths):
            a0 = time.perf_counter()
            with tr.span("ind", f"add{j}"):
                fi.add_documents(spark.read.parquet(p), id_cols=I.ID_COLS)
            add_ms.append((time.perf_counter() - a0) * 1000)
            with open(f"{path}/meta.json") as f:
                now = len(json.load(f)["generations"])
            if now <= gens:  # the add collapsed generations
                merge_ms.append(add_ms[-1])
            gens = now
        ctx.timed_end = time.time()
        timed_s = time.perf_counter() - t_start

        ctx.put("timed_s", timed_s, "s")
        ctx.put("build_docs_per_s", self.n_bulk / bulk_s, "1/s")
        ctx.put("index_bytes_per_source_byte", sum(codec.values()) / self.source_bytes, "ratio")
        ctx.put("open_s", open_s, "s")
        ctx.put("add_docs_per_s", self.n_add * self.n_adds / (sum(add_ms) / 1000), "1/s")
        ctx.e2e = {
            "timed_s": timed_s,
            "bulk_items_per_s": ctx.table["build_docs_per_s"][0],
            "call_p50_ms": ctx.table["query_p50_ms"][0],
        }
        if tr.enabled:
            for stage, s in stage_s.items():
                ctx.layer[f"build.{stage}_s"] = s
            for d, b in codec.items():
                ctx.layer[f"codec.{d}_bytes"] = b
            ctx.layer["ind.add_ms"] = statistics.median(add_ms)
            ctx.layer["ind.tier_merge_add_ms"] = merge_ms[0] if merge_ms else 0.0
            ctx.layer["ind.generations"] = gens
            ctx.layer["segments.open_s"] = open_s

        oracle = _Oracle(self.corpus, f"{path}/docs")
        for j, (q, rows) in enumerate(zip(self.singles, singles)):
            ctx.checks.record(f"query{j}", _topk_matches(rows, oracle.search(q)))
        for b, (qs, rows) in enumerate(batches):
            by_q: dict = {}
            for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
                by_q.setdefault(r["query_id"], []).append(r)
            for i, q in enumerate(qs):
                ctx.checks.record(f"batch{b}.{i}", _topk_matches(by_q.get(i, []), oracle.search(q)))
        self._check_adds(ctx, fi, path)

    def _singles(self, ctx: Ctx, idx) -> list:
        """The single-query stream, one closed-loop client: plan (until
        search() returns) and execute (collect) are timed apart."""
        from ferret_spark.wand import _collect_terms, wand_rewrite

        tr = ctx.tracer
        lat, phrase, plan, exe, results = [], [], [], [], []
        rewrite_ms, dfs_ms = [], []
        for j, q in enumerate(self.singles):
            if tr.enabled:
                # the first two query layers, called on their own
                with tr.span("wand", f"rewrite{j}"):
                    r0 = time.perf_counter()
                    rq = wand_rewrite(idx, q)
                    rewrite_ms.append((time.perf_counter() - r0) * 1000)
                with tr.span("segments", f"doc_freqs{j}"):
                    r0 = time.perf_counter()
                    idx.doc_freqs(sorted(set(_collect_terms(rq))))
                    dfs_ms.append((time.perf_counter() - r0) * 1000)
            with tr.span("wand", f"query{j}") as sp:
                t0 = time.perf_counter()
                df = idx.search(q, k=10)
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
            if sp is not None:
                sp.attrs["hits"] = len(rows)
            results.append(rows)
            plan.append((t1 - t0) * 1000)
            exe.append((t2 - t1) * 1000)
            lat.append((t2 - t0) * 1000)
            if I.is_phrase(q):
                phrase.append(lat[-1])
        ctx.put("query_p50_ms", statistics.median(lat), "ms")
        tail = T.tail_percentile(len(lat))
        if tail is not None and tail > 50:
            ctx.put(f"query_p{tail:g}_ms", T.nearest_rank(lat, tail), "ms")
        ctx.put("query_samples", len(lat), "count")
        ctx.put("phrase_p50_ms", statistics.median(phrase), "ms")
        if tr.enabled:
            ctx.layer["wand.rewrite_ms"] = statistics.median(rewrite_ms)
            ctx.layer["segments.doc_freqs_ms"] = statistics.median(dfs_ms)
            ctx.layer["wand.plan_ms"] = statistics.median(plan)
            ctx.layer["wand.exec_ms"] = statistics.median(exe)
        return results

    def _batches(self, ctx: Ctx, idx) -> list:
        from ferret_spark.wand import segment_batch_search

        tr = ctx.tracer
        plan, exe, out = [], [], []
        for b in range(self.n_batches):
            qs = self.batch_log[b * BATCH_SIZE : (b + 1) * BATCH_SIZE]
            with tr.span("wand", f"batch{b}", queries=len(qs)):
                t0 = time.perf_counter()
                df = segment_batch_search(idx, qs, k=10)
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
            plan.append((t1 - t0) * 1000)
            exe.append((t2 - t1) * 1000)
            out.append((qs, rows))
        n = sum(len(qs) for qs, _r in out)
        ctx.put("batch_qps", n / ((sum(plan) + sum(exe)) / 1000), "1/s")
        if tr.enabled:
            ctx.layer["wand.batch_plan_ms"] = statistics.median(plan)
            ctx.layer["wand.batch_exec_ms"] = statistics.median(exe)
        return out

    def _check_adds(self, ctx: Ctx, fi, path: str) -> None:
        """Each build/add op: its rows are present once with the source's
        content sha256. Then oracle queries on the multi-generation index."""
        docs = pd.read_parquet(f"{path}/docs", columns=["doc_id", "commit", "sha256_content"])
        batches = [("bulk", self.corpus)] + [(f"add{j}", a) for j, a in enumerate(self.adds)]
        for name, src in batches:
            got = docs[docs["commit"].isin(src["commit"])]
            want = {
                c: hashlib.sha256(t.encode()).hexdigest()
                for c, t in zip(src["commit"], src["content"])
            }
            ok = len(got) == len(src) and all(
                want[c] == h for c, h in zip(got["commit"], got["sha256_content"])
            )
            ctx.checks.record(name, ok)
        ctx.put("docs_rows", len(docs), "count")
        oracle = _Oracle(pd.concat([s for _n, s in batches], ignore_index=True), f"{path}/docs")
        # an AND query: two terms across generations
        for j, q in enumerate(self.singles[2:3]):
            rows = fi.search(q, k=10).collect()
            ctx.checks.record(f"after_adds{j}", _topk_matches(rows, oracle.search(q)))

    def declarative(self, ctx: Ctx) -> None:
        """Traced runs only, after the timed region: the same single-query
        stream through the declarative engine (SparkIndex)."""
        from ferret_spark.index import SparkIndex

        spark = ctx.spark
        sidx = SparkIndex.build(spark, spark.read.parquet(self.src), I.FIELD_CONFIG, id_cols=I.ID_COLS)
        sidx.search(self.singles[0], k=10).collect()
        lat = []
        for j, q in enumerate(self.singles):
            with ctx.tracer.span("index", f"query{j}"):
                t0 = time.perf_counter()
                sidx.search(q, k=10).collect()
                lat.append((time.perf_counter() - t0) * 1000)
        ctx.layer["index.query_p50_ms"] = statistics.median(lat)


# --------------------------------------------------------------------- dedup

# (pipeline op, its __spark_entry__ query name: the DuckDB twin's key)
DEDUP_OPS = (
    ("dedup_exact", "pp_dedup_exact"),
    ("dedup_ngram_jaccard", "pp_dedup_ngram_jaccard"),
    ("dedup_minhash_lsh", "pp_dedup_minhash_lsh"),
    ("dedup_simhash", "pp_dedup_simhash"),
    ("dedup_clusters", "pp_dedup_clusters"),
    ("keywords_tfidf", "pp_keywords_tfidf"),
    ("fingerprint_winnow", "pp_fingerprint_winnow"),
    ("text_token_count", "pp_token_count"),
)


def _rows_to_pandas(rows, columns) -> pd.DataFrame:
    return pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)


class Dedup:
    name = "dedup"

    def __init__(self, seed: int, seconds: int, work: str):
        import __spark_entry__ as entry

        self.n_docs = 100 * seconds
        self.work = work
        self.table = f"{work}/in/timed"
        _write(I.dedup_documents(seed, self.n_docs), f"{self.table}/documents.parquet")
        self.tiny = f"{work}/in/tiny"
        _write(I.dedup_documents(seed + 1, 64), f"{self.tiny}/documents.parquet")
        queries = entry.queries()
        # the entry's wrappers carry the same arguments as the twins
        self.ops = [(op, queries[key], entry.oracle_sql()[key]) for op, key in DEDUP_OPS]

    def warm(self, spark) -> None:
        self.ops[0][1](spark, self.tiny).collect()

    def prime(self, spark) -> None:
        """Every op on the tiny table. The DuckDB twins of the timed table
        run beside it: neither is timed, and they are done before the
        timed region starts."""
        with ThreadPoolExecutor(1) as ex:
            twins = ex.submit(self._twins)
            for _op, fn, _sql in self.ops:
                fn(spark, self.tiny).collect()
            self.expected = twins.result()

    def _twins(self) -> list:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(
                "create view documents as select * from "
                f"parquet_scan('{self.table}/documents.parquet')"
            )
            return [con.execute(sql).df() for _op, _f, sql in self.ops]
        finally:
            con.close()

    def run(self, ctx: Ctx) -> None:
        from ferret_spark.pipeline import cap_drop_stats

        tr = ctx.tracer
        walls, outs = [], []
        t0 = time.perf_counter()
        for op, fn, _sql in self.ops:
            with tr.span("pipeline", op):
                o0 = time.perf_counter()
                df = fn(ctx.spark, self.table)
                rows = df.collect()
                walls.append(time.perf_counter() - o0)
            outs.append((rows, df.columns))
        pass_s = time.perf_counter() - t0
        ctx.timed_end = time.time()
        ctx.put("timed_s", pass_s, "s")

        ctx.put("dedup_docs_per_s", self.n_docs / pass_s, "1/s")
        ctx.put("op_p50_ms", statistics.median(walls) * 1000, "ms")
        ctx.e2e = {
            "timed_s": pass_s,
            "bulk_items_per_s": ctx.table["dedup_docs_per_s"][0],
            "call_p50_ms": ctx.table["op_p50_ms"][0],
        }
        if tr.enabled:
            for (op, _f, _s), w in zip(self.ops, walls):
                ctx.layer[f"pipeline.{op}_s"] = w
            drops = cap_drop_stats("dedup_ngram_jaccard") or {}
            ctx.layer["pipeline.ngram_cap_drops"] = drops.get("dropped_members", 0)
        self._check(ctx, outs)

    def _check(self, ctx: Ctx, outs) -> None:
        from correctness_local import norm, values_match

        for (op, _f, _sql), (rows, columns), want in zip(self.ops, outs, self.expected):
            got, want = norm(_rows_to_pandas(rows, columns)), norm(want)
            ok = list(got.columns) == list(want.columns) and values_match(got, want)
            ctx.checks.record(op, ok)


WORKLOADS = {w.name: w for w in (Index, Dedup)}
