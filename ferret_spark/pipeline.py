"""Training-data pipeline operators over the documents/embeddings tables.

Everything here is expressed with JVM-side built-in functions (higher-order
array functions, md5, sha2) — no Python in the hot path — so plans stay
inside whole-stage codegen and scale: the only shuffles are the final
groupBys/joins on explicit keys.

Operators:
- exact dedup            sha256 hash-groupBy
- n-gram Jaccard pairs   shingle -> explode -> pair join -> |A∩B|/|A∪B|
- MinHash + LSH          per-doc signature via array transforms (md5-based
                         permutations, deterministic + SQL-twin-able),
                         banding -> bucket groupBy -> candidate pairs
- SimHash                64-bit sign-aggregate fingerprint (pandas UDF)
- ANN brute-force        cosine top-k via zip_with/aggregate expressions
- ANN LSH                random-hyperplane bucketing (deterministic planes)
- ANN IVF                fixed coarse quantizer, nprobe inverted lists
- embedding near-dup     LSH-bucketed exact-cosine pair filter
- winnowing fingerprint  k-gram rolling hash, window-min selection
- language id            stopword-ratio heuristic
- quality score          length/alpha/stopword mix
- token counts           whitespace + word-regex counts
- fingerprint            md5 over sorted distinct tokens
- multimodal stub        binary column + deterministic fake feature
                         extraction (md5-derived); real decode is stubbed —
                         image/audio libs aren't in this container
"""

from __future__ import annotations

import hashlib
import re
from itertools import chain

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ferret_spark.analysis import ENGLISH_STOP_WORDS
from ferret_spark.codec import vbyte_decode, vbyte_encode

MINHASH_PERMS = 32
LSH_BANDS = 8  # rows per band = MINHASH_PERMS // LSH_BANDS = 4
SHINGLE_N = 3
# universal-hash modulus: largest prime < 2^40. Base shingle hash is the
# first 10 hex chars of ONE md5 (40 bits); each permutation is then a cheap
# (a*h + b) mod P — a < 2^22 keeps a*h + b < 2^63 (no int64 overflow on
# either engine; DuckDB raises on BIGINT overflow, Spark silently wraps).
MINHASH_P = (1 << 40) - 87
# hot-key caps: at web scale a shingle shared by M docs emits M^2 join rows
# (and likewise an LSH band bucket of M docs). Conventional dedup pipelines
# drop keys past a df cap — boilerplate shingles / degenerate buckets carry
# no near-dup signal anyway. Chosen high enough that the sf0.01/sf0.1 test
# corpora never hit them (oracle twins mirror the same caps regardless).
SHINGLE_DF_CAP = 500
LSH_BUCKET_CAP = 200

# --- cap-drop telemetry -----------------------------------------------------
# Every capped op counts what its hot-key cap dropped via an Observation
# (a CollectMetrics node riding the SAME action — no extra job). At 100 TB
# a skewed corpus could otherwise silently lose most of its candidate
# pairs; the counts make the truncation visible.

_DROP_OBS: dict = {}


def _observe_cap(df: DataFrame, op: str, size_col: str, cap: int) -> DataFrame:
    """Attach drop metrics to the pre-cap bucket frame: number of
    over-cap keys and total members inside them. Read AFTER consuming the
    op's result with cap_drop_stats(op)."""
    from pyspark.sql import Observation

    obs = Observation()
    _DROP_OBS[op] = obs
    sz = F.size(F.col(size_col))
    return df.observe(
        obs,
        F.coalesce(
            F.sum((sz > cap).cast("long")), F.lit(0).cast("long")
        ).alias("dropped_keys"),
        F.coalesce(
            F.sum(F.when(sz > cap, sz.cast("long"))), F.lit(0).cast("long")
        ).alias("dropped_members"),
    )


def cap_drop_stats(op: str):
    """Drop counts recorded by ``op``'s latest run, or None if the op has
    not been invoked. Blocks until the op's action has completed — call
    after consuming the result. Logs a warning when anything was
    dropped."""
    obs = _DROP_OBS.get(op)
    if obs is None:
        return None
    d = dict(obs.get)
    if d.get("dropped_keys"):
        import logging

        logging.getLogger("ferret_spark.pipeline").warning(
            "%s: hot-key cap dropped %d keys (%d members) from candidate "
            "generation", op, d["dropped_keys"], d["dropped_members"]
        )
    return d


def minhash_coeffs(n: int = MINHASH_PERMS, seed: int = 7):
    """Deterministic (a_i, b_i) for the n universal-hash permutations."""
    rng = np.random.Generator(np.random.Philox(key=seed))
    a = rng.integers(1, 1 << 22, size=n)
    b = rng.integers(0, MINHASH_P, size=n)
    return [int(x) for x in a], [int(x) for x in b]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs repartitioned to full parallelism — the heavy per-doc hashing
    ops (shingle md5, simhash) otherwise run inside the scan stage, whose
    task count is bounded by the source file count (often 1 small file at
    test scale; at 100 TB the scan is already wide and the repartition is
    a cheap narrow-ish shuffle of raw text)."""
    return _docs(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


_EMB_DIM_CACHE: dict = {}
_QVEC_CACHE: dict = {}


def _emb_dim(spark: SparkSession, sf_dir: str) -> int:
    """Embedding dimensionality — ONE driver lookup per (session, table),
    cached (each ANN entry point needs it for plane/centroid literals)."""
    key = (id(spark), sf_dir)
    d = _EMB_DIM_CACHE.get(key)
    if d is None:
        d = len(_emb(spark, sf_dir).select("embedding").first()[0])
        _EMB_DIM_CACHE[key] = d
    return d


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int) -> list[float]:
    """One cached driver fetch of a query vector (float64)."""
    key = (id(spark), sf_dir, vec_id)
    v = _QVEC_CACHE.get(key)
    if v is None:
        row = (
            _emb(spark, sf_dir)
            .where(F.col("vec_id") == vec_id)
            .select("embedding")
            .first()
        )
        v = [float(x) for x in row[0]]
        _QVEC_CACHE[key] = v
        _EMB_DIM_CACHE[(id(spark), sf_dir)] = len(v)
    return v


def _dot(a, b) -> float:
    """Left-fold float64 dot — the same IEEE addition order as the
    engines' aggregate(zip_with(...)) / list_dot_product folds, so
    driver-side bucketing/probing is bit-identical to executor-side."""
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


# --- the one tokenizer of every text kernel ---------------------------------
# Java's regex \s class: what split(text, '\\s+') splits on in Spark.
# Python's str.split() whitespace is wider (NBSP, U+2028, \x1c, ...).
_JAVA_WS = " \t\n\x0b\f\r"
_JAVA_WS_RE = re.compile(f"[{_JAVA_WS}]+")


def _tokenize(texts, lower: bool = True):
    """Per-doc tokens of a text column, as filter(split(text, '\\s+'),
    t -> t <> '') computes them (Java \\s), lowered first when ``lower``.

    The whitespace rule is Java's \\s, as Spark's split uses it: vertical
    tab (\\x0b) separates tokens. The frozen DuckDB twins follow RE2's \\s,
    which does not, so a \\x0b inside a word is the one input on which a
    kernel and its twin may differ; the kernels keep the rule of the JVM
    they run beside.

    Returns (token lists, NULL mask). NULL text gives [] with its mask bit
    set; "" and whitespace-only text give [] with it clear — the zero-token
    doc. Each kernel maps both cases to its DuckDB twin's value."""
    null = np.fromiter((t is None for t in texts), dtype=bool, count=len(texts))
    split = _JAVA_WS_RE.split
    toks = [
        [] if t is None else [w for w in split(t.lower() if lower else t) if w]
        for t in texts
    ]
    return toks, null


def _flatten(toks):
    """(flat token list, per-doc lengths) of _tokenize's token lists."""
    lens = np.fromiter(map(len, toks), dtype=np.int64, count=len(toks))
    return list(chain.from_iterable(toks)), lens


def _md5_prefix_ints(values, nhex: int) -> np.ndarray:
    """int(md5(v).hexdigest()[:nhex], 16) per element of a flat string
    array — the JVM's cast(conv(substr(md5(v), 1, nhex), 16, 10) as
    bigint). md5 runs once per distinct value (factorize)."""
    codes, uniq = pd.factorize(pd.Series(values, dtype=object), sort=False)
    hu = np.fromiter(
        (int(hashlib.md5(u.encode("utf-8")).hexdigest()[:nhex], 16) for u in uniq),
        dtype=np.int64,
        count=len(uniq),
    )
    return hu[codes]


# ---------------------------------------------------------------------------
# dedup


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by content hash; keeps the min doc_id as the
    canonical representative."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy(F.sha2(F.col("text"), 256).alias("content_sha"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .where(F.col("n_copies") >= 1)
        .orderBy("canonical_doc_id")
    )


_SHINGLE_CACHE: dict = {}


def _shingle_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-DOC (doc_id, n_sh, shs array) rows, computed once per (session,
    sf_dir) and persisted — Jaccard and MinHash+LSH dedup share one shingle
    scan (the dominant common cost). r7: the cache keeps one row per DOC
    instead of one per shingle — per-doc consumers (sizes, minhash
    signatures) read it without any aggregation, and the exploded view for
    the bucket groupBy is one cheap codegen Generate over cached arrays.
    At the 100 TB tier the persist is a working-set trade: MEMORY_AND_DISK
    spills cleanly, and a single materialization replaces two full text
    scans + shingle builds."""
    from pyspark import StorageLevel

    key = (id(spark), sf_dir)
    c = _SHINGLE_CACHE.get(key)
    if c is None:
        c = (
            _docs_wide(spark, sf_dir)
            .select("doc_id", "text")
            .mapInArrow(
                _shingle_docs_arrow,
                "doc_id long, n_sh int, shs array<string>",
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        _SHINGLE_CACHE[key] = c
    return c


def _shingle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded (doc_id, n_sh, shingle) view over the per-doc cache —
    same rows as the pre-r7 exploded cache (pinned by
    tests/test_shingle_arrow.py)."""
    return _shingle_docs(spark, sf_dir).select(
        "doc_id", "n_sh", F.explode("shs").alias("s")
    )


def _doc_shingles(toks: list[str], n_gram: int) -> list[str]:
    """Distinct n-gram shingles of one doc's (non-empty) token list, in
    first-seen order; a doc shorter than n_gram tokens yields its single
    whole-doc shingle (the twin's list_slice semantics)."""
    if len(toks) < n_gram:
        return [" ".join(toks)]
    return list(
        dict.fromkeys(
            " ".join(toks[j : j + n_gram])
            for j in range(len(toks) - n_gram + 1)
        )
    )


def _shingle_docs_arrow(batches):
    """Arrow kernel for _shingle_docs: text -> one (doc_id, n_sh, shs) row
    per doc with at least one token. NULL and zero-token docs have no
    shingles and emit no row, as the twin drops them (len(sh) > 0) — an
    empty shingle would pair them all at Jaccard 1.0."""
    import pyarrow as pa

    n_gram = SHINGLE_N
    for batch in batches:
        toks, _ = _tokenize(batch.column(1).to_pylist())
        keep = pa.array([bool(tl) for tl in toks])
        shs_out = [_doc_shingles(tl, n_gram) for tl in toks if tl]
        yield pa.record_batch(
            [
                batch.column(0).filter(keep).cast(pa.int64()),
                pa.array([len(s) for s in shs_out], type=pa.int32()),
                pa.array(shs_out, type=pa.list_(pa.string())),
            ],
            names=["doc_id", "n_sh", "shs"],
        )


def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, threshold: float = 0.4,
    shingle_df_cap: int = SHINGLE_DF_CAP,
) -> DataFrame:
    """Near-duplicate pairs by {SHINGLE_N}-gram Jaccard similarity.
    Pair generation is a bucket groupBy on the shingle key (the same shape
    the LSH and batch-ANN paths use): collect each shingle's doc list,
    drop buckets past ``shingle_df_cap`` (a hot shingle across M docs would
    otherwise emit M^2 rows — quadratic at scale), enumerate pairs in-row,
    then count common shingles per pair. One shuffle on the shingle key
    with map-side partial aggregation, never a self-join."""
    ex = _shingle_rows(spark, sf_dir)
    # per-doc sizes straight off the per-doc cache — no aggregation over
    # the exploded rows (r7: the groupBy(first) form re-aggregated 2.6M
    # rows once for the broadcast and once per join side)
    sizes = _shingle_docs(spark, sf_dir).select("doc_id", "n_sh")
    buckets = _observe_cap(
        ex.groupBy("s").agg(F.collect_list("doc_id").alias("ids")),
        "dedup_ngram_jaccard", "ids", shingle_df_cap,
    ).where((F.size("ids") >= 2) & (F.size("ids") <= shingle_df_cap))
    # Pair counting entirely in numpy, Spark only moving opaque blobs
    # (guide §4.2 + §8 "shuffle a lightweight proxy"): the co-occurrence
    # structure here is inherently dense (sf1.0: 27.7k buckets of ~95 docs
    # each -> 127M raw / 114M DISTINCT pairs), so a row-level
    # groupBy(doc_a, doc_b) pays Arrow->JVM conversion + hash-agg +
    # shuffle per pair (21.6s noop-isolated, and the downstream join ran
    # over all 114M). Instead:
    #   stage A (per bucket-partition): enumerate i<j pairs over SORTED
    #     ids as packed int64 keys, np.unique-combine locally, then split
    #     by shard = pk % NSHARDS and emit ONE binary blob row per shard
    #     (the 114M keys cross the exchange as ~64x64 lz4'd byte cells,
    #     never as rows);
    #   stage B (per shard): exact global n_common = bincount over the
    #     shard's concatenated partials, then a CONSERVATIVE threshold
    #     pre-filter (J >= t - 1e-6, strictly looser than the engine's
    #     round(J, 6) >= t) using a broadcast per-doc size array, so only
    #     near-threshold survivors return to Spark as rows.
    # The official jaccard arithmetic (round(c/(na+nb-c), 6) >= t) still
    # runs in Spark on the survivors — bit-identical to before; the
    # numpy pre-filter is sound (no false negatives), so the pair set is
    # unchanged. Pair multiset is identical by construction (same bucket
    # cap, same i<j enumeration).
    # 256 shard groups: with ~cores shuffle partitions, 64 groups hashed
    # into 64 partitions left multi-group straggler partitions (max ~3x);
    # 256 keeps every partition at ~4 +- 2 groups at any sane width
    _NSHARDS = 256
    _SHARD_SHIFT = 8  # log2(_NSHARDS): pk % _NSHARDS == pk & (_NSHARDS-1)
    assert 1 << _SHARD_SHIFT == _NSHARDS
    sz_rows = sizes.collect()  # one tiny job (doc_id, n_sh)
    if len(sz_rows) <= 50_000_000:
        _ids_arr = np.array([r["doc_id"] for r in sz_rows], dtype=np.int64)
        _ord = np.argsort(_ids_arr, kind="stable")
        _sz_ids = _ids_arr[_ord]
        _sz_vals = np.array(
            [r["n_sh"] for r in sz_rows], dtype=np.int64
        )[_ord]
        bc_sizes = spark.sparkContext.broadcast((_sz_ids, _sz_vals))
    else:  # pragma: no cover — beyond-broadcast corpus: no pre-filter,
        bc_sizes = None  # every exact pair returns to Spark (correct, slower)

    thr_lo = threshold - 1e-6

    def _pair_blobs(batches):
        import pyarrow as pa

        # map-side size-ratio bound (r7): J(a,b) <= min(na,nb)/max(na,nb)
        # regardless of the global common count, so a pair whose size
        # ratio is already below thr - 1e-6 can never survive the
        # combine-side pre-filter (which keeps J >= thr - 1e-6) — drop it
        # in EVERY task before packing. Purely (na, nb)-dependent, so the
        # pair is dropped consistently everywhere and surviving pairs
        # keep their full global counts: output identical, exchange and
        # combine proportionally smaller (measured 129M -> ~70M partials
        # at sf1.0).
        if bc_sizes is not None and thr_lo > 0:
            _ids, _vals_sz = bc_sizes.value
            if len(_ids) and int(_ids[-1]) < 4 * len(_ids) + (1 << 16):
                lut = np.zeros(int(_ids[-1]) + 1, dtype=np.int64)
                lut[_ids] = _vals_sz
                _sz_of = lambda d: lut[d]  # noqa: E731 — dense ids: O(1) gather
            else:
                _sz_of = lambda d: _vals_sz[  # noqa: E731
                    np.searchsorted(_ids, d)
                ]
        else:
            _sz_of = None

        for batch in batches:
            col = batch.column(0)
            offs = col.offsets.to_numpy()
            vals = col.values.to_numpy()
            if len(vals) and int(vals.max()) >= (1 << 31):
                raise ValueError(
                    "dedup_ngram_jaccard: doc_id >= 2^31 overflows the "
                    "packed pair key; widen the pair representation"
                )
            # vectorized per distinct bucket size: all buckets of size n
            # are one (k, n) matrix -> one sort + one triu gather (the
            # per-bucket Python loop re-built triu indices ~430x/task)
            bsizes = np.diff(offs)
            starts = offs[:-1]
            parts = []
            for n in np.unique(bsizes):
                n = int(n)
                if n < 2:
                    continue
                st = starts[bsizes == n]
                m = np.sort(
                    vals[st[:, None] + np.arange(n)[None, :]], axis=1
                ).astype(np.int64)
                i, j = np.triu_indices(n, k=1)
                a = m[:, i].ravel()
                b = m[:, j].ravel()
                pk = (a << np.int64(32)) | b
                if _sz_of is not None:
                    na = _sz_of(a)
                    nb = _sz_of(b)
                    pk = pk[
                        np.minimum(na, nb)
                        >= thr_lo * np.maximum(na, nb)
                    ]
                if len(pk):
                    parts.append(pk)
            # the size-ratio bound can drop every pair of the batch
            if not parts:
                continue
            uk, cnt = np.unique(np.concatenate(parts), return_counts=True)
            cnt = cnt.astype(np.int32)
            shard = (uk % _NSHARDS).astype(np.int32)
            o = np.argsort(shard, kind="stable")
            uk, cnt, shard = uk[o], cnt[o], shard[o]
            cuts = np.flatnonzero(np.diff(shard)) + 1
            starts = np.concatenate(([0], cuts))
            ends = np.concatenate((cuts, [len(shard)]))
            out_s, out_pk, out_c = [], [], []
            # r7: blob payloads cross the exchange vbyte-delta encoded —
            # within a cell the keys are sorted and all congruent to the
            # shard mod _NSHARDS, so q = pk >> log2(_NSHARDS) is a
            # strictly increasing bijection and its deltas varint small;
            # counts are mostly 1-2 and collapse to single bytes
            # (~12 B/key -> ~5 B/key measured). The combine inverts with
            # the same vectorized codec.
            for s0, e0 in zip(starts, ends):
                out_s.append(int(shard[s0]))
                q = uk[s0:e0].astype(np.uint64) >> np.uint64(_SHARD_SHIFT)
                dq = np.diff(q, prepend=np.uint64(0))
                out_pk.append(vbyte_encode(dq).tobytes())
                out_c.append(
                    vbyte_encode(cnt[s0:e0].astype(np.uint64)).tobytes()
                )
            yield pa.record_batch(
                [
                    pa.array(out_s, type=pa.int32()),
                    pa.array(out_pk, type=pa.binary()),
                    pa.array(out_c, type=pa.binary()),
                ],
                names=["shard", "pk", "c"],
            )

    thr = threshold

    def _combine_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        sh = np.uint64(int(pdf["shard"].iloc[0]))
        pks = np.concatenate(
            [
                (
                    (
                        np.cumsum(vbyte_decode(b))
                        << np.uint64(_SHARD_SHIFT)
                    )
                    | sh
                ).astype(np.int64)
                for b in pdf["pk"]
            ]
        )
        cs = np.concatenate(
            [vbyte_decode(b).astype(np.int64) for b in pdf["c"]]
        )
        uk, inv = np.unique(pks, return_inverse=True)
        tot = np.bincount(inv, weights=cs).astype(np.int64)
        a = (uk >> np.int64(32)).astype(np.int64)
        b = (uk & np.int64(0xFFFFFFFF)).astype(np.int64)
        if bc_sizes is not None:
            sz_ids, sz_vals = bc_sizes.value
            na = sz_vals[np.searchsorted(sz_ids, a)]
            nb = sz_vals[np.searchsorted(sz_ids, b)]
            keep = tot.astype(np.float64) / (
                (na + nb - tot).astype(np.float64)
            ) >= (thr - 1e-6)
            a, b, tot = a[keep], b[keep], tot[keep]
        return pd.DataFrame(
            {"doc_a": a, "doc_b": b, "n_common": tot}
        )

    pairs = (
        buckets.select("ids")
        .mapInArrow(_pair_blobs, "shard int, pk binary, c binary")
        .groupBy("shard")
        .applyInPandas(
            lambda pdf: _combine_shard(pdf),
            "doc_a long, doc_b long, n_common long",
        )
    )
    out = (
        pairs.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )
    return out


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature. ONE md5 per shingle (40-bit base hash
    from the first 10 hex chars), then {MINHASH_PERMS} universal-hash
    permutations h_i(x) = (a_i*x + b_i) mod P as pure int64 arithmetic —
    JVM whole-stage-codegen, ~32x fewer digest calls than hashing each
    (shingle, perm) pair. Deterministic and expressible identically in
    SQL (the DuckDB twin parses the same hex prefix)."""
    # exploded (doc_id, shingle) rows shared with the Jaccard path (one
    # persisted shingle scan serves both dedup ops); md5/conv and the 32
    # min aggregates are SCALAR expressions inside whole-stage codegen with
    # map-side partial aggregation — the array-lambda form evaluates ~10x
    # slower through Catalyst's interpreted higher-order functions
    # r7: the whole signature folds IN-ROW over the per-doc shingle cache —
    # each doc's 32 permutation minima are complete within its own row, so
    # there is no exploded md5 pass, no 33-column partial exchange and no
    # groupBy at all. The base hash int(md5(s).hexdigest()[:10], 16) is
    # computed once per DISTINCT shingle per batch (pandas factorize) and
    # equals the JVM cast(conv(substr(md5(s),1,10),16,10) as bigint)
    # byte-for-byte (lowercase hex, 40-bit value). Exact int64 arithmetic
    # (a_i < 2^22, h < 2^40 -> products < 2^62); np.minimum.reduceat over
    # per-doc runs — signatures bit-identical (parity test
    # tests/test_ann_numpy_parity.py::test_minhash_signatures_match_aggregate_form).
    a, b = minhash_coeffs()
    a_arr = np.array(a, dtype=np.int64)
    b_arr = np.array(b, dtype=np.int64)
    n_perm = MINHASH_PERMS
    p_mod = MINHASH_P

    def _sigs(batches):
        import pyarrow as pa

        for batch in batches:
            did = batch.column(0)
            if len(did) == 0:
                continue
            shs = batch.column(1)
            # every cached doc has >= 1 shingle (_shingle_docs_arrow), so
            # no reduceat run below is empty
            lens = pa.compute.list_value_length(shs).to_numpy()
            starts = np.concatenate(
                ([0], np.cumsum(lens[:-1]))
            ).astype(np.int64)
            h = _md5_prefix_ints(shs.flatten().to_pandas(), 10)
            mins = np.empty((len(lens), n_perm), dtype=np.int64)
            for i in range(n_perm):
                hp = (a_arr[i] * h + b_arr[i]) % p_mod
                mins[:, i] = np.minimum.reduceat(hp, starts)
            sig = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(0, (len(lens) + 1) * n_perm, n_perm),
                    type=pa.int32(),
                ),
                pa.array(mins.ravel(), type=pa.int64()),
            )
            yield pa.record_batch([did, sig], names=["doc_id", "sig"])

    return _shingle_docs(spark, sf_dir).select("doc_id", "shs").mapInArrow(
        _sigs, "doc_id long, sig array<bigint>"
    )


def dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, bucket_cap: int = LSH_BUCKET_CAP
) -> DataFrame:
    """LSH candidate pairs: band hash = md5 of the band's signature slice;
    docs sharing any band bucket are candidates. Buckets larger than
    ``bucket_cap`` docs are dropped before the self-join (M^2 guard — a
    degenerate bucket carries no near-dup signal)."""
    rows_per_band = MINHASH_PERMS // LSH_BANDS
    sig = minhash_signatures(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {LSH_BANDS - 1}),"
                f" b -> md5(array_join(transform("
                f"slice(sig, b * {rows_per_band} + 1, {rows_per_band}),"
                f" v -> cast(v as string)), ',')))"
            )
        ).alias("band", "bhash"),
    )
    # bucket groupBy instead of a self-join: ONE shuffle on the bucket key,
    # pair enumeration inside each (capped) bucket row — the signatures are
    # computed once, and no M^2 join blowup is possible by construction
    buckets = _observe_cap(
        bands.groupBy("band", "bhash").agg(
            F.sort_array(F.collect_set("doc_id")).alias("ids")
        ),
        "dedup_minhash_lsh", "ids", bucket_cap,
    ).where((F.size("ids") >= 2) & (F.size("ids") <= bucket_cap))
    pairs = (
        buckets.select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(ids,"
                    " x -> transform(ids, y -> struct(x AS doc_a, y AS doc_b)))),"
                    " p -> p.doc_a < p.doc_b)"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
        .orderBy("doc_a", "doc_b")
    )
    return pairs


SIMHASH_BITS = 60  # 15 hex chars of one md5 -> 60-bit token hash


def dedup_simhash(
    spark: SparkSession, sf_dir: str, bits: int = SIMHASH_BITS
) -> DataFrame:
    """SimHash fingerprints (sign of per-bit sums over token hashes),
    entirely JVM-side: one md5 per DISTINCT token per doc occurrence is
    avoided too — tokens hash once, then the per-bit tally is int64
    shift/mask arithmetic inside whole-stage codegen (no Python in the hot
    path). 60 bits = one 15-hex-char parse, same expression on the DuckDB
    twin side."""
    # r7: the whole fingerprint folds IN-ROW — a doc's token stream lives
    # in its own row, so the per-bit +-1 tallies and the sign step are
    # complete without any explode, exchange, aggregation or restore-join
    # (the pre-r7 path exploded ~10M (doc_id, hash) rows through Arrow and
    # summed 60 partial columns per doc). Tokens come from _tokenize; the
    # token hash is _md5_prefix_ints(.., 15). NULL and zero-token docs
    # have all tallies 0 -> simhash 0, the twin's coalesce(.., 0). Exact
    # integer math throughout — fingerprints bit-identical (parity test
    # vs the aggregate form, tests/test_ann_numpy_parity.py).
    nbits = bits

    def _fps(batches):
        import pyarrow as pa

        one = np.int64(1)
        weights = one << np.arange(nbits, dtype=np.int64)
        for batch in batches:
            did = batch.column(0)
            if len(did) == 0:
                continue
            toks, _ = _tokenize(batch.column(1).to_pylist())
            flat, lens = _flatten(toks)
            fp = np.zeros(len(toks), dtype=np.int64)
            nz = np.flatnonzero(lens)
            if len(nz):
                h = _md5_prefix_ints(flat, 15)
                starts = np.concatenate(
                    ([0], np.cumsum(lens[nz])[:-1])
                ).astype(np.int64)
                n_per = lens[nz]
                acc = np.zeros(len(nz), dtype=np.int64)
                for b in range(nbits):
                    bit = (h >> np.int64(b)) & one
                    cnt = np.add.reduceat(bit, starts)
                    acc += (2 * cnt - n_per > 0) * weights[b]
                fp[nz] = acc
            yield pa.record_batch(
                [did, pa.array(fp, type=pa.int64())],
                names=["doc_id", "simhash"],
            )

    return (
        _docs_wide(spark, sf_dir)
        .select("doc_id", "text")
        .mapInArrow(_fps, "doc_id long, simhash long")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# similarity search (ANN)


def _cosine_expr(a: str, b: str):
    dot = f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (s, x) -> s + x)"
    na = f"sqrt(aggregate({a}, 0D, (s, x) -> s + x * x))"
    nb = f"sqrt(aggregate({b}, 0D, (s, x) -> s + x * x))"
    return F.expr(f"({dot}) / (({na}) * ({nb}))")


def ann_cosine_topk(
    spark: SparkSession, sf_dir: str, query_vec_id: int = 0, k: int = 10
) -> DataFrame:
    """Brute-force cosine top-k against one stored vector — the exactness
    baseline. All arithmetic in JVM higher-order functions (float64)."""
    emb = _emb(spark, sf_dir).select(
        "vec_id",
        # promote to float64 BEFORE any arithmetic (float32 products would
        # diverge from the SQL oracle beyond the rounding guard)
        F.expr("transform(embedding, x -> cast(x as double))").alias("e"),
    )
    qrow = emb.where(F.col("vec_id") == query_vec_id).select(
        F.col("e").alias("qv")
    )
    scored = (
        emb.crossJoin(F.broadcast(qrow))
        .where(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            F.round(_cosine_expr("e", "qv"), 6).alias("cosine"),
        )
    )
    from pyspark.sql import Window

    top = scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)
    w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"), "vec_id", "cosine"
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.Generator(np.random.Philox(key=seed))
    return rng.standard_normal((n_planes, dim))


# -- bit-identical numpy kernels (round-7, guide §4.2) ----------------------
# The JVM expressions fold dots LEFT TO RIGHT:
#   aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (s, x) -> s + x)
# A numpy loop over the DIMENSION axis performs the same float64 adds in
# the same order, vectorized across rows — so buckets / assignments /
# cosines computed here are bit-identical to the interpreted-HOF plans
# they replace (tests/test_ann_numpy_parity.py pins this per element).
# Rounding (F.round half-up) stays in Spark; these return raw doubles.


def _foldl_dots(E: "np.ndarray", v: "np.ndarray") -> "np.ndarray":
    s = np.zeros(len(E), dtype=np.float64)
    for j in range(E.shape[1]):
        s += E[:, j] * v[j]
    return s


def _foldl_sqnorm(E: "np.ndarray") -> "np.ndarray":
    s = np.zeros(len(E), dtype=np.float64)
    for j in range(E.shape[1]):
        s += E[:, j] * E[:, j]
    return s


def _np_bucket(E: "np.ndarray", planes: "np.ndarray") -> "np.ndarray":
    b = np.zeros(len(E), dtype=np.int64)
    for p in range(len(planes)):
        b |= (_foldl_dots(E, planes[p]) > 0).astype(np.int64) << np.int64(p)
    return b


def _np_cos_vs_query(E: "np.ndarray", qv: "np.ndarray") -> "np.ndarray":
    qn = 0.0
    for x in qv:
        qn += x * x
    return _foldl_dots(E, qv) / (np.sqrt(_foldl_sqnorm(E)) * np.sqrt(qn))


def _np_pair_cos(E: "np.ndarray") -> "np.ndarray":
    """All-pairs cosine matrix with the left-fold add order: S[a, b]
    accumulates E[a, j] * E[b, j] in ascending j — the same sequence the
    per-pair JVM fold performs."""
    n = len(E)
    S = np.zeros((n, n), dtype=np.float64)
    for j in range(E.shape[1]):
        c = E[:, j]
        S += c[:, None] * c[None, :]
    na = np.sqrt(_foldl_sqnorm(E))
    return S / (na[:, None] * na[None, :])


def _emb_batches_np(batch):
    """(vec_ids, E float64) from an Arrow batch of (vec_id, embedding)."""
    vid = batch.column(0).to_numpy()
    col = batch.column(1)
    flat = col.values.to_numpy(zero_copy_only=False)
    E = flat.astype(np.float64).reshape(len(vid), -1)
    return vid, E


def ann_lsh_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    n_planes: int = 12,
    probe_hamming: int = 2,
) -> DataFrame:
    """LSH-bucketed ANN (the scale path): random-hyperplane sign buckets,
    multiprobe = all buckets within `probe_hamming` bits of the query's
    bucket, exact cosine re-rank over the candidates. Planes are
    deterministic float64 LITERALS inlined into the JVM expression (and
    identically into the DuckDB twin), so bucketing is bit-identical across
    engines; the probe set is a bit_count(bucket XOR qbucket) predicate —
    never a driver-enumerated bucket list."""
    qe = _query_vec(spark, sf_dir, query_vec_id)  # one cached driver fetch
    planes = _plane_literals(len(qe), n_planes)
    # query bucket via the same left-fold float64 dot as the engine
    # expression — bit-identical, no extra driver action
    qbucket = sum(
        (1 << p) for p, plane in enumerate(planes) if _dot(qe, plane) > 0
    )
    # bucket + cosine in one Arrow pass (numpy left-fold kernels — the
    # interpreted-HOF plane/cosine folds cost ~5s at sf1.0 for 20k x 12
    # planes); probe filter, rounding and top-k ordering stay in Spark
    P_arr = np.asarray(planes, dtype=np.float64)
    q_arr = np.asarray(qe, dtype=np.float64)

    def _score(batches):
        import pyarrow as pa

        for batch in batches:
            vid, E = _emb_batches_np(batch)
            yield pa.record_batch(
                [
                    pa.array(vid),
                    pa.array(_np_bucket(E, P_arr)),
                    pa.array(_np_cos_vs_query(E, q_arr)),
                ],
                names=["vec_id", "bucket", "cos"],
            )

    scored = (
        _emb(spark, sf_dir)
        .select("vec_id", "embedding")
        .mapInArrow(_score, "vec_id long, bucket long, cos double")
    )
    cand = scored.where(
        (F.expr(f"bit_count(bucket ^ {qbucket})") <= probe_hamming)
        & (F.col("vec_id") != query_vec_id)
    ).select("vec_id", F.round(F.col("cos"), 6).alias("cosine"))
    return cand.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


ANN_BATCH_PLANES = 6  # 64 LSH buckets
ANN_BATCH_CAP = 200  # max vectors per bucket entering pair enumeration
ANN_BATCH_K = 5


def _lsh_bucket_groups(
    spark: SparkSession, sf_dir: str, n_planes: int, bucket_cap: int, op: str
):
    """Shared candidate-bucket frame for the batch ANN / embedding-dedup
    ops: numpy hyperplane bucketing in one Arrow pass (raw float32
    vectors ride through untouched), then the usual capped + observed
    collect per bucket. Bucket ids are bit-identical to the former JVM
    fold expression (same left-fold order — tests/test_ann_numpy_parity)."""
    planes = np.asarray(
        _plane_literals(_emb_dim(spark, sf_dir), n_planes), dtype=np.float64
    )

    def _bucket(batches):
        import pyarrow as pa

        for batch in batches:
            vid, E = _emb_batches_np(batch)
            yield pa.record_batch(
                [
                    pa.array(vid),
                    pa.array(_np_bucket(E, planes)),
                    batch.column(1),
                ],
                names=["vec_id", "bucket", "embedding"],
            )

    bucketed = (
        _emb(spark, sf_dir)
        .select("vec_id", "embedding")
        .mapInArrow(
            _bucket, "vec_id long, bucket long, embedding array<float>"
        )
    )
    return _observe_cap(
        bucketed.groupBy("bucket").agg(
            F.collect_list(F.struct("vec_id", "embedding")).alias("vs")
        ),
        op, "vs", bucket_cap,
    ).where((F.size("vs") >= 2) & (F.size("vs") <= bucket_cap))


def _pair_cos_fn(symmetric: bool):
    """mapInPandas body: per bucket row, all-pairs cosine via the
    left-fold numpy kernel; emits ordered off-diagonal pairs
    (``symmetric=True``, batch-kNN shape) or i<j canonical pairs by
    vec_id sort (``symmetric=False``, dedup shape) — the same pair sets
    the nested-transform JVM form produced."""

    cols = ("vec_id", "nbr", "cos") if symmetric else ("vec_a", "vec_b", "cos")

    def fn(pdfs):
        for pdf in pdfs:
            out_a, out_b, out_c = [], [], []
            for vs in pdf["vs"]:
                ids = np.array([v["vec_id"] for v in vs], dtype=np.int64)
                E = np.stack(
                    [np.asarray(v["embedding"], dtype=np.float64) for v in vs]
                )
                C = _np_pair_cos(E)
                n = len(ids)
                if symmetric:
                    i, j = np.nonzero(~np.eye(n, dtype=bool))
                else:
                    o = np.argsort(ids, kind="stable")
                    ids, C = ids[o], C[np.ix_(o, o)]
                    i, j = np.triu_indices(n, k=1)
                out_a.append(ids[i])
                out_b.append(ids[j])
                out_c.append(C[i, j])
            if not out_a:
                continue
            yield pd.DataFrame(
                {
                    cols[0]: np.concatenate(out_a),
                    cols[1]: np.concatenate(out_b),
                    cols[2]: np.concatenate(out_c),
                }
            )

    return fn

# IVF coarse quantizer: TRAINED deterministic spherical k-means codebook
# (seeded init, fixed Lloyd iterations, bounded deterministic sample) —
# the production IVF shape: train on a sample, broadcast the small
# codebook, assign every vector to its max-dot centroid. The same
# function feeds the Spark side (codebook as broadcast DATA, not inline
# literals) and the DuckDB twin (codebook as literals — twin perf is
# irrelevant), so assignment is bit-identical across engines.
IVF_CENTROIDS = 16
# Default chosen from the measured recall/nprobe curve (scripts/
# ann_recall.py, BENCH/ANN_RECALL.md): the smallest nprobe with
# recall@10 >= 0.8 against brute-force cosine at sf0.1.  On the
# near-uniform SYNTHETIC embeddings that takes probing half the lists
# (recall tracks scan fraction when clusters carry little signal); real
# clustered embeddings reach the same recall at much smaller nprobe, so
# callers should tune per corpus via the nprobe parameter.
IVF_NPROBE = 8
IVF_TRAIN_SAMPLE = 2048
IVF_TRAIN_ITERS = 8

_IVF_TRAIN_CACHE: dict = {}


def _ivf_centroid_literals(
    dim: int, n: int = IVF_CENTROIDS, seed: int = 11
) -> list[list[float]]:
    """The UNTRAINED fallback quantizer (seeded gaussians) — kept as the
    recall baseline scripts/ann_recall.py compares the trained codebook
    against."""
    rng = np.random.Generator(np.random.Philox(key=seed))
    return [[float(x) for x in row] for row in rng.standard_normal((n, dim))]


def ivf_trained_centroids(
    sf_dir: str,
    n: int = IVF_CENTROIDS,
    sample: int = IVF_TRAIN_SAMPLE,
    iters: int = IVF_TRAIN_ITERS,
    seed: int = 11,
) -> list[list[float]]:
    """Deterministic spherical k-means codebook over the embeddings table.

    Training reads a bounded deterministic sample (vec_id-sorted, strided
    to <= ``sample`` rows) via pyarrow — no SparkSession needed, so the
    SQL-twin generator and the Spark query share one cached codebook per
    process. At cluster scale this is exactly how IVF codebooks are
    built: a driver/trainer-side k-means on a sample, then the codebook
    broadcasts to executors for assignment. Seeded init + fixed Lloyd
    iterations + max-dot assignment (ties to the lowest centroid id);
    empty clusters keep their previous centroid; centroids re-normalized
    each round (spherical k-means matches the max-dot assignment metric
    the index uses)."""
    key = (sf_dir, n, sample, iters, seed)
    c = _IVF_TRAIN_CACHE.get(key)
    if c is not None:
        return c
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    vid = t.column("vec_id").to_numpy()
    arr = t.column("embedding").combine_chunks()
    flat = arr.values.to_numpy(zero_copy_only=False).astype(np.float64)
    offs = arr.offsets.to_numpy()
    dim = int(offs[1] - offs[0])
    x = flat.reshape(-1, dim)[np.argsort(vid, kind="stable")]
    step = max(1, len(x) // sample)
    x = x[::step][:sample]
    rng = np.random.Generator(np.random.Philox(key=seed))
    cents = x[rng.choice(len(x), size=min(n, len(x)), replace=False)].copy()
    if len(cents) < n:  # degenerate tiny table: pad with gaussians
        pad = rng.standard_normal((n - len(cents), dim))
        cents = np.vstack([cents, pad])
    norms = np.linalg.norm(cents, axis=1, keepdims=True)
    cents = np.where(norms > 0, cents / np.where(norms == 0, 1, norms), cents)
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)
        for j in range(n):
            members = x[assign == j]
            if len(members):
                m = members.mean(axis=0)
                nm = np.linalg.norm(m)
                if nm > 0:
                    cents[j] = m / nm
    out = [[float(v) for v in row] for row in cents]
    _IVF_TRAIN_CACHE[key] = out
    return out


def ann_ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    nprobe: int = IVF_NPROBE,
    cents=None,
) -> DataFrame:
    """IVF-style ANN (the inverted-list scale path next to LSH): every
    vector is assigned to its max-dot coarse centroid (trained spherical
    k-means codebook, ivf_trained_centroids); the query probes its
    ``nprobe`` best centroids and exact cosine re-ranks only those lists.
    At cluster scale the assignment is a partition key — each probe
    touches 1/{IVF_CENTROIDS} of the data per list instead of all
    vectors. Recall@10 vs the brute-force baseline is recorded by
    scripts/ann_recall.py (BENCH/ANN_RECALL.md)."""
    qe = _query_vec(spark, sf_dir, query_vec_id)
    if cents is None:
        cents = ivf_trained_centroids(sf_dir)
    # probe ids computed with the same left-fold float64 order as the
    # engines -> identical assignment arithmetic
    dots = [(_dot(qe, c), i) for i, c in enumerate(cents)]
    probe = [i for _, i in sorted(dots, reverse=True)[:nprobe]]
    # assignment + cosine in one Arrow pass: per-centroid left-fold dots,
    # argmax with ties to the LARGER centroid id (the twin's list_max over
    # (dot, id) rule; the JVM array_max form is pinned in the tests)
    C_arr = np.asarray(cents, dtype=np.float64)
    q_arr = np.asarray(qe, dtype=np.float64)
    n_cent = len(cents)

    def _assign_score(batches):
        import pyarrow as pa

        for batch in batches:
            vid, E = _emb_batches_np(batch)
            D = np.empty((len(E), n_cent), dtype=np.float64)
            for i in range(n_cent):
                D[:, i] = _foldl_dots(E, C_arr[i])
            # np.argmax takes the FIRST max; reverse the axis so ties
            # resolve to the larger centroid id
            cid = (n_cent - 1) - np.argmax(D[:, ::-1], axis=1)
            yield pa.record_batch(
                [
                    pa.array(vid),
                    pa.array(cid.astype(np.int32)),
                    pa.array(_np_cos_vs_query(E, q_arr)),
                ],
                names=["vec_id", "cid", "cos"],
            )

    assigned = (
        _emb(spark, sf_dir)
        .select("vec_id", "embedding")
        .mapInArrow(_assign_score, "vec_id long, cid int, cos double")
    )
    scored = assigned.where(
        F.col("cid").isin(probe) & (F.col("vec_id") != query_vec_id)
    ).select("vec_id", F.round(F.col("cos"), 6).alias("cosine"))
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


def _plane_literals(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic hyperplanes as plain float64 literals — inlined into
    BOTH the Spark expression and the DuckDB twin, so the bucketing is
    bit-identical across engines."""
    return [[float(x) for x in row] for row in _hyperplanes(dim, n_planes, seed)]


def ann_batch_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = ANN_BATCH_K,
    n_planes: int = ANN_BATCH_PLANES,
    bucket_cap: int = ANN_BATCH_CAP,
) -> DataFrame:
    """Batch (all-vectors) approximate nearest neighbors — the dedup-style
    'k neighbors for EVERY vector' join. Candidate generation is a bucket
    groupBy on a deterministic random-hyperplane LSH signature (never an
    all-pairs join: a bucket of M vectors enumerates pairs in-row with an
    M cap), then exact cosine re-ranks and a per-vector window keeps the
    top k. Recall is single-probe LSH (the scale trade the brief asks
    for); the brute-force exactness baseline is ann_cosine_topk."""
    groups = _lsh_bucket_groups(
        spark, sf_dir, n_planes, bucket_cap, "ann_batch_topk"
    )
    # all ordered off-diagonal pairs per bucket, cosine via the numpy
    # left-fold pair kernel (the nested-transform JVM enumeration +
    # per-pair interpreted cosine folds were the op's dominant cost)
    pairs = (
        groups.select("vs")
        .mapInPandas(
            _pair_cos_fn(symmetric=True), "vec_id long, nbr long, cos double"
        )
        .select(
            "vec_id", "nbr", F.round(F.col("cos"), 6).alias("cosine")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("nbr"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("vec_id", "rank", "nbr", "cosine")
        .orderBy("vec_id", "rank")
    )


# Near-orthogonal synthetic embeddings put the "near duplicate" band far
# below real-model cosine ranges — the threshold is data-relative.
DEDUP_EMB_THRESHOLD = 0.35


def dedup_embedding(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = DEDUP_EMB_THRESHOLD,
    n_planes: int = ANN_BATCH_PLANES,
    bucket_cap: int = ANN_BATCH_CAP,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: canonical (vec_a < vec_b)
    pairs whose cosine clears the threshold. Candidate generation is the
    same deterministic hyperplane-LSH bucket groupBy as ann_batch_topk
    (one shuffle, in-row pair enumeration, bucket cap — never an
    all-pairs join), then the exact cosine filter. The semantic-dedup
    step of a training-data pipeline, next to the lexical dedups
    (exact/minhash/simhash/jaccard)."""
    groups = _lsh_bucket_groups(
        spark, sf_dir, n_planes, bucket_cap, "dedup_embedding"
    )
    pairs = (
        groups.select("vs")
        .mapInPandas(
            _pair_cos_fn(symmetric=False), "vec_a long, vec_b long, cos double"
        )
        .select(
            "vec_a", "vec_b", F.round(F.col("cos"), 6).alias("cosine")
        )
    )
    return (
        pairs.where(F.col("cosine") >= F.lit(threshold))
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------------------
# text analysis


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio English-ness heuristic (n-gram language id stand-in
    for the synthetic corpus)."""
    # r7: ratio computed IN-ROW by one Arrow kernel (the size(filter(t IN
    # set)) form evaluated an interpreted HOF lambda per token); membership
    # is a Python set probe on distinct tokens per batch. The single
    # division happens in the kernel (same one float64 divide the JVM
    # expression performed); rounding and the threshold stay in Spark.
    sw = frozenset(ENGLISH_STOP_WORDS)

    def _ratio(batches):
        import pyarrow as pa

        for batch in batches:
            did = batch.column(0)
            if len(did) == 0:
                continue
            toks, null = _tokenize(batch.column(1).to_pylist())
            # NULL text -> NULL ratio; a zero-token doc -> 0 / 1
            r = [
                None if nl else sum(1 for w in tl if w in sw) / max(len(tl), 1)
                for tl, nl in zip(toks, null)
            ]
            yield pa.record_batch(
                [did, pa.array(r, type=pa.float64())],
                names=["doc_id", "_r"],
            )

    staged = (
        _docs_wide(spark, sf_dir)
        .select("doc_id", "text")
        .mapInArrow(_ratio, "doc_id long, _r double")
    )
    # a NULL ratio is not English-like: 0, as the twin's CASE gives
    return staged.select(
        "doc_id", F.round(F.col("_r"), 6).alias("stopword_ratio")
    ).withColumn(
        "is_englishlike", F.when(F.col("stopword_ratio") >= 0.1, 1).otherwise(0)
    ).orderBy("doc_id")


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality score: mix of mean token length, alpha-token fraction and
    length band — the classic cheap pretraining filters."""
    # r7: all three metrics fold IN-ROW in one Arrow kernel pass — the
    # aggregate()/filter(rlike) forms ran as interpreted HOF lambdas per
    # token, and the single-file parquet scan bounded them to one task.
    # Parity: token lengths are exact small ints (float64 accumulation
    # order can't matter), the alpha check mirrors rlike '^[a-z]+$' as a
    # fullmatch, and each ratio is the same single float64 divide the JVM
    # expression performed. Rounding and the score composition stay in
    # Spark, unchanged.
    def _metrics(batches):
        import pyarrow as pa

        alpha = re.compile("[a-z]+")
        for batch in batches:
            did = batch.column(0)
            if len(did) == 0:
                continue
            toks, null = _tokenize(batch.column(1).to_pylist())
            n = len(toks)
            # NULL text -> NULL metrics. A zero-token doc has no mean
            # token length (the twin's sum over an empty list is NULL),
            # so Spark's NULL-skipping least() scores it 1.0 * 0.3
            ml: list = [None] * n
            af: list = [None] * n
            nt: list = [None] * n
            for i, tl in enumerate(toks):
                if null[i]:
                    continue
                k = len(tl)
                nt[i] = k
                g = max(k, 1)
                if k:
                    ml[i] = sum(map(len, tl)) / k
                af[i] = (
                    sum(1 for t in tl if alpha.fullmatch(t) is not None) / g
                )
            yield pa.record_batch(
                [
                    did,
                    pa.array(ml, type=pa.float64()),
                    pa.array(af, type=pa.float64()),
                    pa.array(nt, type=pa.int32()),
                ],
                names=["doc_id", "_ml", "_af", "n_tokens"],
            )

    staged = (
        _docs_wide(spark, sf_dir)
        .select("doc_id", "text")
        .mapInArrow(_metrics, "doc_id long, _ml double, _af double, n_tokens int")
    )
    return staged.select(
        "doc_id",
        F.expr("round(_ml, 6)").alias("mean_token_len"),
        F.expr("round(_af, 6)").alias("alpha_fraction"),
        "n_tokens",
        F.expr(
            "round(least(_ml / 10.0, 1.0) * 0.3 + _af * 0.4"
            " + least(n_tokens / 100.0, 1.0) * 0.3, 6)"
        ).alias("quality_score"),
    ).orderBy("doc_id")


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + BPE-ish subword count (letter runs, digit
    runs, punct singletons)."""
    # r7: both counts + the length fold IN-ROW in one Arrow kernel pass
    # (the JVM form ran split + regexp_extract_all inside the single-task
    # parquet scan). The subword pattern is the same alternation with
    # Java's \s written out explicitly ([ \t\n\x0B\f\r] — Python's \s is
    # wider); ws_tokens counts RAW (unlowered) whitespace tokens exactly
    # like filter(split(text,'\s+'), t<>''). len() == JVM length() (both
    # count code points).
    def _counts(batches):
        import pyarrow as pa

        sub = re.compile(f"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9{_JAVA_WS}]")
        for batch in batches:
            did = batch.column(0)
            if len(did) == 0:
                continue
            texts = batch.column(1).to_pylist()
            toks, null = _tokenize(texts, lower=False)
            # NULL text propagates to NULL counts, exactly like
            # size(split(NULL)) / length(NULL) in the JVM form
            ws_n = [None if nl else len(tl) for tl, nl in zip(toks, null)]
            sub_n = [
                None if t is None else len(sub.findall(t)) for t in texts
            ]
            ln = [None if t is None else len(t) for t in texts]
            yield pa.record_batch(
                [
                    did,
                    pa.array(ws_n, type=pa.int32()),
                    pa.array(sub_n, type=pa.int32()),
                    pa.array(ln, type=pa.int32()),
                ],
                names=["doc_id", "ws_tokens", "subword_tokens", "n_chars_actual"],
            )

    return (
        _docs_wide(spark, sf_dir)
        .select("doc_id", "text")
        .mapInArrow(
            _counts,
            "doc_id long, ws_tokens int, subword_tokens int,"
            " n_chars_actual int",
        )
        .orderBy("doc_id")
    )


# Edge-count bound for the driver-side CC fast path: 2M symmetric edges
# collect to ~32 MB — comfortably inside any driver. Past it, the
# distributed label-propagation loop runs unchanged.
CC_DRIVER_EDGE_BOUND = 2_000_000


def dedup_clusters(
    spark: SparkSession, sf_dir: str, max_iters: int = 20
) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup pairs: every doc
    in a candidate pair gets cluster_id = min doc_id of its component
    (the canonicalization step after pair generation in a dedup pipeline —
    keep one representative per cluster, drop the rest).

    Distributed min-label propagation with pointer doubling: each round is
    (1) label[x] <- min(label[x], min label of x's neighbors), then
    (2) label[x] <- min(label[x], label[label[x]]) — the shortcutting step
    of large-star/small-star CC, so a chain of diameter D converges in
    O(log D) rounds instead of D (edges and labels stay DataFrames; no
    driver-side union-find). Rounds persist their labels and every third
    round localCheckpoints to truncate lineage (an unbounded iterative
    plan otherwise re-derives every prior round at every action; a
    checkpoint every round would pay one extra materialization job per
    round instead). Non-convergence within max_iters RAISES — partial
    labels are silently-wrong output for a dedup pipeline."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    fwd = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    # shuffle width for the iterative frames derived from the EDGE count
    # (guide §2.2 — candidate-pair graphs are orders of magnitude smaller
    # than the corpus, and each round otherwise paid full
    # spark.sql.shuffle.partitions of per-task overhead; ~250k edges per
    # partition keeps tasks meaningful at any scale)
    n_edges = edges.count()
    if n_edges == 0:
        edges.unpersist()
        return spark.createDataFrame(
            [], "doc_id long, cluster_id long"
        )
    if n_edges <= CC_DRIVER_EDGE_BOUND:
        # r7: below the (driver-memory-safe, ~32 MB) bound the candidate
        # graph is pure Spark-job fixed cost — the iterative rounds cost
        # ~3s for a few-thousand-edge graph. Run the SAME min-label +
        # pointer-doubling iteration vectorized in numpy on the collected
        # edge list; the fixed point is identical by construction
        # (label[x] = min doc_id of x's component, indices order-share
        # with sorted doc_ids). Past the bound the distributed loop below
        # is untouched — this is the same bounded-driver pattern as the
        # ngram size broadcast (loud, size-gated, exact).
        rows = edges.collect()
        edges.unpersist()
        src = np.fromiter(
            (r["src"] for r in rows), dtype=np.int64, count=len(rows)
        )
        dst = np.fromiter(
            (r["dst"] for r in rows), dtype=np.int64, count=len(rows)
        )
        uids = np.unique(src)  # symmetric edges: src covers every vertex
        ui = np.searchsorted(uids, src)
        vi = np.searchsorted(uids, dst)
        lab = np.arange(len(uids), dtype=np.int64)
        # same round structure AND the same max_iters contract as the
        # distributed loop: neighbor-min then one doubling hop per round,
        # raise (never partial labels) if the budget is too small for the
        # topology
        for _ in range(max_iters):
            nl = lab.copy()
            np.minimum.at(nl, ui, lab[vi])
            nl = np.minimum(nl, nl[nl])  # pointer doubling
            if np.array_equal(nl, lab):
                break
            lab = nl
        else:
            final = lab.copy()
            np.minimum.at(final, ui, lab[vi])
            if not np.array_equal(final, lab):
                raise RuntimeError(
                    f"dedup_clusters did not converge within {max_iters} "
                    "rounds; raise max_iters (components deeper than "
                    f"2^{max_iters} hops)"
                )
        out = pd.DataFrame(
            {"doc_id": uids, "cluster_id": uids[lab]}
        )
        return spark.createDataFrame(out).orderBy("doc_id")
    try:
        par = spark.sparkContext.defaultParallelism
    except Exception:  # pragma: no cover
        par = 32
    n_part = max(4, min(4 * par, n_edges // 250_000 + 4))
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .repartition(n_part, "doc_id")
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Observation

    changed = 1
    prev_persisted = None
    for it in range(max_iters):
        nbr = (
            edges.join(
                labels.withColumnRenamed("doc_id", "dst"), "dst"
            )
            .repartition(n_part, "src")
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
            .withColumnRenamed("src", "doc_id")
        )
        # convergence probe FUSED into the round's own materializing
        # action via an Observation (CollectMetrics rides the count job —
        # one job per round instead of probe + update). Sound because the
        # graph is symmetric: when no vertex sees a smaller neighbor
        # label (changed == 0), step1 == labels and the doubling hop is a
        # no-op, so the already-computed new_labels IS the fixed point.
        obs = Observation()
        stepped = (
            labels.join(nbr, "doc_id", "left")
            .observe(
                obs,
                F.coalesce(
                    F.sum(
                        (F.col("nbr_min") < F.col("label")).cast("long")
                    ),
                    F.lit(0).cast("long"),
                ).alias("changed"),
            )
            .persist()
        )
        stepped.count()  # materialize; the observation rides this job
        changed = int(dict(obs.get)["changed"])
        if changed == 0:
            stepped.unpersist()
            break
        step1 = stepped.select(
            "doc_id",
            F.least(F.col("label"), F.coalesce("nbr_min", "label")).alias(
                "label"
            ),
        )
        # pointer doubling: follow the label one hop through the label map
        lmap = step1.select(
            F.col("doc_id").alias("_lkey"), F.col("label").alias("_lval")
        )
        new_labels = (
            step1.join(lmap, step1["label"] == lmap["_lkey"], "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("_lval", "label")
                ).alias("label"),
            )
        )
        if (it + 1) % 3 == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
        else:
            new_labels = new_labels.persist()
            new_labels.count()  # materialize so stepped can be released
        if prev_persisted is not None:
            prev_persisted.unpersist()
        stepped.unpersist()
        prev_persisted = new_labels
        labels = new_labels
    if changed != 0:
        # the in-loop probe runs BEFORE the round's update, so a run that
        # converges exactly during round max_iters exits with a stale
        # changed != 0 — certify the FINAL labels with one more cheap
        # probe before declaring non-convergence (max_iters stays the
        # number of usable update rounds, not update rounds minus one)
        nbr = (
            edges.join(labels.withColumnRenamed("doc_id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
            .withColumnRenamed("src", "doc_id")
        )
        changed = (
            labels.join(nbr, "doc_id", "left")
            .where(F.col("nbr_min") < F.col("label"))
            .limit(1)
            .count()
        )
    edges.unpersist()
    if changed != 0:
        raise RuntimeError(
            f"dedup_clusters did not converge within {max_iters} rounds; "
            "raise max_iters (components deeper than 2^max_iters hops)"
        )
    return labels.select(
        "doc_id", F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


def keywords_tfidf(
    spark: SparkSession, sf_dir: str, k: int = 3
) -> DataFrame:
    """Top-k TF-IDF keywords per document (document tagging / topic
    features for a training-data pipeline). Pure JVM: tokenize ->
    (doc, term, tf) -> df per term -> tf * ln(N/df), rank per doc by
    (score desc, term asc), keep k, serialize as csv for comparability."""
    d = _docs(spark, sf_dir)
    # Per-doc (term, tf) pairs in ONE Arrow batch pass (guide §4.2): the
    # explode -> groupBy(doc_id, term) form shipped every token occurrence
    # (~10M rows at sf1.0, 6.0s noop-isolated) through a hash aggregate;
    # counting inside the doc row needs no shuffle at all. r7: (doc_id,
    # term, tf) rows straight out of one Arrow kernel — one factorize +
    # lexsort over _tokenize's tokens emits the exploded rows directly.
    def _doc_tf_rows(batches):
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(0).to_numpy()
            toks, _ = _tokenize(batch.column(1).to_pylist())
            toks_flat, lens = _flatten(toks)
            if not toks_flat:
                continue
            codes, uniq = pd.factorize(pd.Series(toks_flat), sort=False)
            docidx = np.repeat(np.arange(len(toks)), lens)
            order = np.lexsort((codes, docidx))
            d_s = docidx[order]
            c_s = codes[order]
            new_run = np.empty(len(order), dtype=bool)
            new_run[0] = True
            np.logical_or(
                d_s[1:] != d_s[:-1], c_s[1:] != c_s[:-1], out=new_run[1:]
            )
            starts = np.flatnonzero(new_run)
            tf_arr = np.diff(np.concatenate((starts, [len(order)])))
            yield pa.record_batch(
                [
                    pa.array(ids[d_s[starts]], type=pa.int64()),
                    pa.array(uniq[c_s[starts]], type=pa.string()),
                    pa.array(tf_arr.astype(np.int64)),
                ],
                names=["doc_id", "term", "tf"],
            )

    tf = (
        _docs_wide(spark, sf_dir)
        .select("doc_id", "text")
        .mapInArrow(_doc_tf_rows, "doc_id long, term string, tf long")
    )
    n_docs = d.count()
    from pyspark.sql import Window

    # df per term = number of docs containing it = its tf rows (the twin's
    # dfreq); map-side partial counts keep the exchange at batch-vocabulary
    # size
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(dfreq, "term")
        .select(
            "doc_id",
            "term",
            # 9-dp rounding BEFORE the window ordering so near-tie scores
            # collapse to the term-asc tiebreak identically in both engines
            # (the SQL twin rounds the same way)
            F.round(
                F.col("tf").cast("double")
                * F.log(F.lit(float(n_docs)) / F.col("df").cast("double")),
                9,
            ).alias("s"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.desc("s"), F.asc("term")
                )
            ),
        )
        .where(F.col("rk") <= k)
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.concat_ws(
                ",", F.transform(F.array_sort(F.collect_list(F.struct("rk", "term"))), lambda x: x["term"])
            ).alias("keywords")
        )
        .orderBy("doc_id")
    )


# winnowing parameters: k-char grams under a Rabin-style polynomial hash,
# window-min selection (Schleimer/Wilkerson/Aiken, SIGMOD'03). Guarantee:
# any shared substring of length >= K + W - 1 contributes at least one
# common fingerprint hash between two documents.
WINNOW_K = 8
WINNOW_W = 4
WINNOW_B = 257
WINNOW_P = 1_000_000_007
_WINNOW_POW = [pow(WINNOW_B, WINNOW_K - 1 - j, WINNOW_P) for j in range(WINNOW_K)]
# Unicode category Zs (space separators): what DuckDB's trim() strips
_ZS = (
    " \u00a0\u1680" + "".join(map(chr, range(0x2000, 0x200B))) + "\u202f\u205f\u3000"
)


def winnow_min_hashes(s: str) -> list[int]:
    """Sorted distinct window-min gram hashes of one normalized string —
    numpy sliding windows, integer math identical to the SQL twin
    (codepoint * B^j sums mod P; all intermediates < 2^63)."""
    codes = np.array([ord(c) for c in s], dtype=np.int64)
    k, w = WINNOW_K, WINNOW_W
    m = max(len(codes) - (k - 1), 1)
    h = np.zeros(m, dtype=np.int64)
    for j, p in enumerate(_WINNOW_POW):
        seg = codes[j : j + m]
        if len(seg) < m:  # short doc: missing chars hash as 0 (ascii(''))
            seg = np.pad(seg, (0, m - len(seg)))
        h += seg * p
    h %= WINNOW_P
    nw = max(m - (w - 1), 1)
    mins = np.lib.stride_tricks.sliding_window_view(
        np.pad(h, (0, max(nw + w - 1 - m, 0)), constant_values=np.iinfo(np.int64).max),
        w,
    )[:nw].min(axis=1)
    return sorted(set(int(x) for x in mins))


def fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint by winnowing: polynomial hash of
    every K-char gram of the normalized text, min per W-hash window,
    md5 over the sorted distinct mins. Robust to local edits (only the
    windows covering the edit change) — the plagiarism/near-dup
    fingerprint complementing the order-insensitive token-set
    fingerprint. Normalization and the final md5 stay JVM-side; the
    per-gram polynomial runs as an Arrow-batched numpy UDF (a per-char
    interpreted HOF lambda costs ~50x; numpy sliding windows match the
    SQL twin's integers exactly)."""
    # r7: the gram/window arithmetic runs over ONE flat code array per
    # Arrow batch instead of a numpy call per doc (the per-doc .map paid
    # ~40us of dispatch per row). Docs are concatenated with a k-zero gap
    # windows that run past a short doc read zeros — exactly the
    # per-doc zero-padding — and hash slots that belong to no doc are
    # forced to int64.max before the window-min, exactly the per-doc
    # int64.max padding. Same integers as winnow_min_hashes by
    # construction (pinned in tests/test_winnow.py); md5 stays JVM.
    k, w, p_mod = WINNOW_K, WINNOW_W, WINNOW_P
    pows = np.array(_WINNOW_POW, dtype=np.int64)

    def _fps(batches):
        import pyarrow as pa

        big = np.iinfo(np.int64).max
        for batch in batches:
            did = batch.column(0)
            if len(did) == 0:
                continue
            texts = batch.column(1).to_pylist()
            codes_l = [
                np.frombuffer(
                    (t or "").encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                for t in texts
            ]
            lens = np.array([len(c) for c in codes_l], dtype=np.int64)
            m = np.maximum(lens - (k - 1), 1)
            # gap k (not k-1): an EMPTY doc's single window reads k padded
            # zeros, so k gap slots keep it from touching the next doc
            gap = k
            offs = np.concatenate(
                ([0], np.cumsum(lens + gap)[:-1])
            ).astype(np.int64)
            total = int(offs[-1] + lens[-1] + gap) if len(lens) else 0
            flat = np.zeros(total + k, dtype=np.int64)
            for i, c in enumerate(codes_l):
                flat[offs[i] : offs[i] + lens[i]] = c
            # rolling polynomial over the flat array (8 shifted adds) —
            # same mod-once arithmetic as the per-doc kernel
            h = np.zeros(total, dtype=np.int64)
            for j in range(k):
                h += flat[j : j + total] * pows[j]
            h %= p_mod
            # invalidate hash slots outside every doc's valid gram range
            valid = np.zeros(total + 1, dtype=np.int64)
            np.add.at(valid, offs, 1)
            np.add.at(valid, offs + m, -1)
            h[np.cumsum(valid[:-1]) == 0] = big
            # window-min of width w via shifted minima
            mn = h[: total - (w - 1)].copy()
            for j in range(1, w):
                np.minimum(mn, h[j : total - (w - 1) + j], out=mn)
            nw = np.maximum(m - (w - 1), 1)
            # NULL text -> NULL fingerprint (md5(NULL), as in the twin)
            out = [
                None
                if texts[i] is None
                else ",".join(
                    map(
                        str,
                        np.unique(mn[offs[i] : offs[i] + nw[i]]).tolist(),
                    )
                )
                for i in range(len(lens))
            ]
            yield pa.record_batch(
                [did, pa.array(out, type=pa.string())],
                names=["doc_id", "fp"],
            )

    d = _docs_wide(spark, sf_dir)
    # Spark's trim() strips only ' ', DuckDB's (the twin's) every Unicode
    # space separator (Zs): trim that set
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "), F.lit(_ZS))
    return (
        d.select("doc_id", norm.alias("s"))
        .mapInArrow(_fps, "doc_id long, fp string")
        .select("doc_id", F.md5(F.col("fp")).alias("winnow_fp"))
        .orderBy("doc_id")
    )


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive document fingerprint: md5 over the sorted distinct
    token set (word-shuffle-invariant near-dup key)."""
    # r7: the sort-distinct-join-md5 chain folds IN-ROW in one Arrow
    # kernel (the JVM form ran array_sort/array_distinct as interpreted
    # array ops inside the single-task parquet scan). Parity: Python
    # sorted() orders code points and JVM array_sort orders UTF8 bytes —
    # identical orderings (UTF-8 is order-preserving); md5 hex lowercase
    # both sides. NULL and zero-token docs -> NULL fingerprint (the twin's
    # array_to_string over an empty list is NULL).
    def _fp(batches):
        import pyarrow as pa

        for batch in batches:
            did = batch.column(0)
            if len(did) == 0:
                continue
            toks, _ = _tokenize(batch.column(1).to_pylist())
            fps = [
                hashlib.md5(" ".join(sorted(set(tl))).encode("utf-8")).hexdigest()
                if tl
                else None
                for tl in toks
            ]
            yield pa.record_batch(
                [did, pa.array(fps, type=pa.string())],
                names=["doc_id", "fingerprint"],
            )

    return (
        _docs_wide(spark, sf_dir)
        .select("doc_id", "text")
        .mapInArrow(_fp, "doc_id long, fingerprint string")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# multimodal (binary column plumbing; decode stubbed)


MEDIA_SCHEMA = (
    "doc_id long, media binary, media_type string, width int, height int"
)


def synth_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fake media table: binary payload derived from the
    document text (stands in for image bytes; schema and partitioning are
    the real thing)."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("media"),
        F.lit("image/fake").alias("media_type"),
        (F.pmod(F.col("doc_id"), F.lit(640)) + 32).cast("int").alias("width"),
        (F.pmod(F.col("doc_id"), F.lit(480)) + 32).cast("int").alias("height"),
    )


def _pil_image_module():
    """PIL.Image when importable, else None — resolved once per process
    (so executors with Pillow installed get real JPEG/PNG/WebP decode and
    codec-less deployments keep the declared pure-numpy path)."""
    global _PIL_IMAGE
    if _PIL_IMAGE is _PIL_UNRESOLVED:
        try:
            from PIL import Image as _img  # noqa: N813

            _PIL_IMAGE = _img
        except ImportError:
            _PIL_IMAGE = None
    return _PIL_IMAGE


_PIL_UNRESOLVED = object()
_PIL_IMAGE = _PIL_UNRESOLVED
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_image(payload: bytes) -> "np.ndarray":
    """Decode an image payload to an (H, W, 3) uint8 array.

    Pure-numpy decoders needing no external codec:
      - PPM P6 (binary, maxval<=255) and P3 (ASCII)
      - PGM P5 (grayscale, broadcast to 3 channels)
      - BMP: uncompressed 24-bit BI_RGB (bottom-up or top-down rows)
      - PNG: vendored stdlib-zlib decoder (ferret_spark.png) —
        non-interlaced 8-bit, all filters and color types
    The remaining compressed codecs (JPEG/WebP, plus the PNG shapes the
    vendored decoder declines) decode through Pillow WHEN it is
    importable (feature-flagged, not required); without it they raise
    NotImplementedError — a declared stand-in, not a silent fake."""
    if payload[:2] in (b"P6", b"P3", b"P5"):
        return _decode_pnm(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:8] == _PNG_SIG:
        from ferret_spark.png import decode_png

        try:
            return decode_png(payload)
        except NotImplementedError:
            if _pil_image_module() is None:
                raise
            # interlaced / deep-bit PNGs fall through to Pillow
    pil = _pil_image_module()
    if pil is not None:
        import io

        with pil.open(io.BytesIO(payload)) as im:
            return np.asarray(im.convert("RGB"), dtype=np.uint8)
    raise NotImplementedError(
        "only PPM/PGM/BMP are decodable without PIL/libvips"
    )


def _decode_pnm(payload: bytes) -> "np.ndarray":
    # header = magic, width, height, maxval as whitespace-separated tokens
    # (comment lines start with '#'); pixel data follows the single
    # whitespace byte after maxval
    magic = payload[:2]
    toks, pos = [], 2
    while len(toks) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while payload[pos : pos + 1] not in (b"\n", b""):
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        toks.append(int(payload[start:pos]))
    w, h, maxval = toks
    if maxval > 255:
        raise NotImplementedError("16-bit PNM not supported")
    pos += 1  # single whitespace after maxval
    if magic == b"P3":
        vals = np.array(payload[pos:].split(), dtype=np.int64)
        return vals.reshape(h, w, 3).astype(np.uint8)
    ch = 3 if magic == b"P6" else 1
    arr = np.frombuffer(payload, dtype=np.uint8, count=h * w * ch, offset=pos)
    arr = arr.reshape(h, w, ch)
    return arr if ch == 3 else np.repeat(arr, 3, axis=2)


def _decode_bmp(payload: bytes) -> "np.ndarray":
    import struct

    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", payload, 26)
    if bpp != 24 or compression != 0:
        raise NotImplementedError("only uncompressed 24-bit BMP supported")
    top_down = h < 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=h * stride, offset=data_off
    ).reshape(h, stride)
    bgr = rows[:, : w * 3].reshape(h, w, 3)
    rgb = bgr[:, :, ::-1]
    return rgb if top_down else rgb[::-1]


def encode_ppm(arr: "np.ndarray") -> bytes:
    """(H, W, 3) uint8 -> binary PPM (P6)."""
    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()


def resize_pixels(arr: "np.ndarray", out_w: int, out_h: int) -> "np.ndarray":
    """Deterministic resample: exact box-average when both factors divide
    evenly (the common thumbnail case), else nearest-neighbor via
    pixel-center index mapping."""
    h, w = arr.shape[:2]
    if h % out_h == 0 and w % out_w == 0:
        fy, fx = h // out_h, w // out_w
        boxes = arr.reshape(out_h, fy, out_w, fx, 3).astype(np.uint32)
        return (boxes.mean(axis=(1, 3))).astype(np.uint8)
    ys = np.minimum((np.arange(out_h) + 0.5) * h / out_h, h - 1).astype(int)
    xs = np.minimum((np.arange(out_w) + 0.5) * w / out_w, w - 1).astype(int)
    return arr[ys][:, xs]


def media_resize(
    media: DataFrame, out_w: int = 64, out_h: int = 64
) -> DataFrame:
    """Resize over binary media via mapInPandas (Arrow batches): binary in
    -> binary out with updated (width, height) metadata, batch-columnar,
    no driver data.

    Decodable payloads (PPM/PGM/BMP, per decode_image) get REAL pixel
    resampling (box-average / nearest-neighbor) and are re-encoded as
    binary PPM. Payloads needing external codecs keep the deterministic
    byte-downsample stand-in so the pipeline shape stays uniform."""

    def resize(batches):
        for pdf in batches:
            out_bytes, out_types = [], []
            for b, mt in zip(pdf["media"], pdf["media_type"]):
                raw = bytes(b)
                try:
                    px = decode_image(raw)
                    out_bytes.append(
                        encode_ppm(resize_pixels(px, out_w, out_h))
                    )
                    out_types.append("image/x-portable-pixmap")
                except NotImplementedError:
                    # stand-in for codec-bound formats: stride-sample the
                    # payload to the target size
                    n = max(1, out_w * out_h // 8)
                    step = max(1, len(raw) // n)
                    out_bytes.append(raw[::step][:n])
                    out_types.append(mt)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": out_bytes,
                    "media_type": out_types,
                    "width": out_w,
                    "height": out_h,
                }
            )

    return media.mapInPandas(resize, MEDIA_SCHEMA)


def frame_sample(
    media: DataFrame, n_frames: int = 4
) -> DataFrame:
    """Frame sampling plumbing for video-like payloads: one input row ->
    n_frames output rows (doc_id, frame_no, frame binary). The real
    container demux is stubbed (no av libs here); frames are
    deterministic, evenly-strided byte windows so ordering, fan-out and
    schema — the parts Spark owns — are fully real and tested."""

    def sample(batches):
        for pdf in batches:
            ids, frames, nos = [], [], []
            for did, b in zip(pdf["doc_id"], pdf["media"]):
                raw = bytes(b)
                win = max(1, len(raw) // max(n_frames, 1))
                for i in range(n_frames):
                    ids.append(did)
                    nos.append(i)
                    frames.append(raw[i * win:(i + 1) * win])
            yield pd.DataFrame(
                {"doc_id": ids, "frame_no": nos, "frame": frames}
            )

    return media.mapInPandas(
        sample, "doc_id long, frame_no int, frame binary"
    )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary media via mapInPandas (Arrow batches).
    The 'decoder' is a deterministic md5-derived 8-dim feature so the
    pipeline shape (binary in -> fixed-dim float out) is fully tested.

    The result serializes the vector as ``feature_csv`` (values are
    integral doubles, rendered as ints) — array columns aren't
    lex-sortable by comparison harnesses; the raw array stays available
    via multimodal_feature_vectors()."""
    vec = multimodal_feature_vectors(spark, sf_dir)
    return vec.select(
        "doc_id",
        F.expr(
            "concat_ws(',', transform(feature, x -> cast(cast(x as int) as string)))"
        ).alias("feature_csv"),
        "n_bytes",
    ).orderBy("doc_id")


def multimodal_feature_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw array<double> feature output (binary in -> fixed-dim out)."""
    media = synth_media(spark, sf_dir)

    def extract(batches):
        for pdf in batches:
            feats = []
            for b in pdf["media"]:
                h = hashlib.md5(bytes(b)).hexdigest()
                # deterministic 8-dim fake feature: char codes of the first
                # 8 md5 hex chars (SQL-twin-able via ascii(substr(md5,..)))
                feats.append([float(ord(h[i])) for i in range(8)])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "feature": feats,
                    "n_bytes": [len(bytes(b)) for b in pdf["media"]],
                }
            )

    return media.mapInPandas(
        extract, "doc_id long, feature array<double>, n_bytes long"
    )
