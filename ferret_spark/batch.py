"""batch_search — score MANY queries in ONE Spark job.

The reference engine answers one query per searcher call
(frt_isea_search_w, c/src/search.c:1049-1127); per-query fixed cost is
microseconds there, so a query log is just a loop. On Spark the loop is
the wrong shape: every call pays job submission, a postings scan, and a
top-k collect — ~0.5-1s of fixed latency that dwarfs per-doc work. At
cluster scale the idiomatic answer is batching: evaluate a whole query
log against ONE shared postings scan and shuffle, amortizing the fixed
cost over B queries. This operator is therefore a deliberate Spark-first
ADDITION to the reference surface, not a port of anything in it.

Shape (all JVM, no Python in the plan):

1. ONE driver df-lookup for the union of all queries' (field, term)
   pairs (pushed scan of the range-partitioned term_stats parquet).
2. ONE postings scan with the union predicate pushed down
   (OR over per-field `term IN (...)` lists — parquet rowgroup stats
   prune exactly like the per-query path).
3. Join against a BROADCAST clause table (query_id, field, term,
   clause kind, fold position, boost*idf weight, field avgdl) — a few
   rows per query, never a shuffle.
4. ONE partial-aggregated groupBy (query_id, doc_id): BM25
   contributions fold in the same float64 order as the single-query
   planner (must clauses in clause order, then should clauses; a
   MultiTermQuery folds in sorted-term order), so scores are
   bit-identical to plan_scores() per query. MUST coverage = count of
   distinct must clause slots, MUST_NOT = any excluded row poisons the
   group.
5. Per-query top-k via one ranked window over (query_id) — a single
   shuffle keyed by query, same float32 rank semantics as plan_topk
   (cast to float BEFORE ordering; ties broken doc_id asc).

Scale posture at 100 TB: the scan is bounded by the union of query
terms (pushdown + column pruning), the clause table is O(total clauses)
and broadcast, the only data shuffles are the partial-combined
(query_id, doc_id) aggregation and the per-query top-k window. A hot
term shared by Q queries fans its postings out Q-fold at the join — Q
is the batch size, bounded and chosen by the caller; map-side combine
collapses it before the shuffle.

Supported query shapes (after spark_rewrite): TermQuery,
MultiTermQuery (so prefix/wildcard/fuzzy arrive here via their capped
rewrites), flat BooleanQuery whose clause queries are TermQuery or
MatchAllQuery (the rewrite injects a MUST MatchAll into pure-NOT
booleans, mirroring the reference's implicit match-all — those rows
come from one docs scan, not the postings scan), and top-level
PhraseQuery (exact, sloppy, multi-alternative slots, skip offsets,
repeated terms).  Anything else (nested booleans, phrase clauses
inside booleans, top-level MatchAll, uncapped constant-score rewrites)
raises ValueError — route those through index.search().

Phrases batch through their own single POSITIONAL scan (so term/bool
queries never read the heavy positions column):

  a. one postings scan with the union predicate over every phrase
     query's slot terms, keeping ``positions``;
  b. a broadcast slot table (query_id, field, term, slot) fans each
     posting row out to the slots that want it;
  c. when the summed df of each query's RAREST slot is small, a
     broadcast candidate semi-join ((query_id, doc_id) pairs from the
     rarest slots only) drops hot-term postings map-side BEFORE the
     aggregation shuffle — the batch analog of the single-query
     planner's rare-side broadcast, so a "rare term + stop word"
     phrase never shuffles the stop word's postings;
  d. ONE groupBy (query_id, doc_id) collects (slot, positions) pairs,
     a coverage filter keeps docs holding all slots, and a single
     mapInPandas evaluates phrase frequencies with the SAME
     whole-batch numpy kernels the single-query planner uses
     (phrase_np: static 2-slot chain / lockstep k-way heap walk /
     exact k-way intersection), grouped by query inside each Arrow
     batch — per-query freqs and BM25 scores are bit-identical to
     plan_phrase.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ferret_spark.oracle import B as B_, K1, bm25_idf
from ferret_spark.query import (
    MUST,
    MUST_NOT,
    SHOULD,
    BooleanQuery,
    MatchAllQuery,
    MultiTermQuery,
    PhraseQuery,
    Query,
    TermQuery,
    query_terms,
)
from ferret_spark.search import PHRASE_BROADCAST_DF, _phrase_has_repeats, spark_rewrite

# clause kinds in the broadcast clause table
_K_MUST = 0  # scores and counts toward MUST coverage
_K_SHOULD = 1  # scores
_K_NOT = 2  # poisons the (query_id, doc_id) group

def _clause_rows(qid: int, q: Query, dfs: dict, n_docs: int, avgdl_of):
    """(meta_rows, matchall_rows, n_must, qboost) for one rewritten query.

    matchall_rows are (qid, ord, kind, w) rows for MatchAllQuery
    clauses — they contribute w = clause_boost * 1.0 to EVERY doc (the
    plan_match_all score) and are served from one docs scan in
    batch_search, never from postings.

    Each meta row is (qid, field, term, ord, kind, w, avgdl) with
    w = clause_boost * idf precomputed driver-side — the same float64
    product the single-query planner forms ((boost * idf) * tf_part is
    left-associative in both).  ``ord`` is the fold position: must
    clauses first, then should clauses, mirroring plan_boolean's
    score_cols order; MultiTermQuery uses sorted-term rank, mirroring
    plan_multi_term's array_sort fold.
    """
    rows, ma_rows = [], []
    if isinstance(q, TermQuery):
        df_ = dfs.get((q.field, q.term), 0)
        if df_ > 0:
            rows.append(
                (
                    qid, q.field, q.term, 0, _K_MUST,
                    q.boost * bm25_idf(df_, n_docs), avgdl_of(q.field),
                )
            )
        return rows, ma_rows, 1, 1.0
    if isinstance(q, MultiTermQuery):
        live = sorted(
            (t, b) for t, b in q.terms if dfs.get((q.field, t), 0) > 0
        )
        for i, (t, b) in enumerate(live):
            rows.append(
                (
                    qid, q.field, t, i, _K_SHOULD,
                    b * bm25_idf(dfs[(q.field, t)], n_docs),
                    avgdl_of(q.field),
                )
            )
        return rows, ma_rows, 0, q.boost
    if isinstance(q, BooleanQuery):
        musts = [c.query for c in q.clauses if c.occur == MUST]
        shoulds = [c.query for c in q.clauses if c.occur == SHOULD]
        nots = [c.query for c in q.clauses if c.occur == MUST_NOT]
        for sub in musts + shoulds:
            if not isinstance(sub, (TermQuery, MatchAllQuery)):
                raise ValueError(
                    "batch_search: boolean clauses must be TermQuery or "
                    f"MatchAllQuery, got {type(sub).__name__} — use "
                    "index.search() for this query"
                )
        for sub in nots:
            if not isinstance(sub, TermQuery):
                raise ValueError(
                    "batch_search: MUST_NOT clauses must be TermQuery, got "
                    f"{type(sub).__name__} — use index.search() for this query"
                )
        ord_ = 0
        for kind, subs in ((_K_MUST, musts), (_K_SHOULD, shoulds)):
            for sub in subs:
                if isinstance(sub, MatchAllQuery):
                    # plan_match_all: boost * 1.0 for every live doc
                    ma_rows.append((qid, ord_, kind, sub.boost * 1.0))
                else:
                    df_ = dfs.get((sub.field, sub.term), 0)
                    if df_ > 0:
                        rows.append(
                            (
                                qid, sub.field, sub.term, ord_, kind,
                                sub.boost * bm25_idf(df_, n_docs),
                                avgdl_of(sub.field),
                            )
                        )
                ord_ += 1
        for sub in nots:
            if dfs.get((sub.field, sub.term), 0) > 0:
                rows.append(
                    (qid, sub.field, sub.term, -1, _K_NOT, 0.0,
                     avgdl_of(sub.field))
                )
        if not musts and not shoulds:
            # pure-NOT reaching here unrewritten matches nothing
            # (spark_rewrite injects a MUST MatchAll before this runs)
            return [], [], 0, q.boost
        return rows, ma_rows, len(musts), q.boost
    raise ValueError(
        f"batch_search: unsupported query shape {type(q).__name__} — "
        "supported: TermQuery, MultiTermQuery, PhraseQuery, "
        "flat boolean-of-terms"
    )


def _phrase_scored_batch(index, phrase_qs, dfs) -> DataFrame | None:
    """(query_id, doc_id, score64) for every top-level PhraseQuery in the
    batch, from ONE positional postings scan — see the module docstring
    (step list c-d) for the plan shape.  Scores are bit-identical to
    plan_phrase: same idf_sum fold order, same freq kernels, same
    (boost * idf_sum) * tf_part float64 association (avgdl arrives as a
    per-query column; double division by a column equals division by the
    literal)."""
    spark = index.spark
    slot_rows = []          # (qid, field, term, slot)
    cand_rows = []          # (qid, field, term) — rarest slot's alts
    qmeta_rows = []         # (qid, n_slots, w, avgdl)
    qinfo = {}              # qid -> (k, offsets, slop, repeats) for the kernels
    cand_bound = 0
    for qid, q in phrase_qs:
        field, n = q.field, index.n_docs
        idf_sum = 0.0
        for _, alts in q.positions:
            for t in alts:
                df_ = dfs.get((field, t), 0)
                if df_ > 0:
                    idf_sum += bm25_idf(df_, n)
        live = []
        dead = False
        for off, alts in q.positions:
            alts_live = [t for t in alts if dfs.get((field, t), 0) > 0]
            if not alts_live:
                dead = True
                break
            live.append((off, alts_live))
        if dead or not live:
            continue
        for i, (_, alts_live) in enumerate(live):
            for t in alts_live:
                slot_rows.append((qid, field, t, i))
        rarest = min(
            range(len(live)),
            key=lambda i: sum(dfs[(field, t)] for t in live[i][1]),
        )
        cand_bound += sum(dfs[(field, t)] for t in live[rarest][1])
        cand_rows.extend((qid, field, t) for t in live[rarest][1])
        qmeta_rows.append(
            (qid, len(live), q.boost * idf_sum, index.avgdl(field))
        )
        qinfo[qid] = (
            len(live),
            tuple(off for off, _ in live),
            q.slop,
            _phrase_has_repeats(q),
        )
    if not slot_rows:
        return None

    def scan(rows3):
        by_field: dict[str, set] = {}
        for _, f, t, *_r in rows3:
            by_field.setdefault(f, set()).add(t)
        cond = None
        for f in sorted(by_field):
            c = (F.col("field") == f) & F.col("term").isin(sorted(by_field[f]))
            cond = c if cond is None else (cond | c)
        return index.postings.where(cond)

    slot_tbl = F.broadcast(
        spark.createDataFrame(
            slot_rows, "qid int, field string, term string, slot int"
        )
    )
    rows = (
        scan(slot_rows)
        .select("field", "term", "doc_id", "positions", "doc_len")
        .join(slot_tbl, ["field", "term"])
        .select("qid", "slot", "doc_id", "positions", "doc_len")
    )
    if cand_bound <= PHRASE_BROADCAST_DF:
        # broadcast candidate semi-join: hot slots' postings die map-side
        # before the aggregation shuffle (bounded by the rarest slots)
        cand_tbl = F.broadcast(
            spark.createDataFrame(cand_rows, "qid int, field string, term string")
        )
        cand = (
            scan(cand_rows)
            .select("field", "term", "doc_id")
            .join(cand_tbl, ["field", "term"])
            .select("qid", "doc_id")
            .dropDuplicates(["qid", "doc_id"])
        )
        rows = rows.join(F.broadcast(cand), ["qid", "doc_id"])

    g = rows.groupBy("qid", "doc_id").agg(
        F.collect_list(F.struct("slot", "positions")).alias("slots"),
        F.first("doc_len").alias("dl"),
        F.size(F.array_distinct(F.collect_list("slot"))).alias("n_hit"),
    )
    qmeta = F.broadcast(
        spark.createDataFrame(
            qmeta_rows, "qid int, n_slots int, w double, avgdl double"
        )
    )
    covered = g.join(qmeta, "qid").where(
        F.col("n_hit") == F.col("n_slots")
    ).select("qid", "doc_id", "slots", "dl")

    def eval_freqs(batches):
        import numpy as np
        import pandas as pd

        from ferret_spark.oracle import sloppy_phrase_freq
        from ferret_spark.phrase_np import (
            exact_freqk_batch,
            sloppy_freq2_batch,
            sloppy_freqk_batch,
        )

        for pdf in batches:
            m = len(pdf)
            freq = np.zeros(m, dtype=np.float64)
            qids = pdf["qid"].to_numpy()
            slots_col = pdf["slots"].to_numpy()
            for qid in pd.unique(pdf["qid"]):
                kq, offsets, slop, repeats = qinfo[int(qid)]
                sel = np.flatnonzero(qids == qid)
                # assemble per-slot sorted position arrays; multi-alt
                # slots merge their alternatives' arrays (the batched
                # form of plan_phrase's sort_array(flatten(collect_list)))
                slot_arrs = [[None] * len(sel) for _ in range(kq)]
                for out_i, row_i in enumerate(sel):
                    per_slot = [[] for _ in range(kq)]
                    for ent in slots_col[row_i]:
                        per_slot[ent["slot"]].append(
                            np.asarray(ent["positions"], dtype=np.int64)
                        )
                    for j in range(kq):
                        if len(per_slot[j]) == 1:
                            a = per_slot[j][0]
                        elif slop == 0 and kq > 1:
                            # exact scoring intersects DISTINCT values
                            # (plan_phrase's array_intersect dedups), and
                            # exact_freqk assumes within-slot distinctness
                            # — same-position alternatives must collapse
                            a = np.unique(np.concatenate(per_slot[j]))
                        else:
                            # a single slot counts, and the sloppy kernels
                            # walk, the dup-preserving merge, exactly like
                            # plan_phrase's sort_array(flatten(collect_list))
                            # and the oracle's per-alternative extend
                            a = np.sort(np.concatenate(per_slot[j]))
                        slot_arrs[j][out_i] = a
                if kq == 1:
                    fq = np.fromiter(
                        (len(a) for a in slot_arrs[0]),
                        dtype=np.float64,
                        count=len(sel),
                    )
                elif slop == 0:
                    fq = exact_freqk_batch(slot_arrs, offsets)
                elif kq == 2 and not repeats:
                    fq = sloppy_freq2_batch(
                        slot_arrs[0], slot_arrs[1], offsets[0], offsets[1], slop
                    )
                elif not repeats:
                    fq = sloppy_freqk_batch(slot_arrs, offsets, slop)
                else:
                    fq = np.zeros(len(sel), dtype=np.float64)
                    for out_i in range(len(sel)):
                        adjusted = [
                            (slot_arrs[j][out_i] - offsets[j]).tolist()
                            for j in range(kq)
                        ]
                        fq[out_i] = sloppy_phrase_freq(
                            adjusted, offsets, slop, True
                        )
                freq[sel] = fq
            yield pd.DataFrame(
                {
                    "qid": pdf["qid"],
                    "doc_id": pdf["doc_id"],
                    "freq": freq,
                    "dl": pdf["dl"],
                }
            )

    with_freq = covered.mapInPandas(
        eval_freqs, "qid int, doc_id long, freq double, dl int"
    )
    tf = F.col("freq")
    dl = F.col("dl").cast("double")
    tfp = (tf * F.lit(K1 + 1.0)) / (
        tf
        + F.lit(K1)
        * (F.lit(1.0) - F.lit(B_) + F.lit(B_) * dl / F.col("avgdl"))
    )
    return (
        with_freq.where(F.col("freq") > 0.0)
        .join(qmeta.select("qid", "w", "avgdl"), "qid")
        .select("qid", "doc_id", (F.col("w") * tfp).alias("score64"))
    )


def batch_search(
    index,
    queries: list[Query],
    k: int = 10,
    score_round: int | None = None,
) -> DataFrame:
    """Top-k for every query in ``queries`` in one Spark job.

    Returns (query_id, rank, doc_id, score) where query_id is the
    position in ``queries``; scores are bit-identical to
    plan_scores(index, q) per query. ``score_round`` rounds the float64
    score to that many decimals BEFORE ranking (the driver-compare
    convention); default ranks on the float32 cast like plan_topk.
    """
    spark = index.spark
    rewritten = [spark_rewrite(index, q) for q in queries]
    pairs = sorted({p for q in rewritten for p in query_terms(q)})
    dfs = index.doc_freqs(pairs)

    phrase_qs = [
        (qid, rq)
        for qid, rq in enumerate(rewritten)
        if isinstance(rq, PhraseQuery)
    ]
    meta_rows, ma_meta_rows, q_rows = [], [], []
    for qid, rq in enumerate(rewritten):
        if isinstance(rq, PhraseQuery):
            continue  # phrases batch through their own positional scan
        rows, ma_rows, n_must, qboost = _clause_rows(
            qid, rq, dfs, index.n_docs, index.avgdl
        )
        meta_rows.extend(rows)
        ma_meta_rows.extend(ma_rows)
        q_rows.append((qid, n_must, float(qboost)))
    phrase_scored = (
        _phrase_scored_batch(index, phrase_qs, dfs) if phrase_qs else None
    )
    if not meta_rows and not ma_meta_rows and phrase_scored is None:
        # ranked like a scored batch, so the score type follows score_round
        empty = spark.createDataFrame(
            [], "qid int, doc_id long, score64 double"
        )
        return _rank_topk(empty, k, score_round)
    if not meta_rows and not ma_meta_rows:
        return _rank_topk(phrase_scored, k, score_round)

    meta = F.broadcast(
        spark.createDataFrame(
            meta_rows,
            "qid int, field string, term string, ord int, kind int, "
            "w double, avgdl double",
        )
    )
    qmeta = F.broadcast(
        spark.createDataFrame(q_rows, "qid int, n_must int, qboost double")
    )

    j = None
    if meta_rows:
        # ONE scan: union pushdown predicate, grouped per field
        by_field: dict[str, set] = {}
        for _, f, t, *_rest in meta_rows:
            by_field.setdefault(f, set()).add(t)
        cond = None
        for f in sorted(by_field):
            c = (F.col("field") == f) & F.col("term").isin(sorted(by_field[f]))
            cond = c if cond is None else (cond | c)
        p = index.postings.where(cond).select(
            "field", "term", "doc_id", "tf", "doc_len"
        )

        tf = F.col("tf").cast("double")
        dl = F.col("doc_len").cast("double")
        tfp = (tf * F.lit(K1 + 1.0)) / (
            tf
            + F.lit(K1)
            * (F.lit(1.0) - F.lit(B_) + F.lit(B_) * dl / F.col("avgdl"))
        )
        contrib = (F.col("w") * tfp).alias("contrib")

        j = p.join(meta, ["field", "term"]).select(
            "qid", "doc_id", "ord", "kind", contrib
        )
    if ma_meta_rows:
        # MatchAll clauses: one docs scan, broadcast fan-out per clause
        ma_meta = F.broadcast(
            spark.createDataFrame(
                ma_meta_rows, "qid int, ord int, kind int, w double"
            )
        )
        ma = index.docs.select("doc_id").crossJoin(ma_meta).select(
            "qid", "doc_id", "ord", "kind", F.col("w").alias("contrib")
        )
        j = ma if j is None else j.unionByName(ma)
    scoring = F.col("kind") <= _K_SHOULD
    g = j.groupBy("qid", "doc_id").agg(
        # collect_list drops the NULLs the non-scoring (NOT) rows produce
        F.collect_list(
            F.when(scoring, F.struct("ord", "contrib"))
        ).alias("arr"),
        F.size(
            F.array_distinct(
                F.collect_list(F.when(F.col("kind") == _K_MUST, F.col("ord")))
            )
        ).alias("must_hits"),
        F.max((F.col("kind") == _K_NOT).cast("int")).alias("has_not"),
    )
    # fold in ord order: identical float64 add sequence to plan_boolean's
    # left-assoc coalesce chain / plan_multi_term's array_sort fold
    ssum = F.aggregate(
        F.array_sort(F.col("arr")), F.lit(0.0), lambda acc, x: acc + x["contrib"]
    )
    scored = (
        g.join(qmeta, "qid")
        .where(
            (F.col("must_hits") == F.col("n_must")) & (F.col("has_not") == 0)
        )
        .select(
            "qid", "doc_id", (F.col("qboost") * ssum).alias("score64")
        )
    )
    if phrase_scored is not None:
        scored = scored.unionByName(phrase_scored)
    return _rank_topk(scored, k, score_round)


def _rank_topk(scored: DataFrame, k: int, score_round: int | None) -> DataFrame:
    """Per-query top-k over (qid, doc_id, score64): one ranked window
    keyed by query — float32 rank semantics like plan_topk (cast BEFORE
    ordering; ties doc_id asc), or decimal rounding in score_round mode."""
    if score_round is not None:
        rank_score = F.round(F.col("score64"), score_round)
    else:
        rank_score = F.col("score64").cast("float")
    w = Window.partitionBy("qid").orderBy(
        rank_score.desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            "rank",
            "doc_id",
            rank_score.alias("score"),
        )
    )
