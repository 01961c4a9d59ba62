"""Query planner: Query tree -> DataFrame plan (declarative read path).

Each node plans to a DataFrame (doc_id: long, score: double); the root is
cast to float32 and TakeOrderedAndProject'd (orderBy score desc, doc_id asc
limit k — the bounded-PQ collector analog, c/src/search.c:91-99,157-174).
One planner serves single queries and batches: ``batch_search`` unions
the single-query plans of its queries (tagged with their position) and
ranks them with one per-query window, so a batched query scores exactly
as it does alone.

Score parity discipline: every arithmetic expression mirrors the oracle's
operation order exactly (float64 throughout, float32 cast only at the root),
so Spark and oracle scores are bit-identical. Sum-reordering hazards
(groupBy over many expanded terms) are removed by summing contributions in
sorted-term order on both sides.

Scale notes:
- per-term df/idf constants are ONE batched driver lookup per query, or
  per batch (pushdown filter on the range-partitioned term_stats parquet).
- a query's postings scan carries a pushed-down `term IN (...)` predicate —
  parquet rowgroup stats prune like the .tii term-dict tier.
- boolean MUST = inner joins (broadcastable when one side is a rare term),
  MUST_NOT = left_anti, SHOULD = outer join accumulation; AQE handles skew.
"""

from __future__ import annotations

import logging
import math
from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ferret_spark.oracle import K1, B, bm25_idf
from ferret_spark.phrase_np import _flatten, has_repeats, phrase_freqs
from ferret_spark.query import (
    MUST,
    MUST_NOT,
    SHOULD,
    BooleanQuery,
    Clause,
    FilteredQuery,
    FuzzyQuery,
    MatchAllQuery,
    MultiTermQuery,
    PhraseQuery,
    PrefixQuery,
    Query,
    RangeQuery,
    TermQuery,
    WildcardQuery,
    MAX_EXPANDED_TERMS,
    fuzzy_score,
    glob_to_regex,
    query_terms,
)


# phrase slots whose df is at or below this broadcast their (already
# df-bounded) join accumulator instead of shuffling the bigger slots'
# positional postings; sized so even position-heavy rows stay far under
# Spark's broadcast memory ceiling
PHRASE_BROADCAST_DF = 50_000

_log = logging.getLogger(__name__)


# ---------------------------------------------------------------------------
# Spark-side rewrite: multi-term expansion with SQL pushdown


import dataclasses as _dc


@_dc.dataclass(frozen=True)
class ConstantScoreMatch(Query):
    """Fallback rewrite of a prefix/wildcard query whose expansion exceeds
    MAX_EXPANDED_TERMS: the term list is NEVER materialized driver-side;
    the match ships as a predicate pushed into the segments scan (startswith
    / anchored regex) and is re-checked per posting row executor-side —
    the multi-term analog of ConstantScoreRange, with the reference's
    RangeFilter recall semantics (every matching term contributes,
    c/src/q_range.c:218-277) at constant score boost*1.0. Below the cap the
    rewrite stays a scored MultiTermQuery (c/src/q_multi_term.c:41-120)."""

    field: str = "content"
    prefix: str = ""
    pattern: str | None = None  # anchored full-match regex; None = prefix only

    def matches(self, term: str) -> bool:
        if self.prefix and not term.startswith(self.prefix):
            return False
        if self.pattern is not None:
            import re

            return re.match(self.pattern, term) is not None
        return True

    def spark_cond(self):
        """Predicate over the segments/postings table's `term` column
        (pushed into the parquet scan — startswith prunes on rowgroup
        min/max stats like the term-dict tier)."""
        cond = F.col("field") == self.field
        if self.prefix:
            cond = cond & F.col("term").startswith(self.prefix)
        if self.pattern is not None:
            cond = cond & F.col("term").rlike(self.pattern)
        return cond


def spark_expand(index, q: Query) -> Query:
    """Multi-term expansion with the term-dict limit pushed INTO the scan
    (TakeOrderedAndProject): the driver collects at most cap+1 terms no
    matter how many match — a one-letter prefix over a 10^9-term vocabulary
    stays O(cap) driver-side. Past the cap, prefix/wildcard fall back to a
    pushed predicate (ConstantScoreMatch); fuzzy pushes its similarity
    scoring (F.levenshtein, bit-identical to query.edit_distance) into the
    scan so the top-cap-by-score truncation (reference min-boost PQ,
    c/src/q_multi_term.c:41-120) is itself a TakeOrderedAndProject."""
    ts = index.term_stats
    f = q.field
    base = ts.where(F.col("field") == f)
    cap = MAX_EXPANDED_TERMS
    if isinstance(q, PrefixQuery):
        cand = base.where(F.col("term").startswith(q.prefix))
        # equal-boost PQ truncation keeps the first cap terms in term order
        # (expand_terms sorts by (boost desc, term asc)) -> orderBy+limit
        # is semantics-identical and bounds the collect
        terms = [
            r["term"]
            for r in cand.select("term").orderBy("term").limit(cap + 1).collect()
        ]
        if len(terms) > cap:
            return ConstantScoreMatch(boost=q.boost, field=f, prefix=q.prefix)
        pairs = [(t, 1.0) for t in terms]
    elif isinstance(q, WildcardQuery):
        lit_prefix = q.pattern.split("*")[0].split("?")[0]
        cand = base
        if lit_prefix:
            cand = cand.where(F.col("term").startswith(lit_prefix))
        rx = glob_to_regex(q.pattern)
        cand = cand.where(F.col("term").rlike(rx))
        terms = [
            r["term"]
            for r in cand.select("term").orderBy("term").limit(cap + 1).collect()
        ]
        if len(terms) > cap:
            return ConstantScoreMatch(
                boost=q.boost, field=f, prefix=lit_prefix, pattern=rx
            )
        pairs = [(t, 1.0) for t in terms]
    elif isinstance(q, FuzzyQuery):
        pre = q.term[: q.prefix_len]
        max_delta = int(math.ceil((1.0 - q.min_sim) * len(q.term))) + 1
        cand = base.where(
            F.length("term").between(
                len(q.term) - max_delta, len(q.term) + max_delta
            )
        )
        if pre:
            cand = cand.where(F.col("term").startswith(pre))
        # similarity computed JVM-side: F.levenshtein == query.edit_distance
        # (plain Levenshtein over the non-prefix parts), and
        # 1 - dist/m on int inputs is the same IEEE double both sides, so
        # the pushed filter + top-cap ordering match the Python scorer
        # bit-exactly. Boosts are recomputed driver-side on the <=cap
        # survivors for oracle parity.
        suffix = F.col("term").substr(F.lit(q.prefix_len + 1), F.lit(2**30))
        qsuf = q.term[q.prefix_len:]
        dist = F.levenshtein(suffix, F.lit(qsuf))
        m = F.least(F.length(suffix), F.lit(len(qsuf))) + F.lit(q.prefix_len)
        sim = F.when(
            (F.length(suffix) == 0) & (F.lit(len(qsuf)) == 0), F.lit(1.0)
        ).otherwise(
            F.when(m == 0, F.lit(0.0)).otherwise(
                F.lit(1.0) - dist.cast("double") / m.cast("double")
            )
        )
        rows = (
            cand.select("term", sim.alias("_sim"))
            .where(F.col("_sim") > F.lit(q.min_sim))
            .orderBy(F.col("_sim").desc(), F.col("term").asc())
            .limit(cap)
            .collect()
        )
        pairs = [(r["term"], fuzzy_score(q.term, r["term"], q.prefix_len))
                 for r in rows]
    else:  # pragma: no cover
        raise TypeError(type(q))
    return MultiTermQuery(boost=q.boost, field=f, terms=tuple(pairs))


def spark_rewrite(index, q: Query) -> Query:
    if isinstance(q, FilteredQuery):
        from ferret_spark.query import filter_as_query

        return BooleanQuery(
            boost=q.boost,
            clauses=(
                Clause(spark_rewrite(index, q.query), MUST),
                Clause(spark_rewrite(index, filter_as_query(q.filter)), MUST),
            ),
        )
    if isinstance(q, (PrefixQuery, WildcardQuery, FuzzyQuery)):
        return spark_expand(index, q)
    if isinstance(q, BooleanQuery):
        clauses = [Clause(spark_rewrite(index, c.query), c.occur) for c in q.clauses]
        if len(clauses) == 1 and clauses[0].occur != MUST_NOT:
            inner = clauses[0].query
            if q.boost != 1.0:
                import dataclasses

                inner = dataclasses.replace(inner, boost=inner.boost * q.boost)
            return inner
        if clauses and all(c.occur == MUST_NOT for c in clauses):
            clauses.append(Clause(MatchAllQuery(), MUST))
        return BooleanQuery(boost=q.boost, clauses=tuple(clauses))
    return q


# ---------------------------------------------------------------------------
# BM25 expressions


def _tf_part(tf_col, dl_col, avgdl: float):
    """Mirrors oracle.bm25_tf: tf*(K1+1) / (tf + K1*(1 - B + B*dl/avgdl))."""
    tf = tf_col.cast("double")
    dl = dl_col.cast("double")
    return (tf * F.lit(K1 + 1.0)) / (
        tf + F.lit(K1) * (F.lit(1.0) - F.lit(B) + F.lit(B) * dl / F.lit(avgdl))
    )


class _Planner:
    """Plans already-rewritten queries (``plan(q)``) against a df map of
    their (field, term) pairs; a batch passes the union of its queries'."""

    def __init__(self, index, dfs: dict):
        self.index = index
        self.dfs = dfs
        self._uid = 0

    def uid(self) -> str:
        self._uid += 1
        return f"s{self._uid}"

    # -- leaf plans ----------------------------------------------------------
    def _postings(self, field: str, terms: list[str]) -> DataFrame:
        p = self.index.postings
        cond = F.col("field") == field
        if len(terms) == 1:
            cond = cond & (F.col("term") == terms[0])
        else:
            cond = cond & F.col("term").isin(terms)
        return p.where(cond)

    def plan_term(self, q: TermQuery) -> DataFrame:
        df_ = self.dfs.get((q.field, q.term), 0)
        if df_ == 0:
            return self._empty()
        idf = bm25_idf(df_, self.index.n_docs)
        avgdl = self.index.avgdl(q.field)
        p = self._postings(q.field, [q.term])
        score = (
            F.lit(q.boost) * F.lit(idf) * _tf_part(F.col("tf"), F.col("doc_len"), avgdl)
        )
        return p.select("doc_id", score.alias("score"))

    def plan_multi_term(self, q: MultiTermQuery) -> DataFrame:
        live = [(t, b) for t, b in q.terms if self.dfs.get((q.field, t), 0) > 0]
        if not live:
            return self._empty()
        avgdl = self.index.avgdl(q.field)
        n = self.index.n_docs
        spark = self.index.spark
        tmeta = F.broadcast(
            spark.createDataFrame(
                [
                    (t, float(b), bm25_idf(self.dfs[(q.field, t)], n))
                    for t, b in live
                ],
                "term string, tboost double, idf double",
            )
        )
        p = self._postings(q.field, [t for t, _ in live]).join(tmeta, "term")
        contrib = (
            F.col("tboost") * F.col("idf")
            * _tf_part(F.col("tf"), F.col("doc_len"), avgdl)
        ).alias("contrib")
        rows = p.select("doc_id", "term", contrib)

        # sum contributions in sorted-term order (both sides do this) to keep
        # float64 addition order deterministic. Pure JVM: struct sorts by its
        # first field (term), and aggregate() left-folds in array order —
        # same float64 add sequence as the oracle. Arrays are <= max_terms
        # elements, so the interpreted-HOF lambda cost is bounded (the slow
        # case is per-token lambdas over long arrays, not a per-doc <=512
        # fold); no Python worker in the plan.
        agg = rows.groupBy("doc_id").agg(
            F.collect_list(F.struct("term", "contrib")).alias("arr")
        )
        ssum = F.aggregate(
            F.array_sort(F.col("arr")),
            F.lit(0.0),
            lambda acc, x: acc + x["contrib"],
        )
        return agg.select(
            "doc_id", (F.lit(q.boost) * ssum).alias("score")
        )

    def plan_match_all(self, q: MatchAllQuery) -> DataFrame:
        return self.index.docs.select(
            "doc_id", (F.lit(q.boost) * F.lit(1.0)).alias("score")
        )

    def plan_const_match(self, q: "ConstantScoreMatch") -> DataFrame:
        # uncapped prefix/wildcard fallback: predicate pushed into the
        # postings scan; term list never leaves the executors
        p = self.index.postings.where(q.spark_cond())
        return p.select("doc_id").distinct().select(
            "doc_id", (F.lit(q.boost) * F.lit(1.0)).alias("score")
        )

    def plan_range(self, q: RangeQuery) -> DataFrame:
        col = F.col(q.field)
        if q.typed:
            col = col.cast("double")
            lo = float(q.lower) if q.lower is not None else None
            hi = float(q.upper) if q.upper is not None else None
        else:
            col = col.cast("string")
            lo = str(q.lower) if q.lower is not None else None
            hi = str(q.upper) if q.upper is not None else None
        cond = col.isNotNull()
        if lo is not None:
            cond = cond & (col >= lo if q.include_lower else col > lo)
        if hi is not None:
            cond = cond & (col <= hi if q.include_upper else col < hi)
        return self.index.docs.where(cond).select(
            "doc_id", (F.lit(q.boost) * F.lit(1.0)).alias("score")
        )

    # -- phrase ---------------------------------------------------------------
    def plan_phrase(self, q: PhraseQuery) -> DataFrame:
        if not q.positions:
            return self._empty()
        field = q.field
        avgdl = self.index.avgdl(field)
        n = self.index.n_docs
        idf_sum = 0.0
        for _, alts in q.positions:
            for t in alts:
                df_ = self.dfs.get((field, t), 0)
                if df_ > 0:
                    idf_sum += bm25_idf(df_, n)

        # one slot-DF per constraint: (doc_id, positions, doc_len)
        slot_dfs = []
        slot_counts = []
        for i, (off, alts) in enumerate(q.positions):
            alts_live = [t for t in alts if self.dfs.get((field, t), 0) > 0]
            if not alts_live:
                return self._empty()
            p = self._postings(field, alts_live)
            if len(alts_live) == 1:
                sdf = p.select(
                    "doc_id",
                    F.col("positions").alias(f"p{i}"),
                    F.col("doc_len").alias(f"dl{i}"),
                )
            else:
                # a repeated alternative adds its positions once per
                # occurrence, like the oracle's per-alternative merge
                pos = F.col("positions")
                reps = Counter(alts_live)
                if max(reps.values()) > 1:
                    n_rep = F.coalesce(
                        *(F.when(F.col("term") == t, c) for t, c in reps.items())
                    )
                    pos = F.flatten(F.array_repeat(pos, n_rep))
                sdf = p.groupBy("doc_id").agg(
                    F.sort_array(F.flatten(F.collect_list(pos))).alias(f"p{i}"),
                    F.first("doc_len").alias(f"dl{i}"),
                )
            slot_dfs.append(sdf)
            slot_counts.append(
                sum(self.dfs.get((field, t), 0) for t in alts_live)
            )

        # join slots in df-ascending order (csc_sort_scorers sparsity
        # ordering, c/src/q_boolean.c:282-299): every intermediate is
        # bounded by the rarest slot's df.  When that bound is small,
        # broadcast the ACCUMULATED side so the hot terms' huge positional
        # postings never shuffle — at web scale the common phrase shape is
        # one rare term + one stop-ish term, and this turns the positional
        # join into a broadcast hash join on the big side's scan.
        order = sorted(range(len(slot_dfs)), key=lambda i: (slot_counts[i], i))
        joined = slot_dfs[order[0]]
        bound = slot_counts[order[0]]
        if _log.isEnabledFor(logging.DEBUG):
            _log.debug(
                "phrase join order (df-ascending): slots=%s dfs=%s "
                "broadcast=%s (bound=%d, cap=%d)",
                order,
                [slot_counts[i] for i in order],
                bound <= PHRASE_BROADCAST_DF,
                bound,
                PHRASE_BROADCAST_DF,
            )
        for nth, j in enumerate(order[1:]):
            # the row bound (rarest slot's df) does not bound BYTES: each
            # completed join adds a position-array column to the
            # accumulator, so re-broadcasting it every round can ship
            # hundreds of MB for position-heavy mid-df slots.  Broadcast
            # only while the accumulator carries <= 2 slots' arrays (the
            # k=2 common case plus the first two joins of longer phrases);
            # after that the remaining joins shuffle on doc_id.
            if bound <= PHRASE_BROADCAST_DF and nth < 2:
                joined = slot_dfs[j].join(F.broadcast(joined), "doc_id")
            else:
                joined = joined.join(slot_dfs[j], "doc_id")

        offsets = [off for off, _ in q.positions]
        slop = q.slop
        repeats = has_repeats(q.positions)

        if len(q.positions) == 1:
            freq = F.size(F.col("p0")).cast("double")
        elif slop == 0:
            # exact phrase: distinct offset-adjusted positions common to
            # every slot. array_intersect is JVM-native and dedups exactly
            # like the set-intersection semantics of the scorer — the whole
            # phrase plan stays inside whole-stage codegen (no Python
            # worker in the hot path).
            def _shift(col, off):
                # closure factory: F.transform dispatches on lambda arity,
                # so the offset must be captured, not a default arg
                return F.transform(col, lambda x: x - F.lit(off))

            inter = None
            for i in range(len(q.positions)):
                adj = _shift(F.col(f"p{i}"), offsets[i])
                inter = adj if inter is None else F.array_intersect(inter, adj)
            freq = F.size(inter).cast("double")
        else:
            # sloppy phrase: one whole-batch pandas UDF over the Arrow
            # batch's flattened position arrays, through the same kernel
            # dispatcher as the segmented evaluator (phrase_np.phrase_freqs,
            # bit-identical to the oracle walk by property test)
            @F.pandas_udf("double")
            def phrase_freq(*cols: pd.Series) -> pd.Series:
                flat = [_flatten(c.to_numpy()) for c in cols]
                return pd.Series(
                    phrase_freqs(
                        [f for f, _ in flat], [l for _, l in flat],
                        offsets, slop, repeats,
                    )
                )

            # explode(array(udf)) puts a Generate barrier between the UDF
            # and the freq>0 filter: Catalyst cannot push the filter
            # through it, so the batch kernel runs ONCE per row instead of
            # once for the filter and again for the score projection
            freq = F.explode(
                F.array(
                    phrase_freq(*[F.col(f"p{i}") for i in range(len(q.positions))])
                )
            )
        scored = (
            joined.withColumn("freq", freq)
            .where(F.col("freq") > 0.0)
            .select(
                "doc_id",
                (
                    F.lit(q.boost)
                    * F.lit(idf_sum)
                    * _tf_part(F.col("freq"), F.col("dl0"), avgdl)
                ).alias("score"),
            )
        )
        return scored

    # -- boolean ---------------------------------------------------------------
    def plan_boolean(self, q: BooleanQuery) -> DataFrame:
        musts = [c.query for c in q.clauses if c.occur == MUST]
        shoulds = [c.query for c in q.clauses if c.occur == SHOULD]
        nots = [c.query for c in q.clauses if c.occur == MUST_NOT]

        must_plans = [self.plan(m) for m in musts]
        should_plans = [self.plan(s) for s in shoulds]

        score_cols: list[str] = []

        if must_plans:
            base = None
            for mp in must_plans:
                cname = f"_m{self.uid()}"
                mp = mp.withColumnRenamed("score", cname)
                score_cols.append(cname)
                base = mp if base is None else base.join(mp, "doc_id")
            # SHOULD scores attach via left join
            for sp in should_plans:
                cname = f"_s{self.uid()}"
                sp = sp.withColumnRenamed("score", cname)
                score_cols.append(cname)
                base = base.join(sp, "doc_id", "left")
        elif len(should_plans) == 1:
            base = should_plans[0]
            cname = f"_s{self.uid()}"
            base = base.withColumnRenamed("score", cname)
            score_cols.append(cname)
        else:
            if not should_plans:
                return self._empty()
            # pure-SHOULD disjunction: UNION + one grouped fold instead of
            # chained FULL OUTER joins (full outer cannot broadcast, so
            # each join was a sort-merge over tiny shuffles — ~2.6s of
            # partition overhead per query at sf1.0; guide §2.4). The fold
            # sums present clause scores in CLAUSE-ORDINAL order from a
            # 0.0 seed — bit-equal to the old coalesce(s1,0)+coalesce(s2,0)
            # chain for every present/absent subset (x+0.0 == x and
            # 0.0+x == x for the finite scores BM25 produces), pinned by
            # tests/test_bool_or_union.py.
            parts = [
                sp.select(
                    "doc_id",
                    F.lit(i).alias("_ord"),
                    F.col("score").alias("_s"),
                )
                for i, sp in enumerate(should_plans)
            ]
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p)
            agg = u.groupBy("doc_id").agg(
                F.collect_list(F.struct("_ord", "_s")).alias("arr")
            )
            ssum = F.aggregate(
                F.array_sort(F.col("arr")),
                F.lit(0.0),
                lambda acc, x: acc + x["_s"],
            )
            out = agg.select(
                "doc_id", (F.lit(q.boost) * ssum).alias("score")
            )
            if nots:
                excl = None
                for np_ in nots:
                    d = self.plan(np_).select("doc_id")
                    excl = d if excl is None else excl.unionByName(d)
                out = out.join(excl.distinct(), "doc_id", "left_anti")
            return out

        expr = None
        for c in score_cols:
            col = F.coalesce(F.col(c), F.lit(0.0))
            expr = col if expr is None else expr + col
        out = base.select("doc_id", (F.lit(q.boost) * expr).alias("score"))

        if nots:
            excl = None
            for np_ in nots:
                d = self.plan(np_).select("doc_id")
                excl = d if excl is None else excl.unionByName(d)
            out = out.join(excl.distinct(), "doc_id", "left_anti")
        return out

    # -- dispatch ---------------------------------------------------------------
    def plan(self, q: Query) -> DataFrame:
        if isinstance(q, TermQuery):
            return self.plan_term(q)
        if isinstance(q, MultiTermQuery):
            return self.plan_multi_term(q)
        if isinstance(q, BooleanQuery):
            return self.plan_boolean(q)
        if isinstance(q, PhraseQuery):
            return self.plan_phrase(q)
        if isinstance(q, MatchAllQuery):
            return self.plan_match_all(q)
        if isinstance(q, RangeQuery):
            return self.plan_range(q)
        if isinstance(q, ConstantScoreMatch):
            return self.plan_const_match(q)
        raise TypeError(f"unsupported query {type(q).__name__}")

    def _empty(self) -> DataFrame:
        return self.index.spark.createDataFrame(
            [], "doc_id long, score double"
        )


def plan_scores(index, q: Query) -> DataFrame:
    """(doc_id, score: double) for an already-rewritten query: one
    batched driver lookup for all its (field, term) dfs, then one plan."""
    return _Planner(index, index.doc_freqs(query_terms(q))).plan(q)


def plan_topk(index, q: Query, k: int = 10, offset: int = 0) -> DataFrame:
    """Top-k with float32 rank semantics: cast to float BEFORE ordering
    (rank parity requires float32, FrtHit c/include/search.h:75-79)."""
    scores = plan_scores(index, spark_rewrite(index, q))
    ranked = (
        scores.select("doc_id", F.col("score").cast("float").alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
    )
    if offset:
        ranked = ranked.offset(offset)
    return ranked.limit(k)


def batch_search(
    index,
    queries: list[Query],
    k: int = 10,
    score_round: int | None = None,
) -> DataFrame:
    """Top-k for every query in ``queries``: the union of the single-query
    plans, ranked per query by one window.

    Returns (query_id, rank, doc_id, score) where query_id is the
    position in ``queries``. Every query is rewritten once, the dfs of
    all their terms come from ONE driver lookup, and each query is
    planned by _Planner, so its scores are plan_scores(index, q)'s.
    ``score_round`` rounds the float64 score to that many decimals
    BEFORE ranking (the driver-compare convention); default ranks on
    the float32 cast like plan_topk.

    Each query keeps its own scans and exchanges, so the plan grows with
    the batch: this suits a handful of queries. A query log belongs to
    the segmented engine's segment_batch_search, which scans once per
    batch.
    """
    rewritten = [spark_rewrite(index, q) for q in queries]
    pl = _Planner(
        index,
        index.doc_freqs(sorted({p for q in rewritten for p in query_terms(q)})),
    )
    # the empty frame fixes the schema when there is nothing to union
    scored = index.spark.createDataFrame([], "qid int, doc_id long, score64 double")
    for qid, rq in enumerate(rewritten):
        scored = scored.unionByName(
            pl.plan(rq).select(
                F.lit(qid).alias("qid"), "doc_id", F.col("score").alias("score64")
            )
        )
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
