"""Segment-parallel scoring: exact dense BM25 per segment, local top-k.

Execution shape (the reference's own distributed blueprint — MultiSearcher
with global df via CachedDFSearcher, c/src/search.c:1443-1840,1305-1441):

1. driver: rewrite query against term_stats (global df/N/avgdl constants)
2. ship the query's terms to the segments table (parquet term pushdown)
3. groupBy(seg_id).applyInPandas: each segment (a doc-range shard) decodes
   its posting rows, scores every hit of its doc range into dense arrays
   (the reference's searcher likewise scores every hit into a bounded
   priority queue, isea_search_w c/src/search.c:1049-1127) and emits its
   local top-k
4. global top-k: orderBy(float32 score desc, doc_id asc).limit(k)

The posting blocks keep their block-max bounds (``block_meta`` max_tf /
min_dl); no scorer reads them today.

Score parity: every float64 operation mirrors the oracle
(term contributions added in sorted-term order, clause sums in clause
order, boost applied at the same node), so float32 ranks are identical.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ferret_spark.codec import decode_posting_list
from ferret_spark.oracle import K1, B, bm25_idf
from ferret_spark.phrase_np import has_repeats, phrase_freqs
from ferret_spark.query import (
    MUST,
    MUST_NOT,
    SHOULD,
    BooleanQuery,
    MatchAllQuery,
    MultiTermQuery,
    PhraseQuery,
    Query,
    RangeQuery,
    TermQuery,
)
from ferret_spark.search import ConstantScoreMatch, spark_rewrite


@dataclass(frozen=True)
class ConstantScoreTerms(Query):
    """Docs having any of ``terms`` score boost*1.0 — the rewrite target of
    RangeQuery on keyword fields (ConstantScoreQuery over a RangeFilter,
    c/src/q_range.c:498-509)."""

    field: str = "content"
    terms: tuple[str, ...] = ()


# Past this many matching terms a range stops materializing the term list
# driver-side and becomes a segment-evaluated predicate instead — the
# reference's RangeFilter never collects the term list either (BitVector is
# built reader-side while walking the term dict, c/src/q_range.c:218-277).
RANGE_EXPAND_CAP = 512


@dataclass(frozen=True)
class ConstantScoreRange(Query):
    """Fallback rewrite of a wide RangeQuery: the bound is NOT expanded to a
    term list; it ships as a predicate pushed into the segments scan (term
    string/numeric comparison) and re-checked per posting row in the segment
    evaluator. Driver memory stays O(1) regardless of how many terms match
    (the 10^12-scale high-cardinality-field case)."""

    field: str = "content"
    lower: str | float | None = None
    upper: str | float | None = None
    include_lower: bool = True
    include_upper: bool = True
    typed: bool = False

    def matches(self, term: str) -> bool:
        if self.typed:
            try:
                v = float(term)
            except (TypeError, ValueError):
                return False
        else:
            v = term
        lo, hi = self.lower, self.upper
        if self.typed:
            lo = None if lo is None else float(lo)
            hi = None if hi is None else float(hi)
        else:
            lo = None if lo is None else str(lo)
            hi = None if hi is None else str(hi)
        if lo is not None and (v < lo or (v == lo and not self.include_lower)):
            return False
        if hi is not None and (v > hi or (v == hi and not self.include_upper)):
            return False
        return True

    def spark_cond(self):
        """Predicate over the segments table's `term` column (pushed into
        the scan; for typed bounds the cast runs executor-side)."""
        col = (
            F.expr("try_cast(term as double)") if self.typed
            else F.col("term")
        )
        cond = col.isNotNull()
        if self.lower is not None:
            lo = float(self.lower) if self.typed else str(self.lower)
            cond = cond & (col >= lo if self.include_lower else col > lo)
        if self.upper is not None:
            hi = float(self.upper) if self.typed else str(self.upper)
            cond = cond & (col <= hi if self.include_upper else col < hi)
        return (F.col("field") == self.field) & cond


@dataclass(frozen=True)
class CachedFilterDocs(Query):
    """A filter whose matching doc-id set is cached index-side
    (frt_filter_get_bv analog, c/src/filter.c:24-38): the ids are a
    per-generation parquet under {index}/filter_cache and ride the seg_id
    shuffle as packed __filt__ rows — repeated filtered searches never
    re-scan the filter's postings."""

    field: str = "content"
    tag: str = ""


def _filter_cache_key(node) -> str:
    import hashlib

    if isinstance(node, ConstantScoreTerms):
        raw = repr(("terms", node.field, node.terms))
    elif isinstance(node, ConstantScoreMatch):
        raw = repr(("match", node.field, node.prefix, node.pattern))
    else:
        raw = repr(
            (
                "range", node.field, node.lower, node.upper,
                node.include_lower, node.include_upper, node.typed,
            )
        )
    return hashlib.md5(raw.encode()).hexdigest()[:16]


def _filter_docs_df(index, node) -> DataFrame:
    """Matching doc ids for a ConstantScore filter node — one small decode
    job over JUST the filter's posting rows (term/range pushdown into the
    segments scan), distributed end-to-end."""
    from ferret_spark.segments import _row_to_codec

    if isinstance(node, ConstantScoreTerms):
        cond = (F.col("field") == node.field) & F.col("term").isin(
            list(node.terms)
        )
    else:
        cond = node.spark_cond()

    def dec(batches):
        for pdf in batches:
            outs = []
            for r in pdf.to_dict("records"):
                ids, _tfs, _pos, _dls = decode_posting_list(
                    _row_to_codec(r), with_positions=False
                )
                outs.append(ids)
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(outs)
                    if outs
                    else np.empty(0, dtype=np.int64)
                }
            )

    return index.segments.where(cond).mapInPandas(dec, "doc_id long").distinct()


def _attach_filter_cache(index, q: Query):
    """Replace ConstantScore filter nodes with CachedFilterDocs backed by a
    per-generation doc-id parquet. First use computes + persists the set;
    later searches of the same filter ship the cached ids and skip the
    posting scan entirely. Invalidation is structural: the generation
    (meta version, bumped by add/optimize) is part of the cache path."""
    import os

    path = getattr(index, "path", None)
    if not path or not getattr(index, "filter_doc_cache", True):
        return q, {}
    gen = getattr(index, "generation", 0)
    cached: dict[str, str] = {}

    def walk(node):
        if isinstance(
            node, (ConstantScoreTerms, ConstantScoreRange, ConstantScoreMatch)
        ):
            tag = _filter_cache_key(node)
            cdir = os.path.join(path, "filter_cache", f"v{gen}", tag)
            try:
                if not os.path.exists(os.path.join(cdir, "_SUCCESS")):
                    _filter_docs_df(index, node).write.mode(
                        "overwrite"
                    ).parquet(cdir)
                cached[tag] = cdir
                return CachedFilterDocs(
                    boost=node.boost, field=node.field, tag=tag
                )
            except Exception:  # read-only index dir -> uncached semantics
                return node
        if isinstance(node, BooleanQuery):
            from ferret_spark.query import Clause

            return BooleanQuery(
                boost=node.boost,
                clauses=tuple(
                    Clause(walk(c.query), c.occur) for c in node.clauses
                ),
            )
        return node

    return walk(q), cached


def _bm25_tf_np(tf, dl, avgdl: float):
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def wand_rewrite(index, q: Query) -> Query:
    """spark_rewrite + RangeQuery -> ConstantScoreTerms via term-dict scan
    + SpanPrefix -> SpanMultiTerm expansion."""
    from ferret_spark.spans import is_span

    if is_span(q):
        return _expand_span(index, q)
    q = spark_rewrite(index, q)
    return _range_to_const(index, q)


def _expand_span(index, q):
    import dataclasses

    from ferret_spark.spans import (
        SpanFirstQuery,
        SpanMultiTermQuery,
        SpanNearQuery,
        SpanNotQuery,
        SpanOrQuery,
        SpanPrefixQuery,
    )

    if isinstance(q, SpanPrefixQuery):
        # truncation is in term order, so the cap is pushed into the
        # term-dict scan (TakeOrderedAndProject) — the driver never sees
        # more than max_terms rows no matter how wide the prefix
        # (FrtSpanPrefixQuery max_terms, c/src/q_span.c)
        rows = (
            index.term_stats.where(
                (F.col("field") == q.field)
                & F.col("term").startswith(q.prefix)
            )
            .select("term")
            .orderBy("term")
            .limit(q.max_terms)
            .collect()
        )
        terms = [r["term"] for r in rows]
        return SpanMultiTermQuery(boost=q.boost, field=q.field, terms=tuple(terms))
    if isinstance(q, SpanFirstQuery):
        return dataclasses.replace(q, match=_expand_span(index, q.match))
    if isinstance(q, SpanOrQuery):
        return dataclasses.replace(
            q, clauses=tuple(_expand_span(index, c) for c in q.clauses)
        )
    if isinstance(q, SpanNotQuery):
        return dataclasses.replace(
            q,
            inc=_expand_span(index, q.inc),
            exc=_expand_span(index, q.exc),
        )
    if isinstance(q, SpanNearQuery):
        return dataclasses.replace(
            q, clauses=tuple(_expand_span(index, c) for c in q.clauses)
        )
    return q


def _range_to_const(index, q: Query) -> Query:
    if isinstance(q, RangeQuery):
        # per-index filter cache (frt_filter_get_bv analog,
        # c/src/filter.c:24-38): a repeated range filter reuses its
        # expanded term set instead of re-scanning the term dictionary
        cache = getattr(index, "filter_cache", None)
        ckey = (
            "range", q.field, q.lower, q.upper,
            q.include_lower, q.include_upper, q.typed,
        )
        if cache is not None and ckey in cache:
            return ConstantScoreTerms(
                boost=q.boost, field=q.field, terms=cache[ckey]
            )
        ts = index.term_stats.where(F.col("field") == q.field)
        if q.typed:
            # numeric bounds pushed into the term_stats scan via the
            # build-time term_num column (parquet rowgroup pruning) — only
            # the MATCHING terms ever reach the driver, never the whole
            # term dictionary (O(vocabulary) driver collect is a
            # 10^12-scale killer)
            if "term_num" in ts.columns:
                num = F.col("term_num")
            else:  # legacy index layout without the shadow column
                num = F.expr("try_cast(term as double)")
            cond = num.isNotNull()
            if q.lower is not None:
                lo = float(q.lower)
                cond = cond & (num >= lo if q.include_lower else num > lo)
            if q.upper is not None:
                hi = float(q.upper)
                cond = cond & (num <= hi if q.include_upper else num < hi)
        else:
            cond = F.lit(True)
            if q.lower is not None:
                lo = str(q.lower)
                cond = cond & (
                    F.col("term") >= lo if q.include_lower else F.col("term") > lo
                )
            if q.upper is not None:
                hi = str(q.upper)
                cond = cond & (
                    F.col("term") <= hi if q.include_upper else F.col("term") < hi
                )
        # expansion is CAPPED (max_terms analog, c/src/q_multi_term.c:41-120):
        # collect at most cap+1 terms; past the cap the range stays a pushed
        # predicate (ConstantScoreRange) and the driver never materializes
        # the term list — a wide range over a high-cardinality numeric field
        # would otherwise collect O(vocabulary) terms
        out = [
            r["term"]
            for r in ts.where(cond).select("term")
            .limit(RANGE_EXPAND_CAP + 1).collect()
        ]
        if len(out) > RANGE_EXPAND_CAP:
            return ConstantScoreRange(
                boost=q.boost,
                field=q.field,
                lower=q.lower,
                upper=q.upper,
                include_lower=q.include_lower,
                include_upper=q.include_upper,
                typed=q.typed,
            )
        expanded = tuple(sorted(out))
        if cache is not None:
            cache[ckey] = expanded
        return ConstantScoreTerms(boost=q.boost, field=q.field, terms=expanded)
    if isinstance(q, BooleanQuery):
        from ferret_spark.query import Clause

        return BooleanQuery(
            boost=q.boost,
            clauses=tuple(
                Clause(_range_to_const(index, c.query), c.occur) for c in q.clauses
            ),
        )
    return q


def _exact_pair_cond(pairs):
    """Pushed scan predicate listing EXACTLY the requested (field, term)
    pairs — an OR of per-field term lists, not the fields x terms
    cross-product (which over-scans postings whenever a batch spans
    multiple fields; VERDICT r6 finding #2)."""
    by_field: dict[str, list[str]] = {}
    for f, t in pairs:
        by_field.setdefault(f, []).append(t)
    cond = None
    for f in sorted(by_field):
        c = (F.col("field") == f) & F.col("term").isin(sorted(by_field[f]))
        cond = c if cond is None else (cond | c)
    return cond


def _collect_terms(q: Query) -> list[tuple[str, str]]:
    from ferret_spark.spans import is_span, span_field, span_terms

    if is_span(q):
        return [(span_field(q), t) for t in span_terms(q)]
    if isinstance(q, TermQuery):
        return [(q.field, q.term)]
    if isinstance(q, (MultiTermQuery, ConstantScoreTerms)):
        return [(q.field, t) for t in (
            [t for t, _ in q.terms] if isinstance(q, MultiTermQuery) else q.terms
        )]
    if isinstance(q, PhraseQuery):
        return [(q.field, t) for _, alts in q.positions for t in alts]
    if isinstance(q, BooleanQuery):
        return [ft for c in q.clauses for ft in _collect_terms(c.query)]
    return []


def _collect_ranges(q: Query) -> list[Query]:
    """Uncapped pushed-predicate nodes in the tree (range bounds and
    prefix/wildcard matches) — these reach the segments scan as predicates
    instead of term expansions."""
    if isinstance(q, (ConstantScoreRange, ConstantScoreMatch)):
        return [q]
    if isinstance(q, BooleanQuery):
        return [r for c in q.clauses for r in _collect_ranges(c.query)]
    return []


def _query_needs_all_docs(q: Query) -> bool:
    if isinstance(q, MatchAllQuery):
        return True
    if isinstance(q, BooleanQuery):
        return any(_query_needs_all_docs(c.query) for c in q.clauses)
    return False


# ---------------------------------------------------------------------------
# per-segment evaluation


class _SegEval:
    """Evaluates a query tree over one segment's decoded posting rows.
    Nodes return (mask bool[seg_n], score float64[seg_n])."""

    def __init__(
        self, rows_by_ft, dfs, n_docs, avgdl_map, base, seg_n, id_ranges=None
    ):
        self.rows = rows_by_ft  # (field, term) -> codec row dict
        self.dfs = dfs
        self.n_docs = n_docs
        self.avgdl = avgdl_map
        self.base = base
        self.seg_n = seg_n
        self.id_ranges = id_ranges or [[0, n_docs]]
        self._decoded: dict[tuple, tuple] = {}

    def decoded(self, field, term, with_positions=False):
        key = (field, term, with_positions)
        if key not in self._decoded:
            row = self.rows.get((field, term))
            if row is None:
                self._decoded[key] = None
            else:
                ids, tfs, pos, dls = decode_posting_list(
                    row, with_positions=with_positions
                )
                self._decoded[key] = (ids - self.base, tfs, pos, dls)
        return self._decoded[key]

    def _zero(self):
        return np.zeros(self.seg_n, dtype=bool), np.zeros(self.seg_n, dtype=np.float64)

    def eval(self, q: Query):
        if isinstance(q, TermQuery):
            return self._eval_term(q)
        if isinstance(q, MultiTermQuery):
            return self._eval_multi(q)
        if isinstance(q, ConstantScoreTerms):
            return self._eval_const(q)
        if isinstance(q, (ConstantScoreRange, ConstantScoreMatch)):
            return self._eval_const_range(q)
        if isinstance(q, CachedFilterDocs):
            return self._eval_cached_filter(q)
        if isinstance(q, BooleanQuery):
            return self._eval_bool(q)
        if isinstance(q, PhraseQuery):
            return self._eval_phrase(q)
        from ferret_spark.spans import is_span

        if is_span(q):
            return self._eval_span(q)
        if isinstance(q, MatchAllQuery):
            mask = np.zeros(self.seg_n, dtype=bool)
            for lo, hi in self.id_ranges:
                a = max(lo, self.base) - self.base
                b = min(hi, self.base + self.seg_n) - self.base
                if b > a:
                    mask[a:b] = True
            score = np.zeros(self.seg_n, dtype=np.float64)
            score[mask] = q.boost * 1.0
            return mask, score
        raise TypeError(type(q).__name__)

    def _eval_term(self, q: TermQuery):
        mask, score = self._zero()
        df = self.dfs.get((q.field, q.term), 0)
        dec = self.decoded(q.field, q.term)
        if df == 0 or dec is None:
            return mask, score
        local, tfs, _, dls = dec
        idf = bm25_idf(df, self.n_docs)
        contrib = q.boost * idf * _bm25_tf_np(tfs, dls, self.avgdl[q.field])
        mask[local] = True
        score[local] = contrib
        return mask, score

    def _eval_multi(self, q: MultiTermQuery):
        mask, score = self._zero()
        # sorted-term accumulation order (parity with oracle/planner)
        for term, tboost in sorted(q.terms):
            df = self.dfs.get((q.field, term), 0)
            dec = self.decoded(q.field, term)
            if df == 0 or dec is None:
                continue
            local, tfs, _, dls = dec
            idf = bm25_idf(df, self.n_docs)
            contrib = tboost * idf * _bm25_tf_np(tfs, dls, self.avgdl[q.field])
            score[local] += contrib
            mask[local] = True
        score[mask] *= q.boost
        score[~mask] = 0.0
        return mask, score

    def _eval_const(self, q: ConstantScoreTerms):
        mask, score = self._zero()
        for term in q.terms:
            dec = self.decoded(q.field, term)
            if dec is None:
                continue
            mask[dec[0]] = True
        score[mask] = q.boost * 1.0
        return mask, score

    def _eval_cached_filter(self, q: "CachedFilterDocs"):
        """Mask from the cached doc-id set shipped as a packed __filt__ row
        (this segment's slice only) — no posting decode."""
        mask, score = self._zero()
        local = getattr(self, "cached_filters", {}).get(q.tag)
        if local is not None and len(local):
            sel = local[(local >= 0) & (local < self.seg_n)]
            mask[sel] = True
        score[mask] = q.boost * 1.0
        return mask, score

    def _eval_const_range(self, q: "ConstantScoreRange"):
        """Uncapped-range fallback: the segments scan already filtered rows
        to the bound (spark_cond pushed predicate), but rows for OTHER
        clauses of the same field also land in this task — re-check the
        bound per term. Term list never touches the driver (RangeFilter
        semantics, c/src/q_range.c:218-277)."""
        mask, score = self._zero()
        for (field, term) in self.rows:
            if field != q.field or not q.matches(term):
                continue
            dec = self.decoded(field, term)
            if dec is None:
                continue
            mask[dec[0]] = True
        score[mask] = q.boost * 1.0
        return mask, score

    def _eval_bool(self, q: BooleanQuery):
        musts = [c.query for c in q.clauses if c.occur == MUST]
        shoulds = [c.query for c in q.clauses if c.occur == SHOULD]
        nots = [c.query for c in q.clauses if c.occur == MUST_NOT]
        total = np.zeros(self.seg_n, dtype=np.float64)
        if musts:
            mask = np.ones(self.seg_n, dtype=bool)
            for m in musts:
                mm, ms = self.eval(m)
                mask &= mm
                total += ms
            for s in shoulds:
                sm, ss = self.eval(s)
                total += ss
        else:
            if not shoulds:
                return self._zero()
            mask = np.zeros(self.seg_n, dtype=bool)
            for s in shoulds:
                sm, ss = self.eval(s)
                mask |= sm
                total += ss
        for n_ in nots:
            nm, _ = self.eval(n_)
            mask &= ~nm
        out = np.zeros(self.seg_n, dtype=np.float64)
        out[mask] = q.boost * total[mask]
        return mask, out

    def _eval_span(self, q):
        from ferret_spark.oracle import bm25_tf
        from ferret_spark.spans import (
            scoring_terms,
            span_field,
            span_freq,
            span_terms,
        )

        mask, score = self._zero()
        field = span_field(q)
        # postings are fetched for ALL terms (exc clauses filter), but the
        # idf sum covers only get_terms() — SpanNot excludes exc
        # (spanxq_get_terms, c/src/q_span.c:2202-2205)
        terms = sorted(set(span_terms(q)))  # already expanded driver-side
        sterms = set(scoring_terms(q))
        idf_sum = 0.0
        pos_by_doc: dict[int, dict[str, list]] = {}
        dl_by_doc: dict[int, int] = {}
        for t in terms:
            df = self.dfs.get((field, t), 0)
            if df > 0 and t in sterms:
                idf_sum += bm25_idf(df, self.n_docs)
            dec = self.decoded(field, t, with_positions=True)
            if dec is None:
                continue
            local, tfs, pos, dls = dec
            for i, d in enumerate(local):
                pos_by_doc.setdefault(int(d), {})[t] = pos[i].tolist()
                dl_by_doc[int(d)] = int(dls[i])
        avgdl = self.avgdl[field]
        for d, pmap in pos_by_doc.items():
            freq = span_freq(q, lambda t: pmap.get(t, []))
            if freq > 0.0:
                mask[d] = True
                score[d] = (
                    q.boost * idf_sum * bm25_tf(freq, dl_by_doc[d], avgdl)
                )
        return mask, score

    def _eval_phrase(self, q: PhraseQuery):
        mask, score = self._zero()
        if not q.positions:
            return mask, score
        field = q.field
        # idf_sum accumulates over GLOBAL dfs in slot/alt order (same
        # float64 add sequence as the oracle)
        idf_sum = 0.0
        for _, alts in q.positions:
            for t in alts:
                df = self.dfs.get((field, t), 0)
                if df > 0:
                    idf_sum += bm25_idf(df, self.n_docs)
        docs, freq_arr, dl = self._phrase_freqs_flat(q)
        if docs.size == 0:
            return mask, score
        avgdl = self.avgdl[field]
        nz = freq_arr > 0.0
        f = freq_arr[nz]
        dd = docs[nz]
        # same float64 grouping as the scalar form:
        # ((boost*idf_sum) * (f*(K1+1))) / (f + K1*(1-B+B*dl/avgdl))
        s = (
            q.boost
            * idf_sum
            * (f * (K1 + 1.0))
            / (f + K1 * (1.0 - B + B * dl[nz] / avgdl))
        )
        mask[dd] = True
        score[dd] = s
        return mask, score

    def _phrase_freqs_flat(self, q: PhraseQuery):
        """Vectorized phrase frequencies over this segment:
        (cand_local_ids, freqs, doc_lens).

        No per-posting Python anywhere: flat position decode (one cumsum
        per posting list), a slot's live alternatives merged into one
        flat stream (_merge_alts), the candidate set via sorted
        np.intersect1d, the candidates' position runs extracted with a
        ragged gather, then phrase_np.phrase_freqs scores every doc at
        once.  Only repeated-term sloppy phrases walk per doc (genuinely
        sequential semantics)."""
        field = q.field
        empty = (np.empty(0, dtype=np.int64), np.zeros(0), np.zeros(0))
        # an exact multi-slot phrase intersects DISTINCT positions (the
        # k-way kernel assumes them), so a repeated alternative collapses;
        # one slot counts, and the sloppy walk sees, every occurrence
        dedup = q.slop == 0 and len(q.positions) > 1
        decs = []
        for _, alts in q.positions:
            live = [
                d
                for d in (
                    self.decoded(field, t, with_positions="flat") for t in alts
                )
                if d is not None
            ]
            if not live:
                return empty
            decs.append(live[0] if len(live) == 1 else _merge_alts(live, dedup))
        return _phrase_freqs_from_decs(q, decs)


def _merge_alts(decs, dedup: bool):
    """One slot's live alternatives -> one flat decoded posting list
    (ids, lens, (pos_flat, bounds), dls), the shape decoded(...,"flat")
    returns. Each alternative adds its positions once per occurrence in
    the slot (``("fox", "fox")`` counts twice, as the oracle's
    per-alternative merge does); ``dedup`` keeps one of each equal
    (doc, position) pair."""
    ids = np.concatenate([np.repeat(d[0], d[1]) for d in decs])
    pos = np.concatenate([d[2][0] for d in decs])
    order = np.lexsort((pos, ids))
    ids, pos = ids[order], pos[order]
    if dedup and len(ids) > 1:
        keep = np.ones(len(ids), dtype=bool)
        keep[1:] = (ids[1:] != ids[:-1]) | (pos[1:] != pos[:-1])
        ids, pos = ids[keep], pos[keep]
    docs, lens = np.unique(ids, return_counts=True)
    bounds = np.concatenate(([0], np.cumsum(lens)))
    all_ids = np.concatenate([d[0] for d in decs])
    _, first = np.unique(all_ids, return_index=True)
    dls = np.concatenate([d[3] for d in decs])[first]
    return docs, lens.astype(np.int64), (pos, bounds), dls


def _phrase_freqs_from_decs(q: PhraseQuery, decs):
    """Candidate gather over per-slot decoded postings, then the
    phrase_np dispatcher: ``decs[j]`` is (ids sorted, tfs,
    (pos_flat, bounds), dls) in segment-local ids
    -> (cand_ids, freqs, dls)."""
    empty = (np.empty(0, dtype=np.int64), np.zeros(0), np.zeros(0))
    cand = decs[0][0]
    for d in decs[1:]:
        cand = np.intersect1d(cand, d[0], assume_unique=True)
    if cand.size == 0:
        return empty
    flats, lens = [], []
    dl = None
    for j, (local, tfs, (pflat, bounds), dls) in enumerate(decs):
        if len(cand) == len(local):
            # every posting doc is a candidate (hot terms co-occur):
            # the flat stream is already exactly the gather result
            flats.append(pflat)
            lens.append(tfs)
            if j == 0:
                dl = dls.astype(np.float64)
            continue
        idx = np.searchsorted(local, cand)
        ln = tfs[idx]
        starts = bounds[idx]
        total = int(ln.sum())
        out_starts = np.concatenate(([0], np.cumsum(ln)[:-1]))
        gidx = np.repeat(starts - out_starts, ln) + np.arange(
            total, dtype=np.int64
        )
        flats.append(pflat[gidx])
        lens.append(ln)
        if j == 0:
            dl = dls[idx].astype(np.float64)
    offsets = [off for off, _ in q.positions]
    freq = phrase_freqs(flats, lens, offsets, q.slop, has_repeats(q.positions))
    return cand, freq, dl


class _SegEvalTFIDF(_SegEval):
    """Classic TF-IDF scoring (reference default similarity) over a
    segment — mirrors OracleIndex._tfidf_node float-for-float. qnorm is the
    driver-computed query norm; doc_boosts maps global doc_id -> boost."""

    def __init__(self, *args, qnorm: float = 1.0, doc_boosts=None, **kw):
        super().__init__(*args, **kw)
        self.qnorm = qnorm
        self.doc_boosts = doc_boosts or {}

    def _norms(self, local, dls):
        from ferret_spark.similarity import NORM_TABLE, encode_norm

        out = np.empty(len(local), dtype=np.float64)
        for i in range(len(local)):
            b = self.doc_boosts.get(int(local[i]) + self.base, 1.0)
            out[i] = NORM_TABLE[encode_norm(1.0, b, int(dls[i]))]
        return out

    def eval(self, q: Query, anc: float = 1.0):
        from ferret_spark import similarity as S

        b = anc * q.boost
        mask, score = self._zero()
        if isinstance(q, TermQuery):
            dec = self.decoded(q.field, q.term)
            if dec is None:
                return mask, score
            local, tfs, _, dls = dec
            i = S.idf(self.dfs.get((q.field, q.term), 0), self.n_docs)
            val = i * i * b * self.qnorm
            score[local] = np.sqrt(tfs.astype(np.float64)) * val * self._norms(
                local, dls
            )
            mask[local] = True
            return mask, score
        if isinstance(q, MultiTermQuery):
            for t, tb in sorted(q.terms):
                dec = self.decoded(q.field, t)
                if dec is None:
                    continue
                local, tfs, _, dls = dec
                i = S.idf(self.dfs.get((q.field, t), 0), self.n_docs)
                val = i * i * tb * b * self.qnorm
                score[local] += np.sqrt(
                    tfs.astype(np.float64)
                ) * val * self._norms(local, dls)
                mask[local] = True
            return mask, score
        if isinstance(q, ConstantScoreTerms):
            for t in q.terms:
                dec = self.decoded(q.field, t)
                if dec is not None:
                    mask[dec[0]] = True
            score[mask] = 1.0 * b * self.qnorm
            return mask, score
        if isinstance(q, (ConstantScoreRange, ConstantScoreMatch)):
            mask, _ = _SegEval._eval_const_range(self, q)
            score[mask] = 1.0 * b * self.qnorm
            return mask, score
        if isinstance(q, CachedFilterDocs):
            mask, _ = _SegEval._eval_cached_filter(self, q)
            score[mask] = 1.0 * b * self.qnorm
            return mask, score
        if isinstance(q, MatchAllQuery):
            for lo, hi in self.id_ranges:
                a = max(lo, self.base) - self.base
                z = min(hi, self.base + self.seg_n) - self.base
                if z > a:
                    mask[a:z] = True
            score[mask] = 1.0 * b * self.qnorm
            return mask, score
        if isinstance(q, PhraseQuery):
            return self._eval_phrase_tfidf(q, b)
        if isinstance(q, BooleanQuery):
            musts = [c.query for c in q.clauses if c.occur == MUST]
            shoulds = [c.query for c in q.clauses if c.occur == SHOULD]
            nots = [c.query for c in q.clauses if c.occur == MUST_NOT]
            total = np.zeros(self.seg_n, dtype=np.float64)
            matches = np.zeros(self.seg_n, dtype=np.int64)
            if musts:
                mask = np.ones(self.seg_n, dtype=bool)
                for m in musts:
                    mm, ms = self.eval(m, b)
                    mask &= mm
                    total += ms
                    matches += mm
                for s in shoulds:
                    sm, ss = self.eval(s, b)
                    total += ss
                    matches += sm
            else:
                if not shoulds:
                    return self._zero()
                mask = np.zeros(self.seg_n, dtype=bool)
                for s in shoulds:
                    sm, ss = self.eval(s, b)
                    mask |= sm
                    total += ss
                    matches += sm
            for n_ in nots:
                nm, _ = self.eval(n_, b)
                mask &= ~nm
            max_overlap = len(musts) + len(shoulds)
            out = np.zeros(self.seg_n, dtype=np.float64)
            sel = np.flatnonzero(mask)
            out[sel] = total[sel] * (matches[sel] / max_overlap)
            return mask, out
        raise TypeError(f"tfidf mode: unsupported {type(q).__name__}")

    def _eval_phrase_tfidf(self, q: PhraseQuery, b: float):
        from ferret_spark import similarity as S

        mask, score = self._zero()
        if not q.positions:
            return mask, score
        field = q.field
        idf_sum = 0.0
        for _, alts in q.positions:
            for t in alts:
                idf_sum += S.idf(self.dfs.get((field, t), 0), self.n_docs)
        val = idf_sum * idf_sum * b * self.qnorm
        freqs, dl_by_doc = self._phrase_freqs_local(q)
        for d, f in freqs.items():
            boost_d = self.doc_boosts.get(int(d) + self.base, 1.0)
            from ferret_spark.similarity import NORM_TABLE, encode_norm

            norm = NORM_TABLE[encode_norm(1.0, boost_d, dl_by_doc[d])]
            mask[d] = True
            score[d] = S.tf(f) * val * norm
        return mask, score

    def _phrase_freqs_local(self, q: PhraseQuery):
        """doc(local) -> phrase_freq, plus dl map (mirrors oracle)."""
        docs, freq_arr, dl = self._phrase_freqs_flat(q)
        freqs = {
            int(d): float(f)
            for d, f in zip(docs.tolist(), freq_arr.tolist())
            if f > 0.0
        }
        dls_map = {
            int(d): int(x) for d, x in zip(docs.tolist(), dl.tolist())
        }
        return freqs, dls_map


# ---------------------------------------------------------------------------
# the distributed search


def _pack_ids(
    ids_df: DataFrame, seg_size: int, seg_schema, field_name: str
) -> DataFrame:
    """doc_ids -> one ``field_name`` row per affected segment whose doc_bin
    is the sorted int64 id array. Rides the same seg_id shuffle as the
    posting rows, so a bulk id set (10^9 ids) never touches the driver and
    each scoring task sees only its own segment's slice."""

    def pack(key, pdf):  # no hints: pyspark warns on partial grouped-map hints
        ids = np.sort(pdf["doc_id"].to_numpy().astype(np.int64))
        return pd.DataFrame(
            [
                (
                    int(key[0]),
                    field_name,
                    "",
                    int(len(ids)),
                    ids.tobytes(),
                    b"",
                    b"",
                    b"",
                    None,
                )
            ],
            columns=[
                "seg_id", "field", "term", "df",
                "doc_bin", "tf_bin", "pos_bin", "dl_bin", "block_meta",
            ],
        )

    rows = ids_df.select(
        (F.col("doc_id") / F.lit(seg_size)).cast("int").alias("seg_id"),
        F.col("doc_id").cast("long").alias("doc_id"),
    )
    return rows.groupBy("seg_id").applyInPandas(pack, seg_schema)


def _pack_deleted(deleted: DataFrame, seg_size: int, seg_schema) -> DataFrame:
    """Deletions as packed per-segment rows (lazy-BitVector analog,
    c/src/index.c:5729-5745)."""
    return _pack_ids(deleted, seg_size, seg_schema, "__del__")


def _n_segs_span(index, n_docs: int, seg_size: int) -> int:
    """Segment-id span [0, n_segs): derived from id_ranges' max id, NOT
    from the doc count — incremental adds align each batch to the next
    segment boundary, so doc-id gaps make max_id exceed n_docs."""
    ranges = getattr(index, "id_ranges", None) or [[0, n_docs]]
    max_id = max(hi for _, hi in ranges)
    return max(1, -(-max_id // seg_size))


def _stub_rows(spark, n_segs: int, bm_type) -> DataFrame:
    """One posting-less ``__stub__`` row in the segments schema per
    segment of the id span [0, n_segs)."""
    return spark.range(n_segs).select(
        F.col("id").cast("long").alias("seg_id"),
        F.lit("__stub__").alias("field"),
        F.lit("").alias("term"),
        F.lit(0).cast("long").alias("df"),
        F.lit(b"").alias("doc_bin"),
        F.lit(b"").alias("tf_bin"),
        F.lit(b"").alias("pos_bin"),
        F.lit(b"").alias("dl_bin"),
        F.lit(None).cast(bm_type).alias("block_meta"),
    )


def _plan_segments(
    index,
    queries: list,
    local_k: int | None,
    deleted=None,
    deleted_cache_key=None,
    similarity: str = "bm25",
    doc_boosts: dict[int, float] | None = None,
    post_filter=None,
) -> DataFrame | None:
    """The segmented engine's one planner, shared by segment_search (a
    batch of one) and segment_batch_search. ``queries`` holds
    (qid, wand_rewrite-ten query) pairs. Returns each segment's local
    top-``local_k`` hits per query as (qid, doc_id, score double), or None
    when no query can match anything.

    ONE plan serves the union of the queries:
    - one segments scan with the exact (field, term) pairs and any
      uncapped range/match bounds pushed;
    - one ``__stub__`` row per segment of the id span when any query
      carries a MatchAll, so posting-less segments still score;
    - global dfs for every (field, term) pair of the batch, read on the
      driver by ``index.doc_freqs`` (no Spark job) and pickled into the
      scoring closure, so every segment — with or without postings for a
      term — sees the same dfs; a pair absent from the dictionary reads
      as 0 through ``dfs.get(..., 0)``. TF-IDF's qnorm reads the same map;
    - cached filter doc-id sets as packed ``__filt__`` rows;
    - deletes as packed ``__del__`` rows, persisted per deletes state.

    ONE groupBy(seg_id).applyInPandas closure parses a segment's rows
    once and builds one evaluator, so each posting list decodes once no
    matter how many queries read it. Each query then runs the exact
    dense ``ev.eval``, followed by deletes, ``post_filter`` and the local
    top-k cut.
    """
    attached, cached_filters = [], {}
    for qid, rq in queries:
        rq, cached = _attach_filter_cache(index, rq)
        attached.append((qid, rq))
        cached_filters.update(cached)
    pairs = sorted({p for _, rq in attached for p in _collect_terms(rq)})
    ranges = list(
        dict.fromkeys(r for _, rq in attached for r in _collect_ranges(rq))
    )
    needs_all = any(_query_needs_all_docs(rq) for _, rq in attached)
    if not pairs and not needs_all and not ranges and not cached_filters:
        return None

    # cache the segments schema on the index — .schema is a py4j
    # round-trip with JSON parsing (~20ms each)
    seg_schema = getattr(index, "_seg_schema_cache", None)
    if seg_schema is None:
        seg_schema = index._seg_schema_cache = index.segments.schema
    bm_type = seg_schema["block_meta"].dataType
    spark = index.spark
    n_docs = index.n_docs
    avgdl_map = dict(index.stats["avgdl"])
    seg_size = index.seg_size
    id_ranges = getattr(index, "id_ranges", None) or [[0, n_docs]]

    scan_cond = _exact_pair_cond(pairs) if pairs else None
    for r in ranges:
        rc = r.spark_cond()
        scan_cond = rc if scan_cond is None else (scan_cond | rc)
    # no posting predicate (MatchAll / cached filters only): the stub and
    # __filt__ rows below carry the whole answer
    seg_rows = index.segments.where(
        F.lit(False) if scan_cond is None else scan_cond
    )

    dfs = index.doc_freqs(pairs)
    extra = []
    if needs_all:
        n_segs = _n_segs_span(index, n_docs, seg_size)
        extra.append(_stub_rows(spark, n_segs, bm_type))
    for tag, cdir in cached_filters.items():
        from ferret_spark.segments import read_table

        fdf = read_table(spark, cdir)
        extra.append(_pack_ids(fdf, seg_size, seg_schema, f"__filt__:{tag}"))
    if deleted is not None:
        # the pack is a groupBy shuffle of the deletes parquet — persist
        # it per deletes state (the caller's key; FerretIndex keys on the
        # deletes dir listing) so repeated searches reuse the partitions
        cached = getattr(index, "_packed_del_cache", None)
        if (
            deleted_cache_key is not None
            and cached is not None
            and cached[0] == deleted_cache_key
        ):
            del_rows = cached[1]
        else:
            del_rows = _pack_deleted(deleted, seg_size, seg_schema)
            if deleted_cache_key is not None:
                del_rows = del_rows.persist()
                if cached is not None:
                    cached[1].unpersist()
                index._packed_del_cache = (deleted_cache_key, del_rows)
        extra.append(del_rows)
    for rows in extra:
        seg_rows = seg_rows.unionByName(rows)

    plans = []  # (qid, query, tfidf qnorm or None)
    for qid, rq in attached:
        qnorm = None
        if similarity == "tfidf":
            from ferret_spark import similarity as S

            qnorm = S.query_norm(S.sum_sq_weights(rq, dfs, n_docs, None))
        plans.append((qid, rq, qnorm))

    def score_segment(key, pdf):  # no hints: pyspark warns on partial grouped-map hints
        from ferret_spark.segments import _row_to_codec

        base = int(key[0]) * seg_size
        rows_by_ft = {}
        filt_local: dict[str, np.ndarray] = {}
        del_local = None
        # records, not iterrows: no per-row Series construction (rows here
        # = query terms x segments, small but on every search's hot path)
        for r in pdf.to_dict("records"):
            fld = r["field"]
            if fld == "__stub__":
                continue
            if fld.startswith("__filt__:"):
                ids = np.frombuffer(bytes(r["doc_bin"]), dtype=np.int64)
                filt_local[fld[9:]] = ids - base
                continue
            if fld == "__del__":
                ids = np.frombuffer(bytes(r["doc_bin"]), dtype=np.int64)
                dl2 = ids - base
                del_local = (
                    dl2 if del_local is None else np.union1d(del_local, dl2)
                )
                continue
            rows_by_ft[(fld, r["term"])] = _row_to_codec(r)
        args = (
            rows_by_ft, dfs, n_docs, avgdl_map, base, seg_size,
            id_ranges,
        )
        if similarity == "tfidf":
            ev = _SegEvalTFIDF(*args, doc_boosts=doc_boosts)
        else:
            ev = _SegEval(*args)
        ev.cached_filters = filt_local
        out_q, out_d, out_s = [], [], []
        for qid, rq, qnorm in plans:
            if qnorm is not None:
                ev.qnorm = qnorm
            mask, score = ev.eval(rq)
            if del_local is not None and len(del_local):
                mask[del_local] = False
            if post_filter is not None:
                for d in np.flatnonzero(mask):
                    f = post_filter(int(d) + base, float(score[d]))
                    if not f:
                        mask[d] = False
                    elif f < 1.0:
                        score[d] = score[d] * f
            locs = np.flatnonzero(mask)
            if local_k is not None and len(locs) > local_k:
                f32 = score[locs].astype(np.float32)
                locs = locs[np.lexsort((locs, -f32))[:local_k]]
            out_q.append(np.full(len(locs), qid, dtype=np.int32))
            out_d.append(locs + base)
            out_s.append(score[locs])
        return pd.DataFrame(
            {
                "qid": np.concatenate(out_q),
                "doc_id": np.concatenate(out_d),
                "score": np.concatenate(out_s),
            }
        )

    return seg_rows.groupBy("seg_id").applyInPandas(
        score_segment, "qid int, doc_id long, score double"
    )


def segment_search(
    index,
    q: Query,
    k: int | None = 10,
    offset: int = 0,
    deleted=None,
    similarity: str = "bm25",
    doc_boosts: dict[int, float] | None = None,
    post_filter=None,
    deleted_cache_key=None,
) -> DataFrame:
    """Top-k (doc_id, score float) for one query: _plan_segments with a
    batch of one, then orderBy(score desc, doc_id asc) + offset/limit
    (``k=None`` returns every hit).

    ``deleted`` is a DataFrame with a doc_id column — each segment task
    receives only ITS deletions as a packed binary row;
    ``deleted_cache_key`` keys the persisted pack.

    ``post_filter`` is the reference's user extension hook
    (FrtPostFilter, c/include/search.h:763-769 applied in isea_search_w
    c/src/search.c:1078-1092): callable(doc_id, score) -> factor; falsy
    drops the hit, factor < 1.0 scales the score. It is pickled into the
    scoring closure and runs executor-side on every hit BEFORE the
    per-segment top-k cut (the reference's scorer loop likewise visits
    every hit).
    """
    scored = _plan_segments(
        index,
        [(0, wand_rewrite(index, q))],
        None if k is None else offset + k,
        deleted=deleted,
        deleted_cache_key=deleted_cache_key,
        similarity=similarity,
        doc_boosts=doc_boosts,
        post_filter=post_filter,
    )
    if scored is None:
        return index.spark.createDataFrame([], "doc_id long, score float")
    # orderBy + limit, not the batch's per-query window: a window over
    # one query measured slower (term_hot p50 767 vs 691 ms)
    ranked = scored.select(
        "doc_id", F.col("score").cast("float").alias("score")
    ).orderBy(F.col("score").desc(), F.col("doc_id").asc())
    if offset:
        ranked = ranked.offset(offset)
    if k is not None:
        ranked = ranked.limit(k)
    return ranked


# Union-term budget per _plan_segments call of segment_batch_search:
# each applyInPandas group materializes ONE Arrow batch holding every
# matched term's posting binaries for that segment, so a batch of B
# hot-term queries puts O(union_terms x seg_bytes) in the JVM's
# direct-memory Arrow pool per concurrent task. Measured: ~128 hot terms
# per plan is comfortable, ~512 OOMs the default pool at 2M docs x 32
# tasks. A batch whose term union exceeds the budget is planned in
# contiguous chunks whose scored rows union under one ranking window, so
# no scoring task holds more than one chunk's postings.
SEG_BATCH_TERM_BUDGET = 192


def segment_batch_search(
    index,
    queries: list,
    k: int = 10,
    deleted=None,
    deleted_cache_key=None,
    term_budget: int | None = None,
) -> DataFrame:
    """Top-k for MANY queries over the segmented index in ONE Spark job
    — (query_id, rank, doc_id, score), query_id = position in
    ``queries``, scores float32-identical per query to segment_search.

    The reference answers a query log one searcher call at a time
    (frt_isea_search_w, c/src/search.c:1049-1127) because its per-call
    fixed cost is microseconds; on Spark each call pays job submission +
    a postings scan + a collect, so a query log is planned as one batch
    by _plan_segments (the planner segment_search uses with a batch of
    one): one segments scan, one evaluator per segment serving every
    query, then one per-query ranked window (float32 rank semantics, ties
    doc asc). Every query shape segment_search accepts is accepted here.
    ``deleted`` is the packed-deletes DataFrame of segment_search (same
    per-state cache key).
    """
    budget = SEG_BATCH_TERM_BUDGET if term_budget is None else term_budget
    chunks, chunk, seen = [], [], set()
    for qid, q in enumerate(queries):
        rq = wand_rewrite(index, q)
        ts = set(_collect_terms(rq))
        if budget and chunk and len(seen | ts) > budget:
            chunks.append(chunk)
            chunk, seen = [], set()
        chunk.append((qid, rq))
        seen |= ts
    if chunk:
        chunks.append(chunk)
    scored = None
    for c in chunks:
        part = _plan_segments(
            index, c, k, deleted=deleted, deleted_cache_key=deleted_cache_key
        )
        if part is not None:
            scored = part if scored is None else scored.unionByName(part)
    if scored is None:
        return index.spark.createDataFrame(
            [], "query_id int, rank long, doc_id long, score float"
        )
    rank_score = F.col("score").cast("float")
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
