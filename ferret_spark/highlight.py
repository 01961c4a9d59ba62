"""Highlighting + Explain — post-top-k, driver-side (never perf-critical:
runs over <= k fetched documents).

Reference: searcher_highlight c/src/search.c:836-965 — per-query match
vectors (tq/multi_tq/bq/phq_get_matchv_i, q_term.c / q_multi_term.c:603 /
q_boolean.c:1326 / q_phrase.c:834-950, rq_get_matchv_i q_range.c:465),
matchv_compact_with_breaks + matchv_set_offsets (search.c:577-610), the
sliding-window excerpt priority queue with zero-and-recalc re-ranking,
start-anchored padding excerpts, the adjacent-excerpt merge pass,
excerpt_expand (search.c:697-730) and excerpt_get_str tag/ellipsis
placement (search.c:732-786). The priority queue is a transcription of
the 1-indexed frt heap (priorityqueue.c pq_up/pq_down/pq_push/pq_pop) so
tie-breaking matches the reference exactly.

Explain trees: c/src/search.c:13-79 / tw_explain c/src/q_term.c:155-229.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dfield

import numpy as np

from ferret_spark.analysis import get_analyzer
from ferret_spark.oracle import bm25_idf, bm25_tf
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


def match_positions(q: Query, tokens: list[tuple[str, int, int, int]]) -> set[int]:
    """Token-stream positions matched by the query (MatchVector analog)."""
    by_term: dict[str, list[int]] = {}
    pos_index: dict[int, int] = {}
    for i, (t, pos, _s, _e) in enumerate(tokens):
        by_term.setdefault(t, []).append(pos)
        pos_index[pos] = i
    out: set[int] = set()
    _collect_matches(q, by_term, out)
    return out


def _collect_matches(q: Query, by_term, out: set[int]):
    if isinstance(q, TermQuery):
        out.update(by_term.get(q.term, ()))
    elif isinstance(q, MultiTermQuery):
        for t, _b in q.terms:
            out.update(by_term.get(t, ()))
    elif isinstance(q, BooleanQuery):
        for c in q.clauses:
            if c.occur != MUST_NOT:
                _collect_matches(c.query, by_term, out)
    elif isinstance(q, PhraseQuery):
        # positions where the full (exact or sloppy window) phrase aligns
        slot_positions = []
        for off, alts in q.positions:
            ps: set[int] = set()
            for t in alts:
                ps.update(by_term.get(t, ()))
            slot_positions.append((off, ps))
        if not slot_positions:
            return
        first_off, first_ps = slot_positions[0]
        for p0 in first_ps:
            spans = [p0]
            ok = True
            for off, ps in slot_positions[1:]:
                target = p0 - first_off + off
                if q.slop == 0:
                    if target not in ps:
                        ok = False
                        break
                    spans.append(target)
                else:
                    cands = [p for p in ps if abs(p - target) <= q.slop]
                    if not cands:
                        ok = False
                        break
                    spans.append(min(cands, key=lambda p: abs(p - target)))
            if ok:
                out.update(spans)


# ---------------------------------------------------------------------------
# MatchVector (scored position ranges) — get_matchv_i per query type


class _MatchRange:
    __slots__ = ("start", "end", "score", "start_offset", "end_offset")

    def __init__(self, start: int, end: int, score: float = 1.0):
        self.start = start
        self.end = end
        self.score = score
        self.start_offset = 0
        self.end_offset = 0


def _mv_term_positions(mv, positions):
    for pos in positions:
        mv.append(_MatchRange(pos, pos))


def _term_pred_positions(by_term, pred):
    out = []
    for term, positions in by_term.items():
        if pred(term):
            out.extend(positions)
    return out


def _get_matchv(q: Query, field: str, by_term, mv: list) -> None:
    """Append this query's match ranges for one document's token stream
    (get_matchv_i dispatch). Multi-term queries (range/prefix/wildcard/
    fuzzy and their constant-score rewrites) match per-token against the
    bound/pattern — the reader-side rewrite intersected with the doc's
    term vector nets out to exactly this predicate (rq_get_matchv_i,
    c/src/q_range.c:465-496)."""
    from ferret_spark.query import (
        FilteredQuery,
        FuzzyQuery,
        PrefixQuery,
        WildcardQuery,
        fuzzy_score,
        glob_to_regex,
    )

    if isinstance(q, TermQuery):
        if q.field == field:
            _mv_term_positions(mv, by_term.get(q.term, ()))
    elif isinstance(q, MultiTermQuery):
        if q.field == field:
            for t, _b in q.terms:
                _mv_term_positions(mv, by_term.get(t, ()))
    elif isinstance(q, BooleanQuery):
        for c in q.clauses:
            if c.occur != MUST_NOT:
                _get_matchv(c.query, field, by_term, mv)
    elif isinstance(q, PhraseQuery):
        if q.field == field:
            _phrase_matchv(q, by_term, mv)
    elif isinstance(q, RangeQuery):
        if q.field == field:
            from ferret_spark.wand import ConstantScoreRange

            rng = ConstantScoreRange(
                field=q.field, lower=q.lower, upper=q.upper,
                include_lower=q.include_lower,
                include_upper=q.include_upper, typed=q.typed,
            )
            _mv_term_positions(
                mv, sorted(_term_pred_positions(by_term, rng.matches))
            )
    elif isinstance(q, PrefixQuery):
        if q.field == field:
            _mv_term_positions(
                mv,
                sorted(
                    _term_pred_positions(
                        by_term, lambda t: t.startswith(q.prefix)
                    )
                ),
            )
    elif isinstance(q, WildcardQuery):
        if q.field == field:
            import re

            rx = re.compile(glob_to_regex(q.pattern))
            _mv_term_positions(
                mv,
                sorted(
                    _term_pred_positions(by_term, lambda t: bool(rx.match(t)))
                ),
            )
    elif isinstance(q, FuzzyQuery):
        if q.field == field:
            pre = q.term[: q.prefix_len]
            _mv_term_positions(
                mv,
                sorted(
                    _term_pred_positions(
                        by_term,
                        lambda t: t.startswith(pre)
                        and fuzzy_score(q.term, t, q.prefix_len) > q.min_sim,
                    )
                ),
            )
    elif isinstance(q, FilteredQuery):
        _get_matchv(q.query, field, by_term, mv)
    elif _is_span_query(q):
        _span_matchv(q, field, by_term, mv)
    else:
        # predicate-bearing rewrite nodes (ConstantScoreTerms/Range/Match)
        terms = getattr(q, "terms", None)
        if terms is not None and getattr(q, "field", None) == field:
            for t in terms:
                _mv_term_positions(mv, by_term.get(t, ()))
        elif hasattr(q, "matches") and getattr(q, "field", None) == field:
            _mv_term_positions(
                mv, sorted(_term_pred_positions(by_term, q.matches))
            )


def _is_span_query(q) -> bool:
    try:
        from ferret_spark.spans import is_span

        return is_span(q)
    except ImportError:  # pragma: no cover
        return False


def _matchv_compact_plain(mv: list) -> list:
    """matchv_compact (search.c:554-575): sort and merge ADJACENT ranges
    too (the end+1 rule) — used on full span ranges before the per-term
    conversion."""
    mv = sorted(mv, key=lambda m: (m.start, -m.end))
    out: list[_MatchRange] = []
    for r in mv:
        if not out or r.start > out[-1].end + 1:
            out.append(_MatchRange(r.start, r.end, r.score))
        elif r.end > out[-1].end:
            out[-1].end = r.end
        else:
            out[-1].score += r.score
    return out


def _span_matchv(q, field: str, by_term, mv: list) -> None:
    """spanq_get_matchv_i (c/src/q_span.c:151-183): enumerate the query's
    spans over this doc, compact them, then emit a single-position match
    for each occurrence of each scoring term that falls inside a span
    (mv_to_term_mv, q_span.c:37-61)."""
    from ferret_spark.spans import doc_spans, scoring_terms, span_field

    if span_field(q) != field:
        return
    term_dict = sorted(by_term)
    spans = doc_spans(q, lambda t: by_term.get(t, []), term_dict)
    if not spans:
        return
    full = _matchv_compact_plain(
        [_MatchRange(s, e - 1) for s, e in spans]
    )
    for term in scoring_terms(q, term_dict):
        m_idx = 0
        for pos in sorted(by_term.get(term, [])):
            while m_idx < len(full):
                if pos <= full[m_idx].end:
                    if pos >= full[m_idx].start:
                        mv.append(_MatchRange(pos, pos))
                    break
                m_idx += 1


def _phrase_matchv(q: PhraseQuery, by_term, mv: list) -> None:
    """phq_get_matchv_i (c/src/q_phrase.c:834-950): exact phrases add one
    range per full alignment; sloppy phrases walk the slot position enums
    with a min-heap exactly like the reference."""
    slots = []  # (offset, sorted adjusted positions)
    for off, alts in sorted(q.positions, key=lambda x: x[0]):
        ps: set[int] = set()
        for t in alts:
            ps.update(by_term.get(t, ()))
        if not ps:
            return
        slots.append((off, sorted(p - off for p in ps)))
    if len(slots) == 1:
        off, ps = slots[0]
        for p in ps:
            mv.append(_MatchRange(p + off, p + off))
        return
    if q.slop == 0:
        common = set(slots[0][1])
        for _, ps in slots[1:]:
            common &= set(ps)
        lo_off = slots[0][0]
        hi_off = slots[-1][0]
        for p in sorted(common):
            mv.append(_MatchRange(p + lo_off, p + hi_off))
        return
    # sloppy: transcription of the TVPosEnum priority-queue walk
    class _Enum:
        __slots__ = ("positions", "offset", "index", "pos")

        def __init__(self, positions, offset):
            self.positions = positions
            self.offset = offset
            self.index = 0
            self.pos = positions[0]

        def next(self):
            self.index += 1
            if self.index < len(self.positions):
                self.pos = self.positions[self.index]
                return True
            self.pos = -1
            return False

    pq = _FrtPQ(lambda a, b: a.pos < b.pos)
    last_pos = 0
    for off, ps in slots:
        en = _Enum(ps, off)
        if en.pos > last_pos:
            last_pos = en.pos
        pq.push(en)
    done = False
    while not done:
        en = pq.pop()
        pos = start = en.pos
        next_pos = pq.top().pos
        while pos <= next_pos:
            start = pos
            if not en.next():
                done = True
                break
            pos = en.pos
        if last_pos - start <= q.slop:
            vals = [start + en.offset] + [
                t.pos + t.offset for t in pq.heap[1 : pq.size + 1]
            ]
            mv.append(_MatchRange(min(vals), max(vals)))
        if en.pos > last_pos:
            last_pos = en.pos
        pq.push(en)


def _matchv_compact_with_breaks(mv: list) -> list:
    """Sort by (start asc, end desc); merge OVERLAPPING ranges only (no
    end+1 adjacency), summing scores (search.c:577-600)."""
    mv = sorted(mv, key=lambda m: (m.start, -m.end))
    out: list[_MatchRange] = []
    for r in mv:
        if not out or r.start > out[-1].end:
            out.append(_MatchRange(r.start, r.end, r.score))
        elif r.end > out[-1].end:
            out[-1].end = r.end
            out[-1].score += r.score
        else:
            out[-1].score += r.score
    return out


# ---------------------------------------------------------------------------
# frt PriorityQueue transcription (1-indexed heap; lt = higher priority)


class _FrtPQ:
    def __init__(self, lt):
        self.heap: list = [None, None]
        self.size = 0
        self.lt = lt

    def push(self, elem):
        self.size += 1
        if self.size >= len(self.heap):
            self.heap.extend([None] * len(self.heap))
        self.heap[self.size] = elem
        # pq_up
        heap, i = self.heap, self.size
        j = i >> 1
        node = heap[i]
        while j > 0 and self.lt(node, heap[j]):
            heap[i] = heap[j]
            i = j
            j >>= 1
        heap[i] = node

    def top(self):
        return self.heap[1] if self.size > 0 else None

    def pop(self):
        if self.size <= 0:
            return None
        result = self.heap[1]
        self.heap[1] = self.heap[self.size]
        self.heap[self.size] = None
        self.size -= 1
        self.down()
        return result

    def down(self):
        i, j, k = 1, 2, 3
        size, heap = self.size, self.heap
        if size == 0:
            return
        node = heap[i]
        if k <= size and self.lt(heap[k], heap[j]):
            j = k
        while j <= size and self.lt(heap[j], node):
            heap[i] = heap[j]
            i = j
            j = i << 1
            k = j + 1
            if k <= size and self.lt(heap[k], heap[j]):
                j = k
        heap[i] = node


# ---------------------------------------------------------------------------
# excerpt selection (searcher_highlight)


class _Excerpt:
    __slots__ = ("start", "end", "start_pos", "end_pos",
                 "start_offset", "end_offset", "score")

    def __init__(self, start=0, end=-1, score=0.0):
        self.start = start
        self.end = end
        self.start_pos = 0
        self.end_pos = 0
        self.start_offset = 0
        self.end_offset = 0
        self.score = score


def _excerpt_expand(e: _Excerpt, length: int, offsets) -> None:
    """Grow the excerpt to its largest size under ``length`` chars,
    alternating left/right (excerpt_expand, search.c:697-730)."""
    offset_cnt = len(offsets)
    did = True
    while did:
        did = False
        if (
            e.start_pos > 0
            and (e.end_offset - offsets[e.start_pos - 1][0]) < length
        ):
            e.start_pos -= 1
            e.start_offset = offsets[e.start_pos][0]
            did = True
        if (
            e.end_pos < offset_cnt - 1
            and (offsets[e.end_pos + 1][1] - e.start_offset) < length
        ):
            e.end_pos += 1
            e.end_offset = offsets[e.end_pos][1]
            did = True


def _excerpt_get_str(e, matches, text, pre_tag, post_tag, ellipsis):
    parts = []
    last = e.start_offset
    if e.start_offset > 0:
        parts.append(ellipsis)
    for i in range(e.start, e.end + 1):
        mr = matches[i]
        parts.append(text[last:mr.start_offset])
        parts.append(pre_tag)
        parts.append(text[mr.start_offset:mr.end_offset])
        parts.append(post_tag)
        last = mr.end_offset
    if (len(text) - e.end_offset) <= len(ellipsis):
        # no point using ellipsis if it takes up more space
        e.end_offset = len(text)
    parts.append(text[last:e.end_offset])
    if e.end_offset < len(text):
        parts.append(ellipsis)
    return "".join(parts)


def _highlight_whole_field(matches, text, pre_tag, post_tag):
    if not matches:
        return text
    parts = []
    last = 0
    for mr in matches:
        parts.append(text[last:mr.start_offset])
        parts.append(pre_tag)
        parts.append(text[mr.start_offset:mr.end_offset])
        parts.append(post_tag)
        last = mr.end_offset
    parts.append(text[last:])
    return "".join(parts)


def highlight(
    index_or_analyzer,
    q: Query,
    text: str,
    field: str = "content",
    excerpt_length: int = 40,
    num_excerpts: int = 1,
    pre_tag: str = "<b>",
    post_tag: str = "</b>",
    ellipsis: str = "...",
) -> list[str]:
    """Excerpts of ``text`` with query matches wrapped in tags — a faithful
    port of searcher_highlight (c/src/search.c:836-965): sliding-window
    excerpt PQ, zero-and-recalc selection, start-anchored padding, merge
    pass, expansion to token boundaries, ellipsis placement."""
    if hasattr(index_or_analyzer, "analyze_offsets"):
        # already an Analyzer instance
        analyzer = index_or_analyzer
    elif hasattr(index_or_analyzer, "field_config"):
        aname = index_or_analyzer.field_config.get(field, "standard")
        if hasattr(aname, "analyze_offsets"):
            # field_config may hold runtime Analyzer instances (the pattern
            # the segment builder supports) — use the instance directly
            analyzer = aname
        else:
            analyzer = get_analyzer(aname if aname != "keyword" else "whitespace")
    else:
        analyzer = get_analyzer(index_or_analyzer)
    tokens = analyzer.analyze_offsets(text)
    if not tokens:
        return []
    by_term: dict[str, list[int]] = {}
    max_pos = 0
    for t, pos, _s, _e in tokens:
        by_term.setdefault(t, []).append(pos)
        if pos > max_pos:
            max_pos = pos
    # offsets indexed by POSITION; skipped positions (stop-filter gaps)
    # zero-filled then patched from the previous entry, as excerpt_expand
    # does on tv->offsets
    offsets = [[0, 0] for _ in range(max_pos + 1)]
    for _t, pos, s, e in tokens:
        offsets[pos] = [s, e]
    for i in range(1, len(offsets)):
        if offsets[i][0] == 0:
            offsets[i][0] = offsets[i - 1][0]
        if offsets[i][1] == 0:
            offsets[i][1] = offsets[i - 1][1]

    raw_mv: list[_MatchRange] = []
    _get_matchv(q, field, by_term, raw_mv)
    matches = _matchv_compact_with_breaks(raw_mv)
    for mr in matches:
        mr.start_offset = offsets[mr.start][0]
        mr.end_offset = offsets[mr.end][1]

    if len(text) < excerpt_length * num_excerpts:
        return [_highlight_whole_field(matches, text, pre_tag, post_tag)]
    if not matches:
        return []

    # every possible excerpt window into the PQ
    pq = _FrtPQ(lambda a, b: a.score > b.score)
    running = 0.0
    e_end = 0
    size = len(matches)
    for e_start in range(size):
        start_offset = matches[e_start].start_offset
        if e_start > e_end:
            running = 0.0
            e_end = e_start
        while (
            e_end < size
            and matches[e_end].end_offset <= start_offset + excerpt_length
        ):
            running += matches[e_end].score
            e_end += 1
        pq.push(_Excerpt(e_start, e_end - 1, running))
        running -= matches[e_start].score

    selected: list[_Excerpt] = []
    i = 0
    while i < num_excerpts and pq.size > 0:
        e = pq.pop()
        selected.append(e)
        if i < num_excerpts - 1:
            # zero already-included ranges, then lazily re-rank the top
            for j in range(e.start, e.end + 1):
                matches[j].score = 0.0
            e2 = None
            while e2 is not pq.top():
                e2 = pq.top()
                e2.score = sum(
                    matches[j].score for j in range(e2.start, e2.end + 1)
                )
                pq.down()
        i += 1

    selected.sort(key=lambda ex: ex.start)
    for e in selected:
        e.start_pos = matches[e.start].start
        e.end_pos = matches[e.end].end
        e.start_offset = offsets[e.start_pos][0]
        e.end_offset = offsets[e.end_pos][1]

    if i < num_excerpts:
        # pad at the FRONT with empty excerpts that grow into one long
        # excerpt at the start of the field
        selected = [_Excerpt() for _ in range(num_excerpts - i)] + selected

    out: list[str] = []
    idx = 0
    while idx < num_excerpts:
        ei = selected[idx]
        merged = 1
        for j in range(idx + 1, num_excerpts):
            ej = selected[j]
            if (ej.end_offset - ei.start_offset) < (j - idx + 1) * excerpt_length:
                ei.end = ej.end
                ei.end_pos = ej.end_pos
                ei.end_offset = ej.end_offset
                merged = j - idx + 1
        _excerpt_expand(ei, merged * excerpt_length, offsets)
        out.append(
            _excerpt_get_str(ei, matches, text, pre_tag, post_tag, ellipsis)
        )
        idx += merged
    return out


# ---------------------------------------------------------------------------
# Explain


@dataclass
class Explanation:
    value: float
    description: str
    details: list = dfield(default_factory=list)

    def to_dict(self) -> dict:
        return {
            "value": self.value,
            "description": self.description,
            "details": [d.to_dict() for d in self.details],
        }

    def to_s(self, depth: int = 0) -> str:
        out = "  " * depth + f"{self.value:.6g} = {self.description}\n"
        for d in self.details:
            out += d.to_s(depth + 1)
        return out


def explain(index, q: Query, doc_id: int) -> Explanation:
    """Score decomposition for one doc — recomputes from global stats +
    that doc's postings (searcher.explain analog). Works on SegmentIndex
    and SparkIndex."""
    return explain_many(index, q, [doc_id])[doc_id]


def explain_many(index, q: Query, doc_ids) -> dict:
    """Explanations for MANY docs from ONE postings fetch: the typical
    caller explains a whole top-k page, and per-doc fetches would pay the
    fixed job cost k times.  Returns {doc_id: Explanation}."""
    from ferret_spark.query import query_terms
    from ferret_spark.search import spark_rewrite

    doc_ids = list(doc_ids)
    rq = spark_rewrite(index, q)
    pairs = sorted(set(query_terms(rq)))
    dfs = index.doc_freqs(pairs)
    n = index.n_docs
    infos = _doc_postings_many(index, pairs, doc_ids)
    return {
        d: _explain_node(rq, dfs, n, index, infos.get(d, {}), d)
        for d in doc_ids
    }


def _doc_postings_many(index, pairs, doc_ids):
    """{doc_id: {(field, term): {tf, dl, positions}}} for every requested
    doc, from one pushed scan (seg_id/doc_id IN-filters)."""
    from pyspark.sql import functions as F

    from ferret_spark.wand import _exact_pair_cond

    infos = {d: {} for d in doc_ids}
    if not pairs or not doc_ids:
        return infos
    pair_cond = _exact_pair_cond(pairs)
    if hasattr(index, "segments"):
        from ferret_spark.codec import decode_posting_list, posting_row

        by_seg: dict[int, list] = {}
        for d in doc_ids:
            by_seg.setdefault(d // index.seg_size, []).append(d)
        rows = index.segments.where(
            F.col("seg_id").isin(sorted(by_seg)) & pair_cond
        ).collect()
        for r in rows:
            ids, tfs, pos, dls = decode_posting_list(posting_row(r))
            for d in by_seg[r["seg_id"]]:
                hit = np.flatnonzero(ids == d)
                if len(hit):
                    i = int(hit[0])
                    infos[d][(r["field"], r["term"])] = {
                        "tf": int(tfs[i]),
                        "dl": int(dls[i]) if dls is not None else 1,
                        "positions": list(map(int, pos[i])) if pos else [],
                    }
    else:
        rows = (
            index.postings.where(pair_cond & F.col("doc_id").isin(doc_ids))
        ).collect()
        for r in rows:
            infos[r["doc_id"]][(r["field"], r["term"])] = {
                "tf": r["tf"],
                "dl": r["doc_len"],
                "positions": list(r["positions"]),
            }
    return infos


def _explain_node(q, dfs, n, index, doc_info, doc_id) -> Explanation:
    if isinstance(q, TermQuery):
        key = (q.field, q.term)
        df_ = dfs.get(key, 0)
        hit = doc_info.get(key)
        if df_ == 0 or hit is None:
            return Explanation(0.0, f"no match for {q.field}:{q.term}")
        idf = bm25_idf(df_, n)
        tfp = bm25_tf(hit["tf"], hit["dl"], index.avgdl(q.field))
        val = q.boost * idf * tfp
        return Explanation(
            val,
            f"weight({q.field}:{q.term} in {doc_id}) [BM25]",
            [
                Explanation(q.boost, "boost"),
                Explanation(idf, f"idf(df={df_}, n={n})"),
                Explanation(
                    tfp,
                    f"tfNorm(tf={hit['tf']}, dl={hit['dl']}, "
                    f"avgdl={index.avgdl(q.field):.4g})",
                ),
            ],
        )
    if isinstance(q, MatchAllQuery):
        return Explanation(q.boost, "MatchAllQuery")
    if isinstance(q, MultiTermQuery):
        details = [
            _explain_node(TermQuery(boost=b, field=q.field, term=t), dfs, n,
                          index, doc_info, doc_id)
            for t, b in q.terms
        ]
        details = [d for d in details if d.value > 0]
        val = q.boost * sum(sorted(d.value for d in details))
        return Explanation(val, "sum of matching terms", details)
    if isinstance(q, BooleanQuery):
        details = []
        total = 0.0
        for c in q.clauses:
            if c.occur == MUST_NOT:
                continue
            d = _explain_node(c.query, dfs, n, index, doc_info, doc_id)
            if c.occur == MUST and d.value == 0.0:
                return Explanation(0.0, "failure to match required clause")
            if d.value > 0:
                details.append(d)
                total += d.value
        return Explanation(q.boost * total, "sum of clauses", details)
    if isinstance(q, PhraseQuery):
        # recompute phrase freq from this doc's positions: each slot's
        # alternatives merged (once per occurrence; distinct for an exact
        # multi-slot phrase, as search merges them), then the search
        # kernels' dispatcher on a batch of one row
        from ferret_spark.phrase_np import has_repeats, phrase_freqs

        idf_sum = 0.0
        flats = []
        dl = None
        for _, alts in q.positions:
            ps = []
            for t in alts:
                df_ = dfs.get((q.field, t), 0)
                if df_:
                    idf_sum += bm25_idf(df_, n)
                hit = doc_info.get((q.field, t))
                if hit:
                    ps.extend(hit["positions"])
                    dl = hit["dl"]
            if not ps:
                return Explanation(0.0, "phrase slot unmatched")
            if q.slop == 0 and len(q.positions) > 1:
                ps = set(ps)
            flats.append(np.sort(np.fromiter(ps, dtype=np.int64)))
        freq = float(
            phrase_freqs(
                flats,
                [np.array([len(f)]) for f in flats],
                [off for off, _ in q.positions],
                q.slop,
                has_repeats(q.positions),
            )[0]
        )
        if freq <= 0 or dl is None:
            return Explanation(0.0, "phrase not aligned")
        tfp = bm25_tf(freq, dl, index.avgdl(q.field))
        val = q.boost * idf_sum * tfp
        return Explanation(
            val,
            f"phraseFreq={freq:.4g}",
            [Explanation(idf_sum, "idf sum"), Explanation(tfp, "tfNorm")],
        )
    if isinstance(q, RangeQuery):
        return Explanation(q.boost, "constant score (range)")
    # post-rewrite constant-score nodes (ConstantScoreTerms / Range /
    # Match — the capped-expansion fallbacks): hits score boost * 1.0
    if type(q).__name__ in (
        "ConstantScoreTerms", "ConstantScoreRange", "ConstantScoreMatch"
    ):
        return Explanation(
            q.boost, f"constant score ({type(q).__name__})"
        )
    return Explanation(0.0, f"unexplained {type(q).__name__}")
