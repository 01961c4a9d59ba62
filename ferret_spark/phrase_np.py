"""Vectorized phrase-frequency kernels (numpy, whole-batch).

The reference's sloppy phrase scorer (sphsc_phrase_freq,
c/src/q_phrase.c:454-515) walks a min-heap of per-slot position iterators:
pop the slot with the smallest offset-adjusted position, advance it to its
last position <= the next heap minimum, and score one window per pop with
match_length = last_pos - start (windows with match_length <= slop add
1/(match_length + 1) to freq).

For the dominant TWO-SLOT case (a 2-term phrase, no repeated terms) the
walk reduces to an *alternating event chain* over the two offset-adjusted
sorted lists A and B:

  - event 1 is at value m1 = max(A[0], B[0]), belonging to the list with
    the larger first value (on a tie, the larger-offset slot — the
    smaller-offset iterator pops first under the heap key
    (position, offset) and is consumed through the tie);
  - after an event at value m in list Y, the next event is the first
    element of the OTHER list strictly greater than m (the popped
    iterator's new head); the chain dies when none exists;
  - the event at m contributes one window with
    match_length = max(m, 0) - pred_other(m), where pred_other is the
    largest element of the non-event list <= m (inclusive: the popped
    iterator advances through positions == next_pos).  The max(m, 0)
    mirrors the walk's ``last_pos = 0`` initialisation, reachable when
    leading skip-slots make every adjusted position negative.

The chain itself admits a fully STATIC characterisation — no sequential
walk at all — over the merged value order with tied values collapsed into
"AB" elements (a value present in both lists):

  - every AB element at or after m1 is an event with window 0 (its
    predecessor in the other list is itself);
  - scanning elements after m1, a "wanted list" w flips at every event
    (events strictly alternate lists; AB elements satisfy either want);
  - within a maximal run of same-list pure elements, only the leader can
    fire (after it fires w flips away; if it doesn't, w never matches),
    and the run's exit want is other(run list) EITHER WAY — so the want
    entering any run is determined by the nearest preceding pure run
    (XOR the parity of intervening AB elements, each of which flips w),
    or by other(list(m1)) at the head of the row;
  - a pure event's window is its value minus the value of the nearest
    preceding AB-or-other-list element (a forward-fill).

Everything above is index arithmetic over the sorted merged arrays:
O(n log n) with no data-dependent loops, independent of how hot the
terms are.  Equivalence with the heap walk is property-tested
exhaustively against oracle.sloppy_phrase_freq, including cross-list
ties, negative adjusted positions, and hot documents with hundreds of
occurrences per slot (tests/test_phrase_np.py).

The exact (slop == 0) k-slot frequency is the size of the k-way
intersection of offset-adjusted position sets; since positions are
distinct within a slot, an adjusted value matched by all k slots forms a
merged-order group of exactly k equal elements — a flat vectorized count.

Every caller goes through ONE dispatcher, ``phrase_freqs``: the
segmented evaluator (one call per segment's candidate set), the
declarative planner's sloppy pandas UDF (one call per Arrow batch) and
``explain`` (one row per explained doc), so a phrase fix lands once.
Inputs are per-slot flat (values, per-row lengths) pairs of RAW token
positions (slot offsets are applied inside); a slot with several
alternatives arrives already merged into one sorted stream.  The choice:

  - one slot: the slot's position count;
  - exact (slop == 0): the k-way group count (``exact_freqk_flat``);
  - repeated terms: the per-doc reference walk (the repeat
    reconciliation, sphsc_check_repeats, is genuinely sequential);
  - two slots: the static alternating chain (``sloppy_freq2_flat``);
  - three or more slots: the lockstep heap walk (``sloppy_freqk_flat``).

Every kernel returns one float64 freq per row; rows where a slot is
empty score 0.  Window contributions accumulate in chronological
(merged-order) sequence, so the float64 sums are bit-identical to the
reference walk.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "phrase_freqs",
    "has_repeats",
    "sloppy_freq2_flat",
    "sloppy_freqk_flat",
    "exact_freqk_flat",
    "chunk_rows",
]

# Target total position count per kernel invocation.  The static kernels
# allocate ~25 full-length temporaries; called over a large candidate
# set those walk DRAM, and with every core running one such call the
# memory bus saturates (measured: 7 segments' candidates in one call made
# the sloppy kernel SLOWER while the cheaper exact kernel sped up).  Rows
# are scored independently, so the dispatch slices row blocks of ~this
# many positions — temporaries stay cache-resident and the per-call numpy
# overhead (~100 ufunc dispatches) amortizes over thousands of rows.
CHUNK_TARGET = 1 << 15


def has_repeats(positions) -> bool:
    """True when a term occurs more than once across a phrase's
    (offset, alternatives) slots — the walk then reconciles repeats."""
    seen: set[str] = set()
    for _, alts in positions:
        for t in alts:
            if t in seen:
                return True
            seen.add(t)
    return False


def phrase_freqs(flats, lens, offsets, slop: int, repeats: bool):
    """Phrase frequency per row: ``flats[j]`` holds slot j's raw
    positions concatenated across rows (sorted within a row), ``lens[j]``
    the per-row counts, ``offsets[j]`` the slot's phrase offset.  An exact
    phrase of >= 2 slots needs distinct positions within a row's slot.
    Kernel choice: see the module docstring."""
    k = len(flats)
    if k == 1:
        return np.asarray(lens[0], dtype=np.float64)
    if slop == 0:
        return exact_freqk_flat(flats, lens, offsets)
    if repeats:
        return _walk_freqs(flats, lens, offsets, slop)
    if k == 2:
        return sloppy_freq2_flat(
            flats[0], lens[0], flats[1], lens[1], offsets[0], offsets[1], slop
        )
    return sloppy_freqk_flat(flats, lens, offsets, slop)


def _walk_freqs(flats, lens, offsets, slop: int):
    """Repeated-term sloppy phrases: the reference walk per row."""
    from ferret_spark.oracle import sloppy_phrase_freq

    k = len(flats)
    n = len(lens[0])
    out = np.zeros(n, dtype=np.float64)
    bnds = [np.concatenate(([0], np.cumsum(l))) for l in lens]
    for i in range(n):
        runs = [
            np.asarray(flats[j][bnds[j][i] : bnds[j][i + 1]]) for j in range(k)
        ]
        if all(len(r) for r in runs):
            adjusted = [(runs[j] - offsets[j]).tolist() for j in range(k)]
            out[i] = sloppy_phrase_freq(adjusted, offsets, slop, True)
    return out


def chunk_rows(lens_list, target: int | None = None):
    """Yield (row_start, row_end) blocks whose total position count
    (summed over all slots) stays ~``target``.  A row larger than the
    target gets its own block — blocks never split a row."""
    target = CHUNK_TARGET if target is None else target
    n = len(lens_list[0])
    tot = np.zeros(n + 1, dtype=np.int64)
    for l in lens_list:
        tot[1:] += np.asarray(l, dtype=np.int64)
    np.cumsum(tot, out=tot)
    if tot[n] <= target:
        yield 0, n
        return
    s = 0
    while s < n:
        e = int(np.searchsorted(tot, tot[s] + target, side="right")) - 1
        e = max(e, s + 1)
        yield s, min(e, n)
        s = e


def _chunked(kernel, flats, lens, target=None):
    """Run a flat kernel over row blocks (rows score independently).
    ``kernel(fl_list, ln_list) -> freq`` receives per-slot slices."""
    n = len(lens[0])
    out = np.empty(n, dtype=np.float64)
    cs = [np.concatenate(([0], np.cumsum(l))) for l in lens]
    for s, e in chunk_rows(lens, target):
        out[s:e] = kernel(
            [flats[j][cs[j][s] : cs[j][e]] for j in range(len(flats))],
            [lens[j][s:e] for j in range(len(lens))],
        )
    return out


def _flatten(arrs):
    """list-of-arrays -> (flat int64 values, per-row lengths)."""
    n = len(arrs)
    lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=n)
    if n == 0 or int(lens.sum()) == 0:
        return np.empty(0, dtype=np.int64), lens
    flat = np.concatenate([np.asarray(a, dtype=np.int64) for a in arrs])
    return flat, lens


def sloppy_freq2_flat(fa, la, fb, lb, off_a: int, off_b: int, slop: int):
    """Sloppy phrase freq per row, 2 slots, no repeated terms: ``fa`` /
    ``fb`` are the two slots' raw positions concatenated across rows,
    ``la``/``lb`` the per-row lengths (same number of rows); slot offsets
    are applied here.  Static event formulation — see the module
    docstring; bit-identical to oracle.sloppy_phrase_freq run per row.
    Dispatches in cache-sized row blocks (rows are independent; see
    CHUNK_TARGET)."""
    fa, fb = np.asarray(fa, dtype=np.int64), np.asarray(fb, dtype=np.int64)
    la, lb = np.asarray(la, dtype=np.int64), np.asarray(lb, dtype=np.int64)
    return _chunked(
        lambda fl, ln: _sloppy_freq2_core(
            fl[0], ln[0], fl[1], ln[1], off_a, off_b, slop
        ),
        [fa, fb],
        [la, lb],
    )


def _sloppy_freq2_core(fa, la, fb, lb, off_a: int, off_b: int, slop: int):
    n = len(la)
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return out
    fa = np.asarray(fa, dtype=np.int64) - np.int64(off_a)
    fb = np.asarray(fb, dtype=np.int64) - np.int64(off_b)
    la = np.asarray(la, dtype=np.int64)
    lb = np.asarray(lb, dtype=np.int64)
    valid = (la > 0) & (lb > 0)
    if not valid.any():
        return out

    # merge the two per-row-sorted streams by RANK instead of sorting:
    # each element's merged position = its own local index + the count of
    # other-list elements before it (ties order A before B, the heap-key
    # (value, offset) order) — two doc-biased searchsorteds + scatters,
    # no O(n log n) lexsort over the batch
    big_bias = np.int64(1) << 33
    ra = np.repeat(np.arange(n, dtype=np.int64), la)
    rb = np.repeat(np.arange(n, dtype=np.int64), lb)
    sa0 = np.concatenate(([0], np.cumsum(la)))[:-1]
    sb0 = np.concatenate(([0], np.cumsum(lb)))[:-1]
    ka = fa + ra * big_bias
    kb = fb + rb * big_bias
    base = np.concatenate(([0], np.cumsum(la + lb)))[:-1]
    ia_loc = np.arange(len(fa), dtype=np.int64) - np.repeat(sa0, la)
    ib_loc = np.arange(len(fb), dtype=np.int64) - np.repeat(sb0, lb)
    cnt_b = np.searchsorted(kb, ka, side="left") - np.repeat(sb0, la)
    cnt_a = np.searchsorted(ka, kb, side="right") - np.repeat(sa0, lb)
    pos_a = base[ra] + ia_loc + cnt_b
    pos_b = base[rb] + ib_loc + cnt_a
    m_all = len(fa) + len(fb)
    r = np.empty(m_all, dtype=np.int64)
    v = np.empty(m_all, dtype=np.int64)
    t = np.empty(m_all, dtype=np.int8)
    r[pos_a] = ra
    r[pos_b] = rb
    v[pos_a] = fa
    v[pos_b] = fb
    t[pos_a] = 0
    t[pos_b] = 1

    # collapse cross-list ties into AB elements (tag 2): adjacent equal
    # (row, value) pairs are always (A, B) since values are distinct
    # within a list
    m_all = len(v)
    if m_all > 1:
        dup = (r[1:] == r[:-1]) & (v[1:] == v[:-1])
        keep = np.ones(m_all, dtype=bool)
        keep[1:][dup] = False
        t = t.copy()
        t[:-1][dup] = 2
        r, v, t = r[keep], v[keep], t[keep]
    m = len(v)
    idx = np.arange(m, dtype=np.int64)

    # row segmentation (every valid row contributes >= 2 elements... >= 1
    # after AB collapse)
    new_row = np.ones(m, dtype=bool)
    new_row[1:] = r[1:] != r[:-1]
    rs = np.flatnonzero(new_row)               # row segment starts
    seg_rows = r[rs]                           # row id per segment
    start_of = np.repeat(rs, np.diff(np.append(rs, m)))  # row start per elem

    is_a = t != 1  # tag in {A, AB}
    is_b = t != 0  # tag in {B, AB}

    # forward fills: nearest index <= i (within row) holding each class
    last_a = np.maximum.accumulate(np.where(is_a, idx, -1))
    last_b = np.maximum.accumulate(np.where(is_b, idx, -1))

    big = np.int64(1) << 62
    first_a = np.minimum.reduceat(np.where(is_a, idx, big), rs)
    first_b = np.minimum.reduceat(np.where(is_b, idx, big), rs)
    seg_valid = (first_a < big) & (first_b < big) & valid[seg_rows]
    m1_idx = np.maximum(first_a, first_b)      # per segment

    sv = np.flatnonzero(seg_valid)
    m1i = m1_idx[sv]                           # m1 element index per valid row
    # event-1 list = the slot whose HEAD is the larger (the other slot's
    # iterator pops first and is consumed through <= m1); on equal heads
    # the smaller-offset iterator pops, so the event lands in the
    # larger-offset slot.  NB: an AB tag at m1 does NOT decide this — the
    # tied value may sit mid-list in the other slot.
    a_starts = np.concatenate(([0], np.cumsum(la)))[:-1]
    b_starts = np.concatenate(([0], np.cumsum(lb)))[:-1]
    rows_v = seg_rows[sv]
    a0 = fa[a_starts[rows_v]]
    b0 = fb[b_starts[rows_v]]
    lam = np.int8(1 if off_b > off_a else 0)   # tie -> larger-offset list
    l1 = np.where(
        a0 > b0, np.int8(0), np.where(b0 > a0, np.int8(1), lam)
    ).astype(np.int8)
    w0_seg = np.full(len(seg_rows), -1, dtype=np.int8)
    w0_seg[sv] = np.int8(1) - l1               # want after event 1

    # event-1 contribution (AB m1 predecesses itself -> window 0)
    pred1 = np.where(l1 == 0, v[last_b[m1i]], v[last_a[m1i]])
    w1 = np.maximum(v[m1i], 0) - pred1
    contrib = np.zeros(m, dtype=np.float64)
    contrib[m1i] = np.where(w1 <= slop, 1.0 / (w1 + 1.0), 0.0)

    # ---- elements strictly after m1 ---------------------------------------
    m1_of_elem = np.full(m, big, dtype=np.int64)
    seg_m1 = np.full(len(seg_rows), big, dtype=np.int64)
    seg_m1[sv] = m1i
    m1_of_elem = np.repeat(seg_m1, np.diff(np.append(rs, m)))
    after = idx > m1_of_elem

    # AB elements after m1: always events; predecessor in the other list
    # is the element itself, so window = max(v, 0) - v (nonzero only for
    # negative adjusted positions, where the walk's last_pos floor binds)
    ab = after & (t == 2)
    w_ab = np.maximum(v[ab], 0) - v[ab]
    contrib[ab] = np.where(w_ab <= slop, 1.0 / (w_ab + 1.0), 0.0)

    # pure-run leaders within the suffix: first suffix element of a
    # maximal same-tag stretch
    prev_same = np.zeros(m, dtype=bool)
    prev_same[1:] = (r[1:] == r[:-1]) & (t[1:] == t[:-1]) & after[:-1]
    leader = after & (t != 2) & ~prev_same

    # ---- wanted list entering each run ------------------------------------
    # runs = AB elements + pure leaders, in index order per row
    run_mask = after & ((t == 2) | leader)
    run_idx_of = np.cumsum(run_mask) - 1       # ordinal of the run at elem
    run_elems = np.flatnonzero(run_mask)
    if len(run_elems):
        rr = r[run_elems]                      # row per run
        rt = t[run_elems]                      # tag per run (2 = AB)
        rj = np.arange(len(run_elems), dtype=np.int64)
        run_new_row = np.ones(len(run_elems), dtype=bool)
        run_new_row[1:] = rr[1:] != rr[:-1]
        # ordinal of each row's first run
        first_run = np.repeat(
            rj[run_new_row],
            np.diff(np.append(np.flatnonzero(run_new_row), len(run_elems))),
        )
        # nearest preceding PURE run (forward fill; -1 = none in row yet)
        pure_pos = np.maximum.accumulate(np.where(rt != 2, rj, -1))
        prev_pure = np.empty(len(run_elems), dtype=np.int64)
        prev_pure[0] = -1
        prev_pure[1:] = pure_pos[:-1]
        prev_pure = np.where(prev_pure >= first_run, prev_pure, -1)
        # want entering run j: from the nearest preceding pure run's tag
        # (its exit want is other(tag)), XOR parity of intervening ABs —
        # every AB flips the want; with no preceding pure run, from the
        # row's post-event-1 want XOR the ABs since the first run
        w0_run = w0_seg[np.searchsorted(seg_rows, rr)]
        base = np.where(prev_pure >= 0, 1 - rt[np.maximum(prev_pure, 0)],
                        w0_run).astype(np.int8)
        gap = np.where(prev_pure >= 0, rj - prev_pure - 1, rj - first_run)
        w_in = (base ^ (gap & 1).astype(np.int8)).astype(np.int8)
        # pure leader fires iff its list is the wanted one
        fire = (rt != 2) & (w_in == rt)
        fe = run_elems[fire]                   # element indices of events
        if len(fe):
            tag_e = t[fe]
            pred = np.where(tag_e == 0, v[last_b[fe]], v[last_a[fe]])
            w = np.maximum(v[fe], 0) - pred
            contrib[fe] = np.where(w <= slop, 1.0 / (w + 1.0), 0.0)

    # chronological accumulation: bincount adds in array order == merged
    # value order == event order (zeros in between are exact no-ops)
    res = np.bincount(r, weights=contrib, minlength=n)
    return res


def sloppy_freqk_flat(flats_in, lens_in, offsets, slop: int):
    """k-slot sloppy phrase frequencies, whole batch, no repeats: a
    LOCKSTEP vectorization of the reference heap walk (sphsc_phrase_freq,
    c/src/q_phrase.c:454-515).

    Unlike the 2-slot case there is no static alternation to exploit (the
    pop order is a genuine k-way heap order), but the walk itself is
    embarrassingly parallel ACROSS documents: every document performs the
    same step shape — pop the min-key head, advance it through the second
    minimum, score one window — so all documents execute their walks in
    lockstep, one vectorized event per iteration:

      - heads are cursor gathers into the per-slot flat arrays; the heap
        pop is an argmin over the k head keys (position, offset, slot),
        encoded scalar as ``pos * k + offset_rank``;
      - ``last_pos`` needs no running state: heads advance monotonically,
        so the walk's running max equals ``max(0, current heads)`` at
        every step;
      - the advance ("last position <= next heap minimum") is ONE
        np.searchsorted over the doc-biased flat array, valid for every
        active document at once — exactly the rank-merge trick the 2-slot
        kernel uses;
      - finished documents drop out of the active set, so total gather
        work is O(sum of per-doc event counts), the same as the scalar
        walk, with per-event numpy overhead amortized over the batch.

    Iteration count is the MAX event count over the batch (hot docs run
    last with a tiny active set), not the sum.  Window contributions
    accumulate per document in event order, so the float64 sums are
    bit-identical to the reference walk.  Equivalence is property-tested
    exhaustively against oracle.sloppy_phrase_freq for k in {2,3,4,5}
    (tests/test_phrase_np.py).

    Dispatches in cache-sized row blocks (rows are independent; see
    CHUNK_TARGET) — chunking also keeps one event-heavy row from dragging
    the whole batch through its lockstep iteration count."""
    k = len(flats_in)
    n = len(lens_in[0]) if k else 0
    if n == 0 or k == 0:
        return np.zeros(n, dtype=np.float64)
    flats = [np.asarray(f, dtype=np.int64) for f in flats_in]
    lens_a = [np.asarray(l, dtype=np.int64) for l in lens_in]
    return _chunked(
        lambda fl, ln: _sloppy_freqk_core(fl, ln, offsets, slop),
        flats,
        lens_a,
    )


def _sloppy_freqk_core(flats_in, lens_in, offsets, slop: int):
    k = len(flats_in)
    n = len(lens_in[0]) if k else 0
    out = np.zeros(n, dtype=np.float64)
    if n == 0 or k == 0:
        return out
    big_bias = np.int64(1) << 33
    kk = np.int64(k)
    vals, biased, starts, ends, lens = [], [], [], [], []
    for j in range(k):
        lj = np.asarray(lens_in[j], dtype=np.int64)
        v = np.asarray(flats_in[j], dtype=np.int64) - np.int64(offsets[j])
        vals.append(v)
        biased.append(v + np.repeat(np.arange(n, dtype=np.int64), lj) * big_bias)
        s = np.concatenate(([0], np.cumsum(lj)))[:-1]
        starts.append(s)
        ends.append(s + lj)
        lens.append(lj)
    valid = lens[0] > 0
    for j in range(1, k):
        valid &= lens[j] > 0
    act = np.flatnonzero(valid)
    if act.size == 0:
        return out
    cur = [starts[j].copy() for j in range(k)]  # absolute head index per row

    # heap-key tiebreak: (position, offset, slot index) — encode the
    # constant (offset, index) part as the slot's rank in that order
    rank = np.empty(k, dtype=np.int64)
    for r_, j in enumerate(sorted(range(k), key=lambda j: (offsets[j], j))):
        rank[j] = r_
    exhausted_key = np.int64(1) << 62

    while act.size:
        m = act.size
        heads = np.empty((k, m), dtype=np.int64)
        for j in range(k):
            heads[j] = vals[j][cur[j][act]]
        keys = heads * kk + rank[:, None]
        i = np.argmin(keys, axis=0)               # popped slot per row
        last_pos = np.maximum(heads.max(axis=0), 0)
        keys[i, np.arange(m)] = exhausted_key
        # floor division recovers the position from pos*k + rank even for
        # negative adjusted positions (leading skip slots)
        next_pos = np.floor_divide(keys.min(axis=0), kk)

        start_val = np.empty(m, dtype=np.int64)
        done = np.zeros(m, dtype=bool)
        for j in range(k):
            sel = np.flatnonzero(i == j)
            if sel.size == 0:
                continue
            rows = act[sel]
            # last element <= next_pos in THIS row's slot-j run: one
            # vectorized searchsorted over the doc-biased flat array
            s_abs = (
                np.searchsorted(
                    biased[j], next_pos[sel] + rows * big_bias, side="right"
                )
                - 1
            )
            start_val[sel] = vals[j][s_abs]
            nc = s_abs + 1
            d = nc >= ends[j][rows]
            done[sel] = d
            cur[j][rows] = np.where(d, cur[j][rows], nc)
        w = last_pos - start_val
        # the exhausting pop still scores its window (the walk computes
        # match_length before checking done); += in doc order keeps the
        # per-doc float64 accumulation sequence identical to the walk
        out[act] += np.where(w <= slop, 1.0 / (w + 1.0), 0.0)
        act = act[~done]
    return out


def exact_freqk_flat(flats_in, lens_in, offsets):
    """Exact (slop=0) phrase freq per row: the size of the k-way
    intersection of offset-adjusted position sets.  Per slot j,
    ``flats_in[j]`` holds the positions concatenated across rows and
    ``lens_in[j]`` the per-row lengths.  Positions are distinct within a
    slot, so an adjusted value present in all k slots is a merged-order
    group of exactly k equal elements.  Dispatches in cache-sized row
    blocks (rows are independent; see CHUNK_TARGET) — also caps the
    lexsort at block size."""
    k = len(flats_in)
    n = len(lens_in[0]) if k else 0
    if n == 0:
        return np.zeros(0, dtype=np.float64)
    flats = [np.asarray(f, dtype=np.int64) for f in flats_in]
    lens_a = [np.asarray(l, dtype=np.int64) for l in lens_in]
    return _chunked(
        lambda fl, ln: _exact_freqk_core(fl, ln, offsets), flats, lens_a
    )


def _exact_freqk_core(flats_in, lens_in, offsets):
    k = len(flats_in)
    n = len(lens_in[0]) if k else 0
    if n == 0:
        return np.zeros(0, dtype=np.float64)
    flats, row_parts = [], []
    for j in range(k):
        lens = np.asarray(lens_in[j], dtype=np.int64)
        flats.append(np.asarray(flats_in[j], dtype=np.int64) - np.int64(offsets[j]))
        row_parts.append(np.repeat(np.arange(n, dtype=np.int64), lens))
    vals = np.concatenate(flats)
    rows = np.concatenate(row_parts)
    order = np.lexsort((vals, rows))
    v = vals[order]
    r = rows[order]
    new_grp = np.ones(len(v), dtype=bool)
    if len(v) > 1:
        new_grp[1:] = (r[1:] != r[:-1]) | (v[1:] != v[:-1])
    starts = np.flatnonzero(new_grp)
    sizes = np.diff(np.append(starts, len(v)))
    full = sizes == k
    return np.bincount(r[starts[full]], minlength=n).astype(np.float64)
