"""Property tests: the vectorized phrase kernels and their dispatcher
(phrase_np.phrase_freqs) are bit-identical to the per-document oracle
walk (oracle.sloppy_phrase_freq / set intersection)."""

import numpy as np
import pytest

from ferret_spark import phrase_np
from ferret_spark.oracle import sloppy_phrase_freq
from ferret_spark.phrase_np import (
    _flatten,
    exact_freqk_flat,
    has_repeats,
    phrase_freqs,
    sloppy_freq2_flat,
    sloppy_freqk_flat,
)


def _freq2_rows(arrs_a, arrs_b, off_a, off_b, slop):
    fa, la = _flatten(arrs_a)
    fb, lb = _flatten(arrs_b)
    return sloppy_freq2_flat(fa, la, fb, lb, off_a, off_b, slop)


def _freqk_rows(slot_arrs, offsets, slop):
    flat = [_flatten(a) for a in slot_arrs]
    return sloppy_freqk_flat(
        [f for f, _ in flat], [l for _, l in flat], offsets, slop
    )


def _exact_rows(slot_arrs, offsets):
    flat = [_flatten(a) for a in slot_arrs]
    return exact_freqk_flat([f for f, _ in flat], [l for _, l in flat], offsets)


def _rand_doc(rng, max_pos=30):
    n = int(rng.integers(1, min(12, max_pos) + 1))
    return np.sort(rng.choice(max_pos, size=n, replace=False)).astype(np.int64)


@pytest.mark.parametrize("offs", [(0, 1), (0, 2), (1, 2), (2, 5)])
@pytest.mark.parametrize("slop", [0, 1, 2, 3, 7])
@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_sloppy2_matches_oracle_random(offs, slop, seed):
    """Random sweeps, including tie-heavy small position ranges (odd
    seeds) and skip-slot offsets that drive adjusted positions negative."""
    rng = np.random.Generator(np.random.Philox(key=seed))
    off_a, off_b = offs
    max_pos = 8 if seed % 2 else 30
    docs_a = [_rand_doc(rng, max_pos) for _ in range(200)]
    docs_b = [_rand_doc(rng, max_pos) for _ in range(200)]
    got = _freq2_rows(docs_a, docs_b, off_a, off_b, slop)
    for i in range(200):
        want = sloppy_phrase_freq(
            [(docs_a[i] - off_a).tolist(), (docs_b[i] - off_b).tolist()],
            [off_a, off_b],
            slop,
            False,
        )
        assert got[i] == want, (i, docs_a[i], docs_b[i], got[i], want)


def test_sloppy2_exhaustive_small():
    """Every pair of nonempty subsets of {0..5} as the two position lists
    (ties, exhaustion-at-init, chains through both lists)."""
    from itertools import combinations

    universe = range(6)
    subsets = [
        list(c) for r in range(1, 4) for c in combinations(universe, r)
    ]
    for a in subsets:
        for b in subsets:
            for slop in (0, 1, 2):
                got = _freq2_rows(
                    [np.array(a)], [np.array(b)], 0, 1, slop
                )[0]
                want = sloppy_phrase_freq(
                    [a, [x - 1 for x in b]], [0, 1], slop, False
                )
                assert got == want, (a, b, slop, got, want)


def test_sloppy2_adjacent_pair_is_one():
    got = _freq2_rows([np.array([3])], [np.array([4])], 0, 1, 0)
    assert got[0] == 1.0


def test_sloppy2_empty_rows_and_batch():
    assert _freq2_rows([], [], 0, 1, 2).shape == (0,)
    got = _freq2_rows(
        [np.array([1, 2]), np.array([], dtype=np.int64)],
        [np.array([], dtype=np.int64), np.array([3])],
        0, 1, 3,
    )
    assert got.tolist() == [0.0, 0.0]


@pytest.mark.parametrize("slop", [0, 2, 5])
def test_sloppy2_long_chains_cross_round_cap(slop):
    """Docs with 40-120 occurrences per slot force the per-doc tail path
    past _ROUND_CAP — partial lock-step sums must be discarded exactly."""
    rng = np.random.Generator(np.random.Philox(key=5))
    docs_a, docs_b = [], []
    for _ in range(50):
        docs_a.append(
            np.sort(rng.choice(1000, size=int(rng.integers(40, 120)),
                               replace=False)).astype(np.int64)
        )
        docs_b.append(
            np.sort(rng.choice(1000, size=int(rng.integers(40, 120)),
                               replace=False)).astype(np.int64)
        )
    got = _freq2_rows(docs_a, docs_b, 0, 1, slop)
    for i in range(50):
        want = sloppy_phrase_freq(
            [docs_a[i].tolist(), (docs_b[i] - 1).tolist()], [0, 1], slop, False
        )
        assert got[i] == want


# ---------------------------------------------------------------------------
# k-slot lockstep kernel (sloppy_freqk_*)


def _oracle_k(slots, offsets, slop):
    adjusted = [
        [int(p) - o for p in ps] for ps, o in zip(slots, offsets)
    ]
    return sloppy_phrase_freq(adjusted, list(offsets), slop, False)


@pytest.mark.parametrize(
    "offs", [(0, 1, 2), (0, 2, 5), (1, 3, 4), (0, 0, 1)]
)
@pytest.mark.parametrize("slop", [0, 1, 2, 4])
def test_sloppyk_exhaustive_small_k3(offs, slop):
    """Sampled-exhaustive triples of nonempty subsets of {0..4} as the
    three position lists — heap-order ties (including equal-offset slots),
    exhaustion at every stage, negative adjusted positions via the gappy
    offset tuples."""
    from itertools import combinations

    subsets = [
        list(c) for r in range(1, 4) for c in combinations(range(5), r)
    ]
    docs = [
        (list(sa), list(sb), list(sc))
        for sa in subsets[::3]
        for sb in subsets[::4]
        for sc in subsets[::5]
    ]
    arrs = [
        [np.array(d[j], dtype=np.int64) for d in docs] for j in range(3)
    ]
    got = _freqk_rows(arrs, list(offs), slop)
    for i, d in enumerate(docs):
        want = _oracle_k(d, offs, slop)
        assert got[i] == want, (offs, slop, d, got[i], want)


@pytest.mark.parametrize("k", [3, 4, 5])
@pytest.mark.parametrize("slop", [0, 2, 7])
@pytest.mark.parametrize("seed", [0, 1])
def test_sloppyk_matches_oracle_random(k, slop, seed):
    """Random k-slot sweeps: tie-heavy small ranges (odd seeds) and hot
    documents with up to ~120 occurrences per slot (the lockstep tail:
    most docs finish early, hot docs run the last iterations alone)."""
    rng = np.random.Generator(np.random.Philox(key=100 * k + seed))
    offs = sorted(
        int(x) for x in rng.choice(2 * k + 3, size=k, replace=False)
    )
    max_pos = 10 if seed % 2 else 500
    n = 150
    slots = []
    for _ in range(k):
        docs = []
        for _ in range(n):
            sz = int(rng.integers(1, 13 if seed % 2 else 120))
            sz = min(sz, max_pos)
            docs.append(
                np.sort(
                    rng.choice(max_pos, size=sz, replace=False)
                ).astype(np.int64)
            )
        slots.append(docs)
    got = _freqk_rows(slots, offs, slop)
    for i in range(n):
        want = _oracle_k([s[i] for s in slots], offs, slop)
        assert got[i] == want, (k, offs, slop, i, got[i], want)


def test_sloppyk_k2_crosschecks_static_kernel():
    """For k=2 the lockstep walk and the static alternating-chain kernel
    must agree bit-for-bit (two independent formulations of the same
    walk)."""
    rng = np.random.Generator(np.random.Philox(key=9))
    for slop in (0, 1, 3):
        docs_a = [_rand_doc(rng, 12) for _ in range(100)]
        docs_b = [_rand_doc(rng, 12) for _ in range(100)]
        g2 = _freq2_rows(docs_a, docs_b, 0, 2, slop)
        gk = _freqk_rows([docs_a, docs_b], [0, 2], slop)
        assert np.array_equal(g2, gk)


def test_sloppyk_empty_rows_and_batch():
    assert _freqk_rows([[], [], []], [0, 1, 2], 2).shape == (0,)
    got = _freqk_rows(
        [
            [np.array([1, 2]), np.array([], dtype=np.int64)],
            [np.array([3]), np.array([4])],
            [np.array([], dtype=np.int64), np.array([5])],
        ],
        [0, 1, 2],
        3,
    )
    assert got.tolist() == [0.0, 0.0]


@pytest.mark.parametrize("k", [2, 3, 4])
def test_exact_k_matches_sets(k):
    rng = np.random.Generator(np.random.Philox(key=17 + k))
    n = 200
    slots = [[_rand_doc(rng) for _ in range(n)] for _ in range(k)]
    offsets = list(range(k))
    got = _exact_rows(slots, offsets)
    for i in range(n):
        sets = [set((slots[j][i] - offsets[j]).tolist()) for j in range(k)]
        want = float(len(set.intersection(*sets)))
        assert got[i] == want


# ---------------------------------------------------------------------------
# the dispatcher (phrase_freqs)


def _oracle_row(slots, offsets, slop, repeats):
    """The oracle's per-doc phrase freq over merged slot positions
    (OracleIndex._score_phrase): one slot counts every occurrence, an
    exact phrase intersects sets, a sloppy one walks."""
    if len(slots) == 1:
        return float(len(slots[0]))
    adjusted = [[p - o for p in s] for s, o in zip(slots, offsets)]
    if slop == 0:
        return float(len(set(adjusted[0]).intersection(*adjusted[1:])))
    return sloppy_phrase_freq(adjusted, list(offsets), slop, repeats)


@pytest.mark.parametrize("seed", range(6))
def test_phrase_freqs_matches_oracle_every_branch(seed):
    """Random token docs and random phrases — 1 to 4 slots, gappy
    offsets, slop 0-4, slots with several alternatives (a repeated
    alternative included) — so every dispatcher branch runs: the count,
    the exact group count, the 2-slot chain, the k-slot lockstep walk
    and the repeated-term walk.  Each slot's alternatives are merged the
    way search merges them: once per occurrence, distinct for an exact
    phrase of >= 2 slots."""
    rng = np.random.Generator(np.random.Philox(key=300 + seed))
    vocab = ["a", "b", "c", "d", "e", "f"]
    docs = [
        [vocab[int(i)] for i in rng.integers(0, len(vocab), int(n))]
        for n in rng.integers(1, 20, 120)
    ]
    seen_branches = set()
    for _ in range(40):
        k = int(rng.integers(1, 5))
        offsets = np.cumsum(rng.integers(1, 3, k)) - 1
        n_alts = rng.integers(1, 3, k)
        # half the phrases draw distinct terms (no repeats), half draw
        # with replacement (repeats across or within slots)
        distinct = rng.random() < 0.5 and n_alts.sum() <= len(vocab)
        terms = iter(
            rng.choice(len(vocab), int(n_alts.sum()), replace=not distinct)
        )
        positions = [
            (int(off), tuple(vocab[int(next(terms))] for _ in range(int(na))))
            for off, na in zip(offsets, n_alts)
        ]
        slop = int(rng.choice([0, 1, 2, 4]))
        repeats = has_repeats(positions)
        dedup = slop == 0 and k > 1
        rows, want = [[] for _ in range(k)], []
        for toks in docs:
            merged = [
                sorted(p for t in alts for p, x in enumerate(toks) if x == t)
                for _, alts in positions
            ]
            if not all(merged):
                continue
            want.append(_oracle_row(merged, offsets, slop, repeats))
            for j, m in enumerate(merged):
                rows[j].append(np.array(sorted(set(m)) if dedup else m))
        if not want:
            continue
        flat = [_flatten(r) for r in rows]
        got = phrase_freqs(
            [f for f, _ in flat], [l for _, l in flat], offsets, slop, repeats
        )
        assert got.tolist() == want, (positions, slop)
        seen_branches.add(
            "count" if k == 1 else "exact" if slop == 0
            else "walk" if repeats else min(k, 3)
        )
    assert seen_branches >= {"count", "exact", "walk", 2, 3}, seen_branches


def test_phrase_freqs_routing(monkeypatch):
    """Which kernel the dispatcher picks, per phrase shape."""
    calls = []

    def spy(name):
        def f(*args):
            calls.append(name)
            return np.zeros(1)

        return f

    for name in (
        "exact_freqk_flat", "sloppy_freq2_flat", "sloppy_freqk_flat",
        "_walk_freqs",
    ):
        monkeypatch.setattr(phrase_np, name, spy(name))
    one = np.array([1])
    cases = [
        (1, 0, False, None),
        (1, 3, True, None),
        (2, 0, False, "exact_freqk_flat"),
        (3, 0, True, "exact_freqk_flat"),
        (2, 1, False, "sloppy_freq2_flat"),
        (3, 1, False, "sloppy_freqk_flat"),
        (4, 2, False, "sloppy_freqk_flat"),
        (2, 1, True, "_walk_freqs"),
        (3, 2, True, "_walk_freqs"),
    ]
    for k, slop, repeats, want in cases:
        calls.clear()
        got = phrase_np.phrase_freqs(
            [np.array([5])] * k, [one] * k, list(range(k)), slop, repeats
        )
        assert calls == ([want] if want else []), (k, slop, repeats)
        if want is None:
            assert got.tolist() == [1.0]
