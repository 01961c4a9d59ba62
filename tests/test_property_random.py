"""Property-based rank identity: random corpora x random query trees must
rank identically (doc order + float32 scores) between the Python oracle and
the Spark segmented engine. Fixed seeds — deterministic, no flaky fuzz."""

import random

import numpy as np
import pytest

from ferret_spark.oracle import OracleIndex
from ferret_spark.query import (
    MUST,
    MUST_NOT,
    SHOULD,
    BooleanQuery,
    Clause,
    FuzzyQuery,
    MatchAllQuery,
    PhraseQuery,
    PrefixQuery,
    TermQuery,
    WildcardQuery,
)
from ferret_spark.segments import SegmentIndexBuilder

VOCAB = [
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
    "iota", "kappa", "the", "and", "run", "runner", "running", "walk",
]
FC = {"content": "whitespace"}


def make_corpus(rng: random.Random, n_docs: int):
    rows = []
    for i in range(n_docs):
        ln = rng.randint(1, 24)
        toks = [rng.choice(VOCAB) for _ in range(ln)]
        rows.append({"doc_id": i, "content": " ".join(toks)})
    return rows


def rand_leaf(rng: random.Random):
    r = rng.random()
    if r < 0.45:
        return TermQuery(field="content", term=rng.choice(VOCAB))
    if r < 0.6:
        n = rng.randint(2, 4)
        terms = [rng.choice(VOCAB) for _ in range(n)]
        if rng.random() < 0.3:
            terms[rng.randrange(n)] = None  # <> skip
        terms = [t for t in terms] if any(t for t in terms) else ["alpha", "beta"]
        return PhraseQuery.of("content", terms, slop=rng.choice([0, 0, 1, 3]))
    if r < 0.75:
        return PrefixQuery(field="content", prefix=rng.choice(["a", "run", "th", "z"]))
    if r < 0.85:
        return WildcardQuery(field="content", pattern=rng.choice(["r?n*", "*a", "k*a"]))
    if r < 0.95:
        return FuzzyQuery(field="content", term=rng.choice(["runer", "beta", "thet"]))
    return MatchAllQuery()


def rand_query(rng: random.Random, depth: int = 0):
    if depth >= 2 or rng.random() < 0.4:
        return rand_leaf(rng)
    n = rng.randint(2, 4)
    clauses = []
    for _ in range(n):
        occ = rng.choices([MUST, SHOULD, MUST_NOT], weights=[3, 4, 1])[0]
        clauses.append(Clause(rand_query(rng, depth + 1), occ))
    boost = rng.choice([1.0, 1.0, 2.0, 0.5])
    return BooleanQuery(boost=boost, clauses=tuple(clauses))


@pytest.fixture(scope="module")
def pair(spark, tmp_path_factory):
    rng = random.Random(1234)
    rows = make_corpus(rng, 60)
    oracle = OracleIndex(rows, FC)
    path = str(tmp_path_factory.mktemp("prop_idx"))
    sidx = SegmentIndexBuilder(spark, path, FC, seg_size=9, salt_buckets=3).build(
        spark.createDataFrame(rows), doc_id_col="doc_id"
    )
    sidx.cache()
    return oracle, sidx


@pytest.mark.parametrize("seed", list(range(20)))
def test_random_query_rank_identity(pair, seed):
    oracle, sidx = pair
    rng = random.Random(9000 + seed)
    q = rand_query(rng)
    exp = oracle.search(q, k=60)
    got = [(r["doc_id"], r["score"]) for r in sidx.search(q, k=60).collect()]
    assert [d for d, _ in got] == [d for d, _ in exp], (
        f"seed={seed} query={q}\n got={got[:8]}\n exp={exp[:8]}"
    )
    for (gd, gs), (ed, es) in zip(got, exp):
        assert np.float32(gs) == np.float32(es), (seed, q, gd, gs, es)


def rand_set_query(rng: random.Random, depth: int = 0):
    """Query trees whose MATCHED SET is semantics-stable under the
    past-cap ConstantScoreMatch fallback (set recall is complete even
    though constant scoring differs from summed BM25)."""
    if depth >= 2 or rng.random() < 0.45:
        r = rng.random()
        if r < 0.4:
            return TermQuery(field="content", term=rng.choice(VOCAB))
        if r < 0.75:
            return PrefixQuery(
                field="content", prefix=rng.choice(["a", "run", "th", "k", "z"])
            )
        return WildcardQuery(
            field="content", pattern=rng.choice(["r?n*", "*a", "k*a", "?eta"])
        )
    n = rng.randint(2, 3)
    clauses = tuple(
        Clause(
            rand_set_query(rng, depth + 1),
            rng.choices([MUST, SHOULD, MUST_NOT], weights=[3, 4, 1])[0],
        )
        for _ in range(n)
    )
    return BooleanQuery(clauses=clauses)


@pytest.mark.parametrize("seed", list(range(10)))
def test_random_fallback_docset_identity(pair, seed, monkeypatch):
    """With the expansion cap forced to 1, every prefix/wildcard leaf takes
    the pushed-predicate ConstantScoreMatch path; the matched doc SET of
    any boolean tree must equal the uncapped oracle's (complete recall —
    the fallback never drops matching terms the way a truncation would)."""
    import ferret_spark.search as S

    oracle, sidx = pair
    rng = random.Random(7000 + seed)
    q = rand_set_query(rng)
    exp = {d for d, _ in oracle.search(q, k=60)}
    monkeypatch.setattr(S, "MAX_EXPANDED_TERMS", 1)
    sidx.filter_cache.clear()
    got = {
        r["doc_id"] for r in sidx.search(q, k=None).collect()
    }
    assert got == exp, f"seed={seed} query={q}"


@pytest.mark.parametrize("k", [2, 4, 16])
def test_phrase_group_batching_rank_identity(pair, k):
    """Phrases scored per segment (9-doc segments, so each phrase spans
    several) stay rank- and float32-score-identical to the oracle, alone
    and as one batch of the four, at top-k cuts that bind inside a
    segment (k = 2, 4) and one that does not (k = 16)."""
    import numpy as np

    from ferret_spark.wand import segment_batch_search

    oracle, sidx = pair
    queries = [
        PhraseQuery.of("content", ["alpha", "beta"]),
        PhraseQuery.of("content", ["alpha", "beta"], slop=2),
        PhraseQuery.of("content", ["alpha", "beta", "gamma"], slop=3),
        PhraseQuery.of("content", ["run", None, "theta"], slop=1),
    ]
    batch = segment_batch_search(sidx, queries, k=k).collect()
    for qid, q in enumerate(queries):
        expected = oracle.search(q, k=k)
        single = [
            (r["doc_id"], r["score"]) for r in sidx.search(q, k=k).collect()
        ]
        batched = [
            (r["doc_id"], r["score"])
            for r in sorted(batch, key=lambda r: r["rank"])
            if r["query_id"] == qid
        ]
        assert expected
        for got in (single, batched):
            assert [d for d, _ in got] == [d for d, _ in expected], (
                k, q, got, expected,
            )
            for (gd, gs), (_ed, es) in zip(got, expected):
                assert np.float32(gs) == np.float32(es), (k, q, gd)
