"""Seeded inputs. The same seed always gives the same tables and queries;
ferret_spark only ever sees the parquet files written from them."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from ferret_spark import BooleanQuery, MUST, MUST_NOT, PhraseQuery, PrefixQuery, SHOULD, TermQuery
from ferret_spark.analysis import get_analyzer
from ferret_spark.fixtures import LANGS, build_vocab

FIELD = "content"
FIELD_CONFIG = {FIELD: "standard_nostop", "lang": "keyword"}
ID_COLS = ("repo", "path", "commit")
VOCAB_SIZE = 10000
ZIPF_S = 1.1
# lognormal(4.6, 0.8) tokens: median ~100, mean ~137, capped at 1500 so
# one heavy draw cannot dominate a run's wall
LEN_MU, LEN_SIGMA, LEN_CAP = 4.6, 0.8, 1500

# independent streams of one seed
_CORPUS, _QUERIES = 0, 1


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), s)
    return np.cumsum(p / p.sum())


def code_corpus(seed: int, start: int, n: int) -> pd.DataFrame:
    """Rows [start, start+n) of the seeded source-code table
    (repo, path, commit, lang, content). Each row draws from its own
    Philox stream keyed by (seed, row), so a slice never depends on which
    other rows were generated with it."""
    vocab = np.array(build_vocab(VOCAB_SIZE), dtype=object)
    cdf = _zipf_cdf(VOCAB_SIZE, ZIPF_S)
    rows = []
    for i in range(start, start + n):
        rng = np.random.Generator(np.random.Philox(key=[seed, _CORPUS], counter=i))
        ln = int(min(max(1, round(rng.lognormal(LEN_MU, LEN_SIGMA))), LEN_CAP))
        toks = vocab[np.minimum(np.searchsorted(cdf, rng.random(ln)), VOCAB_SIZE - 1)]
        lines = [" ".join(toks[j : j + 12]) for j in range(0, ln, 12)]
        repo = f"org{i % 7}/repo{i % 23}"
        lang = LANGS[i % len(LANGS)]
        path = f"src/{toks[0]}/f{i}.{lang}"
        commit = hashlib.sha1(f"{seed}|{repo}|{path}|{i}".encode()).hexdigest()
        rows.append((repo, path, commit, lang, "\n".join(lines)))
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


def query_stream(seed: int, corpus: pd.DataFrame, postings: dict, n: int, stream: int = 0) -> list:
    """``n`` single queries in groups of eight: 2 term queries (rotating
    hot / mid / rare / absent document-frequency strata), AND, OR, NOT,
    an exact phrase, a sloppy phrase (slop 1-3) and a prefix. Terms come
    from ``postings`` (analysed term -> posting list), phrases from
    adjacent analysed tokens of seeded corpus documents.

    Within a stratum, terms are taken at fixed quantiles of document
    frequency, so every seed asks queries of the same difficulty and seeds
    differ in corpus and phrases only; ``stream`` selects another set of
    quantiles."""
    rng = np.random.Generator(np.random.Philox(key=[seed, _QUERIES + stream]))
    by_df = sorted(postings, key=lambda t: (-len(postings[t]), t))
    n_docs = len(corpus)
    hot = by_df[:20]
    mid = [t for t in by_df if 0.005 * n_docs <= len(postings[t]) <= 0.05 * n_docs]
    rare = [t for t in by_df if len(postings[t]) <= 2]
    strata = [hot, mid, rare, None]
    prefixable = [t for t in mid if len(t) >= 4]
    analyzer = get_analyzer(FIELD_CONFIG[FIELD])
    picks = iter(range(1000 * stream, 1000 * (stream + 1)))

    def pick(xs):
        # golden-ratio quantiles: spread evenly, the same for every seed
        return xs[int((next(picks) * 0.6180339887) % 1.0 * len(xs))]

    def term(t):
        return TermQuery(field=FIELD, term=t)

    def adjacent_pair():
        while True:
            toks = [t for t, _ in analyzer.analyze(corpus[FIELD].iloc[int(rng.integers(n_docs))])]
            if len(toks) >= 2:
                j = int(rng.integers(len(toks) - 1))
                return [toks[j], toks[j + 1]]

    qs: list = []
    g = 0
    while len(qs) < n:
        for k in range(2):
            st = strata[(2 * g + k) % 4]
            qs.append(term(pick(st) if st else f"absent{seed}x{g}"))
        a, b = pick(hot), pick(mid)
        qs.append(BooleanQuery.of((term(a), MUST), (term(pick(hot)), MUST)))
        qs.append(BooleanQuery.of((term(a), SHOULD), (term(b), SHOULD), (term(pick(mid)), SHOULD)))
        qs.append(BooleanQuery.of((term(a), MUST), (term(b), MUST_NOT)))
        qs.append(PhraseQuery.of(FIELD, adjacent_pair(), slop=0))
        qs.append(PhraseQuery.of(FIELD, adjacent_pair(), slop=int(rng.integers(1, 4))))
        p = pick(prefixable)
        qs.append(PrefixQuery(field=FIELD, prefix=p[: len(p) - 1]))
        g += 1
    return qs[:n]


def is_phrase(q) -> bool:
    return isinstance(q, PhraseQuery)


def dedup_documents(seed: int, n: int) -> pd.DataFrame:
    """The contract-shaped ``documents`` table from scripts/gen_sf.py."""
    from gen_sf import gen_documents

    return gen_documents(np.random.default_rng(seed), n)
