"""ferret_spark — a PySpark-native inverted-index + BM25 search engine.

A from-scratch reimplementation of the *capabilities* of dbalmain/ferret
(a Lucene-lineage C/Ruby IR library) re-expressed Spark-first:

- analysis:  vectorized tokenizer/filter pipelines (pandas/Arrow UDFs)
- build:     posting-list construction as DataFrame jobs, per-partition
             segments with delta+varbyte compression, salted hierarchical
             merge, manifest-based checkpoint/resume
- search:    Term/Boolean/Phrase/Prefix/Wildcard/Fuzzy/Range queries planned
             as DataFrame joins + mapInArrow scorers, BM25 top-k
- oracle:    a pure-Python reference searcher (same operator semantics,
             same BM25) used for rank-identity tests

Reference parity targets are cited per-module as /root/reference file:line.
"""

from ferret_spark.query import (  # noqa: F401
    BooleanQuery,
    Clause,
    FilteredQuery,
    Filter,
    FuzzyQuery,
    MatchAllQuery,
    MUST,
    MUST_NOT,
    PhraseQuery,
    PrefixQuery,
    QueryFilter,
    RangeFilter,
    RangeQuery,
    SHOULD,
    TermQuery,
    TypedRangeFilter,
    WildcardQuery,
)
from ferret_spark.spans import (  # noqa: F401
    SpanFirstQuery,
    SpanMultiTermQuery,
    SpanNearQuery,
    SpanNotQuery,
    SpanOrQuery,
    SpanPrefixQuery,
    SpanTermQuery,
)

from ferret_spark.session import install_zip_cache_hook

# every UDF closure imports this package when a Python worker unpickles it,
# so each reused worker installs the hook on its first task
install_zip_cache_hook()

__version__ = "0.1.0"
