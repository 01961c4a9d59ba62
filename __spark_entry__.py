"""Driver contract for the spark-graft builder (PySpark target).

Engine: ferret_spark — PySpark-native inverted index + BM25 search
(see SURVEY.md §2). Queries run over the `documents` testdata table
(doc_id, text, lang, source, n_chars) with whitespace+lowercase analysis;
each has a DuckDB ANSI-SQL twin computing identical (rank, doc_id, score)
with scores rounded to 4 decimals (both sides order by the rounded score,
then doc_id, so ranks align bit-independently of float ULP noise).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_INDEX_CACHE: dict[tuple[int, str], object] = {}
_PYFILES_SENT: set[int] = set()

K = 10

FIELD_CONFIG = {"text": "whitespace", "lang": "keyword", "source": "keyword"}


def _get_index(spark: SparkSession, sf_dir: str):
    from ferret_spark.index import SparkIndex
    from ferret_spark.session import package_zip

    key = (id(spark), sf_dir)
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    if id(spark) not in _PYFILES_SENT:
        try:
            spark.sparkContext.addPyFile(package_zip())
        except Exception:
            pass  # already added or not needed (cwd on path)
        _PYFILES_SENT.add(id(spark))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = SparkIndex.build(spark, docs, FIELD_CONFIG, doc_id_col="doc_id")
    _INDEX_CACHE[key] = idx
    return idx


def _topk(idx, q, k: int = K) -> DataFrame:
    """(rank, doc_id, score) with 4-dp rounded scores — the driver-compare
    shape. Ordering: rounded score desc, doc_id asc (mirrored in SQL)."""
    from ferret_spark.search import plan_scores, spark_rewrite

    scores = plan_scores(idx, spark_rewrite(idx, q))
    rounded = scores.select(
        "doc_id", F.round(F.col("score"), 4).alias("score")
    )
    top = rounded.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"), "doc_id", "score"
    )


# ---------------------------------------------------------------------------
# SQL building blocks (DuckDB)

_PRELUDE = """
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '\\s+')) AS term,
         generate_subscripts(regexp_split_to_array(lower(text), '\\s+'), 1) - 1 AS pos
  FROM documents
),
tok2 AS (SELECT * FROM tok WHERE term <> ''),
dl AS (
  SELECT d.doc_id, count(t.term)::BIGINT AS doc_len
  FROM documents d LEFT JOIN tok2 t USING (doc_id) GROUP BY d.doc_id
),
st AS (SELECT count(*)::DOUBLE AS n, avg(doc_len)::DOUBLE AS avgdl FROM dl),
p AS (
  SELECT term, doc_id, count(*)::DOUBLE AS tf FROM tok2 GROUP BY term, doc_id
),
tstat AS (SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS ttf FROM p GROUP BY term)
"""

# BM25 with K1=1.2, B=0.75, written with the same literal arithmetic shape
# as the engine (oracle.bm25_idf / bm25_tf)
_IDF = "ln(1.0 + ({n} - {df} + 0.5) / ({df} + 0.5))"
_TFP = "({tf} * (1.2 + 1.0)) / ({tf} + 1.2 * (1.0 - 0.75 + 0.75 * {dl} / {avgdl}))"


def _term_scored_cte(term_expr: str) -> str:
    """scored(doc_id, s): single-term BM25 over the prelude CTEs."""
    idf = _IDF.format(n="st.n", df="ts.df::DOUBLE")
    tfp = _TFP.format(tf="p.tf", dl="dl.doc_len::DOUBLE", avgdl="st.avgdl")
    return f"""
scored AS (
  SELECT p.doc_id, {idf} * {tfp} AS s
  FROM p
  JOIN tstat ts ON ts.term = p.term
  JOIN dl ON dl.doc_id = p.doc_id
  CROSS JOIN st
  WHERE p.term = {term_expr}
)"""


_RANKED = """
SELECT row_number() OVER (ORDER BY round(s, 4) DESC, doc_id ASC)::BIGINT AS rank,
       doc_id, round(s, 4) AS score
FROM scored
ORDER BY rank LIMIT {k}
"""


def _sql_term(term: str, k: int = K) -> str:
    return _PRELUDE + "," + _term_scored_cte(f"'{term}'") + _RANKED.format(k=k)


def _sql_multi_term(where: str, k: int = K, boost_expr: str = "1.0") -> str:
    """OR-over-terms (prefix/wildcard/fuzzy rewrite target): per (term, doc)
    contribution boost*idf*tf_part, summed per doc."""
    idf = _IDF.format(n="st.n", df="ts.df::DOUBLE")
    tfp = _TFP.format(tf="p.tf", dl="dl.doc_len::DOUBLE", avgdl="st.avgdl")
    return (
        _PRELUDE
        + f""",
contrib AS (
  SELECT p.doc_id, ({boost_expr}) * {idf} * {tfp} AS c
  FROM p
  JOIN tstat ts ON ts.term = p.term
  JOIN dl ON dl.doc_id = p.doc_id
  CROSS JOIN st
  WHERE {where}
),
scored AS (SELECT doc_id, sum(c) AS s FROM contrib GROUP BY doc_id)
"""
        + _RANKED.format(k=k)
    )


def _sql_bool_and(t1: str, t2: str, k: int = K) -> str:
    idf = _IDF.format(n="st.n", df="ts.df::DOUBLE")
    tfp = _TFP.format(tf="p.tf", dl="dl.doc_len::DOUBLE", avgdl="st.avgdl")
    leaf = f"""
  SELECT p.doc_id, {idf} * {tfp} AS s
  FROM p JOIN tstat ts ON ts.term = p.term
  JOIN dl ON dl.doc_id = p.doc_id CROSS JOIN st
  WHERE p.term = '{{t}}'"""
    return (
        _PRELUDE
        + f""",
s1 AS ({leaf.format(t=t1)}),
s2 AS ({leaf.format(t=t2)}),
scored AS (
  SELECT s1.doc_id, s1.s + s2.s AS s FROM s1 JOIN s2 ON s1.doc_id = s2.doc_id
)"""
        + _RANKED.format(k=k)
    )


def _sql_bool_or(t1: str, t2: str, k: int = K) -> str:
    idf = _IDF.format(n="st.n", df="ts.df::DOUBLE")
    tfp = _TFP.format(tf="p.tf", dl="dl.doc_len::DOUBLE", avgdl="st.avgdl")
    leaf = f"""
  SELECT p.doc_id, {idf} * {tfp} AS s
  FROM p JOIN tstat ts ON ts.term = p.term
  JOIN dl ON dl.doc_id = p.doc_id CROSS JOIN st
  WHERE p.term = '{{t}}'"""
    return (
        _PRELUDE
        + f""",
s1 AS ({leaf.format(t=t1)}),
s2 AS ({leaf.format(t=t2)}),
scored AS (
  SELECT coalesce(s1.doc_id, s2.doc_id) AS doc_id,
         coalesce(s1.s, 0.0) + coalesce(s2.s, 0.0) AS s
  FROM s1 FULL JOIN s2 ON s1.doc_id = s2.doc_id
)"""
        + _RANKED.format(k=k)
    )


def _sql_bool_not(t1: str, t2: str, k: int = K) -> str:
    idf = _IDF.format(n="st.n", df="ts.df::DOUBLE")
    tfp = _TFP.format(tf="p.tf", dl="dl.doc_len::DOUBLE", avgdl="st.avgdl")
    return (
        _PRELUDE
        + f""",
scored AS (
  SELECT p.doc_id, {idf} * {tfp} AS s
  FROM p
  JOIN tstat ts ON ts.term = p.term
  JOIN dl ON dl.doc_id = p.doc_id
  CROSS JOIN st
  WHERE p.term = '{t1}'
    AND p.doc_id NOT IN (SELECT doc_id FROM p px WHERE px.term = '{t2}')
)"""
        + _RANKED.format(k=k)
    )


def _sql_phrase(t1: str, t2: str, k: int = K) -> str:
    """Exact 2-term phrase: adjacency join; BM25 with phrase_freq and
    idf_sum over the phrase terms."""
    idf1 = _IDF.format(n="st.n", df="(SELECT df FROM tstat WHERE term='{t}')::DOUBLE")
    tfp = _TFP.format(tf="ph.freq", dl="dl.doc_len::DOUBLE", avgdl="st.avgdl")
    return (
        _PRELUDE
        + f""",
ph AS (
  SELECT a.doc_id, count(*)::DOUBLE AS freq
  FROM tok2 a JOIN tok2 b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.term = '{t1}' AND b.term = '{t2}'
  GROUP BY a.doc_id
),
idfs AS (
  SELECT ({idf1.format(t=t1)}) + ({idf1.format(t=t2)}) AS idf_sum
  FROM st
),
scored AS (
  SELECT ph.doc_id, idfs.idf_sum * {tfp} AS s
  FROM ph JOIN dl ON dl.doc_id = ph.doc_id CROSS JOIN st CROSS JOIN idfs
)"""
        + _RANKED.format(k=k)
    )


# ---------------------------------------------------------------------------
# query registry


def _q_term(term: str):
    def f(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ferret_spark.query import TermQuery

        return _topk(_get_index(spark, sf_dir), TermQuery(field="text", term=term))

    return f


def _q_bool(kind: str, t1: str, t2: str):
    def f(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ferret_spark.query import MUST, MUST_NOT, SHOULD, BooleanQuery, TermQuery

        occ = {"and": (MUST, MUST), "or": (SHOULD, SHOULD), "not": (MUST, MUST_NOT)}[
            kind
        ]
        q = BooleanQuery.of(
            (TermQuery(field="text", term=t1), occ[0]),
            (TermQuery(field="text", term=t2), occ[1]),
        )
        return _topk(_get_index(spark, sf_dir), q)

    return f


def _q_search_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six queries (term / AND / OR / NOT / exact phrase / sloppy phrase)
    answered by one batch_search: one df lookup for all six, the union
    of their single-query plans, and one per-query top-k window. Each
    query is planned by the single-query planner, so the SQL twin is
    just the six single-query twins stacked with a query_id column."""
    from ferret_spark.search import batch_search
    from ferret_spark.query import (
        MUST,
        MUST_NOT,
        SHOULD,
        BooleanQuery,
        PhraseQuery,
        TermQuery,
    )

    def tt(t):
        return TermQuery(field="text", term=t)

    qs = [
        tt("spark"),
        BooleanQuery.of((tt("scan"), MUST), (tt("join"), MUST)),
        BooleanQuery.of((tt("spark"), SHOULD), (tt("stream"), SHOULD)),
        BooleanQuery.of((tt("scan"), MUST), (tt("join"), MUST_NOT)),
        PhraseQuery.of("text", ["table", "hash"]),
        PhraseQuery.of("text", ["table", "hash"], slop=2),
    ]
    out = batch_search(_get_index(spark, sf_dir), qs, k=K, score_round=4)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        "rank",
        "doc_id",
        "score",
    )


def _sql_search_batch(k: int = K) -> str:
    parts = [
        (0, _sql_term("spark", k)),
        (1, _sql_bool_and("scan", "join", k)),
        (2, _sql_bool_or("spark", "stream", k)),
        (3, _sql_bool_not("scan", "join", k)),
        (4, _sql_phrase("table", "hash", k)),
        (5, _sql_phrase_slop("table", "hash", 2, k)),
    ]
    return "\nUNION ALL\n".join(
        f"SELECT {i}::BIGINT AS query_id, sub.* FROM ({sql}) sub"
        for i, sql in parts
    )


def _q_phrase(t1: str, t2: str):
    def f(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ferret_spark.query import PhraseQuery

        q = PhraseQuery.of("text", [t1, t2])
        return _topk(_get_index(spark, sf_dir), q)

    return f


def _q_phrase_slop(t1: str, t2: str, slop: int):
    def f(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ferret_spark.query import PhraseQuery

        q = PhraseQuery.of("text", [t1, t2], slop=slop)
        return _topk(_get_index(spark, sf_dir), q)

    return f


def _sql_phrase_slop(t1: str, t2: str, slop: int, k: int = K) -> str:
    """Sloppy 2-term phrase twin. Mirrors the engine's alternating-chain
    form of the reference walk (phrase_np.sloppy_freq2_flat): events
    alternate between the two offset-adjusted position lists (first event
    at the max of the two first positions, ties to the larger-offset
    slot), each event contributing a window of
    match_length = greatest(event, 0) - (largest other-list value <= event);
    windows with match_length <= slop add 1/(match_length+1).  The
    recursive CTE walks the same chain; contributions sum in event order
    (list_sum over an ORDER BY t list) for float64 parity."""
    idf1 = _IDF.format(n="st.n", df="(SELECT df FROM tstat WHERE term='{t}')::DOUBLE")
    tfp = _TFP.format(tf="ph.freq", dl="dl.doc_len::DOUBLE", avgdl="st.avgdl")
    return (
        _PRELUDE.replace("WITH tok", "WITH RECURSIVE tok", 1)
        + f""",
pos2 AS (
  SELECT doc_id, pos::BIGINT AS val, 0 AS tag FROM tok2 WHERE term = '{t1}'
  UNION ALL
  SELECT doc_id, pos::BIGINT - 1 AS val, 1 AS tag FROM tok2 WHERE term = '{t2}'
),
firsts AS (
  SELECT a.doc_id, a.m AS ma, b.m AS mb
  FROM (SELECT doc_id, min(val) AS m FROM pos2 WHERE tag = 0 GROUP BY 1) a
  JOIN (SELECT doc_id, min(val) AS m FROM pos2 WHERE tag = 1 GROUP BY 1) b
    USING (doc_id)
),
chain AS (
  SELECT doc_id,
         greatest(ma, mb) AS m,
         CASE WHEN ma > mb THEN 0 ELSE 1 END AS lst,
         greatest(greatest(ma, mb), 0)
           - (SELECT max(p.val) FROM pos2 p
              WHERE p.doc_id = firsts.doc_id
                AND p.tag = CASE WHEN ma > mb THEN 1 ELSE 0 END
                AND p.val <= greatest(ma, mb)) AS w,
         1 AS t
  FROM firsts
  UNION ALL
  SELECT c.doc_id,
         (SELECT min(p.val) FROM pos2 p
          WHERE p.doc_id = c.doc_id AND p.tag = 1 - c.lst
            AND p.val > c.m) AS m,
         1 - c.lst AS lst,
         greatest((SELECT min(p.val) FROM pos2 p
                   WHERE p.doc_id = c.doc_id AND p.tag = 1 - c.lst
                     AND p.val > c.m), 0)
           - (SELECT max(p.val) FROM pos2 p
              WHERE p.doc_id = c.doc_id AND p.tag = c.lst
                AND p.val <= (SELECT min(p2.val) FROM pos2 p2
                              WHERE p2.doc_id = c.doc_id
                                AND p2.tag = 1 - c.lst
                                AND p2.val > c.m)) AS w,
         c.t + 1 AS t
  FROM chain c
  WHERE (SELECT min(p.val) FROM pos2 p
         WHERE p.doc_id = c.doc_id AND p.tag = 1 - c.lst
           AND p.val > c.m) IS NOT NULL
),
ph AS (
  SELECT doc_id,
         list_sum(list(CASE WHEN w <= {slop} THEN 1.0 / (w + 1.0)
                            ELSE 0.0 END ORDER BY t)) AS freq
  FROM chain GROUP BY doc_id
),
idfs AS (
  SELECT ({idf1.format(t=t1)}) + ({idf1.format(t=t2)}) AS idf_sum
  FROM st
),
scored AS (
  SELECT ph.doc_id, idfs.idf_sum * {tfp} AS s
  FROM ph JOIN dl ON dl.doc_id = ph.doc_id CROSS JOIN st CROSS JOIN idfs
  WHERE ph.freq > 0.0
)"""
        + _RANKED.format(k=k)
    )


def _q_phrase_slopk(terms: list, slop: int):
    def f(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ferret_spark.query import PhraseQuery

        q = PhraseQuery.of("text", terms, slop=slop)
        return _topk(_get_index(spark, sf_dir), q)

    return f


def _sql_phrase_slop3(t1: str, t2: str, t3: str, slop: int, k: int = K) -> str:
    """Sloppy 3-term phrase twin: a recursive CTE SIMULATING the reference
    heap walk directly (sphsc_phrase_freq, c/src/q_phrase.c:454-515) — the
    2-slot alternating-chain shortcut does not exist at k=3, so the chain
    state carries all three cursor heads (offset-adjusted values h0..h2)
    and each recursion step performs one pop:

      - popped slot i = argmin by (value, offset) — offsets ascend with
        slot index, so ties resolve to the lower index;
      - next_pos     = least of the other two heads;
      - window       = greatest(h0,h1,h2,0) - (largest list-i value
                       <= next_pos)   [the walk's last_pos is the running
                       head max floored at 0];
      - new head i   = smallest list-i value > next_pos; NULL ends the
                       doc's walk (the exhausting pop still scores).

    Contributions sum in pop order (list_sum over ORDER BY t) for float64
    parity with the engine's lockstep kernel."""
    idf1 = _IDF.format(n="st.n", df="(SELECT df FROM tstat WHERE term='{t}')::DOUBLE")
    tfp = _TFP.format(tf="ph.freq", dl="dl.doc_len::DOUBLE", avgdl="st.avgdl")
    # popped slot / next-pos / new-head expressions over a chain row `c`
    i_exp = (
        "(CASE WHEN c.h0 <= c.h1 AND c.h0 <= c.h2 THEN 0 "
        "WHEN c.h1 <= c.h2 THEN 1 ELSE 2 END)"
    )
    np_exp = (
        f"(CASE WHEN {i_exp} = 0 THEN least(c.h1, c.h2) "
        f"WHEN {i_exp} = 1 THEN least(c.h0, c.h2) "
        f"ELSE least(c.h0, c.h1) END)"
    )
    nh_exp = (
        f"(SELECT min(p.val) FROM pos3 p WHERE p.doc_id = c.doc_id "
        f"AND p.tag = {i_exp} AND p.val > {np_exp})"
    )
    start_exp = (
        f"(SELECT max(p.val) FROM pos3 p WHERE p.doc_id = c.doc_id "
        f"AND p.tag = {i_exp} AND p.val <= {np_exp})"
    )
    return (
        _PRELUDE.replace("WITH tok", "WITH RECURSIVE tok", 1)
        + f""",
pos3 AS (
  SELECT doc_id, pos::BIGINT AS val, 0 AS tag FROM tok2 WHERE term = '{t1}'
  UNION ALL
  SELECT doc_id, pos::BIGINT - 1 AS val, 1 AS tag FROM tok2 WHERE term = '{t2}'
  UNION ALL
  SELECT doc_id, pos::BIGINT - 2 AS val, 2 AS tag FROM tok2 WHERE term = '{t3}'
),
heads0 AS (
  SELECT doc_id,
         min(CASE WHEN tag = 0 THEN val END) AS h0,
         min(CASE WHEN tag = 1 THEN val END) AS h1,
         min(CASE WHEN tag = 2 THEN val END) AS h2
  FROM pos3 GROUP BY doc_id
  HAVING count(DISTINCT tag) = 3
),
chain AS (
  SELECT doc_id, h0, h1, h2, 1 AS t FROM heads0
  UNION ALL
  SELECT c.doc_id,
         CASE WHEN {i_exp} = 0 THEN {nh_exp} ELSE c.h0 END AS h0,
         CASE WHEN {i_exp} = 1 THEN {nh_exp} ELSE c.h1 END AS h1,
         CASE WHEN {i_exp} = 2 THEN {nh_exp} ELSE c.h2 END AS h2,
         c.t + 1 AS t
  FROM chain c
  WHERE {nh_exp} IS NOT NULL
),
wins AS (
  SELECT c.doc_id, c.t,
         greatest(c.h0, c.h1, c.h2, 0) - {start_exp} AS w
  FROM chain c
),
ph AS (
  SELECT doc_id,
         list_sum(list(CASE WHEN w <= {slop} THEN 1.0 / (w + 1.0)
                            ELSE 0.0 END ORDER BY t)) AS freq
  FROM wins GROUP BY doc_id
),
idfs AS (
  SELECT ({idf1.format(t=t1)}) + ({idf1.format(t=t2)})
         + ({idf1.format(t=t3)}) AS idf_sum
  FROM st
),
scored AS (
  SELECT ph.doc_id, idfs.idf_sum * {tfp} AS s
  FROM ph JOIN dl ON dl.doc_id = ph.doc_id CROSS JOIN st CROSS JOIN idfs
  WHERE ph.freq > 0.0
)"""
        + _RANKED.format(k=k)
    )


def _q_prefix(prefix: str):
    def f(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ferret_spark.query import PrefixQuery

        return _topk(
            _get_index(spark, sf_dir), PrefixQuery(field="text", prefix=prefix)
        )

    return f


def _q_wildcard(pattern: str):
    def f(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ferret_spark.query import WildcardQuery

        return _topk(
            _get_index(spark, sf_dir), WildcardQuery(field="text", pattern=pattern)
        )

    return f


def _q_fuzzy(term: str, min_sim: float):
    def f(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ferret_spark.query import FuzzyQuery

        return _topk(
            _get_index(spark, sf_dir),
            FuzzyQuery(field="text", term=term, min_sim=min_sim),
        )

    return f


def _q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _get_index(spark, sf_dir)
    return (
        idx.term_stats.where(F.col("field") == "text")
        .select("term", "df", "ttf")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(20)
    )


def _q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _get_index(spark, sf_dir)
    return idx.docs.agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("doc_len_text"), 6).alias("avgdl"),
        F.max("doc_len_text").alias("max_dl"),
        F.min("doc_len_text").alias("min_dl"),
    )


def _q_range_nchars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ferret_spark.query import RangeQuery

    idx = _get_index(spark, sf_dir)
    from ferret_spark.search import plan_scores, spark_rewrite

    q = RangeQuery(field="n_chars", lower=100, upper=300, typed=True)
    return (
        plan_scores(idx, spark_rewrite(idx, q))
        .select("doc_id")
        .orderBy("doc_id")
    )


def _q_keyword_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ferret_spark.query import TermQuery

    idx = _get_index(spark, sf_dir)
    from ferret_spark.search import plan_scores, spark_rewrite

    q = TermQuery(field="lang", term="en")
    return (
        plan_scores(idx, spark_rewrite(idx, q))
        .select("doc_id")
        .orderBy("doc_id")
    )


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ferret_spark.pipeline import dedup_clusters

    return dedup_clusters(spark, sf_dir)


def _sql_dedup_clusters() -> str:
    """Transitive closure over the LSH pair set via recursive CTE; label =
    min reachable doc_id (the DataFrame side converges to the same fixed
    point by min-label propagation)."""
    return f"""
WITH RECURSIVE pairs AS (
  SELECT * FROM ({_sql_minhash_lsh()}) t
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
walk(node, lbl) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.s, w.lbl FROM edges e JOIN walk w ON w.node = e.d
)
SELECT node AS doc_id, min(lbl)::BIGINT AS cluster_id
FROM walk GROUP BY node ORDER BY doc_id
"""


def _q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window rollup over the events table — the
    batch-backfill form of the streaming watermark+window plan
    (streaming.windowed_event_counts runs unchanged on readStream)."""
    from ferret_spark.streaming import windowed_event_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # window start as a wall-clock string: tz-representation-neutral
    # across engines (Spark TIMESTAMP_NTZ vs DuckDB TIMESTAMPTZ would
    # value-mismatch as native types)
    return (
        windowed_event_counts(ev)
        .select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


def _sql_event_windows() -> str:
    # Spark's window('10 minutes') is epoch-aligned [start, start+600s);
    # mirror via floor(epoch/600)*600. DECIMAL(18,2) sum matches the
    # Spark side's order-independent exact aggregation.
    return """
SELECT strftime(make_timestamp(((floor(epoch(ts) / 600) * 600)
                                 * 1000000)::BIGINT),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*)::BIGINT AS n,
       (sum(value::DECIMAL(18,2)))::DOUBLE AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


_ORACLE_SF_DIR = __import__("os").environ.get(
    "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
)


def _sql_ann_ivf(query_vec_id: int = 0, k: int = 10) -> str:
    """IVF twin. The trained codebook (deterministic sample + seeded
    k-means, ivf_trained_centroids) is generated once per process and
    shared by the Spark query (broadcast data) and this SQL (literals) —
    the driver compares at sf0.01, so the twin trains on the same table
    the Spark side will see.  A guard CTE errors LOUDLY if the embeddings
    view the twin runs against has a different row count than the table
    the codebook was trained on (comparing at another scale factor
    without pointing SPARK_GRAFT_ORACLE_SF_DIR at it would otherwise be a
    silent codebook mismatch and a spurious hash failure)."""
    import numpy as np
    import pyarrow.parquet as pq

    from ferret_spark.pipeline import IVF_NPROBE, ivf_trained_centroids

    cents = ivf_trained_centroids(_ORACLE_SF_DIR)
    t = pq.read_table(
        f"{_ORACLE_SF_DIR}/embeddings.parquet", columns=["embedding"]
    )
    arr = t.column("embedding").combine_chunks()
    first = arr.values.to_numpy(zero_copy_only=False)[
        arr.offsets.to_numpy()[:-1]
    ].astype("float64")
    n_trained = len(arr)
    # order-independent integer fingerprint of the training table: both
    # sides compute floor(float64(first_component) * 1e6) exactly, so the
    # sums are bit-equal iff the tables hold the same vectors (row counts
    # alone collide across scale factors)
    fp_trained = int(np.floor(first * 1e6).astype("int64").sum())
    structs = ", ".join(
        "{'d': list_dot_product(e, ["
        + ", ".join(repr(x) for x in c)
        + "]::DOUBLE[]), 'i': "
        + str(i)
        + "}"
        for i, c in enumerate(cents)
    )
    return f"""
WITH chk AS (
  SELECT CASE WHEN (SELECT count(*) FROM embeddings) = {n_trained}
               AND (SELECT sum(floor((embedding::DOUBLE[])[1] * 1e6)::BIGINT)
                    FROM embeddings) = {fp_trained} THEN 1
         ELSE error('pp_ann_ivf twin: codebook was trained on '
                    || '{_ORACLE_SF_DIR} ({n_trained} rows) but the '
                    || 'compare views hold a different embeddings table '
                    || '— set SPARK_GRAFT_ORACLE_SF_DIR to the compare '
                    || 'dir') END AS ok
),
base AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
assigned AS (
  SELECT vec_id, e, (list_max([{structs}])).i AS cid FROM base
),
q AS (SELECT e, cid FROM assigned WHERE vec_id = {query_vec_id}),
probes AS (
  SELECT unnest(list_transform(
           list_reverse_sort([{structs}]), x -> x.i
         )[1:{IVF_NPROBE}]) AS pid
  FROM (SELECT e FROM q)
)
SELECT a.vec_id,
       round(list_dot_product(a.e, q.e)
             / (sqrt(list_dot_product(a.e, a.e))
                * sqrt(list_dot_product(q.e, q.e))), 6) AS cosine
FROM assigned a, q
WHERE a.cid IN (SELECT pid FROM probes)
  AND a.vec_id <> {query_vec_id}
  AND (SELECT ok FROM chk) = 1
ORDER BY cosine DESC, a.vec_id ASC
LIMIT {k}
"""


def _sql_fingerprint_winnow() -> str:
    from ferret_spark.pipeline import (
        WINNOW_K,
        WINNOW_P,
        WINNOW_W,
        _WINNOW_POW,
    )

    g = " + ".join(
        f"ascii(substr(s, i + {j}, 1))::BIGINT * {_WINNOW_POW[j]}"
        for j in range(WINNOW_K)
    )
    return rf"""
WITH nrm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s
  FROM documents
),
hs AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, greatest(length(s) - {WINNOW_K - 1}, 1)),
           i -> ({g}) % {WINNOW_P}) AS h
  FROM nrm
),
mins AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, greatest(len(h) - {WINNOW_W - 1}, 1)),
           i -> list_min(h[i : i + {WINNOW_W - 1}])) AS m
  FROM hs
)
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(m)), ',')) AS winnow_fp
FROM mins ORDER BY doc_id
"""


def _q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful exact-dedup driven END TO END through
    Structured Streaming: readStream over the documents parquet ->
    applyInPandasWithState dedup (sha-prefix-sharded bounded state) ->
    parquet sink, availableNow trigger, then read the sink back. The
    within-batch survivor is deterministic (min doc_id), so the batch
    oracle is row_number() over (partition by sha order by doc_id)."""
    import tempfile

    from ferret_spark.streaming import streaming_dedup_filter

    import os

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    base = tempfile.mkdtemp(prefix="ferret_stream_dedup_")
    # the streaming file source wants a DIRECTORY; stage the (possibly
    # single-file) table into one via symlink
    src = f"{base}/src"
    os.makedirs(src)
    os.symlink(
        os.path.abspath(f"{sf_dir}/documents.parquet"),
        f"{src}/documents.parquet",
    )
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    dedup = streaming_dedup_filter(stream, "text", order_col="doc_id")
    q = (
        dedup.writeStream.format("parquet")
        .option("path", f"{base}/out")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return (
        spark.read.parquet(f"{base}/out")
        .select("doc_id", F.col("_sha").alias("sha"))
        .orderBy("doc_id")
    )


_SQL_STREAM_DEDUP = """
SELECT doc_id, sha FROM (
  SELECT doc_id, sha256(text) AS sha,
         row_number() OVER (PARTITION BY sha256(text)
                            ORDER BY doc_id) AS rn
  FROM documents) t
WHERE rn = 1 ORDER BY doc_id
"""


def _q_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ferret_spark.pipeline import keywords_tfidf

    return keywords_tfidf(spark, sf_dir, k=3)


def _sql_keywords(k: int = 3) -> str:
    return rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            t -> t <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
n AS (SELECT count(*)::DOUBLE AS n FROM documents),
ranked AS (
  SELECT doc_id, term,
         row_number() OVER (
           PARTITION BY doc_id
           ORDER BY round(tf * ln(n.n / df), 9) DESC, term ASC
         ) AS rk
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, string_agg(term, ',' ORDER BY rk) AS keywords
FROM ranked WHERE rk <= {k} GROUP BY doc_id ORDER BY doc_id
"""


def _q_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FilteredQuery (c/src/q_filtered_query.c): BM25 term query restricted
    to a keyword range filter; hit scores are the sub-query's scores
    unchanged (fqsc_score), the filter only constrains the doc set."""
    from ferret_spark.query import FilteredQuery, RangeFilter, TermQuery

    idx = _get_index(spark, sf_dir)
    fq = FilteredQuery(
        query=TermQuery(field="text", term="spark"),
        filter=RangeFilter(field="lang", lower="de", upper="es"),
    )
    return _topk(idx, fq)


def _sql_filtered(k: int = K) -> str:
    idf = _IDF.format(n="st.n", df="ts.df::DOUBLE")
    tfp = _TFP.format(tf="p.tf", dl="dl.doc_len::DOUBLE", avgdl="st.avgdl")
    return (
        _PRELUDE
        + f""",
scored AS (
  SELECT p.doc_id, {idf} * {tfp} AS s
  FROM p
  JOIN tstat ts ON ts.term = p.term
  JOIN dl ON dl.doc_id = p.doc_id
  JOIN documents doc ON doc.doc_id = p.doc_id
  CROSS JOIN st
  WHERE p.term = 'spark' AND doc.lang BETWEEN 'de' AND 'es'
)"""
        + _RANKED.format(k=k)
    )


def _q_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-field highlighting of the exact phrase "table hash" through
    the faithful searcher_highlight port (match vector -> overlap-only
    compaction -> tag insertion at token offsets). Docs selected with a
    JVM adjacency predicate; the highlighter itself runs as an
    Arrow-batched UDF (per-doc text processing). The SQL twin rebuilds
    the tagged string from token positions — the corpus is single-space
    lowercase, so token rejoin reproduces the original text exactly."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # token-adjacency predicate as ONE codegen'd substring probe: with
    # split(text, ' ') tokens are exactly the runs between single spaces,
    # so toks[i]='table' AND toks[i+1]='hash' <=> ' table hash ' occurs in
    # the space-padded text (double spaces produce an empty middle token
    # on BOTH sides of the equivalence, so edge cases agree — property
    # test in tests/test_entry_highlight_pred.py). The previous
    # exists(sequence(...)) form re-evaluated split() per token index —
    # O(len^2) per doc (guide §4.1: prefer built-ins; §1 measured this at
    # ~18 s of the sf1.0 wall).
    has_phrase = (
        F.instr(F.concat(F.lit(" "), F.col("text"), F.lit(" ")), " table hash ")
        > 0
    )

    def _hl(texts):
        from ferret_spark.highlight import highlight
        from ferret_spark.query import PhraseQuery

        q = PhraseQuery.of("text", ["table", "hash"])
        return texts.map(
            lambda t: highlight(
                "whitespace", q, t, field="text",
                excerpt_length=1_000_000, num_excerpts=1,
            )[0]
        )

    # no type hints: `from __future__ import annotations` stringifies them
    # and pyspark cannot resolve pd.Series from this module's globals
    hl = F.pandas_udf(_hl, "string")

    return (
        d.where(has_phrase)
        .select("doc_id", hl(F.col("text")).alias("excerpt"))
        .orderBy("doc_id")
    )


def _sql_highlight(t1: str = "table", t2: str = "hash") -> str:
    return (
        _PRELUDE
        + f""",
starts AS (
  SELECT a.doc_id, a.pos AS p
  FROM tok2 a JOIN tok2 b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.term = '{t1}' AND b.term = '{t2}'
)
SELECT t.doc_id,
       string_agg(
         CASE WHEN s1.p IS NOT NULL THEN '<b>' || t.term
              WHEN s2.p IS NOT NULL THEN t.term || '</b>'
              ELSE t.term END, ' ' ORDER BY t.pos) AS excerpt
FROM tok2 t
LEFT JOIN starts s1 ON s1.doc_id = t.doc_id AND s1.p = t.pos
LEFT JOIN starts s2 ON s2.doc_id = t.doc_id AND s2.p = t.pos - 1
WHERE t.doc_id IN (SELECT doc_id FROM starts)
GROUP BY t.doc_id
ORDER BY t.doc_id
"""
    )


def _q_sorted_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-field sort with a reverse flag: hits of text:scan ordered by
    (lang asc, n_chars desc, doc_id asc) through sorting.search_sorted
    (typed casts + reverse handling)."""
    from ferret_spark.query import TermQuery
    from ferret_spark.sorting import SortField, search_sorted

    idx = _get_index(spark, sf_dir)
    hits = search_sorted(
        idx,
        TermQuery(field="text", term="scan"),
        [SortField("lang", "string"), SortField("n_chars", "integer", reverse=True)],
        k=15,
    )
    keyed = hits.join(
        idx.docs.select("doc_id", "lang", "n_chars"), "doc_id", "left"
    )
    order = [F.asc_nulls_last("lang"), F.desc_nulls_first("n_chars"),
             F.asc("doc_id")]
    w = Window.orderBy(*order)
    return (
        keyed.orderBy(*order)
        .select(
            F.row_number().over(w).cast("long").alias("rank"),
            "doc_id",
            "lang",
            "n_chars",
        )
    )


def _sql_sorted_multi(k: int = 15) -> str:
    return (
        _PRELUDE
        + f""",
hits AS (SELECT DISTINCT doc_id FROM tok2 WHERE term = 'scan')
SELECT row_number() OVER (ORDER BY d.lang ASC, d.n_chars DESC,
                          d.doc_id ASC)::BIGINT AS rank,
       d.doc_id, d.lang, d.n_chars
FROM hits h JOIN documents d USING (doc_id)
ORDER BY rank LIMIT {k}
"""
    )


def _q_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explain trees (searcher.explain analog) for the top-5 docs of
    text:spark, flattened to the BM25 decomposition the tree carries:
    (rank, doc_id, score, boost, idf, tf_norm). The SQL twin recomputes
    every component, so the explain machinery — not just the final
    score — is cross-engine-checked."""
    from ferret_spark.highlight import explain_many
    from ferret_spark.query import TermQuery

    idx = _get_index(spark, sf_dir)
    q = TermQuery(field="text", term="spark")
    top = _topk(idx, q, k=5).collect()
    exps = explain_many(idx, q, [r["doc_id"] for r in top])
    rows = []
    for r in top:
        ex = exps[r["doc_id"]]
        det = {d.description.split("(")[0]: d.value for d in ex.details}
        rows.append(
            (
                int(r["rank"]),
                int(r["doc_id"]),
                round(float(ex.value), 4),
                float(det["boost"]),
                round(float(det["idf"]), 6),
                round(float(det["tfNorm"]), 6),
            )
        )
    return spark.createDataFrame(
        rows,
        "rank long, doc_id long, score double, boost double,"
        " idf double, tf_norm double",
    )


def _q_explain_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explain trees for a composite query — text:scan MUST plus the
    exact phrase "table hash" SHOULD — flattened to the per-clause
    decomposition the tree carries: the term clause's (idf, tfNorm,
    contribution) and the phrase clause's (freq, idf_sum, tfNorm,
    contribution), with the clause contributions summing to the score.
    Cross-checks the BooleanQuery and PhraseQuery explain nodes
    (searcher explain trees, c/src/search.c:13-79), not just TermQuery."""
    from ferret_spark.highlight import explain_many
    from ferret_spark.query import MUST, SHOULD, BooleanQuery, PhraseQuery, TermQuery

    idx = _get_index(spark, sf_dir)
    q = BooleanQuery.of(
        (TermQuery(field="text", term="scan"), MUST),
        (PhraseQuery.of("text", ["table", "hash"]), SHOULD),
    )
    top = _topk(idx, q, k=5).collect()
    exps = explain_many(idx, q, [r["doc_id"] for r in top])
    rows = []
    for r in top:
        ex = exps[r["doc_id"]]
        t_idf = t_tfn = t_val = p_freq = p_idf = p_tfn = p_val = 0.0
        for d in ex.details:
            if d.description.startswith("weight("):
                t_val = d.value
                for dd in d.details:
                    if dd.description.startswith("idf("):
                        t_idf = dd.value
                    elif dd.description.startswith("tfNorm("):
                        t_tfn = dd.value
            elif d.description.startswith("phraseFreq="):
                p_val = d.value
                p_freq = float(d.description.split("=")[1])
                for dd in d.details:
                    if dd.description == "idf sum":
                        p_idf = dd.value
                    elif dd.description == "tfNorm":
                        p_tfn = dd.value
        rows.append(
            (
                int(r["rank"]),
                int(r["doc_id"]),
                round(float(ex.value), 4),
                round(t_idf, 6),
                round(t_tfn, 6),
                round(t_val, 6),
                float(p_freq),
                round(p_idf, 6),
                round(p_tfn, 6),
                round(p_val, 6),
            )
        )
    return spark.createDataFrame(
        rows,
        "rank long, doc_id long, score double, t_idf double,"
        " t_tfnorm double, t_contrib double, p_freq double,"
        " p_idf_sum double, p_tfnorm double, p_contrib double",
    )


def _sql_explain_bool(
    term: str = "scan", t1: str = "table", t2: str = "hash", k: int = 5
) -> str:
    idf = _IDF.format(n="st.n", df="ts.df::DOUBLE")
    tfp = _TFP.format(tf="p.tf", dl="dl.doc_len::DOUBLE", avgdl="st.avgdl")
    idf1 = _IDF.format(n="st.n", df="(SELECT df FROM tstat WHERE term='{t}')::DOUBLE")
    ptfp = _TFP.format(tf="ph.freq", dl="dl.doc_len::DOUBLE", avgdl="st.avgdl")
    return (
        _PRELUDE
        + f""",
tscore AS (
  SELECT p.doc_id, {idf} AS t_idf, {tfp} AS t_tfn, {idf} * {tfp} AS t_s
  FROM p JOIN tstat ts ON ts.term = p.term
  JOIN dl ON dl.doc_id = p.doc_id CROSS JOIN st
  WHERE p.term = '{term}'
),
ph AS (
  SELECT a.doc_id, count(*)::DOUBLE AS freq
  FROM tok2 a JOIN tok2 b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.term = '{t1}' AND b.term = '{t2}'
  GROUP BY a.doc_id
),
pidfs AS (
  SELECT ({idf1.format(t=t1)}) + ({idf1.format(t=t2)}) AS idf_sum FROM st
),
pscore AS (
  SELECT ph.doc_id, ph.freq, pidfs.idf_sum, {ptfp} AS p_tfn,
         pidfs.idf_sum * {ptfp} AS p_s
  FROM ph JOIN dl ON dl.doc_id = ph.doc_id CROSS JOIN st CROSS JOIN pidfs
),
combined AS (
  SELECT t.doc_id, t.t_s + coalesce(p.p_s, 0.0) AS s,
         t.t_idf, t.t_tfn, t.t_s,
         coalesce(p.freq, 0.0) AS p_freq,
         coalesce(p.idf_sum, 0.0) AS p_idf,
         coalesce(p.p_tfn, 0.0) AS p_tfn,
         coalesce(p.p_s, 0.0) AS p_s
  FROM tscore t LEFT JOIN pscore p ON p.doc_id = t.doc_id
)
SELECT row_number() OVER (ORDER BY round(s, 4) DESC, doc_id ASC)::BIGINT
         AS rank,
       doc_id, round(s, 4) AS score,
       round(t_idf, 6) AS t_idf, round(t_tfn, 6) AS t_tfnorm,
       round(t_s, 6) AS t_contrib,
       p_freq, round(p_idf, 6) AS p_idf_sum, round(p_tfn, 6) AS p_tfnorm,
       round(p_s, 6) AS p_contrib
FROM combined ORDER BY rank LIMIT {k}
"""
    )


def _sql_explain(term: str = "spark", k: int = 5) -> str:
    idf = _IDF.format(n="st.n", df="ts.df::DOUBLE")
    tfp = _TFP.format(tf="p.tf", dl="dl.doc_len::DOUBLE", avgdl="st.avgdl")
    return (
        _PRELUDE
        + f""",
scored AS (
  SELECT p.doc_id, 1.0 AS boost,
         {idf} AS idf_raw, {tfp} AS tfp_raw,
         {idf} * {tfp} AS s
  FROM p
  JOIN tstat ts ON ts.term = p.term
  JOIN dl ON dl.doc_id = p.doc_id
  CROSS JOIN st
  WHERE p.term = '{term}'
)
SELECT row_number() OVER (ORDER BY round(s, 4) DESC, doc_id ASC)::BIGINT
         AS rank,
       doc_id, round(s, 4) AS score, boost,
       round(idf_raw, 6) AS idf, round(tfp_raw, 6) AS tf_norm
FROM scored ORDER BY rank LIMIT {k}
"""
    )


def _q_doc_sha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row content sha256 — the input_hint invariant surface."""
    idx = _get_index(spark, sf_dir)
    return idx.docs.select(
        "doc_id", F.col("sha256_text").alias("sha")
    ).orderBy("doc_id").limit(100)


def _q_sorted_nchars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hits of text:scan ordered by (n_chars asc, doc_id) — sort-by-field."""
    from ferret_spark.query import TermQuery
    from ferret_spark.search import plan_scores, spark_rewrite

    idx = _get_index(spark, sf_dir)
    scores = plan_scores(idx, spark_rewrite(idx, TermQuery(field="text", term="scan")))
    hits = scores.join(idx.docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.orderBy(F.asc("n_chars"), F.asc("doc_id"))
    return (
        hits.orderBy(F.asc("n_chars"), F.asc("doc_id"))
        .limit(10)
        .select(
            F.row_number().over(w).cast("long").alias("rank"),
            "doc_id",
            "n_chars",
        )
    )


def _q_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """search_unscored: docID-order matches with offset/limit."""
    from ferret_spark.query import TermQuery
    from ferret_spark.search import plan_scores, spark_rewrite

    idx = _get_index(spark, sf_dir)
    scores = plan_scores(idx, spark_rewrite(idx, TermQuery(field="text", term="scan")))
    return scores.select("doc_id").orderBy("doc_id").offset(5).limit(10)


def _q_count_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """total_hits + max_score for one term query."""
    from ferret_spark.query import TermQuery
    from ferret_spark.search import plan_scores, spark_rewrite

    idx = _get_index(spark, sf_dir)
    scores = plan_scores(idx, spark_rewrite(idx, TermQuery(field="text", term="scan")))
    return scores.agg(
        F.count("*").alias("total_hits"),
        F.round(F.max("score"), 4).alias("max_score"),
    )


_SEG_CACHE: dict[tuple[int, str], object] = {}


def _get_seg_index(spark: SparkSession, sf_dir: str):
    """Compressed segmented index over `documents` (the scale path), built
    once per (session, sf) into a temp dir."""
    key = (id(spark), sf_dir)
    if key in _SEG_CACHE:
        return _SEG_CACHE[key]
    import tempfile

    from ferret_spark.segments import SegmentIndexBuilder

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = tempfile.mkdtemp(prefix="ferret_entry_seg_")
    # seg_size scales with the corpus (parquet-footer row count, no job):
    # a fixed 256 meant ~200 segments at sf1.0 — per-segment fixed costs
    # (flush rows, merge groups, per-group eval) dominated the build.
    # Results are segmentation-invariant (global dfs, per-doc scores), so
    # this is layout only; the 256 floor keeps small SFs multi-segment.
    import pyarrow.parquet as _pq

    n_docs = sum(
        _pq.ParquetFile(f).metadata.num_rows
        for f in _pq.ParquetDataset(f"{sf_dir}/documents.parquet").files
    )
    seg_size = max(256, n_docs // 32)
    sidx = SegmentIndexBuilder(
        spark, path, {"text": "whitespace"}, seg_size=seg_size
    ).build(docs, doc_id_col="doc_id")
    _SEG_CACHE[key] = sidx
    return sidx


def _rerank_rounded(top: DataFrame, k: int = K) -> DataFrame:
    """Over-fetched engine hits -> (rank, doc_id, score) by the 4dp-rounded
    score (both sides rank by the ROUNDED value, so the top-k cut matches
    the SQL oracle at rounding-tie boundaries).  The engine's score column
    is float32 — cast to double BEFORE rounding so the result is the exact
    4dp double the SQL twin produces (rounding in float32 keeps the
    nearest-float32 value, e.g. 0.46169999, which hash-mismatches)."""
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        top.select(
            "doc_id",
            F.round(F.col("score").cast("double"), 4).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .select(
            F.row_number().over(w).cast("long").alias("rank"),
            "doc_id",
            "score",
        )
    )


def _q_span_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SpanNear(table, hash, slop 2, unordered) through the segmented
    engine. The SQL twin reproduces the reference enumerator's pair set
    exactly (see _sql_span_near)."""
    from ferret_spark.spans import SpanNearQuery, SpanTermQuery

    sidx = _get_seg_index(spark, sf_dir)
    q = SpanNearQuery(
        clauses=(
            SpanTermQuery(field="text", term="table"),
            SpanTermQuery(field="text", term="hash"),
        ),
        slop=2,
    )
    return _rerank_rounded(sidx.search(q, k=K + 40))


def _q_tfidf_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic TF-IDF similarity through the segmented engine. The
    norm-byte quantization is a pure function of doc_len at unit boosts —
    the SQL twin joins the (dl_lo, dl_hi, norm) breakpoint table
    (similarity.norm_dl_ranges)."""
    from ferret_spark.query import TermQuery

    sidx = _get_seg_index(spark, sf_dir)
    return _rerank_rounded(
        sidx.search(
            TermQuery(field="text", term="scan"), k=K + 40,
            similarity="tfidf",
        )
    )


def _q_seg_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 term query through the COMPRESSED segment path (same ranking
    contract as the declarative ft_term -> shares its SQL oracle shape)."""
    from ferret_spark.query import TermQuery

    sidx = _get_seg_index(spark, sf_dir)
    # over-fetch then re-rank by the 4dp-rounded score so the top-10 cut
    # matches the SQL oracle's ordering even at rounding-tie boundaries
    top = sidx.search(TermQuery(field="text", term="spark"), k=K + 40)
    return _rerank_rounded(top)


def _q_seg_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A four-query log (term / AND / OR / NOT) through the COMPRESSED
    segment engine in ONE Spark job (wand.segment_batch_search): one
    segments scan with the union term predicate, one broadcast term_stats
    join, one _SegEval per segment serving every query (each posting list
    decodes once for the whole batch). segment_search plans a single
    query through the same planner, so per-query float32 scores are
    identical to it and the SQL twin is the four single-query twins
    stacked. Over-fetch + re-rank by the 4dp-rounded double score, same
    convention as ft_seg_term."""
    from ferret_spark.query import MUST, MUST_NOT, SHOULD, BooleanQuery, TermQuery
    from ferret_spark.wand import segment_batch_search

    def tt(t):
        return TermQuery(field="text", term=t)

    qs = [
        tt("spark"),
        BooleanQuery.of((tt("scan"), MUST), (tt("join"), MUST)),
        BooleanQuery.of((tt("spark"), SHOULD), (tt("stream"), SHOULD)),
        BooleanQuery.of((tt("scan"), MUST), (tt("join"), MUST_NOT)),
    ]
    sidx = _get_seg_index(spark, sf_dir)
    over = segment_batch_search(sidx, qs, k=K + 40)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        over.select(
            F.col("query_id").cast("long").alias("query_id"),
            "doc_id",
            F.round(F.col("score").cast("double"), 4).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= K)
        .select("query_id", "rank", "doc_id", "score")
    )


def _sql_seg_batch(k: int = K) -> str:
    parts = [
        (0, _sql_term("spark", k)),
        (1, _sql_bool_and("scan", "join", k)),
        (2, _sql_bool_or("spark", "stream", k)),
        (3, _sql_bool_not("scan", "join", k)),
    ]
    return "\nUNION ALL\n".join(
        f"SELECT {i}::BIGINT AS query_id, sub.* FROM ({sql}) sub"
        for i, sql in parts
    )


def _q_fql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FQL string end-to-end: parse -> plan -> rank."""
    from ferret_spark.parser import QueryParser

    idx = _get_index(spark, sf_dir)
    p = QueryParser(
        default_field="text",
        fields=["text", "lang", "source"],
        tokenized_fields=["text"],
        analyzer="whitespace",
    )
    q = p.parse('scan AND join "table hash"')
    return _topk(idx, q)


def _sql_sorted_nchars() -> str:
    return (
        _PRELUDE
        + """
, hits AS (SELECT DISTINCT doc_id FROM tok2 WHERE term = 'scan')
SELECT row_number() OVER (ORDER BY d.n_chars ASC, d.doc_id ASC)::BIGINT AS rank,
       d.doc_id, d.n_chars
FROM hits h JOIN documents d USING (doc_id)
ORDER BY rank LIMIT 10
"""
    )


def _sql_scan() -> str:
    return (
        _PRELUDE
        + """
SELECT DISTINCT doc_id FROM tok2 WHERE term = 'scan'
ORDER BY doc_id LIMIT 10 OFFSET 5
"""
    )


def _sql_count_stats() -> str:
    idf = _IDF.format(n="st.n", df="ts.df::DOUBLE")
    tfp = _TFP.format(tf="p.tf", dl="dl.doc_len::DOUBLE", avgdl="st.avgdl")
    return (
        _PRELUDE
        + f""",
scored AS (
  SELECT p.doc_id, {idf} * {tfp} AS s
  FROM p JOIN tstat ts ON ts.term = p.term
  JOIN dl ON dl.doc_id = p.doc_id CROSS JOIN st
  WHERE p.term = 'scan'
)
SELECT count(*) AS total_hits, round(max(s), 4) AS max_score FROM scored
"""
    )


def _sql_fql(k: int = K) -> str:
    """'scan AND join "table hash"' = +scan +join SHOULD-phrase:
    candidates = docs with scan AND join; score = scan + join + phrase?0."""
    idf = _IDF.format(n="st.n", df="ts.df::DOUBLE")
    tfp = _TFP.format(tf="p.tf", dl="dl.doc_len::DOUBLE", avgdl="st.avgdl")
    leaf = f"""
  SELECT p.doc_id, {idf} * {tfp} AS s
  FROM p JOIN tstat ts ON ts.term = p.term
  JOIN dl ON dl.doc_id = p.doc_id CROSS JOIN st
  WHERE p.term = '{{t}}'"""
    idf1 = _IDF.format(n="st.n", df="(SELECT df FROM tstat WHERE term='{t}')::DOUBLE")
    ph_tfp = _TFP.format(tf="ph.freq", dl="dl.doc_len::DOUBLE", avgdl="st.avgdl")
    return (
        _PRELUDE
        + f""",
s1 AS ({leaf.format(t='scan')}),
s2 AS ({leaf.format(t='join')}),
ph AS (
  SELECT a.doc_id, count(*)::DOUBLE AS freq
  FROM tok2 a JOIN tok2 b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'table' AND b.term = 'hash'
  GROUP BY a.doc_id
),
idfs AS (
  SELECT ({idf1.format(t='table')}) + ({idf1.format(t='hash')}) AS idf_sum
  FROM st
),
phs AS (
  SELECT ph.doc_id, idfs.idf_sum * {ph_tfp} AS s
  FROM ph JOIN dl ON dl.doc_id = ph.doc_id CROSS JOIN st CROSS JOIN idfs
),
scored AS (
  SELECT s1.doc_id, s1.s + s2.s + coalesce(phs.s, 0.0) AS s
  FROM s1 JOIN s2 ON s1.doc_id = s2.doc_id
  LEFT JOIN phs ON phs.doc_id = s1.doc_id
)"""
        + _RANKED.format(k=k)
    )


def _sql_span_near(t1: str, t2: str, slop: int = 2, k: int = K) -> str:
    """SpanNear(t1, t2, slop, unordered) twin. The reference's unordered
    enumerator (sne_next_unordered_match, c/src/q_span.c:995-1037) advances
    the clause with the smallest span start, so the pairs it checks are
    EXACTLY: each t1 position paired with its successor in t2, plus each t2
    position paired with its successor in t1. A pair (lo, hi) emits a span
    of length hi-lo+1 when (hi+1-lo) - 2 <= slop, contributing
    1/(hi-lo+2) to freq (spansc_score); score = idf_sum * bm25_tf(freq)."""
    idf1 = _IDF.format(
        n="st.n", df="(SELECT df FROM tstat WHERE term='{t}')::DOUBLE"
    )
    tfp = _TFP.format(tf="ph.freq", dl="dl.doc_len::DOUBLE", avgdl="st.avgdl")
    # idf_sum accumulates in sorted-term order (engine: sorted(set(terms)))
    ta, tb = sorted([t1, t2])
    return (
        _PRELUDE
        + f""",
pa AS (SELECT doc_id, pos FROM tok2 WHERE term = '{t1}'),
pb AS (SELECT doc_id, pos FROM tok2 WHERE term = '{t2}'),
n1 AS (
  SELECT a.doc_id, a.pos AS lo, min(b.pos) AS hi
  FROM pa a JOIN pb b ON b.doc_id = a.doc_id AND b.pos > a.pos
  GROUP BY a.doc_id, a.pos
),
n2 AS (
  SELECT b.doc_id, b.pos AS lo, min(a.pos) AS hi
  FROM pb b JOIN pa a ON a.doc_id = b.doc_id AND a.pos > b.pos
  GROUP BY b.doc_id, b.pos
),
sp AS (SELECT * FROM n1 UNION ALL SELECT * FROM n2),
ph AS (
  SELECT doc_id, sum(1.0 / (hi - lo + 2)) AS freq
  FROM sp WHERE hi - lo <= {slop + 1} GROUP BY doc_id
),
idfs AS (
  SELECT ({idf1.format(t=ta)}) + ({idf1.format(t=tb)}) AS idf_sum
  FROM st
),
scored AS (
  SELECT ph.doc_id, idfs.idf_sum * {tfp} AS s
  FROM ph JOIN dl ON dl.doc_id = ph.doc_id CROSS JOIN st CROSS JOIN idfs
)"""
        + _RANKED.format(k=k)
    )


def _sql_tfidf_term(term: str, k: int = K) -> str:
    """TF-IDF term twin (c/src/similarity.c semantics):
    score = sqrt(tf) * idf^2 * qnorm * norm(doc_len), with
    idf = ln(N/(df+1)) + 1, qnorm = 1/sqrt(idf^2), and norm the byte-
    quantized length norm (3-bit mantissa / 5-bit exponent codec) — a pure
    function of doc_len at unit boosts, inlined as a breakpoint table."""
    from ferret_spark.similarity import norm_dl_ranges

    nrm_rows = ",\n    ".join(
        f"({lo}, {hi}, {nv!r})" for lo, hi, nv in norm_dl_ranges()
    )
    idf = "ln(st.n / (tq.df + 1.0)) + 1.0"
    return (
        _PRELUDE
        + f""",
nrm(dl_lo, dl_hi, nv) AS (VALUES
    {nrm_rows}),
tq AS (SELECT df::DOUBLE AS df FROM tstat WHERE term = '{term}'),
qn AS (
  SELECT ({idf}) AS idf,
         1.0 / sqrt(({idf}) * ({idf})) AS qnorm
  FROM st, tq
),
scored AS (
  SELECT p.doc_id, sqrt(p.tf) * (qn.idf * qn.idf * 1.0 * qn.qnorm) * nrm.nv AS s
  FROM p
  JOIN dl ON dl.doc_id = p.doc_id
  JOIN nrm ON dl.doc_len BETWEEN nrm.dl_lo AND nrm.dl_hi
  CROSS JOIN qn
  WHERE p.term = '{term}'
)"""
        + _RANKED.format(k=k)
    )


def _sql_ann_lsh(
    query_vec_id: int = 0, k: int = 10, n_planes: int = 12,
    probe_hamming: int = 2,
) -> str:
    """Multiprobe LSH ANN twin: same inlined hyperplane literals as the
    Spark expression (bit-identical bucketing), probe set = hamming ball
    via bit_count(xor(bucket, qbucket))."""
    from ferret_spark.pipeline import _plane_literals

    dim = 64  # embeddings table dim (TESTDATA.md)
    planes = _plane_literals(dim, n_planes)
    bucket = " + ".join(
        f"CASE WHEN list_dot_product(e, [{', '.join(repr(c) for c in p)}]"
        f"::DOUBLE[]) > 0 THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    )
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
bk AS (SELECT vec_id, e, {bucket} AS bucket FROM base),
q AS (SELECT bucket AS qb, e AS qe FROM bk WHERE vec_id = {query_vec_id}),
scored AS (
  SELECT b.vec_id,
         round(list_dot_product(b.e, q.qe)
               / (sqrt(list_dot_product(b.e, b.e))
                  * sqrt(list_dot_product(q.qe, q.qe))), 6) AS cosine
  FROM bk b, q
  WHERE b.vec_id <> {query_vec_id}
    AND bit_count(xor(b.bucket, q.qb)) <= {probe_hamming}
)
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT {k}
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 boolean+phrase search over sf0.001 documents."""
    from ferret_spark.query import MUST, SHOULD, BooleanQuery, PhraseQuery, TermQuery

    idx = _get_index(spark, "/root/testdata/sf0.001")
    q = BooleanQuery.of(
        (TermQuery(field="text", term="scan"), MUST),
        (PhraseQuery.of("text", ["table", "hash"]), SHOULD),
    )
    return _topk(idx, q)


# ---------------------------------------------------------------------------
# training-data pipeline ops (ferret_spark.pipeline)


def _pipe(fn_name: str, **kw):
    def f(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ferret_spark import pipeline as P

        return getattr(P, fn_name)(spark, sf_dir, **kw)

    return f


# shared DuckDB CTE: tokenized documents + 3-gram shingles (mirrors
# pipeline._tokenize / _doc_shingles exactly)
_PIPE_PRELUDE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     t -> t <> '') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(0, greatest(len(toks) - 3, 0) + 1),
           i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))) AS sh
  FROM toks
)
"""

_SQL_DEDUP_EXACT = """
SELECT sha256(text) AS content_sha, min(doc_id) AS canonical_doc_id,
       count(*) AS n_copies
FROM documents GROUP BY sha256(text) ORDER BY canonical_doc_id
"""

def _sql_ngram_jaccard(shingle_df_cap: int | None = None) -> str:
    from ferret_spark.pipeline import SHINGLE_DF_CAP

    if shingle_df_cap is not None:
        SHINGLE_DF_CAP = shingle_df_cap  # noqa: N806 — test cap override
    return (
        _PIPE_PRELUDE
        + f""",
sh2 AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh2),
ex_all AS (SELECT doc_id, unnest(sh) AS s FROM sh2),
ex AS (
  SELECT * FROM ex_all
  QUALIFY count(*) OVER (PARTITION BY s) <= {SHINGLE_DF_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc_a, p.doc_b,
       round(p.n_common / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE), 6)
         AS jaccard
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
WHERE round(p.n_common / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE), 6)
      >= 0.4
ORDER BY doc_a, doc_b
"""
    )


def _sql_minhash_lsh(bucket_cap: int | None = None) -> str:
    from ferret_spark.pipeline import (
        LSH_BANDS,
        LSH_BUCKET_CAP,
        MINHASH_P,
        MINHASH_PERMS,
        minhash_coeffs,
    )

    if bucket_cap is not None:
        LSH_BUCKET_CAP = bucket_cap  # noqa: N806 — test cap override
    a, b = minhash_coeffs()
    rpb = MINHASH_PERMS // LSH_BANDS
    perms = ", ".join(
        f"list_min(list_transform(hs, h -> ({a[i]} * h + {b[i]}) % {MINHASH_P}))"
        for i in range(MINHASH_PERMS)
    )
    return (
        _PIPE_PRELUDE
        + f""",
hs AS (
  SELECT doc_id,
         list_transform(sh, s -> ('0x' || substr(md5(s), 1, 10))::BIGINT) AS hs
  FROM sh WHERE len(sh) > 0
),
sig AS (SELECT doc_id, [{perms}] AS sig FROM hs),
bands_all AS (
  SELECT doc_id, b.band,
         md5(array_to_string(list_slice(sig, CAST(b.band * {rpb} + 1 AS INT),
                                        CAST(b.band * {rpb} + {rpb} AS INT)),
                             ',')) AS bhash
  FROM sig, (SELECT unnest(range(0, {LSH_BANDS})) AS band) b
),
bands AS (
  SELECT * FROM bands_all
  QUALIFY count(*) OVER (PARTITION BY band, bhash) <= {LSH_BUCKET_CAP}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
"""
    )


def _sql_ann_batch() -> str:
    from ferret_spark.pipeline import (
        ANN_BATCH_CAP,
        ANN_BATCH_K,
        ANN_BATCH_PLANES,
        _plane_literals,
    )

    dim = 64  # embeddings table dim (TESTDATA.md)
    planes = _plane_literals(dim, ANN_BATCH_PLANES)
    bucket = " + ".join(
        f"CASE WHEN list_dot_product(e, [{', '.join(repr(c) for c in p)}]"
        f"::DOUBLE[]) > 0 THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    )
    return f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
bk AS (SELECT vec_id, e, {bucket} AS bucket FROM base),
capped AS (
  SELECT * FROM bk
  QUALIFY count(*) OVER (PARTITION BY bucket)
          BETWEEN 2 AND {ANN_BATCH_CAP}
),
pairs AS (
  SELECT a.vec_id, b.vec_id AS nbr,
         round(list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e))
                  * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
  FROM capped a JOIN capped b
    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
ranked AS (
  SELECT vec_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, nbr)::BIGINT AS rank,
         nbr, cosine
  FROM pairs
)
SELECT vec_id, rank, nbr, cosine FROM ranked
WHERE rank <= {ANN_BATCH_K} ORDER BY vec_id, rank
"""


def _sql_dedup_embedding() -> str:
    from ferret_spark.pipeline import (
        ANN_BATCH_CAP,
        ANN_BATCH_PLANES,
        DEDUP_EMB_THRESHOLD,
        _plane_literals,
    )

    dim = 64  # embeddings table dim (TESTDATA.md)
    planes = _plane_literals(dim, ANN_BATCH_PLANES)
    bucket = " + ".join(
        f"CASE WHEN list_dot_product(e, [{', '.join(repr(c) for c in p)}]"
        f"::DOUBLE[]) > 0 THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    )
    return f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
bk AS (SELECT vec_id, e, {bucket} AS bucket FROM base),
capped AS (
  SELECT * FROM bk
  QUALIFY count(*) OVER (PARTITION BY bucket)
          BETWEEN 2 AND {ANN_BATCH_CAP}
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.e, b.e)
             / (sqrt(list_dot_product(a.e, a.e))
                * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
FROM capped a JOIN capped b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.e, b.e)
            / (sqrt(list_dot_product(a.e, a.e))
               * sqrt(list_dot_product(b.e, b.e))), 6)
      >= {DEDUP_EMB_THRESHOLD}
ORDER BY vec_a, vec_b
"""


def _sql_simhash() -> str:
    from ferret_spark.pipeline import SIMHASH_BITS

    return (
        _PIPE_PRELUDE
        + f""",
hs AS (
  SELECT doc_id,
         list_transform(toks, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)
           AS hs
  FROM toks
)
SELECT doc_id,
  coalesce(list_sum(list_transform(range(0, {SIMHASH_BITS}),
    b -> CASE WHEN coalesce(list_sum(list_transform(hs,
           h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
         THEN (1::BIGINT << b) ELSE 0::BIGINT END)), 0)::BIGINT AS simhash
FROM hs ORDER BY doc_id
"""
    )

_SQL_ANN_COSINE = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
         round(
           list_dot_product(embedding::DOUBLE[], qv::DOUBLE[])
           / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
              * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))), 6)
           AS cosine
  FROM embeddings, q WHERE vec_id <> 0
)
SELECT row_number() OVER (ORDER BY cosine DESC, vec_id)::BIGINT AS rank,
       vec_id, cosine
FROM scored ORDER BY rank LIMIT 10
"""

_STOPWORDS_SQL = None


def _stopwords_sql() -> str:
    global _STOPWORDS_SQL
    if _STOPWORDS_SQL is None:
        from ferret_spark.analysis import ENGLISH_STOP_WORDS

        _STOPWORDS_SQL = ", ".join(
            f"'{w}'" for w in sorted(ENGLISH_STOP_WORDS)
        )
    return _STOPWORDS_SQL


def _sql_lang_id() -> str:
    return (
        _PIPE_PRELUDE
        + f"""
SELECT doc_id,
       round(len(list_filter(toks, t -> list_contains([{_stopwords_sql()}], t)))
             / greatest(len(toks), 1), 6) AS stopword_ratio,
       CASE WHEN round(len(list_filter(toks,
                 t -> list_contains([{_stopwords_sql()}], t)))
             / greatest(len(toks), 1), 6) >= 0.1 THEN 1 ELSE 0 END
         AS is_englishlike
FROM toks ORDER BY doc_id
"""
    )


_SQL_QUALITY = (
    _PIPE_PRELUDE
    + """
SELECT doc_id,
  round(list_aggregate(list_transform(toks, t -> length(t)), 'sum')
        / greatest(len(toks), 1), 6) AS mean_token_len,
  round(len(list_filter(toks, t -> regexp_matches(t, '^[a-z]+$')))
        / greatest(len(toks), 1), 6) AS alpha_fraction,
  len(toks) AS n_tokens,
  round(
    least(list_aggregate(list_transform(toks, t -> length(t)), 'sum')
          / greatest(len(toks), 1) / 10.0, 1.0) * 0.3
    + (len(list_filter(toks, t -> regexp_matches(t, '^[a-z]+$')))
       / greatest(len(toks), 1)) * 0.4
    + least(len(toks) / 100.0, 1.0) * 0.3, 6) AS quality_score
FROM toks ORDER BY doc_id
"""
)

_SQL_TOKEN_COUNT = r"""
SELECT doc_id,
  len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> ''))
    AS ws_tokens,
  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]', 0))
    AS subword_tokens,
  length(text) AS n_chars_actual
FROM documents ORDER BY doc_id
"""

_SQL_FINGERPRINT = (
    _PIPE_PRELUDE
    + """
SELECT doc_id,
  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint
FROM toks ORDER BY doc_id
"""
)

_SQL_MULTIMODAL = """
SELECT doc_id,
  array_to_string(
    list_transform(range(0, 8),
      i -> CAST(ascii(substr(md5(text), CAST(i AS INT) + 1, 1)) AS VARCHAR)),
    ',') AS feature_csv,
  strlen(text)::BIGINT AS n_bytes
FROM documents ORDER BY doc_id
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # training-data pipeline ops
        "pp_dedup_exact": _pipe("dedup_exact"),
        "pp_dedup_ngram_jaccard": _pipe("dedup_ngram_jaccard"),
        "pp_dedup_minhash_lsh": _pipe("dedup_minhash_lsh"),
        "pp_dedup_simhash": _pipe("dedup_simhash"),
        "pp_dedup_embedding": _pipe("dedup_embedding"),
        "pp_event_windows": _q_event_windows,
        "pp_fingerprint_winnow": _pipe("fingerprint_winnow"),
        "pp_ann_cosine": _pipe("ann_cosine_topk"),
        "pp_ann_lsh": _pipe("ann_lsh_topk"),
        "pp_ann_batch": _pipe("ann_batch_topk"),
        "pp_ann_ivf": _pipe("ann_ivf_topk"),
        "pp_lang_id": _pipe("text_lang_id"),
        "pp_quality": _pipe("text_quality"),
        "pp_token_count": _pipe("text_token_count"),
        "pp_fingerprint": _pipe("text_fingerprint"),
        "pp_multimodal_features": _pipe("multimodal_features"),
        "pp_stream_dedup": _q_stream_dedup,
        "ft_term": _q_term("spark"),
        "ft_term_hot": _q_term("batch"),
        "ft_bool_and": _q_bool("and", "scan", "join"),
        "ft_bool_or": _q_bool("or", "spark", "stream"),
        "ft_bool_not": _q_bool("not", "scan", "join"),
        "ft_search_batch": _q_search_batch,
        "ft_phrase": _q_phrase("table", "hash"),
        "ft_phrase_slop": _q_phrase_slop("table", "hash", 2),
        "ft_phrase_slop3": _q_phrase_slopk(["table", "hash", "key"], 3),
        "ft_prefix": _q_prefix("sc"),
        "ft_wildcard": _q_wildcard("s?an"),
        "ft_fuzzy": _q_fuzzy("sprak", 0.5),
        "ft_span_near": _q_span_near,
        "ft_tfidf_term": _q_tfidf_term,
        "ft_seg_term": _q_seg_term,
        "ft_seg_batch": _q_seg_batch,
        "ft_sorted_nchars": _q_sorted_nchars,
        "ft_sorted_multi": _q_sorted_multi,
        "ft_highlight": _q_highlight,
        "ft_explain": _q_explain,
        "ft_explain_bool": _q_explain_bool,
        "ft_scan": _q_scan,
        "ft_count_stats": _q_count_stats,
        "ft_fql": _q_fql,
        "ft_term_stats": _q_term_stats,
        "ft_corpus_stats": _q_corpus_stats,
        "ft_range_nchars": _q_range_nchars,
        "ft_keyword_lang": _q_keyword_lang,
        "pp_dedup_clusters": _q_dedup_clusters,
        "pp_keywords_tfidf": _q_keywords,
        "ft_filtered": _q_filtered,
        "ft_doc_sha256": _q_doc_sha,
    }


def oracle_sql() -> dict[str, str]:
    return {
        # pipeline ops
        "pp_dedup_exact": _SQL_DEDUP_EXACT,
        "pp_ann_lsh": _sql_ann_lsh(),
        "pp_dedup_ngram_jaccard": _sql_ngram_jaccard(),
        "pp_dedup_minhash_lsh": _sql_minhash_lsh(),
        "pp_dedup_simhash": _sql_simhash(),
        "pp_dedup_embedding": _sql_dedup_embedding(),
        "pp_event_windows": _sql_event_windows(),
        "pp_fingerprint_winnow": _sql_fingerprint_winnow(),
        "pp_ann_cosine": _SQL_ANN_COSINE,
        "pp_ann_batch": _sql_ann_batch(),
        "pp_ann_ivf": _sql_ann_ivf(),
        "pp_lang_id": _sql_lang_id(),
        "pp_quality": _SQL_QUALITY,
        "pp_token_count": _SQL_TOKEN_COUNT,
        "pp_fingerprint": _SQL_FINGERPRINT,
        "pp_multimodal_features": _SQL_MULTIMODAL,
        "pp_stream_dedup": _SQL_STREAM_DEDUP,
        "ft_term": _sql_term("spark"),
        "ft_term_hot": _sql_term("batch"),
        "ft_bool_and": _sql_bool_and("scan", "join"),
        "ft_bool_or": _sql_bool_or("spark", "stream"),
        "ft_bool_not": _sql_bool_not("scan", "join"),
        "ft_search_batch": _sql_search_batch(),
        "ft_phrase": _sql_phrase("table", "hash"),
        "ft_phrase_slop": _sql_phrase_slop("table", "hash", 2),
        "ft_phrase_slop3": _sql_phrase_slop3("table", "hash", "key", 3),
        "ft_prefix": _sql_multi_term("p.term LIKE 'sc%'"),
        "ft_wildcard": _sql_multi_term("p.term LIKE 's_an'"),
        "ft_fuzzy": _sql_multi_term(
            "(1.0 - levenshtein(p.term, 'sprak')::DOUBLE / "
            "least(length(p.term), length('sprak'))::DOUBLE) > 0.5",
            boost_expr=(
                "1.0 - levenshtein(p.term, 'sprak')::DOUBLE / "
                "least(length(p.term), length('sprak'))::DOUBLE"
            ),
        ),
        "ft_span_near": _sql_span_near("table", "hash", slop=2),
        "ft_tfidf_term": _sql_tfidf_term("scan"),
        "ft_seg_term": _sql_term("spark"),
        "ft_seg_batch": _sql_seg_batch(),
        "ft_sorted_nchars": _sql_sorted_nchars(),
        "ft_sorted_multi": _sql_sorted_multi(),
        "ft_highlight": _sql_highlight(),
        "ft_explain": _sql_explain(),
        "ft_explain_bool": _sql_explain_bool(),
        "ft_scan": _sql_scan(),
        "ft_count_stats": _sql_count_stats(),
        "ft_fql": _sql_fql(),
        "ft_term_stats": _PRELUDE
        + """
SELECT term, df, ttf FROM tstat ORDER BY df DESC, term ASC LIMIT 20
""",
        "ft_corpus_stats": _PRELUDE
        + """
SELECT count(*)::BIGINT AS n_docs, round(avg(doc_len), 6) AS avgdl,
       max(doc_len)::INT AS max_dl, min(doc_len)::INT AS min_dl
FROM dl
""",
        "ft_range_nchars": (
            "SELECT doc_id FROM documents "
            "WHERE n_chars IS NOT NULL AND n_chars >= 100 AND n_chars <= 300 "
            "ORDER BY doc_id"
        ),
        "ft_keyword_lang": (
            "SELECT doc_id FROM documents WHERE lang = 'en' ORDER BY doc_id"
        ),
        "pp_dedup_clusters": _sql_dedup_clusters(),
        "pp_keywords_tfidf": _sql_keywords(),
        "ft_filtered": _sql_filtered(),
        "ft_doc_sha256": (
            "SELECT doc_id, sha256(text) AS sha FROM documents "
            "ORDER BY doc_id LIMIT 100"
        ),
    }
