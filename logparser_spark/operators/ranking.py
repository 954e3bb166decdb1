"""BM25 relevance ranking: score corpus documents against query strings.

Okapi BM25 (Robertson & Zaragoza, FnTIR 2009) with Lucene's
non-negative idf variant ``ln(1 + (N - df + 0.5)/(df + 0.5))`` — the
standard tool for domain-targeted corpus filtering ("keep documents
relevant to these seed queries") in training-data pipelines.

Cross-engine exactness: each (term, doc) contribution becomes an
integer *micro-score* ``floor(x·10^6 + 0.5)``, then sums as BIGINTs —
so the per-(query, doc) total is EXACT integer arithmetic and immune to
float summation order (DuckDB and Spark may sum doubles in different
orders; integers commute).  The per-term double math (idf, tf
saturation) is computed from identical inputs with identical formulas
on both engines; 6-dp rounding absorbs a last-ulp ``ln`` divergence
EXCEPT in the measure-zero case where ``x·10^6 + 0.5`` lands exactly on
an integer boundary AND the engines' ``ln`` differ in the last ulp at
that input — Java's ``Math.log`` and DuckDB's libm are not contractually
bit-identical, so a hash mismatch there is possible in principle
(astronomically rare at gate scale: it needs a specific (df, tf, dl)
triple whose score sits within one ulp of a rounding boundary).  If it
ever bites, the fix is a driver-injected ``%.17e`` idf constant table
per distinct df value (the cross-engine float idiom used elsewhere in
this repo); not done pre-emptively because the constant table couples
the oracle to the corpus statistics.

Scale shape: term frequencies and document frequencies are map-side
combinable hash aggregates over the exploded token table; the query
term set is tiny by construction (seed queries) → broadcast; only
matching (doc, term) rows reach the per-(query, doc) sum.  Documents
sharing no query term never shuffle — the decontaminate lesson.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logparser_spark.functions.text import tokens_expr

#: micro-score scale: 6 dp per term contribution, summed exactly
_BM25_SCALE = 1_000_000


def _bm25_contrib(n_docs, avgdl, k1: float, b: float):
    """Integer micro-score of one (term, doc) row from its ``df``, ``tf``
    and ``dl`` columns, given the corpus ``n_docs`` and ``avgdl`` as double
    columns.  Both :func:`bm25_scores` and :func:`bm25_topk_from_cells`
    score through this one expression, which keeps the streaming
    finalizer bit-exact with batch."""
    idf = F.log(
        F.lit(1.0)
        + (n_docs - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    sat = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * (F.col("dl") / avgdl))
    )
    # floor(x·10^6 + 0.5): explicit half-up to integer micro-score —
    # identical on both engines (Spark's double→bigint CAST truncates
    # while DuckDB's rounds, so neither cast is used bare)
    return F.floor(idf * sat * _BM25_SCALE + F.lit(0.5)).cast("bigint")


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score every (query, doc) pair sharing ≥ 1 term:
    (query_id, id, score_micro) with ``score_micro = Σ_t floor(idf_t ·
    tf-sat · 10^6 + 0.5)`` as an exact BIGINT.

    ``queries`` is a small frame of (query_id, query) seed strings —
    its distinct terms broadcast.  Docs with no overlap are absent
    (filter semantics: a relevance threshold keeps the matched tail).
    """
    toks = docs.select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
    ).first()
    n_docs = stats["n_docs"]
    # avgdl as an exact rational: total tokens / n_docs, both BIGINTs —
    # shipped into the formula as the SAME double on both engines
    total_tokens = toks.count()
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    q_terms = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(tokens_expr(query_text_col)).alias("term"),
        ).distinct()
    )

    contrib = _bm25_contrib(
        F.lit(float(n_docs)), F.lit(total_tokens / n_docs), k1, b
    )
    q_term_set = q_terms.select("term").distinct()
    return (
        tf.join(F.broadcast(q_terms), "term")
        .join(F.broadcast(df_t.join(F.broadcast(q_term_set), "term")), "term")
        .join(dl, id_col)
        .groupBy("query_id", id_col)
        .agg(F.sum(contrib).alias("score_micro"))
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    **kw,
) -> DataFrame:
    """Top-k docs per query by BM25: (query_id, id, score_micro, rank).
    Deterministic ties: (score desc, id asc); map-side pruned by Spark's
    WindowGroupLimit like every top-k in this repo."""
    from pyspark.sql import Window

    id_col = kw.get("id_col", "doc_id")
    scored = bm25_scores(docs, queries, **kw)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col(id_col)
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def bm25_topk_from_cells(
    cells: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Finalize streaming BM25 cells into per-window rankings:
    (win_start, query_id, id, score_micro, rank) — the batch half of
    :func:`~logparser_spark.streaming.stream.streaming_bm25_cells`.

    Cells carry only INTEGER counts (the streaming side never touches a
    float): matched rows (doc, term, tf, dl) plus one sentinel stats
    row per (window, shard) holding that shard's (n_docs,
    total_tokens).  Everything derived is recomputed here with the SAME
    JVM expression as :func:`bm25_scores` (``_bm25_contrib``) — ``df``
    per (window, term) is the matched-row count (tf rows are one-per-doc,
    so counting them IS the document frequency), window totals are exact
    BIGINT sums over the shard sentinels, and ``avgdl``/``idf``/
    tf-saturation are IEEE double ops on the same exact-integer inputs —
    so a finalized window's top-k equals batch :func:`bm25_topk` over
    that window's documents EXACTLY, not approximately (pinned by test).
    """
    from pyspark.sql import Window

    q_terms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(tokens_expr(query_text_col)).alias("term"),
    ).distinct()
    stats = cells.groupBy("win_start").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_tokens").alias("total_tokens"),
    )
    matched = cells.filter(F.col("term").isNotNull()).select(
        "win_start", F.col(id_col), "term", "tf", "dl"
    )
    dft = matched.groupBy("win_start", "term").agg(
        F.count(F.lit(1)).alias("df")
    )
    # integer inputs are exact doubles (< 2^53), so every intermediate
    # double of the shared scoring expression is identical to batch's
    n_docs_d = F.col("n_docs").cast("double")
    contrib = _bm25_contrib(
        n_docs_d, F.col("total_tokens").cast("double") / n_docs_d, k1, b
    )
    scored = (
        matched.join(F.broadcast(q_terms), "term")
        .join(F.broadcast(dft), ["win_start", "term"])
        .join(F.broadcast(stats), "win_start")
        .groupBy("win_start", "query_id", id_col)
        .agg(F.sum(contrib).alias("score_micro"))
    )
    w = Window.partitionBy("win_start", "query_id").orderBy(
        F.col("score_micro").desc(), F.col(id_col)
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def bm25_topk_sql(
    src: str,
    queries_sql: str,
    toks_sql_fn,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB twin of :func:`bm25_topk`.  ``toks_sql_fn(col)`` must be
    the caller's token-list SQL builder (same tokenization as Spark)."""
    dtoks = toks_sql_fn(text_col)
    # E-notation constants: DuckDB parses plain decimals as DECIMAL
    k1e, be, k1p1 = f"{k1:.17e}", f"{b:.17e}", f"{k1 + 1.0:.17e}"
    one_minus_b = f"{1.0 - b:.17e}"
    return f"""
WITH toks AS (
  SELECT {id_col}, unnest({dtoks}) AS term FROM {src}),
tf AS (SELECT {id_col}, term, count(*) AS tf FROM toks GROUP BY {id_col}, term),
dl AS (SELECT {id_col}, count(*) AS dl FROM toks GROUP BY {id_col}),
stats AS (
  SELECT (SELECT count(*) FROM {src}) AS n_docs,
         (SELECT count(*) FROM toks) AS total_tokens),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
qt AS (
  SELECT DISTINCT query_id, unnest({toks_sql_fn('query')}) AS term
  FROM ({queries_sql})),
scored AS (
  SELECT qt.query_id, tf.{id_col},
         -- association mirrors Spark exactly: idf * (num/denom) * scale
         CAST(sum(CAST(floor(
           ln(1.0 + (CAST(s.n_docs AS DOUBLE) - dft.df + 0.5)
                     / (dft.df + 0.5))
           * ((tf.tf * {k1p1})
              / (tf.tf + {k1e} * ({one_minus_b} + {be}
                 * (dl.dl / (s.total_tokens * 1.0 / s.n_docs)))))
           * {_BM25_SCALE} + 0.5) AS BIGINT)) AS BIGINT) AS score_micro
  FROM tf
  JOIN qt USING (term)
  JOIN dft USING (term)
  JOIN dl USING ({id_col})
  CROSS JOIN stats s
  GROUP BY qt.query_id, tf.{id_col}),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score_micro DESC, {id_col}) AS rank
  FROM scored)
SELECT query_id, {id_col}, score_micro, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""
