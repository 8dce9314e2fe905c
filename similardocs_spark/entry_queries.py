"""Driver-contract queries: Spark implementations + DuckDB oracle SQL pairs.

Each `q_*(spark, sf_dir)` is a self-contained DataFrame plan over the driver's
parquet tables; `SQL[name]` is the equivalent ANSI SQL that DuckDB runs on the
same tables. Column names and value encodings (floats → *1e6 rounded BIGINT)
match exactly. These validate the engine's building blocks on the driver's
relational corpus; the full Unicode/transcript semantics are covered by pytest
golden tests against the pure-Python oracle.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import bm25
from .index.build import quantize_dl_col
from .functions.tokenize import rerank_tokens as rerank_tokens_udf
from .functions.tokenize import tokenize as tokenize_udf
from .oracle import sqlgen
from .oracle.refsearch import get_min_ngrams
from .textnorm import query_rerank_tokens, query_terms
from .util import read_spread

BM25_QUERY = "key value table scan merge batch"
_BM25_WEIGHTS = query_terms(BM25_QUERY)
_BM25_RERANK = query_rerank_tokens(BM25_QUERY)
_MIN2 = get_min_ngrams(2, len(_BM25_RERANK))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term) distinct prefix tokens per document."""
    # spread the single-file scan so the tokenizer UDF stage runs on every
    # core, not one (scale-adaptive no-op on a wide scan; see util.spread_input)
    return (
        read_spread(spark, f"{sf_dir}/documents.parquet")
        .select("doc_id", F.explode(tokenize_udf(F.col("text"))).alias("term"))
    )


# ------------------------------------------------------------------ 1. term df


def q_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _toks(spark, sf_dir)
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(100)
    )


SQL_TERM_DF = f"""
WITH {sqlgen.stopword_cte()}, {sqlgen.tokens_cte()}
SELECT term, COUNT(*) AS df FROM toks GROUP BY term
ORDER BY df DESC, term ASC LIMIT 100
"""


# ----------------------------------------------------------------- 2. doc stats


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_spread(spark, f"{sf_dir}/documents.parquet")
        .select("doc_id", F.size(tokenize_udf(F.col("text"))).cast("long").alias("dl"))
        .withColumn("dlq", quantize_dl_col(F.col("dl")))
    )


SQL_DOC_STATS = f"""
WITH {sqlgen.stopword_cte()}, {sqlgen.tokens_cte()},
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id)
SELECT d.doc_id, COALESCE(dl.dl, 0) AS dl,
       CAST({sqlgen.dlq_sql('COALESCE(dl.dl, 0)')} AS BIGINT) AS dlq
FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id
"""


# --------------------------------------------------------------- 3. corpus stats


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = q_doc_stats(spark, sf_dir)
    return per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        F.round((F.sum("dl") / F.count("*")) * 1e6).cast("long").alias("avgdl_e6"),
    )


SQL_CORPUS_STATS = f"""
WITH {sqlgen.stopword_cte()}, {sqlgen.tokens_cte()},
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
per AS (SELECT d.doc_id, COALESCE(dl.dl, 0) AS dl
        FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id)
SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl,
       CAST(ROUND((SUM(dl) / COUNT(*)) * 1e6) AS BIGINT) AS avgdl_e6
FROM per
"""


# ----------------------------------------------------------------- 4. BM25 top-k


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure BM25 text score (no MUST constants) for BM25_QUERY over documents."""
    # both feed two subtrees: toks the df-agg and the scoring join, stats
    # (doc_id, dl, dlq) the corpus agg and the tfnorm join
    toks = _toks(spark, sf_dir).localCheckpoint(eager=False)
    stats = q_doc_stats(spark, sf_dir).localCheckpoint(eager=False)
    corpus = stats.agg(
        F.count("*").alias("n_docs"), (F.sum("dl") / F.count("*")).alias("avgdl")
    )
    from .util import local_df

    qterms = F.broadcast(
        local_df(spark, sorted(_BM25_WEIGHTS.items()), "term string, w int")
    )
    dfs = toks.groupBy("term").agg(F.count("*").alias("df"))
    q_idf = (
        qterms.join(dfs, "term")
        .crossJoin(F.broadcast(corpus.select("n_docs")))
        .withColumn(
            "w_idf",
            (
                F.col("w").cast("float")
                * F.log1p(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                ).cast("float")
            ).cast("float"),
        )
        .select("term", "w_idf")
    )
    docs_tf = stats.crossJoin(F.broadcast(corpus.select("avgdl"))).withColumn(
        "tfnorm",
        (
            F.lit(1.0)
            / (
                F.lit(1.0)
                + F.lit(bm25.K1)
                * (F.lit(1.0 - bm25.B) + F.lit(bm25.B) * F.col("dlq") / F.col("avgdl"))
            )
        ).cast("float"),
    )
    return (
        toks.join(F.broadcast(q_idf), "term")
        .join(docs_tf.select("doc_id", "tfnorm"), "doc_id")
        .withColumn("term_score", (F.col("w_idf") * F.col("tfnorm")).cast("float"))
        .groupBy("doc_id")
        .agg(F.sum(F.col("term_score").cast("double")).alias("s"))
        .withColumn("score", F.col("s").cast("float"))
        .select("doc_id", "score")
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _scored(spark, sf_dir)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
        .select(
            "doc_id", F.round(F.col("score").cast("double") * 1e6).cast("long").alias("score_e6")
        )
    )


def _sql_scored() -> str:
    return f"""
WITH {sqlgen.stopword_cte()}, {sqlgen.tokens_cte()}, {sqlgen.qterms_cte(_BM25_WEIGHTS)},
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT d.doc_id, COALESCE(dl.dl, 0) AS dl, {sqlgen.dlq_sql('COALESCE(dl.dl, 0)')} AS dlq
          FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id),
corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) * 1.0 / COUNT(*) AS avgdl FROM stats),
dfs AS (SELECT term, COUNT(*) AS df FROM toks GROUP BY term),
q_idf AS (SELECT q.term,
            CAST(CAST(q.w AS REAL) * {sqlgen.idf_sql('dfs.df', 'corpus.n_docs')} AS REAL) AS w_idf
          FROM q JOIN dfs ON q.term = dfs.term CROSS JOIN corpus),
docs_tf AS (SELECT s.doc_id, {sqlgen.tfnorm_sql('s.dlq', 'corpus.avgdl')} AS tfnorm
            FROM stats s CROSS JOIN corpus),
scored AS (
  SELECT t.doc_id, CAST(SUM(CAST(CAST(qi.w_idf * dt.tfnorm AS REAL) AS DOUBLE)) AS REAL) AS score
  FROM toks t JOIN q_idf qi ON t.term = qi.term JOIN docs_tf dt ON t.doc_id = dt.doc_id
  GROUP BY t.doc_id
)"""


SQL_BM25_TOPK = (
    _sql_scored()
    + """
SELECT doc_id, CAST(ROUND(CAST(score AS DOUBLE) * 1e6) AS BIGINT) AS score_e6
FROM scored ORDER BY score DESC, doc_id ASC LIMIT 20
"""
)


# ------------------------------------------------------- 5. adhoc search (full)


def q_adhoc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline: BM25 pool 150·k → overlap threshold → rerank → top 10.
    documents has no update_date → tiebreak pinned to doc_id asc."""
    pool = 150 * 10
    cands = _scored(spark, sf_dir).orderBy(F.desc("score"), F.asc("doc_id")).limit(pool)
    docs = read_spread(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", rerank_tokens_udf(F.col("text")).alias("rr")
    )
    return (
        cands.join(docs, "doc_id")
        .withColumn(
            "n_common",
            F.size(
                F.array_intersect("rr", F.array(*[F.lit(t) for t in _BM25_RERANK]))
            ).cast("long"),
        )
        .filter(F.col("n_common") >= _MIN2)
        .orderBy(F.desc("n_common"), F.desc("score"), F.asc("doc_id"))
        .limit(10)
        .select(
            "doc_id",
            F.round(F.col("score").cast("double") * 1e6).cast("long").alias("score_e6"),
            F.col("n_common").cast("long").alias("n_common"),
        )
    )


SQL_ADHOC_SEARCH = (
    _sql_scored()
    + f""",
cands AS (SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id ASC LIMIT 1500),
{sqlgen.qtokens_cte(_BM25_RERANK)},
overlap AS (
  SELECT c.doc_id, c.score, COUNT(qtok.term) AS n_common
  FROM cands c
  LEFT JOIN toks t ON c.doc_id = t.doc_id
  LEFT JOIN qtok ON t.term = qtok.term
  GROUP BY c.doc_id, c.score
)
SELECT doc_id, CAST(ROUND(CAST(score AS DOUBLE) * 1e6) AS BIGINT) AS score_e6,
       CAST(n_common AS BIGINT) AS n_common
FROM overlap WHERE n_common >= {_MIN2}
ORDER BY n_common DESC, score DESC, doc_id ASC LIMIT 10
"""
)


# -------------------------------------------------------- 6. categorical filter


def q_filter_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .filter(F.col("source").isin("src1", "src3", "src5"))
        .filter(F.col("lang").isin("en", "es", "pt"))
        .groupBy("source", "lang")
        .agg(F.count("*").alias("cnt"), F.sum("n_chars").alias("sum_chars"))
    )


SQL_FILTER_CATEGORICAL = """
SELECT source, lang, COUNT(*) AS cnt, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE source IN ('src1','src3','src5') AND lang IN ('en','es','pt')
GROUP BY source, lang
"""


# ---------------------------------------------------------- 7. date-range filter


def q_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .filter(F.col("ts").between("2024-01-10", "2024-01-20"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("value") * 1e4).cast("long").alias("sum_value_e4"),
        )
    )


SQL_DATE_RANGE = """
SELECT event_type, COUNT(*) AS cnt,
       CAST(ROUND(SUM(value) * 1e4) AS BIGINT) AS sum_value_e4
FROM events
WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
GROUP BY event_type
"""


# -------------------------------------------------- 8. top-frequency tokens (T11)


def q_top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        read_spread(spark, f"{sf_dir}/documents.parquet")
        .select("lang", F.explode(tokenize_udf(F.col("text"))).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("term"))
    return (
        toks.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
    )


SQL_TOP_TOKENS_PER_LANG = f"""
WITH {sqlgen.stopword_cte()},
toks AS (
  SELECT lang, doc_id, term FROM (
    SELECT DISTINCT lang, doc_id, t[1:6] AS term
    FROM (SELECT lang, doc_id, unnest(string_split_regex(trim(text), ' +')) AS t FROM documents)
    WHERE len(t) >= 3 AND t NOT IN (SELECT w FROM stop)
  )
),
counts AS (SELECT lang, term, COUNT(*) AS cnt FROM toks GROUP BY lang, term),
ranked AS (SELECT lang, term, cnt,
                  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, term ASC) AS rank
           FROM counts)
SELECT lang, term, cnt, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= 5
"""


# ------------------------------------------------- 9. round-robin interleave (K4)


def q_round_robin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """limitDocs semantics (TopIndex.scala:455-478): take the head of each
    group's list in turn until k. Groups = sources; lists = doc_ids asc."""
    k = 10
    per_src = (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(F.slice(F.array_sort(F.collect_list("doc_id")), 1, 5).alias("ids"))
    )
    return (
        per_src.select("source", F.posexplode("ids").alias("pos", "doc_id"))
        .orderBy("pos", "source")
        .limit(k)
        .select("source", F.col("pos").cast("long").alias("pos"), "doc_id")
    )


SQL_ROUND_ROBIN = """
WITH per AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id ASC) - 1 AS pos
  FROM documents
)
SELECT source, CAST(pos AS BIGINT) AS pos, doc_id FROM per
WHERE pos < 5
ORDER BY pos, source LIMIT 10
"""


# ----------------------------------------------------------- 10. distinct users


def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _events(spark, sf_dir).agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


SQL_DISTINCT_USERS = """
SELECT COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events FROM events
"""


from .entry_queries_ops import OPS_QUERIES, OPS_SQL  # noqa: E402
from .entry_queries_rel import REL_QUERIES, REL_SQL  # noqa: E402

QUERIES = {
    "term_df": q_term_df,
    "doc_stats": q_doc_stats,
    "corpus_stats": q_corpus_stats,
    "bm25_topk": q_bm25_topk,
    "adhoc_search": q_adhoc_search,
    "filter_categorical": q_filter_categorical,
    "date_range": q_date_range,
    "top_tokens_per_lang": q_top_tokens_per_lang,
    "round_robin": q_round_robin,
    "distinct_users": q_distinct_users,
    **OPS_QUERIES,
    **REL_QUERIES,
}

SQL = {
    "term_df": SQL_TERM_DF,
    "doc_stats": SQL_DOC_STATS,
    "corpus_stats": SQL_CORPUS_STATS,
    "bm25_topk": SQL_BM25_TOPK,
    "adhoc_search": SQL_ADHOC_SEARCH,
    "filter_categorical": SQL_FILTER_CATEGORICAL,
    "date_range": SQL_DATE_RANGE,
    "top_tokens_per_lang": SQL_TOP_TOKENS_PER_LANG,
    "round_robin": SQL_ROUND_ROBIN,
    "distinct_users": SQL_DISTINCT_USERS,
    **OPS_SQL,
    **REL_SQL,
}
