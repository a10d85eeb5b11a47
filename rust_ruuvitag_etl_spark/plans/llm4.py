"""Fourth LLM-pipeline wave: text RETRIEVAL primitives — the inverted
index and TF-IDF scoring that turn a document corpus into a searchable /
rankable artifact (the retrieval side of RAG data preparation). Pure
DataFrame plans with exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as tf
from ..operators import dedup as dd
from ..sources import load
from .registry import query


# Posting-list shard fan-out. Sized so the largest per-row posting list
# (and, more importantly, the largest collect_list AGGREGATION BUFFER —
# the thing that actually OOMs an executor) holds ~max_df/S doc ids. At
# 100 TB this is a config scaled to corpus_size / postings_budget; 16 is
# plenty for the test corpora while still exercising the sharded shape.
INDEX_SHARDS = 16


@query(
    "text_inverted_index",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest(list_distinct(
               string_split_regex(lower(trim(text)), '\\s+'))) AS token
    FROM documents WHERE trim(text) <> ''
),
sh AS (
    SELECT token, doc_id % {INDEX_SHARDS} AS shard,
           CAST(COUNT(*) AS BIGINT) AS df_shard,
           list_sort(list(doc_id)) AS postings
    FROM toks
    GROUP BY token, doc_id % {INDEX_SHARDS}
)
SELECT token, CAST(shard AS BIGINT) AS shard, df_shard,
       CAST(SUM(df_shard) OVER (PARTITION BY token) AS BIGINT) AS df,
       postings
FROM sh
QUALIFY df >= 50
""",
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index with SHARDED posting lists: token → (shard,
    postings) rows, keyed by ``(token, doc_id % S)``, plus per-token
    document frequency (restricted to df ≥ 50, the index head).

    Scale posture: a frequent token's postings never concentrate in one
    aggregation buffer or one output row — the groupBy key includes the
    shard, so both the collect_list state and the emitted array are
    bounded by ~df/S per row (a stop-word token that appears in 10⁹ docs
    lands as S rows of 10⁹/S ids each, with S sized to the corpus; an
    unsharded groupBy(token) would funnel all 10⁹ into ONE buffer — the
    construct this plan deliberately avoids). Per-doc distinct happens
    in-row BEFORE the explode so the (doc, token) shuffle carries each
    pair once; the global df is a window SUM over the already-aggregated
    (vocab × S)-row table partitioned by token — uniform and tiny
    relative to the corpus. Consumers address a posting shard by
    (token, shard) and union shards on read."""
    docs = dd.spread(load(spark, sf_dir, "documents")).filter(
        F.trim(F.col("text")) != ""
    )
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(tf.ws_tokens(F.lower(F.col("text"))))
        ).alias("token"),
    )
    sh = toks.groupBy(
        "token", F.pmod("doc_id", F.lit(INDEX_SHARDS)).cast("long").alias("shard")
    ).agg(
        F.count(F.lit(1)).alias("df_shard"),
        F.array_sort(F.collect_list("doc_id")).alias("postings"),
    )
    w = Window.partitionBy("token")
    return (
        sh.withColumn("df", F.sum("df_shard").over(w))
        .filter(F.col("df") >= 50)
        .select("token", "shard", "df_shard", "df", "postings")
    )


@query(
    "text_tfidf_scores",
    oracle="""
WITH d AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
    FROM documents WHERE trim(text) <> ''
),
n AS (SELECT COUNT(*) AS n_docs FROM d),
tf_t AS (
    SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf_raw
    FROM (SELECT doc_id, unnest(toks) AS token FROM d)
    GROUP BY doc_id, token
),
df_t AS (
    SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
    FROM tf_t GROUP BY token
)
SELECT t.doc_id, t.token, t.tf_raw,
       ROUND(t.tf_raw * ln(CAST(n.n_docs AS DOUBLE) / d2.df), 6) AS tfidf
FROM tf_t t JOIN df_t d2 ON d2.token = t.token CROSS JOIN n
WHERE d2.df >= 20 AND t.tf_raw >= 3
""",
)
def text_tfidf_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF term weighting: raw term frequency per (doc, token) ×
    ln(N/df). The document-frequency table is small (vocabulary-sized)
    and broadcasts into the tf table; N is a 1-row broadcast scalar —
    so the only wide shuffle is the (doc, token) count. Output bounded
    to meaningful cells (df ≥ 20, tf ≥ 3). Both engines compute the
    same exact-integer tf/df and one identical ln+multiply, rounded
    once."""
    docs = dd.spread(load(spark, sf_dir, "documents")).filter(
        F.trim(F.col("text")) != ""
    )
    toks = docs.select(
        "doc_id", F.explode(tf.ws_tokens(F.lower(F.col("text")))).alias("token")
    )
    tf_t = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf_raw"))
    df_t = tf_t.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf_t.join(F.broadcast(df_t.filter(F.col("df") >= 20)), "token")
        .filter(F.col("tf_raw") >= 3)
        .crossJoin(F.broadcast(n_docs))  # 1-row broadcast scalar
        .select(
            "doc_id",
            "token",
            "tf_raw",
            F.round(
                F.col("tf_raw")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )


# BM25 (k1=1.2, b=0.75) per-doc scores for the query {data, join,
# filter}: the oracle CTEs d .. scored, shared with retrieval_rrf_fusion.
BM25_CTES = """d AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
    FROM documents WHERE trim(text) <> ''
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(len(toks) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avgdl
    FROM d
),
tf_t AS (
    SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf_raw
    FROM (SELECT doc_id, unnest(toks) AS token FROM d)
    WHERE token IN ('data', 'join', 'filter')
    GROUP BY doc_id, token
),
df_t AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf_t GROUP BY token),
dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
parts AS (
    SELECT t.doc_id, t.token,
           ln((CAST(s.n_docs AS DOUBLE) - d2.df + 0.5) / (d2.df + 0.5) + 1.0)
           * (t.tf_raw * 2.2)
           / (t.tf_raw + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS part
    FROM tf_t t
    JOIN df_t d2 ON d2.token = t.token
    JOIN dl ON dl.doc_id = t.doc_id
    CROSS JOIN stats s
),
scored AS (
    SELECT doc_id,
           COALESCE(MAX(CASE WHEN token = 'data' THEN part END), 0.0)
           + COALESCE(MAX(CASE WHEN token = 'join' THEN part END), 0.0)
           + COALESCE(MAX(CASE WHEN token = 'filter' THEN part END), 0.0)
               AS score
    FROM parts GROUP BY doc_id
)"""


@query(
    "text_bm25_ranking",
    oracle="WITH "
    + BM25_CTES
    + """
SELECT doc_id, ROUND(score, 6) AS bm25,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 20
""",
)
def text_bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword ranking (k1=1.2, b=0.75) for the query
    {data, join, filter}: the retrieval scorer on top of the tf/df
    tables. Corpus stats (N, avgdl) are a 1-row broadcast scalar; the
    df table is vocabulary-small and broadcasts; per-doc term parts sum
    in a FIXED term order (conditional max per term, then one explicit
    addition) so the 3-double sum is engine-identical — a free-order
    SUM would make round-6 ties engine-dependent. Top-20 via
    ``orderBy().limit(20)``, which Spark plans as a distributed
    TakeOrderedAndProject (per-partition partial top-20, then a 20-row
    merge on the driver) — never a single-partition window over every
    scored doc; rank derives from a window over the 20 surviving rows
    only (plan posture pinned in tests/test_plan_posture.py)."""
    docs = dd.spread(load(spark, sf_dir, "documents")).filter(
        F.trim(F.col("text")) != ""
    )
    terms = ["data", "join", "filter"]
    d = docs.select(
        "doc_id", tf.ws_tokens(F.lower(F.col("text"))).alias("toks")
    )
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.size("toks").cast("bigint")).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    toks = d.select("doc_id", F.explode("toks").alias("token")).filter(
        F.col("token").isin(terms)
    )
    tf_t = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf_raw"))
    df_t = tf_t.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    dl = d.select("doc_id", F.size("toks").cast("bigint").alias("dl"))
    part = (
        F.log(
            (F.col("n_docs").cast("double") - F.col("df") + 0.5)
            / (F.col("df") + 0.5)
            + 1.0
        )
        * (F.col("tf_raw") * 2.2)
        / (F.col("tf_raw") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl")))
    )
    parts = (
        tf_t.join(F.broadcast(df_t), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))  # 1-row broadcast scalar
        .select("doc_id", "token", part.alias("part"))
    )
    term_cols = [
        F.coalesce(
            F.max(F.when(F.col("token") == t, F.col("part"))), F.lit(0.0)
        )
        for t in terms
    ]
    score = term_cols[0] + term_cols[1] + term_cols[2]
    scored = parts.groupBy("doc_id").agg(score.alias("score"))
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(20)
    # rank over the 20 surviving rows only (constant-size input — the
    # single-partition exchange here moves 20 rows, not the corpus)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(
            "doc_id",
            F.round("score", 6).alias("bm25"),
            F.col("rank").cast("int").alias("rank"),
        )
    )
