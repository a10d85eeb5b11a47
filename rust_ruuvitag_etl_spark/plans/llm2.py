"""Second LLM-pipeline wave: language identification via a
corpus-learned character-trigram model, n-gram frequency tables,
rolling-hash fingerprints, and the full LSH→verify dedup composition.

All are pure DataFrame plans (no Python in the hot path) with exact
DuckDB oracles — including the LSH compositions, which became exactly
diffable when the dedup family moved to the portable md5-derived hash
(see plans/_dedup_oracles.py); recall/quality invariants are pinned by
unit tests on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as tf
from ..operators import dedup as dd
from ..sources import load
from . import _dedup_oracles as dor
from .registry import query

# Char trigrams of the lowercased text; 1-based substring on both
# engines. Guarded so sub-3-char docs yield an empty array (Spark's
# sequence(1, 0) would count DOWN, not produce empty).
_TRIGRAMS = (
    "CASE WHEN length(t) >= 3 "
    "THEN transform(sequence(1, length(t) - 2), i -> substring(t, i, 3)) "
    "ELSE array() END"
)


@query(
    "text_langid_trigram",
    oracle="""
WITH d AS (
    SELECT doc_id, lang, lower(trim(text)) AS t FROM documents
),
tri AS (
    SELECT doc_id, lang,
           CASE WHEN length(t) >= 3
                THEN list_transform(range(1, length(t) - 1),
                                    i -> substr(t, i, 3))
                ELSE CAST([] AS VARCHAR[]) END AS tris
    FROM d
),
train AS (
    SELECT lang, unnest(tris) AS tri FROM tri WHERE doc_id % 5 <> 0
),
counts AS (
    SELECT lang, tri, COUNT(*) AS n FROM train GROUP BY lang, tri
),
top AS (
    SELECT lang AS model_lang, tri FROM (
        SELECT lang, tri,
               row_number() OVER (PARTITION BY lang ORDER BY n DESC, tri) AS rn
        FROM counts) WHERE rn <= 50
),
test AS (
    SELECT doc_id, lang, unnest(list_distinct(tris)) AS tri
    FROM tri WHERE doc_id % 5 = 0
),
scored AS (
    SELECT te.doc_id, te.lang, top.model_lang,
           CAST(COUNT(*) AS BIGINT) AS hits
    FROM test te JOIN top ON te.tri = top.tri
    GROUP BY te.doc_id, te.lang, top.model_lang
)
SELECT doc_id, lang, predicted_lang, hits,
       (predicted_lang = lang) AS correct
FROM (
    SELECT doc_id, lang, model_lang AS predicted_lang, hits,
           row_number() OVER (
               PARTITION BY doc_id ORDER BY hits DESC, model_lang) AS rn
    FROM scored) WHERE rn = 1
""",
)
def text_langid_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID as a two-stage relational plan: (train) learn each
    language's top-50 character trigrams from 80% of the corpus, then
    (predict) score held-out docs by distinct-trigram hits against each
    model and argmax. Everything is explode + groupBy + window — the
    trigram model is tiny (langs × 50 rows) so the scoring join
    broadcasts; the only wide shuffles are keyed by (lang, trigram) and
    doc_id, both uniform. Ties break deterministically (hits DESC,
    lang ASC) so the prediction is engine-independent."""
    # spread(): a small local parquet arrives as ONE split, which would
    # pin the trigram explode to one core; at scale the input has enough
    # splits and passes through untouched.
    d = dd.spread(load(spark, sf_dir, "documents")).select(
        "doc_id", "lang", F.lower(F.trim("text")).alias("t")
    )
    tri = d.select("doc_id", "lang", F.expr(_TRIGRAMS).alias("tris"))
    train = tri.filter(F.col("doc_id") % 5 != 0).select(
        "lang", F.explode("tris").alias("tri")
    )
    counts = train.groupBy("lang", "tri").agg(F.count(F.lit(1)).alias("n"))
    w_model = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tri"))
    top = (
        counts.withColumn("rn", F.row_number().over(w_model))
        .filter(F.col("rn") <= 50)
        .select(F.col("lang").alias("model_lang"), "tri")
    )
    test = tri.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", "lang", F.explode(F.array_distinct("tris")).alias("tri")
    )
    scored = (
        test.join(F.broadcast(top), "tri")
        .groupBy("doc_id", "lang", "model_lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    w_pred = Window.partitionBy("doc_id").orderBy(
        F.desc("hits"), F.asc("model_lang")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_pred))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "lang",
            F.col("model_lang").alias("predicted_lang"),
            "hits",
            (F.col("model_lang") == F.col("lang")).alias("correct"),
        )
    )


@query(
    "text_top_bigrams",
    oracle="""
WITH t AS (
    SELECT string_split_regex(lower(trim(text)), '\\s+') AS toks
    FROM documents
)
SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
FROM (
    SELECT unnest(list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i + 1])) AS bigram
    FROM t WHERE len(toks) >= 2)
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 20
""",
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams. The bigram array is built
    in-place from the token array (a narrow transform — no
    self-join/lead window needed), then explode + one count shuffle +
    TakeOrderedAndProject. The n-gram frequency table that seeds
    vocabulary building and boilerplate detection."""
    docs = dd.spread(load(spark, sf_dir, "documents")).select(
        tf.ws_tokens(F.lower(F.col("text"))).alias("toks")
    )
    # Spark arrays are 0-indexed in lambda subscripts (DuckDB's are
    # 1-based; the oracle mirrors with its own indexing).
    bigrams = F.expr(
        "CASE WHEN size(toks) >= 2 "
        "THEN transform(sequence(0, size(toks) - 2), "
        "               i -> concat(toks[i], ' ', toks[i + 1])) "
        "ELSE array() END"
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


@query(
    "text_rolling_hash",
    oracle="""
SELECT doc_id,
       list_reduce(
           list_prepend(CAST(7 AS BIGINT),
               list_transform(string_split_regex(trim(text), '\\s+'),
                   tok -> CAST(LENGTH(tok) * 7 + ascii(substr(tok, 1, 1))
                               AS BIGINT))),
           (acc, x) -> (acc * 31 + x) % 1000000007) AS rhash
FROM documents
""",
)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling hash over the token stream
    (h = (h*31 + f(tok)) mod p): an order-sensitive document fingerprint
    — unlike the md5 fingerprint, prefix-stable, so shifted/extended
    docs share hash prefixes. One fold over an in-row array: zero
    shuffles, whole-stage codegen, engine-portable (no engine hash
    function involved)."""
    docs = load(spark, sf_dir, "documents")
    tok_vals = F.transform(
        tf.ws_tokens(F.col("text")),
        lambda t: (F.length(t) * 7 + F.ascii(F.substring(t, 1, 1))).cast("bigint"),
    )
    rhash = F.aggregate(
        tok_vals,
        F.lit(7).cast("bigint"),
        lambda acc, x: (acc * 31 + x) % 1000000007,
    )
    return docs.select("doc_id", rhash.alias("rhash"))


def _minhash_verified_fast(spark, sf_dir):
    # Production path on the fast hash family (see _minhash_lsh_fast in
    # plans/llm.py for why the registry query pins 'portable').
    docs = load(spark, sf_dir, "documents")
    cands = dd.minhash_lsh_candidates(docs)
    return dd.jaccard_pairs(docs, cands, threshold=0.2)


@query(
    "dedup_minhash_verified",
    oracle=dor.MINHASH_VERIFIED_SQL,
    production=_minhash_verified_fast,
)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup pipeline: MinHash-LSH candidate generation
    (banded equi-join, no cross join) followed by exact 3-gram Jaccard
    verification on the survivors only — the two-phase shape every
    100 TB dedup runs (PAPERS.md: filter-verification similarity join).
    The expensive set intersection touches only LSH candidate pairs,
    i.e. O(candidates), not O(n²)."""
    docs = load(spark, sf_dir, "documents")
    cands = dd.minhash_lsh_candidates(docs, hash_family="portable")
    return dd.jaccard_pairs(docs, cands, threshold=0.2)


@query("dedup_keep_best_canonical", oracle=dor.KEEP_BEST_CANONICAL_SQL)
def dedup_keep_best_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete dedup endgame: MinHash-LSH candidates → exact
    Jaccard verify (≥0.2) → connected components (min-label propagation,
    lineage-checkpointed) → keep the highest-quality doc per cluster.
    Returns the surviving corpus with cluster ids; the row count IS the
    deduplicated corpus size. Every stage is a shuffle keyed by doc/hash
    ids — no cross join, no driver-side data."""
    docs = load(spark, sf_dir, "documents")
    cands = dd.minhash_lsh_candidates(docs, hash_family="portable")
    verified = dd.jaccard_pairs(docs, cands, threshold=0.2).select("id_a", "id_b")
    kept = dd.keep_best_representative(
        docs, verified, quality=tf.quality_score(F.col("text"))
    )
    return kept.select("doc_id", "lang", "source", "cluster")
