"""LLM-data-pipeline queries (BASELINE.json north star): dedup,
similarity search, text analysis over ``documents`` / ``embeddings``.

Oracle strategy: the whole hash-based family runs on the portable
md5-derived 60-bit hash + Mersenne-31 permutations (functions/text.py),
which DuckDB evaluates identically — so MinHash/SimHash/LSH signatures,
buckets, and candidate pairs are all EXACTLY oracle-diffable (generated
SQL in plans/_dedup_oracles.py). The only rows-only query left is the
approximate IVF top-k, whose recall is pinned by unit tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as tf
from ..operators import dedup as dd
from ..operators import similarity as sim
from ..sources import load
from . import _dedup_oracles as dor
from .registry import query

# --- deduplication --------------------------------------------------------


@query(
    "dedup_exact_documents",
    oracle="""
WITH fp AS (
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
    FROM documents
)
SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS dup_count
FROM fp GROUP BY f
""",
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via normalized-text md5 fingerprint: one shuffle keyed
    by the hash (uniform by construction — no skew at 100 TB), smallest
    doc_id wins deterministically."""
    docs = load(spark, sf_dir, "documents")
    return dd.exact_dedup(docs)


# The bench measures the PRODUCTION path. For the MinHash family that
# means hash_family='fast' (xxhash64 — the operators' default); the
# registry twins pin hash_family='portable' (md5-derived) solely so the
# DuckDB oracle can reproduce signatures bit-for-bit in the correctness
# gate. Same plan shape, same verified-pair semantics (pinned by
# tests/test_llm_ops.py), different per-shingle hash cost.
def _minhash_lsh_fast(spark, sf_dir):
    return dd.minhash_lsh_candidates(load(spark, sf_dir, "documents"))


@query(
    "dedup_minhash_lsh_pairs",
    oracle=dor.MINHASH_LSH_PAIRS_SQL,
    production=_minhash_lsh_fast,
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4 bands) near-dup candidate pairs over 3-gram
    shingles. The banded equi-join shuffles by bucket hash only — no
    quadratic cross join (the PAPERS.md similarity-join pre-filter
    pattern). The portable md5-derived hash family makes the oracle
    exact: DuckDB reproduces signatures, buckets, and pairs bit-for-bit
    (production callers default to hash_family='fast' = xxhash64)."""
    docs = load(spark, sf_dir, "documents")
    return dd.minhash_lsh_candidates(docs, hash_family="portable")


@query("dedup_simhash_candidates", oracle=dor.SIMHASH_CANDIDATES_SQL)
def dedup_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(60-bit) near-dup candidates banded into 4×15-bit chunks
    (pigeonhole: catches all pairs within Hamming distance 3). Portable
    hash family → the oracle reproduces the exact signatures and pairs."""
    docs = load(spark, sf_dir, "documents")
    return dd.simhash_dedup_candidates(docs, hash_family="portable")


@query(
    "dedup_ngram_jaccard_pairs",
    oracle="""
WITH toks AS (
    SELECT doc_id, source,
           string_split_regex(lower(trim(text)), '\\s+') AS t
    FROM documents
),
sh AS (
    SELECT doc_id, source,
           list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 0) + 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
    FROM toks
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4)
           AS jaccard
FROM sh a JOIN sh b
  ON a.source = b.source AND a.doc_id < b.doc_id
WHERE len(a.s) > 0 AND len(b.s) > 0
  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.2
""",
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity for same-source document pairs
    with similarity ≥ 0.2 — planned through the PREFIX FILTER (SSJoin
    lemma at τ=1/5, prefix = n − ⌈n/5⌉ + 1) composed with the source
    equi-key, NOT a within-block theta join: the source blocks grow
    linearly with the corpus, so the old plan's pair space was
    Σ|block|² = O(N²) behind one full-table broadcast. Here the only
    pair-generating shuffle is an equi-join on (prefix shingle, source),
    and prefix keys are each document's globally rarest shingles. The
    exact string-set verify makes the output identical to brute force
    (pinned in tests/test_llm_ops.py) and independent of the hash
    family, so the 'fast' xxhash64 family runs in production AND under
    the unchanged string-based oracle."""
    docs = dd.spread(load(spark, sf_dir, "documents"))
    return dd.jaccard_pairs_prefix(
        docs, tau_num=1, tau_den=5, block_col="source", hash_family="fast"
    )


@query(
    "dedup_embedding_cosine_pairs",
    oracle="""
WITH v AS (
    SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
    FROM embeddings
),
scored AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_sum(list_transform(range(1, len(a.ev) + 1),
                    i -> a.ev[i] * b.ev[i]))
           / (sqrt(list_sum(list_transform(a.ev, x -> x * x)))
              * sqrt(list_sum(list_transform(b.ev, x -> x * x)))) AS c
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND(c, 6) AS cosine FROM scored WHERE c >= 0.3
""",
)
def dedup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs, blocked on label.
    Threshold 0.3 fits this synthetic corpus (near-orthogonal vectors,
    max ≈ 0.47).

    SPEC-LEVEL SEMANTICS QUERY, measured in the bench headline but NOT
    a 100 TB plan: the label blocks grow linearly with the corpus, so
    the within-block pair space is quadratic — and unlike the set case
    (dedup_ngram_jaccard_pairs, re-planned through the SSJoin prefix
    filter) exact DENSE cosine has no deterministic sub-quadratic
    filter to compose: prefix filtering needs sparse sets, RHP-LSH is
    probabilistic (any finite band count misses some >=tau pair), and
    triangle-inequality centroid bounds prune ~nothing on an isotropic
    corpus. The production twin at scale is
    ``dedup_embedding_lsh_pairs`` (banded RHP signatures -> equi-join
    -> exact verify, recall pinned by tests on planted duplicates);
    this query is its exact-recall reference, kept oracle-checkable at
    bench scale like ``histogram_equi_depth``. The embeddings table
    arrives as ONE parquet split at every sf, which would serialize the
    whole within-block pair space on one core (the round-4 semdedup /
    round-8 ssjoin lesson) — spread() round-robins it across the
    executor threads with frame-equal output (8.0 s -> 1.3 s engine-only
    at sf0.1)."""
    em = dd.spread(load(spark, sf_dir, "embeddings"))
    return sim.cosine_near_dup_pairs(em, threshold=0.3, block_col="label")


# Recall floor for the LSH twin's in-query gate, as an integer
# cross-multiplied fraction: 20·|LSH ∩ exact| >= 7·|exact| (i.e. 35%).
# At threshold 0.3 on this ISOTROPIC corpus — RHP-LSH's worst case —
# theory predicts per-bit collision 1−θ/π ≈ 0.597 at θ = 72.5°, so a
# 4-bit band collides with p ≈ 0.127 and ≥1 of 4 bands ≈ 0.42;
# measured recall vs the label-blocked exact reference: 0.476 / 0.477 /
# 0.432 at sf0.001 / 0.01 / 0.1. The floor sits under all three with
# margin while still catching a real collapse (a broken signature or
# band join lands near 0). The production-relevant regime — planted
# near-duplicates at cosine ≳ 0.9, band collision ≈ 0.93 — is pinned
# separately by tests/test_llm_ops.py.
_LSH_RECALL_NUM, _LSH_RECALL_DEN = 7, 20

# The recall_ok column is injected into the shared oracle by textual
# replacement; if the target SELECT line ever drifts, fail HERE at
# import time, not as a confusing column-mismatch in the differential.
_LSH_ORACLE_TARGET = "SELECT id_a, id_b, ROUND(cs, 6) AS cosine FROM scored"
assert _LSH_ORACLE_TARGET in dor.EMBEDDING_LSH_PAIRS_SQL, (
    "EMBEDDING_LSH_PAIRS_SQL drifted: recall_ok injection target missing"
)


@query(
    "dedup_embedding_lsh_pairs",
    oracle=dor.EMBEDDING_LSH_PAIRS_SQL.replace(
        _LSH_ORACLE_TARGET,
        "SELECT id_a, id_b, ROUND(cs, 6) AS cosine, TRUE AS recall_ok"
        " FROM scored",
    ),
)
def dedup_embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH near-dup: 16-bit signature → 4 banded
    equi-joins (shuffle keyed by band bits, never a cross join) → exact
    cosine verify. The 100 TB path for dedup_embedding_cosine_pairs —
    and since round 8 its recall is ORACLE-GATED IN-QUERY (the
    similarity_ivf_topk pattern): the query also computes the exact
    label-blocked reference pair set (quadratic, fine at bench scale —
    the gate is precisely what lets the probabilistic plan replace the
    quadratic one in production) and emits ``recall_ok`` =
    (20·|LSH ∩ exact| >= 7·|exact|); the oracle asserts TRUE, so a
    recall collapse breaks the hash match, not just pytest. Planted
    near-dup recall (the regime production cares about) stays pinned by
    tests/test_llm_ops.py. spread() fixes the one-parquet-split
    serialization of both the signature scan and the exact reference's
    pair space (16.3 s -> ~3 s engine-only at sf0.1; frame-equal
    output)."""
    em = dd.spread(load(spark, sf_dir, "embeddings"))
    # Both constant-size tables feed two consumers each (output +
    # intersect, intersect + count) — checkpoint so the banded join and
    # the quadratic reference each execute once.
    lsh = sim.rhp_lsh_near_dup_pairs(em, threshold=0.3).localCheckpoint(
        eager=True
    )
    exact_ids = (
        # impl='arrow': the quadratic reference's per-pair dot fold runs
        # through the exact sequential Arrow kernel (round 12 — was the
        # query's hottest stage at ~14 s executorRunTime); behind this
        # eager checkpoint, so the returned plan stays Python-free.
        sim.cosine_near_dup_pairs(
            em, threshold=0.3, block_col="label", impl="arrow"
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    flag = (
        exact_ids.intersect(lsh.select("id_a", "id_b"))
        .agg(F.count(F.lit(1)).alias("_hits"))
        .crossJoin(exact_ids.agg(F.count(F.lit(1)).alias("_n")))
        .select(
            (
                _LSH_RECALL_DEN * F.col("_hits")
                >= _LSH_RECALL_NUM * F.col("_n")
            ).alias("recall_ok")
        )
    )
    return lsh.crossJoin(F.broadcast(flag))  # 1-row broadcast flag


# --- text analysis --------------------------------------------------------


@query(
    "text_stats_documents",
    oracle="""
SELECT doc_id, lang, source,
       CAST(LENGTH(text) AS BIGINT) AS n_chars_computed,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       CAST(LENGTH(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS BIGINT)
           AS n_punct
FROM documents
""",
)
def text_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stats: chars, whitespace tokens, punctuation count —
    all codegen'd expressions, zero shuffles."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        "source",
        tf.char_count(F.col("text")).alias("n_chars_computed"),
        tf.token_count(F.col("text")).alias("n_tokens"),
        F.length(F.regexp_replace("text", r"[A-Za-z0-9\s]", ""))
        .cast("long")
        .alias("n_punct"),
    )


@query(
    "text_lang_profile",
    oracle="""
WITH t AS (
    SELECT lang,
           len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
           n_chars
    FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS total_tokens,
       ROUND(AVG(CAST(n_chars AS DOUBLE)), 2) AS avg_chars
FROM t GROUP BY lang
""",
)
def text_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile per language facet: doc counts, token totals,
    average length (the 'what's in this 100 TB crawl' query)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "lang", tf.token_count(F.col("text")).alias("n_tokens"), "n_chars"
    ).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg(F.col("n_chars").cast("double")), 2).alias("avg_chars"),
    )


@query(
    "text_quality_scores",
    oracle="""
WITH t AS (
    SELECT doc_id,
           string_split_regex(lower(trim(text)), '\\s+') AS toks,
           LENGTH(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
           LENGTH(text) AS n_chars
    FROM documents
),
m AS (
    SELECT doc_id,
           CAST(len(list_filter(toks, x -> x IN
               ('the','a','an','and','or','of','to','in','is','it')))
               AS DOUBLE) / len(toks) AS stop_ratio,
           CAST(list_sum(list_transform(toks, x -> LENGTH(x))) AS DOUBLE)
               / len(toks) AS mean_tok_len,
           CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio
    FROM t WHERE len(toks) > 0 AND n_chars > 0
)
SELECT doc_id,
       ROUND((CASE WHEN mean_tok_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END
              + LEAST(stop_ratio * 4.0, 1.0)
              + 1.0 - LEAST(punct_ratio * 4.0, 1.0)) / 3.0, 4) AS quality
FROM m
""",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score per document (functions/text.py
    quality_score): token-length sanity + stopword presence − punctuation
    soup. The standard pre-training quality-filter shape."""
    docs = load(spark, sf_dir, "documents").filter(
        (F.length("text") > 0) & (tf.token_count(F.col("text")) > 0)
    )
    return docs.select(
        "doc_id", tf.quality_score(F.col("text")).alias("quality")
    )


@query(
    "text_token_counts",
    oracle="""
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
            AS BIGINT) AS bpeish_tokens
FROM documents
""",
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and the BPE-ish regex
    (letters-run | digits-run | punct) — the cheap token budget
    estimator for corpus sizing."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tf.token_count(F.col("text")).alias("ws_tokens"),
        tf.bpeish_token_count(F.col("text")).alias("bpeish_tokens"),
    )


@query(
    "text_fingerprint_documents",
    oracle="""
SELECT doc_id,
       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
FROM documents
""",
)
def text_fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (md5 over normalized text) — the join key
    for exact dedup and incremental re-crawl detection."""
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", tf.fingerprint(F.col("text")).alias("fingerprint"))


# --- similarity search ----------------------------------------------------

_SIM_ORACLE = """
WITH q AS (
    SELECT vec_id AS query_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
    FROM embeddings WHERE vec_id < 5
),
c AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
    FROM embeddings
),
scored AS (
    SELECT q.query_id, c.vec_id,
           ROUND(list_sum(list_transform(range(1, len(qv) + 1),
                     i -> qv[i] * cv[i]))
                 / (sqrt(list_sum(list_transform(qv, x -> x * x)))
                    * sqrt(list_sum(list_transform(cv, x -> x * x)))), 6)
               AS cosine
    FROM q, c
),
ranked AS (
    SELECT query_id, vec_id, cosine,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
    FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 10
"""


@query("similarity_bruteforce_topk", oracle=_SIM_ORACLE)
def similarity_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 5 query vectors against the corpus:
    queries broadcast, corpus streams (never shuffled), per-partition
    partial top-k then final window rank — the brute-force ANN baseline
    that scales linearly with corpus size."""
    em = load(spark, sf_dir, "embeddings")
    queries_df = em.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return sim.cosine_topk(em, queries_df, k=10)


@query("similarity_bruteforce_topk_arrow", oracle=_SIM_ORACLE)
def similarity_bruteforce_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow/numpy twin of similarity_bruteforce_topk (same oracle, same
    answer, bit-for-bit): corpus batches score against the broadcast
    query matrix in one vectorized matmul per Arrow batch — the
    dense-math scale path where interpreted HOF lambdas fall behind.
    Parity with the expression variant pinned in tests/test_llm_ops.py."""
    em = load(spark, sf_dir, "embeddings")
    queries_df = em.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return sim.cosine_topk_arrow(em, queries_df, k=10)


def _warehouse_dir() -> str:
    import os

    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "spark-warehouse",
    )


def sf_slug(sf_dir: str) -> str:
    import re

    return re.sub(r"[^0-9A-Za-z]+", "_", sf_dir).strip("_")


def ensure_ivf_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Build-once accessor for the persisted IVF index of this corpus:
    returns (centroids, assigned). The codebook is PART of the persisted
    index (build once per corpus): recomputing k-means per probe would
    dominate probe cost and, worse, a drifted codebook would mismatch
    the stored assignment. Both tables build together, probes only
    read. Shared by the IVF and IVF-PQ probes (plans/llm6.py)."""
    import os

    from ..sources.sinks import register_external_table

    em = load(spark, sf_dir, "embeddings")
    slug = sf_slug(sf_dir)
    table = f"ivf_index_{slug}"
    ctable = f"ivf_centroids_{slug}"
    warehouse = _warehouse_dir()
    # A fresh process (default per-process catalog) must re-REGISTER an
    # index an earlier process already materialized — rebuilding would
    # overwrite files a concurrent session may be reading mid-probe.
    if not spark.catalog.tableExists(ctable):
        cpath = os.path.join(warehouse, ctable)
        if not register_external_table(spark, ctable, cpath):
            centroids = sim.kmeans_centroids(em, n_centroids=8, iters=2)
            (
                centroids.write.mode("overwrite")
                .option("path", cpath)
                .saveAsTable(ctable)
            )
    if not spark.catalog.tableExists(table):
        tpath = os.path.join(warehouse, table)
        if not register_external_table(
            spark, table, tpath, bucket_cols=("centroid_id",), num_buckets=8
        ):
            sim.ivf_build_index(
                em, spark.table(ctable), table, num_buckets=8, path=tpath
            )
    return spark.table(ctable), spark.table(table)


def _ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production IVF path: (build, once per corpus) k-means the
    codebook (2 Lloyd rounds — label-derived centroids gave 0.52 recall
    on this isotropic corpus, k-means clears 0.8), assign every vector
    to its nearest centroid, persist the assignment BUCKETED by
    centroid_id; (probe, per query batch) equi-join the nprobe nearest
    centroids' buckets — the corpus is never re-assigned or shuffled at
    probe time, and bucket pruning means a probe touches ~nprobe/8 of
    the index files at 100 TB."""
    em = load(spark, sf_dir, "embeddings")
    centroids, assigned = ensure_ivf_tables(spark, sf_dir)
    queries_df = em.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return sim.ivf_probe_topk(assigned, centroids, queries_df, k=10, nprobe=5)


# Batch-macro recall floor: ≥75% of the 5×10 exact top-k hits must be
# found by the probe. Measured macro recall with nprobe=5/8 on the
# (isotropic — worst-case for ANN) synthetic corpus: 0.82 / 0.82 / 0.80
# at sf0.001 / 0.01 / 0.1; 0.75 leaves deterministic margin at every
# scale while still catching a real recall collapse.
_IVF_RECALL_FLOOR_HITS = 38  # ceil(0.75 × 5 queries × k=10)


@query(
    "similarity_ivf_topk",
    oracle=_SIM_ORACLE.replace(
        "SELECT query_id, vec_id, cosine, rank FROM ranked",
        "SELECT query_id, vec_id, cosine, rank, TRUE AS recall_ok FROM ranked",
    ),
    # The production ANN path: bucketed-index probe without the
    # brute-force recall twin the registry query carries for the
    # correctness gate (the twin alone is ~a full corpus scan).
    production=_ivf_probe,
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the recall floor enforced IN-QUERY (the sketch
    pattern from the approx-count family: emit the exact twin plus a
    bound flag the oracle asserts TRUE, so the hash gate — not just
    pytest — fails if the approximation degrades).

    The query runs the full production IVF path (:func:`_ivf_probe`:
    k-means codebook → bucketed persisted index → nprobe=4 probe), joins
    the IVF hits against the exact brute-force top-10 computed in the
    same plan, and emits the brute-force rows with a batch-macro
    ``recall_ok`` = (IVF found ≥75% of the 50 exact hits — see
    ``_IVF_RECALL_FLOOR_HITS``). The oracle reproduces the exact rows
    and asserts TRUE — any recall collapse flips the flag and breaks
    the hash match. The probe-only production path (no brute-force
    twin) is what the timing harnesses measure."""
    em = load(spark, sf_dir, "embeddings")
    queries_df = em.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    # Materialize the (50-row) exact result: it feeds BOTH the output
    # and the recall intersect — without the checkpoint the full
    # corpus-scan top-k subplan executes twice.
    bf = sim.cosine_topk(em, queries_df, k=10).localCheckpoint(eager=True)
    ivf_hits = _ivf_probe(spark, sf_dir).select("query_id", "vec_id")
    flag = (
        bf.select("query_id", "vec_id")
        .intersect(ivf_hits)
        .agg(F.count(F.lit(1)).alias("_hits"))
        .select((F.col("_hits") >= _IVF_RECALL_FLOOR_HITS).alias("recall_ok"))
    )
    return bf.crossJoin(F.broadcast(flag)).select(
        "query_id", "vec_id", "cosine", "rank", "recall_ok"
    )


@query(
    "embedding_label_centroids",
    oracle="""
WITH ex AS (
    SELECT label, u.i AS pos, CAST(u.x AS DOUBLE) AS val
    FROM embeddings,
         LATERAL (SELECT UNNEST(embedding) AS x,
                         generate_subscripts(embedding, 1) AS i) u
)
SELECT label, CAST(pos AS INTEGER) AS pos, ROUND(AVG(val), 6) AS centroid_val
FROM ex GROUP BY label, pos
""",
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components via posexplode + groupBy — the
    k-means-style reduce used to build IVF partitions (one shuffle keyed
    by (label, pos): perfectly uniform)."""
    em = load(spark, sf_dir, "embeddings")
    return (
        em.select("label", F.posexplode("embedding").alias("pos0", "val"))
        .select(
            "label",
            (F.col("pos0") + 1).cast("int").alias("pos"),
            F.col("val").cast("double").alias("val"),
        )
        .groupBy("label", "pos")
        .agg(F.round(F.avg("val"), 6).alias("centroid_val"))
    )
