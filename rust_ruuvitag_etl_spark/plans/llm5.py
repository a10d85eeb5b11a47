"""Fifth LLM-pipeline wave: pretraining-corpus GOVERNANCE operators —
benchmark-contamination detection, Gopher-style repetition filtering,
deterministic domain mixing, and incremental (delta-vs-corpus) dedup.
These are the quality/safety gates a 100 TB training-data pipeline runs
between dedup and packing. Pure DataFrame plans with exact DuckDB
oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as tf
from ..operators import dedup as dd
from ..sources import load
from .registry import query

# Contamination n-gram order. Production runs use 8-13 (the GPT-3/PaLM
# convention); the synthetic corpus's short token-soup docs need n=3 for
# any cross-doc collisions to exist, so the gate pins n=3 — the plan is
# order-agnostic.
_CONTAM_N = 3


@query(
    "contamination_ngram_eval",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
    FROM documents WHERE trim(text) <> ''
),
grams AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
    FROM toks WHERE len(t) >= 3
),
h AS (SELECT doc_id, {tf.h60_sql('g')} AS h FROM grams),
eval_h AS (SELECT DISTINCT h FROM h WHERE doc_id % 97 = 0)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
FROM h
WHERE doc_id % 97 <> 0 AND h IN (SELECT h FROM eval_h)
GROUP BY doc_id
""",
)
def contamination_ngram_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: flag training documents that
    share any word n-gram with the held-out evaluation set (docs with
    ``doc_id % 97 == 0`` stand in for the benchmark suite) — the
    decontamination pass every pretraining corpus runs before training.

    Scale posture: n-grams are hashed to 60-bit longs BEFORE the
    membership check, so what broadcasts is the eval set's distinct
    hashes (benchmark suites are tiny — MBs — against a 100 TB corpus),
    and the training side is a pure broadcast semi-join probe next to
    the scan: the corpus is never shuffled. A 60-bit hash collision can
    flag a clean doc (odds ~2⁻⁶⁰ per pair; production re-verifies
    flagged docs on the raw n-grams); the portable hash family makes
    the oracle reproduce the exact same decisions."""
    docs = dd.spread(load(spark, sf_dir, "documents")).filter(
        F.trim(F.col("text")) != ""
    )
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(tf.shingles(F.col("text"), n=_CONTAM_N))
        ).alias("g"),
    ).select("doc_id", tf.h60(F.col("g")).alias("h"))
    eval_h = grams.filter(F.col("doc_id") % 97 == 0).select("h").distinct()
    return (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(eval_h), "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


@query(
    "text_repetition_filter",
    oracle="""
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
    FROM documents WHERE trim(text) <> ''
),
bi AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)),
               i -> t[i] || ' ' || t[i+1])) AS bigram
    FROM toks WHERE len(t) >= 2
),
cnt AS (
    SELECT doc_id, bigram, CAST(COUNT(*) AS BIGINT) AS c
    FROM bi GROUP BY doc_id, bigram
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS total_bigrams,
       CAST(COUNT(*) AS BIGINT) AS distinct_bigrams,
       CAST(MAX(c) AS BIGINT) AS top_bigram_cnt,
       CAST(SUM(c) - COUNT(*) AS DOUBLE) / SUM(c) AS dup_bigram_frac,
       (MAX(c) * 100 > SUM(c) * 18) AS repetitive
FROM cnt GROUP BY doc_id
""",
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: per-document duplicate-bigram
    fraction and top-bigram share, with the 'repetitive' verdict
    (top bigram >18% of all bigrams — the Gopher threshold) decided in
    EXACT integer arithmetic (``max*100 > total*18``), never a float
    compare that could tie differently across engines.

    Two uniform shuffles — (doc, bigram) count, then per-doc aggregate
    — both partial-aggregated map-side; the bigram explode is in-row.
    The boilerplate/low-quality gate every pretraining pipeline applies
    before packing."""
    docs = dd.spread(load(spark, sf_dir, "documents")).filter(
        F.trim(F.col("text")) != ""
    )
    toks = docs.select(
        "doc_id", tf.ws_tokens(F.lower(F.col("text"))).alias("t")
    ).filter(F.size("t") >= 2)
    bigrams = F.expr(
        "transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i + 1]))"
    )
    cnt = (
        toks.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return cnt.groupBy("doc_id").agg(
        F.sum("c").alias("total_bigrams"),
        F.count(F.lit(1)).alias("distinct_bigrams"),
        F.max("c").alias("top_bigram_cnt"),
        (
            (F.sum("c") - F.count(F.lit(1))).cast("double") / F.sum("c")
        ).alias("dup_bigram_frac"),
        (F.max("c") * 100 > F.sum("c") * 18).alias("repetitive"),
    )


# Target mixture: per-source keep-rate in percent. Head sources are
# upsampled (quality domains), the tail downsampled — the curated-mix
# shape every pretraining run specifies (e.g. books/wiki oversampled vs
# raw web). Literal map → a CASE expression on both engines.
_MIX_RATE_PCT = {
    **{f"src{i}": 80 for i in range(0, 4)},
    **{f"src{i}": 50 for i in range(4, 12)},
    **{f"src{i}": 20 for i in range(12, 20)},
}


def _mix_rate_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{s}' THEN {r}" for s, r in sorted(_MIX_RATE_PCT.items())
    )
    return f"CASE source {whens} ELSE 0 END"


@query(
    "training_mix_sample",
    oracle=f"""
SELECT doc_id, source, lang,
       CAST({_mix_rate_case_sql()} AS INTEGER) AS rate_pct
FROM documents
WHERE {tf.h60_sql("source || ':' || CAST(doc_id AS VARCHAR)")} % 100
      < {_mix_rate_case_sql()}
""",
)
def training_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain mixing: sample each source at its target
    rate (head domains 80%, mid 50%, tail 20%) via the portable hash —
    reproducible across engines, runs, and cluster sizes (no RNG state),
    so the training mixture is a stable, auditable artifact.

    Pure filter on scan-local expressions: zero shuffles, predicate
    evaluated next to the parquet reader; at 100 TB this is exactly a
    full-scan-speed pass. The per-source rate is a broadcast-free CASE
    literal (the mixture spec is configuration, not data)."""
    docs = load(spark, sf_dir, "documents")
    rate = F.lit(0)
    for s, r in sorted(_MIX_RATE_PCT.items()):
        rate = F.when(F.col("source") == s, F.lit(r)).otherwise(rate)
    bucket = tf.h60(
        F.concat_ws(":", F.col("source"), F.col("doc_id").cast("string"))
    ) % 100
    return docs.filter(bucket < rate).select(
        "doc_id", "source", "lang", rate.cast("int").alias("rate_pct")
    )


DELTA_DEDUP_ORACLE = """
WITH fp AS (
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
    FROM documents
),
existing AS (
    SELECT f, MIN(doc_id) AS canonical_id
    FROM fp WHERE doc_id % 10 <> 0 GROUP BY f
),
delta AS (SELECT doc_id, f FROM fp WHERE doc_id % 10 = 0)
SELECT d.doc_id, e.canonical_id,
       (e.canonical_id IS NOT NULL) AS is_dup
FROM delta d LEFT JOIN existing e USING (f)
"""


def confirm_delta(corpus: DataFrame, delta: DataFrame) -> DataFrame:
    """The exact confirm step of incremental dedup: each ``delta``
    (doc_id, f) row with its canonical ``corpus`` doc_id — the lowest
    doc_id sharing its fingerprint — or null, plus ``is_dup``. The delta
    is the broadcast side of both joins; the corpus is never shuffled."""
    matches = (
        corpus.join(
            F.broadcast(delta.select(F.col("doc_id").alias("_did"), "f")), "f"
        )
        .groupBy("_did")
        .agg(F.min("doc_id").alias("canonical_id"))
    )
    return delta.join(
        F.broadcast(matches.withColumnRenamed("_did", "doc_id")),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        "canonical_id",
        F.col("canonical_id").isNotNull().alias("is_dup"),
    )


@query("dedup_incremental_delta", oracle=DELTA_DEDUP_ORACLE)
def dedup_incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the re-crawl shape: a small delta batch
    (docs with ``doc_id % 10 == 0`` stand in for today's crawl) checked
    against the existing corpus's fingerprints, emitting each delta
    doc's canonical existing id (or null if genuinely new).

    Scale posture: the delta is the only thing that ever broadcasts —
    the corpus is scanned once for fingerprints and NEVER shuffled.
    The inner probe (corpus ⨝ broadcast(delta)) finds matches, a
    per-delta-doc min picks the canonical, and the final left join
    broadcasts the (delta-sized) match map back onto the delta. At
    100 TB this is one corpus scan + three broadcast hash joins of
    MB-sized tables; production would additionally prune the corpus
    scan with a bloom/bucket index on the fingerprint."""
    fp = load(spark, sf_dir, "documents").select(
        "doc_id", tf.fingerprint(F.col("text")).alias("f")
    )
    existing = fp.filter(F.col("doc_id") % 10 != 0)
    delta = fp.filter(F.col("doc_id") % 10 == 0)
    return confirm_delta(existing, delta)
