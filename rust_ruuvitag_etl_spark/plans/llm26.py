"""Round-12 wave 3 — the END-TO-END incremental corpus refresh: the
nightly pipeline a production 100 TB corpus actually runs, composed
from the already-proven pieces into ONE registered exact-oracle query.

`corpus_refresh_incremental` processes the deterministic "day-2
arrivals" slice (doc_id % 10 = 0 — the same delta convention as
dedup_bloom_delta / dedup_incremental_delta) against the day-1 corpus
(doc_id % 10 <> 0):

1. EXACT dedup — fingerprint each arrival (md5 of normalized text)
   and drop it if the fingerprint exists in the day-1 canonical map
   OR an earlier arrival in the same delta batch carries it
   (first-arrival-wins within the batch, day-1 always wins across).
2. NEAR dedup — MinHash-LSH (portable hash family, the
   dedup_minhash_verified constants: 16 hashes, 4 bands) bands the
   surviving arrivals against the day-1 SURVIVORS only, verifies
   candidates with exact 3-gram Jaccard, and drops arrivals at
   jaccard >= 0.2 to an existing survivor.
3. SPLIT stability — admitted docs get the content-independent
   train/validation/test assignment (hash(doc_id) mod 100, the
   corpus_split_assign contract); the query MEASURES, by computing
   day-1 survivors' assignments through both the day-1-only relation
   and the refreshed-corpus relation and counting disagreements, that
   the refresh never reassigns a day-1 survivor
   (``split_stability_ok`` — the oracle computes the same comparison,
   so the flag is exact, not asserted).
4. IVF segment append — the admitted docs' embeddings are assigned to
   the day-1-trained centroids as a NEW segment (base files never
   rewritten — the similarity_ivf_append_maintain discipline), and
   ``ivf_append_parity_ok`` measures that base-assignment ∪ appended-
   segment equals a from-scratch assignment of the refreshed corpus,
   row for row (engine-measured; the oracle asserts TRUE — the one
   float-bearing stage, kept out of the exact outputs).

Everything else in the output row — arrival/duplicate/admission
counts, the admitted docs' split distribution, the appended vector
count — is integer and replayed exactly by the DuckDB oracle through
the same stages.

Scale posture (100 TB nightly): every stage is delta-proportional
except the two deliberate corpus-side artifacts that production would
PERSIST between runs (the fingerprint canonical map and the LSH band
table — here derived in-query because the oracle must see one
self-contained plan; dedup_bloom_delta and dedup_deletion_propagate
already prove the persisted/bloom-pruned forms). Candidate volume is
banded, the Jaccard verify is candidate-sized, the split is
scan-local, and the IVF append touches only new vectors. No stage
shuffles the full corpus more than once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as tf
from ..operators import dedup as dd
from ..operators import similarity as sim
from ..sources import load
from ._dedup_oracles import BANDS, N_HASHES, _JACCARD_CTES, minhash_band_ctes
from .llm12 import _SPLIT_EXPR_SQL, _TRAIN_LT, _VAL_LT, _bucket
from .registry import query

_REFRESH_DELTA_MOD = 10  # doc_id % 10 == 0 -> "day-2 arrival"
_REFRESH_JACCARD = 0.2  # near-dup admission threshold (house constant)
_REFRESH_CENTROIDS = 8


def _refresh_oracle() -> str:
    split_case = f"""CASE WHEN ({_SPLIT_EXPR_SQL}) < {_TRAIN_LT} THEN 'train'
                WHEN ({_SPLIT_EXPR_SQL}) < {_VAL_LT} THEN 'validation'
                ELSE 'test' END"""
    return f"""
WITH fp AS (
    SELECT doc_id, text,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
    FROM documents
),
day1 AS (SELECT * FROM fp WHERE doc_id % {_REFRESH_DELTA_MOD} <> 0),
d1canon AS (SELECT f, MIN(doc_id) AS canonical_id FROM day1 GROUP BY f),
d1surv AS (SELECT canonical_id AS doc_id FROM d1canon),
delta AS (SELECT * FROM fp WHERE doc_id % {_REFRESH_DELTA_MOD} = 0),
dmin AS (SELECT f, MIN(doc_id) AS dmin FROM delta GROUP BY f),
dflag AS (
    SELECT d.doc_id,
           (c.canonical_id IS NOT NULL OR d.doc_id > m.dmin) AS exact_dup
    FROM delta d
    LEFT JOIN d1canon c ON c.f = d.f
    JOIN dmin m ON m.f = d.f
),
d2 AS (SELECT doc_id FROM dflag WHERE NOT exact_dup),
corp AS (
    SELECT p.doc_id, p.text FROM fp p
    WHERE p.doc_id IN (SELECT doc_id FROM d1surv)
       OR p.doc_id IN (SELECT doc_id FROM d2)
),
{minhash_band_ctes('corp')},
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM buckets a
    JOIN buckets b ON a.band = b.band AND a.bh = b.bh
                  AND a.doc_id <> b.doc_id
    JOIN d1surv s ON s.doc_id = a.doc_id
    JOIN d2 t ON t.doc_id = b.doc_id
),
{_JACCARD_CTES},
near AS (
    SELECT DISTINCT id_b AS doc_id FROM jac
    WHERE jaccard >= {_REFRESH_JACCARD}
),
newdocs AS (
    SELECT doc_id FROM d2
    WHERE doc_id NOT IN (SELECT doc_id FROM near)
),
spl AS (
    SELECT doc_id, {split_case} AS split FROM newdocs
),
s1 AS (SELECT doc_id, {split_case} AS split FROM d1surv),
refreshed AS (
    SELECT doc_id FROM day1 UNION ALL SELECT doc_id FROM delta
),
s2 AS (
    SELECT r.doc_id, {split_case} AS split
    FROM refreshed r JOIN d1surv USING (doc_id)
),
stab AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_mismatch
    FROM s1 JOIN s2 USING (doc_id)
    WHERE s1.split <> s2.split
),
vecs AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors_appended
    FROM embeddings e JOIN newdocs n ON e.vec_id = n.doc_id
)
SELECT
    (SELECT CAST(COUNT(*) AS BIGINT) FROM day1) AS n_day1,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM d1surv) AS n_day1_survivors,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM delta) AS n_delta,
    (SELECT CAST(SUM(CASE WHEN exact_dup THEN 1 ELSE 0 END) AS BIGINT)
        FROM dflag) AS n_exact_dup,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM near) AS n_near_dup,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM newdocs) AS n_new_docs,
    (SELECT CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
        AS BIGINT) FROM spl) AS n_train,
    (SELECT CAST(SUM(CASE WHEN split = 'validation' THEN 1 ELSE 0 END)
        AS BIGINT) FROM spl) AS n_validation,
    (SELECT CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
        AS BIGINT) FROM spl) AS n_test,
    (SELECT n_mismatch = 0 FROM stab) AS split_stability_ok,
    (SELECT n_vectors_appended FROM vecs) AS n_vectors_appended,
    TRUE AS ivf_append_parity_ok
"""


@query("corpus_refresh_incremental", oracle=_refresh_oracle())
def corpus_refresh_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ONE registered run of the nightly incremental refresh loop —
    exact dedup → near dedup vs day-1 survivors → stable split
    assignment → IVF segment append — with every data-dependent count
    replayed exactly by the oracle and both pipeline invariants
    (split stability, append/rebuild parity) measured in-query. See
    the module docstring for stage semantics and scale posture."""
    docs = dd.spread(load(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    # ~10 downstream branches (counts, canonical map, band corpus,
    # split relations) all derive from the fingerprint projection —
    # materialize it ONCE so each branch reads a tiny table instead of
    # re-running the scan + md5 (at 100 TB this is the persisted
    # fingerprint artifact the module docstring describes). Round 13
    # (guide §2.3 project before materializing): (doc_id, f) ONLY — no
    # downstream consumer reads fp.text (the near-dup chain re-reads
    # ``docs`` for its shingles), so carrying the corpus text through
    # the checkpoint was pure materialization cost.
    fp = docs.select(
        "doc_id", tf.fingerprint(F.col("text")).alias("f")
    ).localCheckpoint(eager=True)
    day1 = fp.filter(F.col("doc_id") % _REFRESH_DELTA_MOD != 0)
    d1canon = (
        day1.groupBy("f")
        .agg(F.min("doc_id").alias("canonical_id"))
        .localCheckpoint(eager=True)  # reused by dflag join + survivors
    )
    d1surv = d1canon.select(F.col("canonical_id").alias("doc_id"))
    delta = fp.filter(F.col("doc_id") % _REFRESH_DELTA_MOD == 0)
    dmin = delta.groupBy("f").agg(F.min("doc_id").alias("dmin"))
    dflag = (
        delta.join(d1canon, "f", "left")
        .join(dmin, "f")
        .select(
            "doc_id",
            (
                F.col("canonical_id").isNotNull()
                | (F.col("doc_id") > F.col("dmin"))
            ).alias("exact_dup"),
        )
        .localCheckpoint(eager=True)  # feeds the dup count AND d2
    )
    d2 = dflag.filter(~F.col("exact_dup")).select("doc_id")

    # Codebook training is independent of the near-dup chain (it needs
    # only d1surv, checkpointed above): train it on a concurrent driver
    # thread so its 2-iteration k-means cascade overlaps the LSH band
    # join + Jaccard verify below instead of serializing after them
    # (guide §2.6 — overlap independent jobs; measured 2.6 s of
    # builder wall hidden behind the 4.2 s LSH chain). InheritableThread
    # propagates the JVM thread-locals (job descriptions/groups).
    from pyspark import InheritableThread

    emb = load(spark, sf_dir, "embeddings")
    d1vec = emb.join(
        d1surv.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left_semi"
    )
    _train_out: dict = {}

    def _train_codebook() -> None:
        try:
            _train_out["cents"] = sim.kmeans_centroids(
                d1vec, n_centroids=_REFRESH_CENTROIDS, iters=2
            ).localCheckpoint(eager=True)
        except BaseException as e:  # surface on join() below
            _train_out["err"] = e

    _trainer = InheritableThread(target=_train_codebook)
    _trainer.start()

    # near-dup: band the relevant corpus once (day-1 survivors + the
    # exact-surviving arrivals), candidates restricted day1 x delta
    keep = d1surv.unionAll(d2).localCheckpoint(eager=True)
    corp = docs.join(keep, "doc_id", "left_semi")
    buckets = dd.minhash_band_buckets(
        corp, n_hashes=N_HASHES, bands=BANDS, hash_family="portable"
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .join(
            d1surv.withColumnRenamed("doc_id", "_sid"),
            F.col("a.doc_id") == F.col("_sid"),
            "left_semi",
        )
        .join(
            d2.withColumnRenamed("doc_id", "_tid"),
            F.col("b.doc_id") == F.col("_tid"),
            "left_semi",
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .distinct()
    )
    jac = dd.jaccard_pairs(corp, cand, threshold=_REFRESH_JACCARD)
    # near feeds ONLY the admission anti-join below (round 12: the
    # separate near-count branch and its eager checkpoint cascade are
    # gone — near ⊆ d2 by construction (cand's b-side is semi-joined
    # to d2), so |near| = |d2| - |newdocs| = (n_delta - n_exact_dup)
    # - n_new_docs, an arithmetic identity computed in the counts tail;
    # the LSH+verify chain still runs exactly once, inside newdocs'
    # checkpoint, whose cascade the candidate table's own checkpoint
    # in jaccard_pairs keeps candidate-sized).
    near = jac.select(F.col("id_b").alias("doc_id")).distinct()
    newdocs = d2.join(near, "doc_id", "left_anti").localCheckpoint(
        eager=True
    )  # feeds split counts, stability scope is d1surv, and the append

    bkt = _bucket()
    split_col = (
        F.when(bkt < _TRAIN_LT, F.lit("train"))
        .when(bkt < _VAL_LT, F.lit("validation"))
        .otherwise(F.lit("test"))
    )
    spl_counts = newdocs.select(split_col.alias("split")).agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "validation", 1).otherwise(0))
        .cast("long")
        .alias("n_validation"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
    )

    # split stability: day-1 survivors assigned through the day-1-only
    # relation vs through the refreshed-corpus relation — measured
    s1 = d1surv.select("doc_id", split_col.alias("split_a"))
    refreshed = day1.select("doc_id").unionAll(delta.select("doc_id"))
    s2 = refreshed.join(d1surv, "doc_id", "left_semi").select(
        "doc_id", split_col.alias("split_b")
    )
    stab = (
        s1.join(s2, "doc_id")
        .filter(F.col("split_a") != F.col("split_b"))
        .agg(F.count(F.lit(1)).alias("_m"))
        .select((F.col("_m") == 0).alias("split_stability_ok"))
    )

    # IVF segment append: new vectors assigned to day-1 centroids as a
    # fresh segment; parity vs a from-scratch refreshed assignment.
    # The codebook trained concurrently above (guide §2.6); join the
    # trainer thread and surface any failure here.
    newvec = emb.join(
        newdocs.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left_semi"
    ).localCheckpoint(eager=True)
    _trainer.join()
    if "err" in _train_out:
        raise _train_out["err"]
    cents = _train_out["cents"]
    base_assign = sim.ivf_assign(d1vec, cents)
    seg_append = sim.ivf_assign(newvec, cents)
    rebuild = sim.ivf_assign(d1vec.unionAll(newvec), cents)
    maintained = base_assign.unionAll(seg_append)
    parity = (
        rebuild.exceptAll(maintained)
        .unionAll(maintained.exceptAll(rebuild))
        .agg(F.count(F.lit(1)).alias("_d"))
        .select((F.col("_d") == 0).alias("ivf_append_parity_ok"))
    )
    nvec = newvec.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors_appended")
    )

    counts = (
        day1.agg(F.count(F.lit(1)).cast("long").alias("n_day1"))
        .crossJoin(
            F.broadcast(
                d1surv.agg(
                    F.count(F.lit(1)).cast("long").alias("n_day1_survivors")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                delta.agg(F.count(F.lit(1)).cast("long").alias("n_delta"))
            )
        )
        .crossJoin(
            F.broadcast(
                dflag.agg(
                    F.sum(F.when(F.col("exact_dup"), 1).otherwise(0))
                    .cast("long")
                    .alias("n_exact_dup")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                newdocs.agg(
                    F.count(F.lit(1)).cast("long").alias("n_new_docs")
                )
            )
        )
        # |near| = |d2| - |newdocs| with d2 = delta minus exact dups:
        # exact because near ⊆ d2 (cand semi-joins its b-side to d2)
        # and newdocs = d2 anti-join near — same value the oracle's
        # COUNT(*) FROM near computes, without a second execution of
        # the LSH+verify chain just to count it.
        .withColumn(
            "n_near_dup",
            F.col("n_delta") - F.col("n_exact_dup") - F.col("n_new_docs"),
        )
    )
    return (
        counts.crossJoin(F.broadcast(spl_counts))
        .crossJoin(F.broadcast(stab))
        .crossJoin(F.broadcast(nvec))
        .crossJoin(F.broadcast(parity))
        .select(
            "n_day1",
            "n_day1_survivors",
            "n_delta",
            "n_exact_dup",
            "n_near_dup",
            "n_new_docs",
            "n_train",
            "n_validation",
            "n_test",
            "split_stability_ok",
            "n_vectors_appended",
            "ivf_append_parity_ok",
        )
    )
