"""Round-7 second wave: in-engine k-means TRAINING made oracle-checkable
(the float Lloyd behind the IVF/SemDeDup codebooks —
``operators/similarity.py:kmeans_centroids`` — can't be hash-gated
because float means aren't engine-reproducible; this is the same fold in
exact integer arithmetic, so the training loop itself gets a
differential gate), hybrid-retrieval
rank fusion (RRF, Cormack et al. 2009 — the standard way to combine a
lexical and a second ranker in RAG data prep), asymmetric CONTAINMENT
dedup (catches a small document embedded in a large one — the case
Jaccard structurally misses because the union is dominated by the big
doc), and k-anonymity suppression (the governance primitive: publish
only equivalence classes of size ≥ k, generalize the rest).

All four are exact-oracle queries. The k-means fold is integer
fixed-point (micro-quantized vectors, floor-division centroid means) so
the unrolled-CTE DuckDB oracle reproduces every iteration bit-for-bit —
the same discipline as the PageRank / Holt-Winters oracles.

Registered AFTER the earlier families so the driver's first-50
correctness sample keeps the reference-parity surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as tf
from ..functions import vectors as vf
from ..operators import dedup as dd
from ..sources import load
from ..streaming.pipeline import run_available_now
from .llm4 import BM25_CTES
from .registry import REGISTRY, query

# --- k-means Lloyd -----------------------------------------------------

K_CLUSTERS = 8
LLOYD_ITERS = 3
DIM = 64
Q_SCALE = 1_000_000  # micro-unit fixed point: float32 -> exact BIGINT

# --- RRF fusion ---------------------------------------------------------

RRF_K = 60  # the constant from Cormack et al. 2009
RRF_TOP = 20  # per-retriever candidate depth
_TERMS = ("data", "join", "filter")  # same query as text_bm25_ranking

# --- containment dedup --------------------------------------------------

CONT_DF_CAP = 50  # stop-shingle cap, mirrored in the oracle (spec, not
# a recall hole: frequent shingles carry no identity evidence)
CONT_MIN_SHINGLES = 5  # docs with fewer capped shingles are too small
# for a containment claim
# containment threshold tau = 4/5, applied as the integer gate
# 5*I >= 4*n_contained (no float comparison on the gate)

# --- k-anonymity ---------------------------------------------------------

K_ANON = 5
LEN_BUCKET = 500  # chars per quasi-identifier length bucket

# --- PCA power iteration --------------------------------------------------

PCA_ITERS = 3

# --- MMR diverse re-ranking ------------------------------------------------

MMR_K = 5  # greedy selections
MMR_POOL = 20  # shortlist depth the greedy loop runs over
MMR_QUERY_ID = 0  # the deterministic query vector
# lambda = 0.5, written as 0.5*rel - 0.5*maxsim (0.5 scaling is exact)


# Oracle CTEs of the integer Lloyd fold: qvs (micro-quantized vectors)
# and c0 (the K lowest vec_ids as initial centroids).
_KM_HEAD = f"""
WITH qvs AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {Q_SCALE}) AS BIGINT)) AS qv
    FROM embeddings
),
c0 AS (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster,
           qv AS cv
    FROM qvs ORDER BY vec_id LIMIT {K_CLUSTERS}
)"""


def _km_assign_ctes(t: int, cols: str) -> str:
    """CTEs s{t} (each vector's squared L2 to every centroid of
    c{t-1}) and a{t} (``cols`` of its nearest, ties to the lower
    cluster id), each preceded by a comma."""
    return f""",
s{t} AS (
    SELECT v.vec_id, v.qv, c.cluster,
           list_sum(list_transform(range(1, {DIM} + 1),
               i -> (v.qv[i] - c.cv[i]) * (v.qv[i] - c.cv[i]))) AS d
    FROM qvs v CROSS JOIN c{t - 1} c
),
a{t} AS (
    SELECT {cols}
    FROM (SELECT *, row_number() OVER (
              PARTITION BY vec_id ORDER BY d, cluster) AS rn FROM s{t})
    WHERE rn = 1
)"""


def _kmeans_oracle() -> str:
    """Unrolled Lloyd CTE: init = the K lowest vec_ids, then
    ``LLOYD_ITERS`` × (nearest-centroid assign with (dist, cluster)
    tie-break, floor-mean update). Integer throughout, so the oracle is
    exact, not approximate."""
    parts = [_KM_HEAD]
    for t in range(1, LLOYD_ITERS + 1):
        parts.append(
            _km_assign_ctes(t, "vec_id, qv, cluster")
            + f""",
g{t} AS (
    SELECT cluster, dims.i AS dim,
           CAST(floor(CAST(SUM(qv[dims.i]) AS DOUBLE) / COUNT(*))
                AS BIGINT) AS c,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM a{t} CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS i) dims
    GROUP BY cluster, dims.i
),
c{t} AS (
    SELECT cluster, list(c ORDER BY dim) AS cv FROM g{t} GROUP BY cluster
)"""
        )
    parts.append(
        f"""
SELECT cluster, CAST(dim AS BIGINT) AS dim, c, n FROM g{LLOYD_ITERS}
"""
    )
    return "".join(parts)


def _quantize(em: DataFrame) -> DataFrame:
    """(vec_id, qv): embeddings (a table or a stream) in micro-units."""
    return em.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * Q_SCALE).cast("long"),
        ).alias("qv"),
    )


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _quantize(load(spark, sf_dir, "embeddings"))


def _sq_dist() -> Column:
    """Exact int64 squared L2 between the ``qv`` and ``cv`` arrays."""
    return F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _init_centroids(vecs: DataFrame) -> DataFrame:
    """Deterministic init: the K lowest vec_ids become clusters 0..K-1.
    limit(K) plans as TakeOrderedAndProject; the row_number window runs
    over those K rows only (constant-size input)."""
    first = vecs.orderBy("vec_id").limit(K_CLUSTERS)
    w = Window.orderBy("vec_id")
    return first.select(
        (F.row_number().over(w) - 1).cast("long").alias("cluster"),
        F.col("qv").alias("cv"),
    )


def _assign_int(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest centroid under exact integer squared L2; ties break to
    the lowest cluster id (min over (d, cluster) structs). The centroid
    side is K aggregate rows — broadcast, scan-local distance eval.
    Output: vec_id, qv, cluster and the distance d to it."""
    return (
        vecs.crossJoin(F.broadcast(cents))
        .select("vec_id", "qv", "cluster", _sq_dist().alias("d"))
        .groupBy("vec_id")
        .agg(
            F.min(F.struct("d", "cluster")).alias("m"),
            F.first("qv").alias("qv"),  # identical across the K copies
        )
        .select(
            "vec_id", "qv", F.col("m.cluster").alias("cluster"),
            F.col("m.d").alias("d"),
        )
    )


def _lloyd(vecs: DataFrame):
    """The LLOYD_ITERS integer Lloyd steps from :func:`_init_centroids`:
    yields each step's assignment, its per-(cluster, dim0) floor means
    ``g`` (c, with the cluster size n) and the centroids ``g`` forms."""
    cents = _init_centroids(vecs)
    for _ in range(LLOYD_ITERS):
        assigned = _assign_int(vecs, cents)
        g = (
            assigned.select(
                "cluster", F.posexplode("qv").alias("dim0", "v")
            )
            .groupBy("cluster", "dim0")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .select(
                "cluster",
                "dim0",
                F.floor(F.col("s").cast("double") / F.col("n")).alias("c"),
                "n",
            )
        )
        cents = g.groupBy("cluster").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim0", "c"))),
                lambda x: x["c"],
            ).alias("cv")
        )
        yield assigned, g, cents


@query("cluster_kmeans_lloyd", oracle=_kmeans_oracle())
def cluster_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means TRAINING: 3 Lloyd iterations over the
    embedding corpus, k=8, deterministic init (the 8 lowest vec_ids),
    integer fixed-point arithmetic end to end — micro-quantized vectors,
    exact int64 squared-L2 assignment with (distance, cluster)
    tie-break, floor-division centroid means — so the unrolled-CTE
    DuckDB oracle reproduces every iteration exactly. Output: the final
    centroids exploded to (cluster, dim, c) plus the cluster size n.

    Scale posture (the piece IVF/SemDeDup training needs at 100 TB):
    per iteration the corpus is touched by ONE scan-local broadcast-k
    distance evaluation (zip_with/aggregate — codegen, no UDF), one
    N-row partial-aggregated argmin shuffle keyed by vec_id, and one
    (k × dim)-group partial-sum shuffle whose reduce side is k·64
    constant-width rows; centroids never leave the cluster (no driver
    collect — they flow to the next iteration as a broadcast of an
    aggregate). Empty clusters drop out of the GROUP BY identically in
    both engines (standard Lloyd behavior). k and iters are module
    constants here so the oracle can unroll; production exposes them as
    arguments on the same fold."""
    *_, (_, g, _) = _lloyd(dd.spread(_quantized(spark, sf_dir)))
    return g.select(
        "cluster",
        (F.col("dim0") + 1).cast("long").alias("dim"),
        F.col("c"),
        F.col("n").cast("long").alias("n"),
    )


_RRF_ORACLE = f"""
WITH {BM25_CTES},
top_a AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY score DESC, doc_id) AS rank
    FROM scored QUALIFY rank <= {RRF_TOP}
),
parts_b AS (
    SELECT t.doc_id, t.token,
           t.tf_raw * ln(CAST(s.n_docs AS DOUBLE) / d2.df) AS part
    FROM tf_t t JOIN df_t d2 ON d2.token = t.token CROSS JOIN stats s
),
scored_b AS (
    SELECT doc_id,
           COALESCE(MAX(CASE WHEN token = 'data' THEN part END), 0.0)
           + COALESCE(MAX(CASE WHEN token = 'join' THEN part END), 0.0)
           + COALESCE(MAX(CASE WHEN token = 'filter' THEN part END), 0.0)
               AS score
    FROM parts_b GROUP BY doc_id
),
top_b AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY score DESC, doc_id) AS rank
    FROM scored_b QUALIFY rank <= {RRF_TOP}
),
fused AS (
    SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           a.rank AS ra, b.rank AS rb,
           COALESCE(1.0 / ({RRF_K} + a.rank), 0.0)
           + COALESCE(1.0 / ({RRF_K} + b.rank), 0.0) AS rrf
    FROM top_a a FULL OUTER JOIN top_b b ON a.doc_id = b.doc_id
)
SELECT doc_id,
       CAST(ra AS INTEGER) AS rank_bm25,
       CAST(rb AS INTEGER) AS rank_tfidf,
       ROUND(rrf, 6) AS rrf_score,
       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER)
           AS fused_rank
FROM fused
"""


@query("retrieval_rrf_fusion", oracle=_RRF_ORACLE)
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (RRF, k=60) of two retrievers over the
    query {data, join, filter}: the BM25 top-20 (identical scorer to
    ``text_bm25_ranking``) and a TF-IDF-sum top-20. A doc's fused score
    is Σ 1/(60 + rank_i) over the lists it appears in — the standard
    score-free way to combine lexical and secondary rankers in RAG
    pipelines (Cormack, Clarke & Büttcher 2009).

    Scale posture: each retriever ends in a distributed
    TakeOrderedAndProject (per-partition partial top-20, 20-row driver
    merge); the fusion join and both rank windows run over ≤ 2·20
    surviving rows — constant-size, so the single-partition exchanges
    move 40 rows, never the corpus. Term sums use the fixed-order
    conditional-max pattern so the 3-double additions are
    engine-identical."""
    docs = dd.spread(load(spark, sf_dir, "documents")).filter(
        F.trim(F.col("text")) != ""
    )
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
        F.col("token").isin(list(_TERMS))
    )
    tf_t = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf_raw")
    )
    df_t = tf_t.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    dl = d.select("doc_id", F.size("toks").cast("bigint").alias("dl"))

    part_bm25 = (
        F.log(
            (F.col("n_docs").cast("double") - F.col("df") + 0.5)
            / (F.col("df") + 0.5)
            + 1.0
        )
        * (F.col("tf_raw") * 2.2)
        / (F.col("tf_raw") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl")))
    )
    part_tfidf = F.col("tf_raw") * F.log(
        F.col("n_docs").cast("double") / F.col("df")
    )
    # BOTH retrievers score from this table; checkpoint so the corpus
    # tokenize/explode/length pass runs once, not once per branch (the
    # table itself is small: only (matched doc, query term) rows).
    base = (
        tf_t.join(F.broadcast(df_t), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))  # 1-row broadcast scalar
        .localCheckpoint(eager=True)
    )

    def _top(parts: DataFrame) -> DataFrame:
        term_cols = [
            F.coalesce(
                F.max(F.when(F.col("token") == t, F.col("part"))), F.lit(0.0)
            )
            for t in _TERMS
        ]
        score = term_cols[0] + term_cols[1] + term_cols[2]
        scored = parts.groupBy("doc_id").agg(score.alias("score"))
        top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(RRF_TOP)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        # rank over the RRF_TOP surviving rows only (constant-size)
        return top.withColumn("rank", F.row_number().over(w)).select(
            "doc_id", "rank"
        )

    top_a = _top(base.select("doc_id", "token", part_bm25.alias("part")))
    top_b = _top(base.select("doc_id", "token", part_tfidf.alias("part")))
    fused = (
        top_a.select(F.col("doc_id").alias("da"), F.col("rank").alias("ra"))
        .join(
            top_b.select(
                F.col("doc_id").alias("db"), F.col("rank").alias("rb")
            ),
            F.col("da") == F.col("db"),
            "full_outer",
        )
        .select(
            F.coalesce("da", "db").alias("doc_id"),
            F.col("ra"),
            F.col("rb"),
            (
                F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("ra")), F.lit(0.0))
                + F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_K) + F.col("rb")), F.lit(0.0)
                )
            ).alias("rrf"),
        )
    )
    w = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))  # ≤ 40 rows
    return fused.select(
        "doc_id",
        F.col("ra").cast("int").alias("rank_bm25"),
        F.col("rb").cast("int").alias("rank_tfidf"),
        F.round("rrf", 6).alias("rrf_score"),
        F.row_number().over(w).cast("int").alias("fused_rank"),
    )


_CONTAINMENT_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
    FROM documents WHERE trim(text) <> ''
),
sh AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 0) + 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
    FROM toks
),
ok AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {CONT_DF_CAP}),
capped AS (SELECT doc_id, s FROM sh JOIN ok USING (s)),
nsz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM capped GROUP BY doc_id),
ints AS (
    SELECT a.doc_id AS x, b.doc_id AS y, CAST(COUNT(*) AS BIGINT) AS inter
    FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
sized AS (
    SELECT i.x, i.y, i.inter, nx.n AS nx, ny.n AS ny
    FROM ints i JOIN nsz nx ON nx.doc_id = i.x JOIN nsz ny ON ny.doc_id = i.y
),
dir AS (
    SELECT x AS contained_id, y AS container_id, inter, nx AS n_contained
    FROM sized
    WHERE 5 * inter >= 4 * nx AND nx <= ny AND nx >= {CONT_MIN_SHINGLES}
    UNION ALL
    SELECT y, x, inter, ny
    FROM sized
    WHERE 5 * inter >= 4 * ny AND ny <= nx AND ny >= {CONT_MIN_SHINGLES}
)
SELECT contained_id, container_id, inter, n_contained,
       ROUND(CAST(inter AS DOUBLE) / n_contained, 6) AS containment
FROM dir
"""


@query("dedup_containment_pairs", oracle=_CONTAINMENT_ORACLE)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup detection: directional pairs
    where ≥ 80% of the smaller document's distinct 3-gram shingles
    appear in the larger one (integer gate 5·I ≥ 4·n_contained) — the
    quote-inclusion / embedded-document case that symmetric Jaccard
    misses (a 50-token doc pasted into a 5000-token doc has Jaccard
    ≈ 0.01 but containment 1.0). Used at paragraph/doc level by
    production corpus pipelines (e.g. the containment pass in Dolma).

    Spec boundary (mirrored in the oracle, same discipline as
    ``dedup_substring_spans``): shingles with corpus df > {CONT_DF_CAP}
    are stop-shingles excluded from the evidence universe, and docs
    with < {CONT_MIN_SHINGLES} capped shingles are too small to claim
    containment.

    Scale posture: candidates come from a shingle EQUI-join whose
    per-key fan-out the df cap bounds at {CONT_DF_CAP} (never all-pairs,
    never a theta join); the intersection count partial-aggregates
    map-side on (x, y); per-doc sizes re-attach by two joins against the
    doc-count table. Equal-size mutual containment emits both
    directions — deterministic in both engines."""
    docs = dd.spread(load(spark, sf_dir, "documents")).filter(
        F.trim(F.col("text")) != ""
    )
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tf.shingles(F.col("text"), 3))).alias("s"),
    )
    ok = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= CONT_DF_CAP
    )
    # The capped shingle table feeds THREE consumers (per-doc sizes and
    # both sides of the pair join) — checkpoint it once so the
    # explode + df join doesn't re-execute per reference (the llm9
    # signature-table discipline).
    capped = sh.join(ok.select("s"), "s").localCheckpoint(eager=True)
    nsz = capped.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = capped.alias("a"), capped.alias("b")
    ints = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sized = (
        ints.join(nsz.select(F.col("doc_id").alias("x"), F.col("n").alias("nx")), "x")
        .join(nsz.select(F.col("doc_id").alias("y"), F.col("n").alias("ny")), "y")
    )
    fwd = sized.filter(
        (5 * F.col("inter") >= 4 * F.col("nx"))
        & (F.col("nx") <= F.col("ny"))
        & (F.col("nx") >= CONT_MIN_SHINGLES)
    ).select(
        F.col("x").alias("contained_id"),
        F.col("y").alias("container_id"),
        "inter",
        F.col("nx").alias("n_contained"),
    )
    rev = sized.filter(
        (5 * F.col("inter") >= 4 * F.col("ny"))
        & (F.col("ny") <= F.col("nx"))
        & (F.col("ny") >= CONT_MIN_SHINGLES)
    ).select(
        F.col("y").alias("contained_id"),
        F.col("x").alias("container_id"),
        "inter",
        F.col("ny").alias("n_contained"),
    )
    return fwd.unionByName(rev).select(
        "contained_id",
        "container_id",
        "inter",
        "n_contained",
        F.round(
            F.col("inter").cast("double") / F.col("n_contained"), 6
        ).alias("containment"),
    )


def _pca_oracle() -> str:
    """Unrolled power iteration over the exact integer second-moment
    matrix: Gram sums are exact BIGINT (then cast once to DOUBLE, every
    entry < 2^53), matrix-vector products are exact-order left folds of
    doubles, normalization is one MAX + one division — the JL-projection
    discipline, so every loading is bit-identical across engines."""
    fold = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, {DIM} + 1), k -> mr[k] * v[k])), "
        "(a, x) -> a + x)"
    )
    parts = [
        f"""
WITH q AS (
    SELECT list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {Q_SCALE}) AS BIGINT)) AS qv
    FROM embeddings
),
m AS (
    SELECT ii.i AS i, jj.j AS j, CAST(SUM(qv[ii.i] * qv[jj.j]) AS DOUBLE) AS m
    FROM q
    CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS i) ii
    CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS j) jj
    GROUP BY ii.i, jj.j
),
mrow AS (SELECT i, list(m ORDER BY j) AS mr FROM m GROUP BY i),
v0 AS (SELECT list_transform(range(1, {DIM} + 1),
                             x -> CAST(1.0 AS DOUBLE)) AS v)"""
    ]
    prev = "v0"
    for t in range(1, PCA_ITERS + 1):
        parts.append(
            f""",
w{t} AS (SELECT i, {fold} AS w FROM mrow CROSS JOIN {prev}),
s{t} AS (SELECT MAX(abs(w)) AS s FROM w{t}),
v{t} AS (SELECT list(w / s ORDER BY i) AS v FROM w{t} CROSS JOIN s{t})"""
        )
        prev = f"v{t}"
    parts.append(
        f"""
SELECT i AS dim, w / s AS loading, s AS lambda_scaled
FROM w{PCA_ITERS} CROSS JOIN s{PCA_ITERS}
"""
    )
    return "".join(parts)


@query("embedding_pca_power_iteration", oracle=_pca_oracle())
def embedding_pca_power_iteration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top principal direction of the embedding corpus via POWER
    ITERATION on the second-moment (uncentered Gram) matrix — the
    distributed linear-algebra primitive behind PCA whitening /
    spectral embedding compression. Three unrolled iterations from the
    all-ones start vector; output is the max-abs-normalized loading per
    dimension plus the scale factor (→ the dominant eigenvalue as the
    iteration converges).

    Exactness: the 64×64 Gram accumulates as exact int64 sums of
    micro-quantized components (one corpus pass), is cast once to
    double, and everything after — matrix-vector folds, max-abs,
    division — is fixed-order IEEE arithmetic, so the raw doubles
    hash-match across engines (the JL-projection discipline; no
    rounding anywhere). CORPUS-SIZE BOUND on the int64/2^53 claim:
    each |q_i·q_j| ≤ Q_SCALE² = 10¹² for unit-magnitude components,
    so the exact-double window (< 2^53 ≈ 9.0·10¹⁵) holds to ~9,000
    rows per (i,j) cell of worst-case mass and the int64 window
    (< 2^63 ≈ 9.2·10¹⁸, where Spark's SUM(BIGINT) silently wraps
    while DuckDB widens to HUGEINT) to ~9.2 million — real corpora
    sit far below worst case (components are ~1/√64 of the norm, a
    4096× slack on the product), but a 100 TB deployment crossing
    these counts must accumulate `t` as DECIMAL(38,0) (sacrificing
    nothing but a slower aggregate) — the same escape hatch the
    k-means inertia accumulator documents below.

    Scale posture: the ONLY corpus-scale work is the Gram pass — each
    scan task cross-applies its rows against a broadcast 4096-entry
    (i, j) index and partial-aggregates map-side, so the shuffle is
    4096 constant-width groups (the ``embedding_covariance_matrix``
    shape). Every iteration after that touches 64 rows: broadcast the
    1-row vector, fold, 1-row max, 64-row reassembly — free at any
    corpus size, which is exactly why power iteration suits a cluster
    better than a full eigendecomposition."""
    em = dd.spread(_quantized(spark, sf_dir))
    idx = (
        spark.range(1, DIM + 1)
        .select(F.col("id").alias("i"))
        .crossJoin(spark.range(1, DIM + 1).select(F.col("id").alias("j")))
    )
    terms = em.crossJoin(F.broadcast(idx)).select(
        "i",
        "j",
        (
            F.element_at("qv", F.col("i").cast("int"))
            * F.element_at("qv", F.col("j").cast("int"))
        ).alias("t"),
    )
    # The 64-row Gram table materializes ONCE: the three iterations each
    # reference it, and without the checkpoint Catalyst re-plans the
    # corpus scan per reference (observed: 14 scan nodes) instead of the
    # single pass the algorithm needs.
    mrow = (
        terms.groupBy("i", "j")
        .agg(F.sum("t").cast("double").alias("m"))
        .groupBy("i")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "m"))),
                lambda x: x["m"],
            ).alias("mr")
        )
        .localCheckpoint(eager=True)
    )
    v = spark.range(1).select(
        F.array(*[F.lit(1.0) for _ in range(DIM)]).alias("v")
    )
    w = None
    s = None
    for _ in range(PCA_ITERS):
        w = mrow.crossJoin(F.broadcast(v)).select(
            "i",
            F.aggregate(
                F.zip_with("mr", "v", lambda m, x: m * x),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("w"),
        )
        s = w.agg(F.max(F.abs("w")).alias("s"))
        v = (
            w.crossJoin(F.broadcast(s))
            .groupBy()
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("i", (F.col("w") / F.col("s")).alias("x"))
                        )
                    ),
                    lambda e: e["x"],
                ).alias("v")
            )
        )
    return w.crossJoin(F.broadcast(s)).select(
        F.col("i").alias("dim"),
        (F.col("w") / F.col("s")).alias("loading"),
        F.col("s").alias("lambda_scaled"),
    )


def _kmeans_inertia_oracle() -> str:
    """The k-means CTE blocks again, but carrying the assignment
    distance: inertia_t = Σ_v min_c d(v, cents_{t-1}) — the objective
    Lloyd's descent lemma makes (near-)monotone. The monotone flag is
    computed from IDENTICAL integers in both engines, so it is
    hash-safe by construction; pytest asserts it is actually TRUE."""
    parts = [_KM_HEAD]
    for t in range(1, LLOYD_ITERS + 1):
        parts.append(
            _km_assign_ctes(t, "vec_id, qv, cluster, d")
            + f""",
i{t} AS (SELECT CAST(SUM(d) AS BIGINT) AS inertia FROM a{t}),
c{t} AS (
    SELECT cluster, list(c ORDER BY dim) AS cv
    FROM (
        SELECT cluster, dims.i AS dim,
               CAST(floor(CAST(SUM(qv[dims.i]) AS DOUBLE) / COUNT(*))
                    AS BIGINT) AS c
        FROM a{t}
        CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS i) dims
        GROUP BY cluster, dims.i
    ) GROUP BY cluster
)"""
        )
    iters = ", ".join(
        f"({t}, i{t}.inertia)" for t in range(1, LLOYD_ITERS + 1)
    )
    froms = " CROSS JOIN ".join(f"i{t}" for t in range(1, LLOYD_ITERS + 1))
    mono = " AND ".join(
        f"i{t}.inertia >= i{t + 1}.inertia" for t in range(1, LLOYD_ITERS)
    )
    parts.append(
        f"""
SELECT CAST(u.it AS INTEGER) AS iter, u.inertia,
       ({mono}) AS monotone_ok
FROM {froms}, (VALUES {iters}) u(it, inertia)
"""
    )
    return "".join(parts)


@query("cluster_kmeans_inertia", oracle=_kmeans_inertia_oracle())
def cluster_kmeans_inertia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-iteration k-means OBJECTIVE: inertia_t = Σ_v min_c
    ‖v − c‖² at each of the {LLOYD_ITERS} assignment steps, plus the
    Lloyd descent invariant as an in-query ``monotone_ok`` flag — the
    convergence evidence a training job logs. Distances are the exact
    int64 values of ``cluster_kmeans_lloyd``, so inertia is an exact
    integer and the flag is computed from identical numbers in both
    engines (hash-safe); pytest asserts it is TRUE on real corpora.
    (Floor-division centroid means sit within one micro-unit of the true
    minimizers, so exact-arithmetic descent holds with enormous margin
    at these magnitudes; at 100 TB the Σd accumulator becomes DECIMAL.)

    Scale posture: identical to ``cluster_kmeans_lloyd`` — per
    iteration one broadcast-k scan-local distance pass and one
    partial-aggregated argmin shuffle; each inertia is a 1-row
    aggregate; the three 1-row aggregates cross-join into the
    constant-size output."""
    inertias = [
        assigned.agg(F.sum("d").alias("inertia"))
        for assigned, _, _ in _lloyd(dd.spread(_quantized(spark, sf_dir)))
    ]
    joined = inertias[0].select(F.col("inertia").alias("i1"))
    for t, df in enumerate(inertias[1:], start=2):
        joined = joined.crossJoin(
            F.broadcast(df.select(F.col("inertia").alias(f"i{t}")))
        )
    mono = None
    for t in range(1, LLOYD_ITERS):
        cond = F.col(f"i{t}") >= F.col(f"i{t + 1}")
        mono = cond if mono is None else (mono & cond)
    rows = F.array(
        *[
            F.struct(
                F.lit(t).cast("int").alias("iter"),
                F.col(f"i{t}").alias("inertia"),
            )
            for t in range(1, LLOYD_ITERS + 1)
        ]
    )
    return (
        joined.select(F.explode(rows).alias("r"), mono.alias("monotone_ok"))
        .select(
            F.col("r.iter").alias("iter"),
            F.col("r.inertia").alias("inertia"),
            "monotone_ok",
        )
    )


def _kmeans_assign_oracle() -> str:
    """The training CTE blocks (c0..c{T}) plus one final assignment
    pass: every corpus vector's nearest trained centroid under the same
    exact integer argmin."""
    base = _kmeans_oracle()
    # reuse everything up to the final SELECT, then assign against c{T}
    head = base[: base.rindex("\nSELECT")]
    return (
        head
        + f""",
sf AS (
    SELECT v.vec_id, c.cluster,
           list_sum(list_transform(range(1, {DIM} + 1),
               i -> (v.qv[i] - c.cv[i]) * (v.qv[i] - c.cv[i]))) AS d
    FROM qvs v CROSS JOIN c{LLOYD_ITERS} c
)
SELECT vec_id, cluster, CAST(d AS BIGINT) AS d
FROM (SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY d, cluster) AS rn FROM sf)
WHERE rn = 1
"""
    )


@query("streaming_kmeans_assign", oracle=_kmeans_assign_oracle())
def streaming_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE INFERENCE against the trained codebook: the embeddings
    table arrives as a file STREAM and every vector is assigned to its
    nearest ``cluster_kmeans_lloyd`` centroid by a stream-static
    broadcast join — the deploy-side half of the train→serve loop
    (batch trains, the stream labels new arrivals). Same exact integer
    argmin as training, so the batch-SQL oracle pins the STREAMING
    execution row-for-row (the registry's strongest batch↔stream
    agreement check, applied to model serving).

    Scale posture: centroids train once batch-side and materialize as a
    k-row broadcast (localCheckpoint — the static side of a
    stream-static join must not retrain per micro-batch); each
    micro-batch then does a scan-local broadcast-k distance pass and a
    keyed argmin — per-key state is one (d, cluster) struct, bounded by
    distinct vec_ids. Registered in this module (not
    streaming_batchck) so the driver's first-50 sample keeps its
    composition."""
    *_, (_, _, cents) = _lloyd(dd.spread(_quantized(spark, sf_dir)))
    # the static side of the stream-static join: k rows, trained once
    cents = cents.withColumn("jk", F.lit(1)).localCheckpoint(eager=True)

    import os

    from ..sources.tables import SCHEMAS

    # The declared table schema, NOT an inline DDL string: a parquet
    # schema mismatch reads silent nulls instead of erroring, so a
    # drifting inline copy would diverge from every batch query that
    # picks the change up through SCHEMAS.
    sch = SCHEMAS["embeddings"]
    path = f"{sf_dir.rstrip('/')}/embeddings.parquet"
    if os.path.isdir(path):
        # directory-of-part-files layout (test fixtures)
        raw = spark.readStream.schema(sch).parquet(path)
    else:
        # single-file layout (driver testdata): stream the parent dir
        # with a glob pinned to the file (the _events_stream pattern)
        raw = (
            spark.readStream.schema(sch)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir.rstrip("/"))
        )
    stream = _quantize(raw).withColumn("jk", F.lit(1))
    assigned_stream = (
        stream.join(F.broadcast(cents), "jk")  # stream-static, k rows
        .select("vec_id", "cluster", _sq_dist().alias("d"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("d", "cluster")).alias("m"))
        .select(
            "vec_id",
            F.col("m.cluster").alias("cluster"),
            F.col("m.d").alias("d"),
        )
    )
    name = "ska_streaming_kmeans_assign"  # fixed: see streaming_batchck
    return run_available_now(assigned_stream, name, "complete")


_L_DIVERSITY_ORACLE = """
WITH cls AS (
    SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS l
    FROM events GROUP BY event_type, 2
)
SELECT event_type, day, n, l, (l >= 3) AS diverse_ok
FROM cls
"""


@query("governance_l_diversity", oracle=_L_DIVERSITY_ORACLE)
def governance_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007 — the k-anonymity
    refinement): for each quasi-identifier class (event_type, day), the
    number of DISTINCT sensitive values (user_id) it contains, flagged
    against l = 3 — a class can be k-anonymous yet still leak if every
    member shares the sensitive value, which is exactly what the l
    column exposes.

    Scale posture: one groupBy on the class key with COUNT(DISTINCT)
    partial-aggregated map-side (Spark expands distinct aggregates into
    a two-phase plan keyed by (class, user) — both phases uniform,
    class cardinality is time-span × |types|, independent of fact
    scale)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("l"),
        )
        .select(
            "event_type", "day", "n", "l", (F.col("l") >= 3).alias("diverse_ok")
        )
    )


def _langid_eval_oracle() -> str:
    """The text_langid_trigram oracle re-used verbatim (taken from the
    registry so the two can never drift), its final SELECT wrapped into
    a ``pred`` CTE, with the classification-metrics CTEs on top."""
    langid = REGISTRY["text_langid_trigram"].oracle
    cut = langid.rindex("SELECT doc_id, lang, predicted_lang, hits,")
    head = langid[:cut].rstrip()  # ends with the scored CTE's ')'
    final_sel = langid[cut:].strip()
    return (
        head
        + ",\npred AS (\n"
        + final_sel
        + """
),
per_true AS (
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct
    FROM pred GROUP BY lang
),
per_pred AS (
    SELECT predicted_lang AS lang, CAST(COUNT(*) AS BIGINT) AS n_predicted
    FROM pred GROUP BY predicted_lang
),
tot AS (
    SELECT ROUND(CAST(SUM(CASE WHEN correct THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS accuracy
    FROM pred
),
m AS (
    SELECT t.lang, t.n_docs, COALESCE(p.n_predicted, 0) AS n_predicted,
           t.n_correct,
           CASE WHEN COALESCE(p.n_predicted, 0) > 0
                THEN ROUND(CAST(t.n_correct AS DOUBLE) / p.n_predicted, 6)
           END AS prec,
           ROUND(CAST(t.n_correct AS DOUBLE) / t.n_docs, 6) AS rec
    FROM per_true t LEFT JOIN per_pred p USING (lang)
)
SELECT lang, n_docs, n_predicted, n_correct, prec, rec,
       CASE WHEN prec IS NOT NULL AND prec + rec > 0
            THEN ROUND(2 * prec * rec / (prec + rec), 6)
       END AS f1,
       tot.accuracy AS accuracy
FROM m CROSS JOIN tot
"""
    )


@query("eval_langid_metrics", oracle=_langid_eval_oracle())
def eval_langid_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier EVALUATION over the langid predictions: per-language
    precision / recall / F1 on the held-out split, plus global
    accuracy — the metrics table a pipeline publishes after any model
    stage (here the trigram language-ID of ``text_langid_trigram``,
    whose plan — and oracle, lifted verbatim from the registry — this
    query composes rather than re-implements). Recall rows are keyed by
    TRUE language; a language never predicted gets n_predicted = 0 with
    NULL precision/F1 rather than a dropped row. F1 computes from the
    6-dp-ROUNDED precision/recall so the one non-trivial float
    expression is engine-identical.

    Scale posture: inherits langid's (tiny broadcast model, uniform
    (lang, trigram)/doc_id shuffles); the metrics themselves are two
    |langs|-cardinality groupBys, one |langs|-row left join, and a
    1-row accuracy broadcast — free at corpus scale."""
    from .llm2 import text_langid_trigram

    # Three aggregations fan out from the prediction table (per-true,
    # per-pred, total accuracy); checkpoint it so the full langid plan
    # (training joins included) executes ONCE, not once per consumer —
    # the multi-consumer discipline of dedup_containment_pairs /
    # retrieval_rrf_fusion. The table is |held-out| rows.
    pred = text_langid_trigram(spark, sf_dir).localCheckpoint(eager=True)
    per_true = pred.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("correct"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
    )
    per_pred = pred.groupBy(
        F.col("predicted_lang").alias("lang")
    ).agg(F.count(F.lit(1)).alias("n_predicted"))
    tot = pred.agg(
        F.round(
            F.sum(F.when(F.col("correct"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("accuracy")
    )
    m = (
        per_true.join(F.broadcast(per_pred), "lang", "left")
        .select(
            "lang",
            "n_docs",
            F.coalesce("n_predicted", F.lit(0)).alias("n_predicted"),
            "n_correct",
        )
        .withColumn(
            "prec",
            F.when(
                F.col("n_predicted") > 0,
                F.round(
                    F.col("n_correct").cast("double") / F.col("n_predicted"), 6
                ),
            ),
        )
        .withColumn(
            "rec",
            F.round(F.col("n_correct").cast("double") / F.col("n_docs"), 6),
        )
    )
    return (
        m.withColumn(
            "f1",
            F.when(
                F.col("prec").isNotNull() & (F.col("prec") + F.col("rec") > 0),
                F.round(
                    2 * F.col("prec") * F.col("rec")
                    / (F.col("prec") + F.col("rec")),
                    6,
                ),
            ),
        )
        .crossJoin(F.broadcast(tot))  # 1-row broadcast scalar
        .select(
            "lang", "n_docs", "n_predicted", "n_correct",
            "prec", "rec", "f1", "accuracy",
        )
    )


def _mmr_cos_sql(a: str, b: str) -> str:
    """The registry's standard rounded cosine (the _SIM_ORACLE shape)."""
    return (
        f"ROUND(list_sum(list_transform(range(1, len({a}) + 1),"
        f" i -> {a}[i] * {b}[i]))"
        f" / (sqrt(list_sum(list_transform({a}, x -> x * x)))"
        f" * sqrt(list_sum(list_transform({b}, x -> x * x)))), 6)"
    )


def _mmr_oracle() -> str:
    """Unrolled greedy MMR: shortlist by rounded relevance, then MMR_K
    argmax steps, each over the rounded pairwise-sim table restricted to
    the already-selected set. All comparisons run on 6-dp-rounded
    doubles with vec_id tie-breaks — engine-stable decisions."""
    parts = [
        f"""
WITH c AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
    FROM embeddings
),
qv AS (SELECT cv AS qv FROM c WHERE vec_id = {MMR_QUERY_ID}),
rel AS (
    SELECT c.vec_id, c.cv, {_mmr_cos_sql('qv', 'cv')} AS rel
    FROM c, qv WHERE c.vec_id <> {MMR_QUERY_ID}
),
cand AS (SELECT vec_id, cv, rel FROM rel
         ORDER BY rel DESC, vec_id LIMIT {MMR_POOL}),
p AS (
    SELECT a.vec_id AS pa, b.vec_id AS pb, {_mmr_cos_sql('a.cv', 'b.cv')} AS sim
    FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
),
s1 AS (SELECT vec_id, rel, ROUND(0.5 * rel, 6) AS score, 1 AS step
       FROM cand ORDER BY ROUND(0.5 * rel, 6) DESC, vec_id LIMIT 1),
sel1 AS (SELECT vec_id FROM s1)"""
    ]
    for t in range(2, MMR_K + 1):
        parts.append(
            f""",
s{t} AS (
    SELECT r.vec_id, r.rel, ROUND(0.5 * r.rel - 0.5 * m.ms, 6) AS score,
           {t} AS step
    FROM cand r
    JOIN (SELECT pa, MAX(sim) AS ms FROM p
          WHERE pb IN (SELECT vec_id FROM sel{t - 1}) GROUP BY pa) m
      ON m.pa = r.vec_id
    WHERE r.vec_id NOT IN (SELECT vec_id FROM sel{t - 1})
    ORDER BY score DESC, vec_id LIMIT 1
),
sel{t} AS (SELECT vec_id FROM sel{t - 1} UNION ALL SELECT vec_id FROM s{t})"""
        )
    union = " UNION ALL ".join(
        f"SELECT vec_id, rel, score, step FROM s{t}"
        for t in range(1, MMR_K + 1)
    )
    parts.append(
        f"""
SELECT vec_id, CAST(step AS INTEGER) AS step, rel, score FROM ({union})
"""
    )
    return "".join(parts)


def _round6_like_spark(x: float) -> float:
    """Driver-side replica of ``F.round(col, 6)`` on doubles: Spark
    rounds BigDecimal.valueOf(x) — the SHORTEST decimal string that
    round-trips, which is also what Python's repr() produces — at
    scale 6 with HALF_UP (ties away from zero), the same mode as
    Python's decimal.ROUND_HALF_UP. Parsing repr(x) rather than the
    exact binary expansion Decimal(x) matters: for a value whose
    shortest repr ends in ...5 the two disagree (2.675 reads as
    2.67499999999999982... in exact binary)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
    )


def _mmr_core(spark: SparkSession, sf_dir: str):
    """Shared MMR machinery for retrieval_mmr_rerank / eval_mmr_ndcg:
    returns (cand, picks_df) — the checkpointed relevance shortlist and
    the greedy λ=0.5 selection.

    The ONLY corpus-scale work is the shortlist (broadcast 1-row query,
    scan-local rounded cosine, distributed TakeOrderedAndProject). The
    shortlist ({MMR_POOL} rows) and its pairwise-sim table
    ({MMR_POOL}·({MMR_POOL}−1) rows) are Spark-computed constants
    collected to the driver under the documented k-row contract
    (operators/similarity.py:80), where the greedy argmax loop runs in
    plain Python — replacing the former per-pick eager-localCheckpoint
    chain (~10 sequential 1-row job barriers, a measured 15-16 s fixed
    cost at EVERY scale factor) with one collect. Every number the
    loop consumes (rel, sim) is produced by Spark's own 6-dp rounds,
    and the one arithmetic step it performs (0.5·rel − 0.5·max_sim,
    round 6dp) is IEEE-double identical to the JVM plus a bit-exact
    F.round replica, so the selection — and the emitted doubles — are
    unchanged (pinned old-vs-new in tests/test_llm11.py)."""
    em = dd.spread(load(spark, sf_dir, "embeddings"))
    c = em.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    qv = c.filter(F.col("vec_id") == MMR_QUERY_ID).select(
        F.col("cv").alias("qv")
    )
    rel = (
        c.filter(F.col("vec_id") != MMR_QUERY_ID)
        .crossJoin(F.broadcast(qv))  # 1-row broadcast query
        .select(
            "vec_id",
            "cv",
            F.round(vf.cosine(F.col("qv"), F.col("cv")), 6).alias("rel"),
        )
    )
    # Materialize the constant-size shortlist once: it feeds the pair
    # table here and the ideal list in eval_mmr_ndcg.
    cand = (
        rel.orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(MMR_POOL)
        .localCheckpoint(eager=True)
    )
    a, b = cand.alias("a"), cand.alias("b")
    pairs = a.join(b, F.col("a.vec_id") != F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("pa"),
        F.col("b.vec_id").alias("pb"),
        F.round(vf.cosine(F.col("a.cv"), F.col("b.cv")), 6).alias("sim"),
    )
    cand_rows = cand.select("vec_id", "rel").collect()
    sim = {(r["pa"], r["pb"]): r["sim"] for r in pairs.collect()}
    rel_by_id = {r["vec_id"]: r["rel"] for r in cand_rows}
    selected: list[int] = []
    picks = []
    for t in range(1, MMR_K + 1):
        best = None
        for vid, rl in rel_by_id.items():
            if vid in selected:
                continue
            if t == 1:
                score = _round6_like_spark(0.5 * rl)
            else:
                ms = max(sim[(vid, s)] for s in selected)
                score = _round6_like_spark(0.5 * rl - 0.5 * ms)
            key = (-score, vid)  # argmax score, vec_id tie-break
            if best is None or key < best[0]:
                best = (key, vid, rl, score)
        if best is None:
            # pool exhausted before MMR_K picks (tiny corpora): the
            # remaining steps emit nothing, matching the former plan
            # where an empty argmax produced zero rows for the step.
            break
        picks.append((best[1], t, best[2], best[3]))
        selected.append(best[1])
    picks_df = spark.createDataFrame(
        picks, schema="vec_id long, step int, rel double, score double"
    )
    return cand, picks_df


@query("retrieval_mmr_rerank", oracle=_mmr_oracle())
def retrieval_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diverse re-ranking (Carbonell &
    Goldstein 1998, λ=0.5): greedy top-{MMR_K} from the cosine
    top-{MMR_POOL} shortlist for query vector {MMR_QUERY_ID}, each step
    picking argmax(0.5·relevance − 0.5·max-sim-to-selected) — the
    standard way RAG pipelines stop near-duplicate passages from
    crowding a context window.

    Exactness: every cosine rounds to 6 dp BEFORE any comparison (the
    _SIM_ORACLE discipline) and ties break on vec_id, so the greedy
    decisions — and therefore the whole selection — are engine-stable;
    the unrolled DuckDB oracle replays all {MMR_K} steps.

    Scale posture: see :func:`_mmr_core` — one corpus shortlist scan
    (broadcast 1-row query, scan-local cosine, distributed
    TakeOrderedAndProject); the greedy O(k·pool) loop runs driver-side
    on the collected constant tables ({MMR_POOL} + {MMR_POOL}·19 rows,
    the documented k-row contract), never touching the corpus no
    matter how big the index is."""
    _, picks = _mmr_core(spark, sf_dir)
    return picks


def _mmr_ndcg_oracle() -> str:
    """The retrieval_mmr_rerank oracle lifted verbatim from the
    registry, its final SELECT wrapped into a ``picks`` CTE, with
    DCG/IDCG folds on top: gains are the 6-dp relevances, the discount
    is ln(i+1)/ln(2) written identically in both engines, and both
    sums are exact-order list folds (never a free-order SUM of
    doubles)."""
    mmr = REGISTRY["retrieval_mmr_rerank"].oracle
    cut = mmr.rindex("SELECT vec_id, CAST(step AS INTEGER)")
    head = mmr[:cut].rstrip()  # ends with sel{K}'s ')'
    final_sel = mmr[cut:].strip()
    fold = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "list_transform(range(1, len(g) + 1), "
        "i -> g[i] / (ln(i + 1.0) / ln(2.0)))), (a, x) -> a + x)"
    )
    return (
        head
        + ",\npicks AS (\n"
        + final_sel
        + f"""
),
dcg_t AS (
    SELECT {fold} AS dcg
    FROM (SELECT list(rel ORDER BY step) AS g FROM picks)
),
idcg_t AS (
    SELECT {fold} AS idcg
    FROM (SELECT list(rel ORDER BY rel DESC, vec_id) AS g
          FROM (SELECT rel, vec_id FROM cand
                ORDER BY rel DESC, vec_id LIMIT {MMR_K}))
)
SELECT {MMR_K} AS k, ROUND(dcg, 6) AS dcg, ROUND(idcg, 6) AS idcg,
       ROUND(dcg / idcg, 6) AS ndcg,
       ROUND(1.0 - dcg / idcg, 6) AS diversity_cost
FROM dcg_t CROSS JOIN idcg_t
"""
    )


@query("eval_mmr_ndcg", oracle=_mmr_ndcg_oracle())
def eval_mmr_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking EVALUATION of the MMR selection: NDCG@{MMR_K} of the
    diversified list against the ideal pure-relevance ordering of the
    same candidate pool — `diversity_cost` = 1 − NDCG is exactly what
    the λ=0.5 diversity term trades away, the number a pipeline
    monitors when tuning λ. Gains are the 6-dp rounded relevances; the
    log2 discount is written as ln(i+1)/ln(2) in BOTH engines and both
    DCG sums are exact-order folds, so every emitted double
    hash-matches. The MMR oracle is lifted verbatim from the registry
    (the eval_langid_metrics composition discipline).

    Scale posture: inherits MMR's (one corpus shortlist scan; greedy
    driver-side on the collected constants) — and REUSES
    :func:`_mmr_core`'s checkpointed shortlist for the ideal list
    instead of re-scanning the corpus; the eval itself folds two
    ≤{MMR_K}-element arrays — free."""
    cand, picks = _mmr_core(spark, sf_dir)
    ideal = (
        cand.select("vec_id", "rel")
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(MMR_K)
    )

    def _dcg(df: DataFrame, order_cols, out: str) -> DataFrame:
        g = df.groupBy().agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(*order_cols, "rel"))),
                lambda x: x["rel"],
            ).alias("g")
        )
        fold = F.aggregate(
            F.zip_with(
                "g",
                F.transform(
                    F.sequence(F.lit(1), F.size("g")),
                    lambda i: F.log(i.cast("double") + 1.0) / F.log(F.lit(2.0)),
                ),
                lambda gain, disc: gain / disc,
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        return g.select(fold.alias(out))

    dcg_t = _dcg(picks, ["step"], "dcg")
    # ideal order: rel DESC with vec_id tie-break — encode as a sortable
    # struct (negated rel sorts descending under the ascending array_sort)
    idcg_t = _dcg(
        ideal.select((-F.col("rel")).alias("neg_rel"), "vec_id", "rel"),
        ["neg_rel", "vec_id"],
        "idcg",
    )
    return dcg_t.crossJoin(F.broadcast(idcg_t)).select(
        F.lit(MMR_K).cast("int").alias("k"),
        F.round("dcg", 6).alias("dcg"),
        F.round("idcg", 6).alias("idcg"),
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
        F.round(1.0 - F.col("dcg") / F.col("idcg"), 6).alias("diversity_cost"),
    )


_K_ANON_ORACLE = f"""
WITH cls AS (
    SELECT lang, source,
           CAST(floor(CAST(n_chars AS DOUBLE) / {LEN_BUCKET}) AS BIGINT)
               AS len_bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM documents GROUP BY lang, source, 3
),
gen AS (
    SELECT CASE WHEN n >= {K_ANON} THEN lang ELSE '*' END AS lang_o,
           CASE WHEN n >= {K_ANON} THEN source ELSE '*' END AS source_o,
           CASE WHEN n >= {K_ANON} THEN len_bucket ELSE -1 END AS len_bucket_o,
           n
    FROM cls
)
SELECT lang_o, source_o, len_bucket_o,
       CAST(SUM(n) AS BIGINT) AS n,
       (lang_o = '*') AS suppressed
FROM gen GROUP BY lang_o, source_o, len_bucket_o
"""


@query("governance_k_anonymity", oracle=_K_ANON_ORACLE)
def governance_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity suppression over the quasi-identifier
    (lang, source, {LEN_BUCKET}-char length bucket): equivalence classes
    of size ≥ {K_ANON} publish as-is; smaller classes — the
    re-identifiable ones — generalize to the fully-suppressed class
    ('*', '*', -1) and re-aggregate (Sweeney 2002). Output is the
    anonymized class table every row of which is safe to release.

    Scale posture: two groupBys, both on class-cardinality keys
    (|langs| × |sources| × |buckets| ≪ corpus), so the shuffles move
    partial-aggregated class counts, not documents; no join, no window,
    no skew exposure (the suppressed catch-all is ONE reduce-side row
    whose inputs are already per-class partials)."""
    docs = load(spark, sf_dir, "documents")
    cls = docs.groupBy(
        "lang",
        "source",
        F.floor(F.col("n_chars").cast("double") / LEN_BUCKET)
        .cast("long")
        .alias("len_bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))
    safe = F.col("n") >= K_ANON
    gen = cls.select(
        F.when(safe, F.col("lang")).otherwise(F.lit("*")).alias("lang_o"),
        F.when(safe, F.col("source")).otherwise(F.lit("*")).alias("source_o"),
        F.when(safe, F.col("len_bucket"))
        .otherwise(F.lit(-1).cast("long"))
        .alias("len_bucket_o"),
        "n",
    )
    return (
        gen.groupBy("lang_o", "source_o", "len_bucket_o")
        .agg(F.sum("n").alias("n"))
        .select(
            "lang_o",
            "source_o",
            "len_bucket_o",
            "n",
            (F.col("lang_o") == "*").alias("suppressed"),
        )
    )


def _render_docstring_constants() -> None:
    """Docstrings above quote the module's tuning constants as {NAME}
    placeholders but are plain (non-f) strings, so help() and the
    registry doc would show literal braces. Render the known names once
    at import — a blanket ``.format`` would choke on the legitimate
    braces in quoted SQL and set-literal prose, so only these names
    substitute — and refresh the REGISTRY copies (the decorator
    snapshots ``fn.__doc__`` at registration). Scope: ONLY this
    module's REGISTERED query functions — private helpers keep their
    docstrings verbatim, so a future helper docstring that legitimately
    quotes a ``{NAME}`` token (format examples, quoted SQL) cannot be
    silently rewritten."""
    import dataclasses

    consts = {
        "K_CLUSTERS": K_CLUSTERS,
        "LLOYD_ITERS": LLOYD_ITERS,
        "DIM": DIM,
        "Q_SCALE": Q_SCALE,
        "RRF_K": RRF_K,
        "RRF_TOP": RRF_TOP,
        "CONT_DF_CAP": CONT_DF_CAP,
        "CONT_MIN_SHINGLES": CONT_MIN_SHINGLES,
        "K_ANON": K_ANON,
        "LEN_BUCKET": LEN_BUCKET,
        "PCA_ITERS": PCA_ITERS,
        "MMR_K": MMR_K,
        "MMR_POOL": MMR_POOL,
        "MMR_QUERY_ID": MMR_QUERY_ID,
    }

    def _render(doc: str) -> str:
        for k, v in consts.items():
            doc = doc.replace("{" + k + "}", str(v))
        return doc

    for name, q in list(REGISTRY.items()):
        if q.fn.__module__ != __name__:
            continue
        if q.fn.__doc__:
            q.fn.__doc__ = _render(q.fn.__doc__)
        if q.doc:
            REGISTRY[name] = dataclasses.replace(q, doc=_render(q.doc))


_render_docstring_constants()
