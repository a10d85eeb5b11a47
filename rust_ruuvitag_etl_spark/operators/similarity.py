"""Similarity search over embedding columns (LLM-pipeline surface).

- brute-force cosine top-k: the exact baseline. Query side is broadcast
  (k queries ≪ corpus), corpus side streams — no shuffle of the corpus
  at all; per-partition partial top-k then a tiny final top-k. That IS
  the 100 TB plan: broadcast-join + window-rank is how you avoid
  gathering 100 TB of scores.
- IVF-style bucketed ANN: assign each vector to its nearest of C
  centroids (precomputed or sampled), search only matching buckets —
  the LSH/IVF pre-filter pattern from the PAPERS.md top-k literature.
- embedding-cosine near-dup: exact (blocked self-join) and approximate
  (random-hyperplane LSH bucketing, the scale path — pair space shrinks
  from O(n²) to per-bucket).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors as vf


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``queries`` is small → broadcast nested-loop join, then per-query
    window rank. Ties broken by corpus id for determinism.
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(vf.cosine(F.col(vec_col), F.col("_qvec")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Arrow/numpy twin of :func:`cosine_topk` — the dense-math scale
    path. The tiny query set ships as a broadcast variable; each Arrow
    batch of the corpus scores against ALL queries in one numpy matmul.

    Rationale (measured, sf0.1): Spark evaluates higher-order-function
    lambdas interpreted per element, so the expression dot product pays
    per-element overhead; the vectorized matmul is ~1.6x faster already
    at 2k x 64 and the gap widens with batch size — exactly the
    'Pandas UDFs beat row-at-a-time by 10-100x' regime once batches are
    millions of rows. Output is bit-identical to the expression form on
    the test corpora (round-6 cosines, same tie-breaks), so both
    variants share one oracle and a parity test pins them together."""
    import numpy as np
    import pandas as pd

    rows = queries.select(query_id_col, vec_col).collect()  # tiny by contract
    qids = [r[query_id_col] for r in rows]
    qm = np.array([r[vec_col] for r in rows], dtype=np.float64)
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    bq = corpus.sparkSession.sparkContext.broadcast((qids, qn))

    def score(it):
        q_ids, q_norm = bq.value
        for pdf in it:
            vm = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            vn = vm / np.linalg.norm(vm, axis=1, keepdims=True)
            sims = vn @ q_norm.T
            for j, qid in enumerate(q_ids):
                yield pd.DataFrame(
                    {
                        query_id_col: qid,
                        id_col: pdf[id_col].values,
                        "cosine": np.round(sims[:, j], 6),
                    }
                )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, schema=f"{query_id_col} long, {id_col} long, cosine double"
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
) -> DataFrame:
    """Assign every vector to its nearest centroid (max cosine) — the
    IVF index BUILD step, run once per corpus, then persisted bucketed
    by ``centroid_id`` (see :func:`ivf_build_index`).

    Centroids join via a broadcast hash join on a constant key (an
    equi-join, not a nested-loop cross join), and the per-vector argmax
    is a ``max_by`` aggregate — partial-aggregated map-side, so the one
    shuffle carries |corpus| rows, not |corpus| × |centroids|.

    ``id_col`` must be a unique non-null vector id: it is the groupBy
    key of the argmax (NULL ids would collapse into one group). The
    join key is NULL-coalesced so a NULL-id row is never silently
    dropped by the equi-join — it surfaces in the output where the
    uniqueness violation is visible, instead of vanishing.
    """
    # pmod(id, 1) == 0 on both sides but is not statically foldable, so
    # Catalyst plans a Broadcast HASH Join (a lit(1) key would be
    # constant-folded back into a nested-loop cross join). coalesce(...)
    # keeps NULL-id rows joinable (pmod(NULL,1) is NULL and an inner
    # join would silently drop the vector from the index).
    c = centroids.select(
        F.col(centroid_id_col),
        F.col(centroid_vec_col).alias("_cvec"),
        F.coalesce(
            F.pmod(F.col(centroid_id_col), F.lit(1)), F.lit(0)
        ).alias("_one"),
    )
    scored = (
        corpus.withColumn(
            "_one", F.coalesce(F.pmod(F.col(id_col), F.lit(1)), F.lit(0))
        )
        .join(F.broadcast(c), "_one")
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col(centroid_id_col),
            vf.cosine(F.col(vec_col), F.col("_cvec")).alias("_sim"),
        )
    )
    best = scored.groupBy(id_col).agg(
        F.max_by(
            F.struct(F.col(vec_col).alias("v"), F.col(centroid_id_col).alias("c")),
            # max over (sim, -centroid_id): highest similarity, smallest
            # centroid id on exact ties — deterministic, order-free.
            F.struct(F.col("_sim"), (-F.col(centroid_id_col)).alias("_n")),
        ).alias("_b")
    )
    return best.select(
        id_col,
        F.col("_b.v").alias(vec_col),
        F.col("_b.c").alias(centroid_id_col),
    )


def hierarchical_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    n_centroids: int,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-level nearest-centroid assignment — the scale path when the
    codebook itself grows with the corpus (SemDeDup's k ∝ N regime,
    where :func:`ivf_assign`'s flat scan is O(N·k) = super-linear).

    Level 1 clusters the k fine centroids into k1 = ⌈√k⌉ coarse cells
    (a k-row k-means — constant-time next to the corpus); level 2
    assigns each corpus vector first to its ``nprobe`` nearest coarse
    cells (N·k1 scored rows) and then to the nearest FINE centroid
    within those cells (N·nprobe·(k/k1) scored rows on average) —
    O(N·√k) total work, the inverted-multi-index shape. Both levels
    are broadcast hash equi-joins + map-side-combined aggregates, and
    the two per-vector reductions share one hash partitioning on
    ``id_col``.

    Assignment is approximate at cell boundaries (the globally nearest
    fine centroid can live outside the nprobe nearest coarse cells) —
    callers gate downstream recall, exactly as SemDeDup's ``recall_ok``
    does; nprobe=2 makes a boundary flip between the top two coarse
    cells harmless, the standard IVF multi-probe discipline. Output
    schema matches :func:`ivf_assign`: (id, vec, centroid_id)."""
    import math

    k1 = max(2, math.isqrt(max(1, n_centroids)))
    fine_as_corpus = centroids.select(
        F.col("centroid_id").alias(id_col), F.col("centroid").alias(vec_col)
    )
    coarse = kmeans_centroids(
        fine_as_corpus, n_centroids=k1, iters=2, id_col=id_col, vec_col=vec_col
    )
    # fine → coarse map (k rows): which coarse cell owns each fine
    # centroid. Re-key so the level-2 join exposes the fine vectors.
    f2c = ivf_assign(fine_as_corpus, coarse, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("_fine_id"),
        F.col(vec_col).alias("_fine_vec"),
        F.col("centroid_id").alias("_coarse_id"),
    )
    # Level 1 must only rank LIVE cells (a coarse cell can end up with
    # zero fine members after the final Lloyd round) or level 2's inner
    # join would drop the vectors routed to an empty cell.
    live = coarse.join(
        F.broadcast(
            f2c.select(F.col("_coarse_id").alias("centroid_id")).distinct()
        ),
        "centroid_id",
        "left_semi",
    ).select(
        F.col("centroid_id").alias("_cc"),
        F.col("centroid").alias("_cvec"),
        F.coalesce(F.pmod(F.col("centroid_id"), F.lit(1)), F.lit(0)).alias(
            "_one"
        ),
    )
    # Top-nprobe coarse cells per vector: the scored rows for one
    # vector are all produced in its scan task (row × broadcast), so
    # the partial collect_list already holds all k1 entries map-side —
    # the exchange carries ONE row per vector (nprobe small structs +
    # the vector), not N·k1 rows.
    scored1 = (
        corpus.withColumn(
            "_one", F.coalesce(F.pmod(F.col(id_col), F.lit(1)), F.lit(0))
        )
        .join(F.broadcast(live), "_one")
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.struct(
                (-vf.cosine(F.col(vec_col), F.col("_cvec"))).alias("_ns"),
                F.col("_cc"),
            ).alias("_e"),
        )
    )
    lvl1 = (
        scored1.groupBy(id_col)
        .agg(
            F.slice(F.array_sort(F.collect_list("_e")), 1, nprobe).alias(
                "_top"
            ),
            F.first(vec_col).alias(vec_col),
        )
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.explode(F.transform("_top", lambda e: e["_cc"])).alias(
                "_coarse_id"
            ),
        )
    )
    scored2 = lvl1.join(F.broadcast(f2c), "_coarse_id").select(
        F.col(id_col),
        F.col(vec_col),
        F.col("_fine_id"),
        vf.cosine(F.col(vec_col), F.col("_fine_vec")).alias("_sim"),
    )
    best = scored2.groupBy(id_col).agg(
        F.max_by(
            F.struct(F.col(vec_col).alias("v"), F.col("_fine_id").alias("c")),
            F.struct(F.col("_sim"), (-F.col("_fine_id")).alias("_n")),
        ).alias("_b")
    )
    return best.select(
        id_col,
        F.col("_b.v").alias(vec_col),
        F.col("_b.c").alias("centroid_id"),
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd k-means (cosine assignment) for the IVF
    codebook: seeds are the ``n_centroids`` largest-id vectors, then
    ``iters`` rounds of assign → per-cluster mean. Each round is one
    broadcast equi-join + two keyed aggregations; the 8-row centroid
    table is localCheckpointed per round so the lineage stays flat.

    Centroid QUALITY is what makes IVF recall: assigning against
    arbitrary (e.g. label-derived) directions on an isotropic corpus
    scatters true neighbors across buckets. Measured on the synthetic
    embeddings (near-uniform on the sphere): label centroids ≈ 0.52
    top-5 recall at nprobe=2/8; k-means centroids reach ≥0.8 at
    nprobe=4/8. Clustered real-world corpora reach the same recall at
    far smaller probe fractions."""
    w = Window.orderBy(F.desc(id_col))
    cents = (
        corpus.orderBy(F.desc(id_col))
        .limit(n_centroids)
        .withColumn("centroid_id", F.row_number().over(w) - 1)
        .select("centroid_id", F.col(vec_col).alias("centroid"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        assigned = ivf_assign(corpus, cents, id_col=id_col, vec_col=vec_col)
        cents = (
            assigned.select(
                "centroid_id", F.posexplode(vec_col).alias("pos", "val")
            )
            .groupBy("centroid_id", "pos")
            .agg(F.avg("val").alias("v"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
            .select(
                "centroid_id",
                F.transform(F.col("pv"), lambda s: s["v"]).alias("centroid"),
            )
            .localCheckpoint(eager=True)
        )
    return cents


def ivf_build_index(
    corpus: DataFrame,
    centroids: DataFrame,
    table: str,
    num_buckets: int = 8,
    path: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the IVF assignment as a table bucketed by ``centroid_id``
    (the PAPERS.md LSH/IVF pre-filter pattern): probes equi-join on
    ``centroid_id`` against on-disk buckets, so a query touches only the
    matching ~1/num_buckets of the files and the corpus is never
    re-assigned per query — the round-1 anti-pattern this replaces."""
    from ..sources.sinks import write_bucketed

    assigned = ivf_assign(corpus, centroids, id_col=id_col, vec_col=vec_col)
    write_bucketed(
        assigned,
        table,
        bucket_cols=("centroid_id",),
        num_buckets=num_buckets,
        path=path,
    )


def _nearest_centroids(
    centroids: DataFrame,
    queries: DataFrame,
    nprobe: int,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """(query id, _qvec, centroid_id) for each query's ``nprobe``
    nearest centroids by cosine, ties to the lower centroid_id. Both
    sides are tiny: the centroids broadcast onto the queries."""
    c = centroids.select(
        F.col("centroid_id"),
        F.col("centroid").alias("_cvec"),
        # non-foldable constant key → broadcast hash join, not BNLJ;
        # NULL-coalesced so NULL-id rows are not silently dropped
        F.coalesce(F.pmod(F.col("centroid_id"), F.lit(1)), F.lit(0)).alias("_one"),
    )
    return (
        queries.withColumn(
            "_one", F.coalesce(F.pmod(F.col(query_id_col), F.lit(1)), F.lit(0))
        )
        .join(F.broadcast(c), "_one")
        .select(
            query_id_col,
            F.col(vec_col).alias("_qvec"),
            "centroid_id",
            vf.cosine(F.col(vec_col), F.col("_cvec")).alias("_sim"),
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(query_id_col).orderBy(
                    F.desc("_sim"), F.asc("centroid_id")
                )
            ),
        )
        .filter(F.col("_rn") <= nprobe)
        .select(query_id_col, "_qvec", "centroid_id")
    )


def ivf_probe_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k over a prebuilt IVF assignment: pick each
    query's ``nprobe`` nearest centroids (tiny, all broadcast-side),
    then ONE broadcast equi-join on ``centroid_id`` against the bucketed
    assignment — the corpus is never shuffled; reading from the bucketed
    index table prunes to matching buckets. Same output schema as
    :func:`cosine_topk`."""
    qprobe = _nearest_centroids(centroids, queries, nprobe, vec_col, query_id_col)
    scored = assigned.join(F.broadcast(qprobe), "centroid_id").select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(vf.cosine(F.col(vec_col), F.col("_qvec")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def cosine_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.3,
    block_col: str | None = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "expr",
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs: self-join blocked on
    ``block_col`` (pair space bounded per block; the blocking-key
    pattern), keep pairs with cosine ≥ ``threshold``.

    At 100 TB the block key would come from :func:`rhp_lsh_near_dup_pairs`
    instead of a data column — this exact variant is the oracle-checkable
    baseline and the recall reference for the LSH path.

    Hot-path shape: each side's norm is computed ONCE per row at the
    scan (not once per PAIR, which is what expanding cosine() in the
    join projection does) — the per-pair work drops to one dot fold.
    Value-identical: the same norm() expression over the same array.
    (A fully unrolled 64-term dot was tried and MEASURED: it exceeds
    janino's 64 KB codegen method limit, so the whole projection falls
    back to interpreted — slower than the HOF fold it replaced.)

    ``impl='arrow'`` routes the per-pair dot fold through the Arrow
    sequential-dot kernel (``_seq_dot_batches`` — bit-identical by
    construction, all comparisons/division/rounding stay JVM-side);
    the default stays the pure-expression plan so callers whose FINAL
    plan must remain Python-free (the posture contract) are unchanged —
    checkpointed consumers (the LSH recall reference) opt in.
    """
    cols = [F.col(id_col), F.col(vec_col)]
    if block_col is not None:
        cols.append(F.col(block_col))
    sh = corpus.select(*cols, vf.norm(F.col(vec_col)).alias("_nrm"))
    a, b = sh.alias("a"), sh.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col is not None:
        cond = (F.col(f"a.{block_col}") == F.col(f"b.{block_col}")) & cond
    if impl == "arrow":
        scored = (
            a.join(b, cond)
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.col(f"a.{vec_col}").alias("_va"),
                F.col(f"b.{vec_col}").alias("_vb"),
                F.col("a._nrm").alias("_na"),
                F.col("b._nrm").alias("_nb"),
            )
            .mapInPandas(
                _seq_dot_batches(
                    "_va", "_vb", "_dot", ["id_a", "id_b", "_na", "_nb"]
                ),
                schema=(
                    "id_a long, id_b long, _na double, _nb double,"
                    " _dot double"
                ),
            )
            .withColumn("_cos", F.col("_dot") / (F.col("_na") * F.col("_nb")))
        )
        return (
            scored.filter(F.col("_cos") >= threshold)
            .select("id_a", "id_b", F.round("_cos", 6).alias("cosine"))
        )
    cos = vf.dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")) / (
        F.col("a._nrm") * F.col("b._nrm")
    )
    return (
        a.join(b, cond)
        .withColumn("_cos", cos)
        .filter(F.col("_cos") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round("_cos", 6).alias("cosine"),
        )
    )


def _hyperplanes(n_planes: int, dim: int, seed: int = 1234) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes as plan-time literals."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _seq_dot_batches(va_col: str, vb_col, out_col: str, keep: list[str]):
    """mapInPandas kernel computing the EXACT sequential dot product of
    two array columns (or of one array column against a constant plane
    matrix when ``vb_col`` is a list of plane rows): accumulates
    ``acc = acc + a[i]*b[i]`` one dimension at a time, vectorized
    ACROSS rows — each element pays exactly one rounded multiply and
    one rounded add in dimension order, bit-identical to the
    ``zip_with``/``aggregate`` expression fold it replaces (which Spark
    evaluates as an interpreted per-element lambda, round 12's measured
    hot spot). Only the multiply-add runs in Python: every comparison,
    division and rounding that consumes the dot stays JVM-side, so
    NaN/tie semantics are untouched."""
    import numpy as np
    import pandas as pd

    planes = None if isinstance(vb_col, str) else np.array(vb_col, dtype=np.float64)

    def fn(it):
        for pdf in it:
            if not len(pdf):
                continue
            va = np.array(pdf[va_col].tolist(), dtype=np.float64)
            out = {c: pdf[c] for c in keep}
            if planes is None:
                vb = np.array(pdf[vb_col].tolist(), dtype=np.float64)
                acc = np.zeros(len(pdf), dtype=np.float64)
                for i in range(va.shape[1]):
                    acc = acc + va[:, i] * vb[:, i]
                out[out_col] = acc
            else:
                for j in range(planes.shape[0]):
                    acc = np.zeros(len(pdf), dtype=np.float64)
                    for i in range(va.shape[1]):
                        acc = acc + va[:, i] * planes[j, i]
                    out[f"{out_col}{j}"] = acc
            yield pd.DataFrame(out)

    return fn


def rhp_lsh_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.3,
    n_bits: int = 16,
    n_bands: int = 4,
    dim: int = 64,
    seed: int = 1234,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate embedding near-dup via random-hyperplane LSH.

    Pipeline: signature (n_bits hyperplane signs) → split into
    ``n_bands`` bands → equi-join per band (shuffle keyed by
    (band, band_bits) — never a cross join) → distinct candidate pairs →
    exact cosine verify ≥ threshold.

    Collision probability per bit is 1 − θ/π; true near-dups
    (cosine ≳ 0.9) collide in some band with ≥99% probability at
    16 bits × 4 bands. Output schema matches
    :func:`cosine_near_dup_pairs`; recall is pinned by tests on
    constructed duplicates.

    Shuffle shape (the 100 TB point, and measured 3x at bench scale):
    the band self-join moves ONLY (id, band, bits) — 24 bytes/row —
    never the vectors; after the candidate-pair dedup, vectors join
    back by id once per side and the verify is ONE dot fold over
    scan-computed per-row norms (value-identical: the same norm()
    expression over the same array, computed once per row instead of
    once per pair). The old shape dragged two 256-byte vectors through
    every banded exchange AND the pair dedup, then re-derived both
    norms inside every pair's cosine.
    """
    planes = _hyperplanes(n_bits, dim, seed)
    bits_per_band = n_bits // n_bands
    mask = (1 << bits_per_band) - 1
    # Round 12: the n_bits expression dots per vector ran as interpreted
    # higher-order-function folds (~9 s executor CPU at sf0.1); the
    # Arrow kernel computes the SAME sequential dots vectorized, and the
    # sign test + bit packing stay JVM-side expressions over the emitted
    # doubles — value-identical signature (tests pin recall; the oracle
    # pins the verified pairs).
    dots = corpus.select(id_col, vec_col).mapInPandas(
        _seq_dot_batches(vec_col, planes, "_d", [id_col]),
        schema=f"{id_col} long, "
        + ", ".join(f"_d{j} double" for j in range(n_bits)),
    )
    sig = F.lit(0).cast("long")
    for j in range(n_bits):
        sig = sig.bitwiseOR(
            F.when(F.col(f"_d{j}") >= 0, F.lit(1 << j).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    sigs = dots.select(F.col(id_col), sig.alias("_sig"))
    bands = sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("_sig", i * bits_per_band)
                        .bitwiseAND(F.lit(mask))
                        .alias("bits"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select(id_col, F.col("b.band").alias("band"), F.col("b.bits").alias("bits"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    side = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        vf.norm(F.col(vec_col)).alias("_nrm"),
    )
    va = side.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        F.col("_nrm").alias("_na"),
    )
    vb = side.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        F.col("_nrm").alias("_nb"),
    )
    # Same Arrow sequential-dot kernel for the verify: only the
    # multiply-add crosses to Python; the division, threshold compare
    # and rounding stay JVM-side — bit-identical cosine.
    scored = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .mapInPandas(
            _seq_dot_batches("_va", "_vb", "_dot", ["id_a", "id_b", "_na", "_nb"]),
            schema="id_a long, id_b long, _na double, _nb double, _dot double",
        )
    )
    return (
        scored.withColumn("_cos", F.col("_dot") / (F.col("_na") * F.col("_nb")))
        .filter(F.col("_cos") >= threshold)
        .select("id_a", "id_b", F.round("_cos", 6).alias("cosine"))
    )


# --- product quantization (PQ) ---------------------------------------------
# The third leg of the ANN stool after brute-force and IVF (the
# compressed-index pattern from the PAPERS.md ANN literature): vectors
# are stored as m small sub-codes instead of floats, queries score
# against a per-query lookup table of subspace inner products, and a
# tiny exact re-rank restores ordering on the shortlist.


def pq_subvectors(
    df: DataFrame,
    dim: int,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Explode each vector into its ``m`` contiguous subvectors:
    (id, sub_id, subvec). ``dim`` must divide evenly by ``m`` — PQ
    subspaces are equal-width by construction."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    return df.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub_id"),
                        F.slice(vec_col, s * d + 1, d).alias("subvec"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("_sv"),
    ).select(id_col, F.col("_sv.sub_id").alias("sub_id"), F.col("_sv.subvec").alias("subvec"))


def _pq_assign(subvecs: DataFrame, codebooks: DataFrame, id_col: str) -> DataFrame:
    """Nearest-code assignment per (vector, subspace): broadcast the
    (m × ksub)-row codebook, equi-join on sub_id, argmin squared-L2 via
    min_by — one hash aggregate, no window."""
    cb = codebooks.select("sub_id", "code_id", F.col("centroid").alias("_c"))
    scored = subvecs.join(F.broadcast(cb), "sub_id").select(
        F.col(id_col),
        "sub_id",
        "code_id",
        "subvec",
        vf.sq_l2(F.col("subvec"), F.col("_c")).alias("_d2"),
    )
    return scored.groupBy(id_col, "sub_id").agg(
        F.min_by(
            F.struct("code_id", "subvec"),
            # ties → smallest code id: deterministic, order-free
            F.struct(F.col("_d2"), F.col("code_id")),
        ).alias("_b")
    ).select(
        id_col,
        "sub_id",
        F.col("_b.code_id").alias("code_id"),
        F.col("_b.subvec").alias("subvec"),
    )


def pq_train_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic per-subspace Lloyd k-means: the ``m`` subspaces
    train in ONE DataFrame plan (sub_id is just another grouping key —
    no per-subspace driver loop), seeded from the ``ksub`` largest-id
    vectors' subvectors. Each round is one broadcast equi-join + two
    keyed aggregations over (sub_id, code_id[, pos]); the tiny
    (m × ksub)-row codebook is localCheckpointed per round so lineage
    stays flat (same discipline as :func:`kmeans_centroids`)."""
    w = Window.partitionBy("sub_id").orderBy(F.desc(id_col))
    subvecs = pq_subvectors(corpus, dim, m, id_col=id_col, vec_col=vec_col)
    cb = (
        subvecs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= ksub)
        .select(
            "sub_id",
            (F.col("_rn") - 1).alias("code_id"),
            F.col("subvec").alias("centroid"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        assigned = _pq_assign(subvecs, cb, id_col=id_col)
        cb = (
            assigned.select(
                "sub_id", "code_id", F.posexplode("subvec").alias("pos", "val")
            )
            .groupBy("sub_id", "code_id", "pos")
            .agg(F.avg("val").alias("v"))
            .groupBy("sub_id", "code_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
            .select(
                "sub_id",
                "code_id",
                F.transform(F.col("pv"), lambda s: s["v"]).alias("centroid"),
            )
            .localCheckpoint(eager=True)
        )
    return cb


def pq_encode(
    assigned_corpus: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Compress the corpus to PQ codes in the EXPLODED storage layout
    (id, centroid_id, sub_id, code_id, recon_norm): m narrow rows per
    vector — the layout ADC probes join against directly, no unpacking.
    ``assigned_corpus`` carries the coarse IVF ``centroid_id`` so the
    codes table doubles as an IVF-PQ index (probes prune buckets before
    scanning codes). ``recon_norm`` is the L2 norm of the RECONSTRUCTED
    vector (the concatenated code centroids) — the denominator that
    makes ADC inner products into cosine estimates."""
    subvecs = pq_subvectors(
        assigned_corpus, dim, m, id_col=id_col, vec_col=vec_col
    )
    codes = _pq_assign(subvecs, codebooks, id_col=id_col)
    cb = codebooks.select(
        "sub_id", "code_id",
        vf.dot(F.col("centroid"), F.col("centroid")).alias("_c2"),
    )
    norms = (
        codes.join(F.broadcast(cb), ["sub_id", "code_id"])
        .groupBy(id_col)
        .agg(F.sqrt(F.sum("_c2")).alias("recon_norm"))
    )
    buckets = assigned_corpus.select(id_col, "centroid_id")
    return (
        codes.select(id_col, "sub_id", "code_id")
        .join(norms, id_col)
        .join(buckets, id_col)
        .select(id_col, "centroid_id", "sub_id", "code_id", "recon_norm")
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 10,
    nprobe: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ probe with asymmetric distance computation (ADC) and
    exact re-rank:

    1. Pick each query's ``nprobe`` nearest coarse centroids (tiny,
       broadcast-side — :func:`_nearest_centroids`, as in
       :func:`ivf_probe_topk`).
    2. Build the per-query LUT: <q_sub, centroid> for every
       (sub_id, code_id) — Q × m × ksub rows, broadcast.
    3. ADC scan: equi-join codes against (probe list ⋈ LUT) on
       (centroid_id, sub_id, code_id), sum the m partial inner
       products per (query, vector); cosine estimate =
       Σip / (‖q‖ · recon_norm). The corpus floats are NEVER touched —
       the scan reads only the compressed code rows.
    4. Exact re-rank: the per-query ``shortlist`` best ADC candidates
       (distributed TakeOrdered shape) join back to the corpus floats
       — shortlist × Q rows, broadcast — and exact cosine orders the
       final top-k.

    Residual-free PQ (codes quantize the raw vector, not x − coarse
    centroid): with an exact re-rank the residual refinement buys
    little recall on cosine retrieval, and skipping it keeps encode a
    pure equi-join pipeline."""
    # 1. probe list
    probe = _nearest_centroids(
        centroids, queries, nprobe, vec_col, query_id_col
    ).select(query_id_col, "centroid_id")
    # 2. per-query subspace LUT
    d = dim // m
    qsub = queries.select(
        query_id_col,
        vf.norm(F.col(vec_col)).alias("_qnorm"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub_id"),
                        F.slice(vec_col, s * d + 1, d).alias("qsub"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("_s"),
    ).select(query_id_col, "_qnorm", "_s.sub_id", "_s.qsub")
    lut = qsub.join(
        F.broadcast(codebooks.select("sub_id", "code_id", "centroid")),
        "sub_id",
    ).select(
        query_id_col,
        "_qnorm",
        "sub_id",
        "code_id",
        vf.dot(F.col("qsub"), F.col("centroid")).alias("_ip"),
    )
    probe_lut = lut.join(F.broadcast(probe), query_id_col).select(
        query_id_col, "_qnorm", "centroid_id", "sub_id", "code_id", "_ip"
    )
    # 3. ADC scan over compressed codes only
    adc = (
        codes.join(
            F.broadcast(probe_lut), ["centroid_id", "sub_id", "code_id"]
        )
        .groupBy(query_id_col, id_col)
        .agg(
            (
                F.sum("_ip") / (F.max("_qnorm") * F.max("recon_norm"))
            ).alias("_adc_cos")
        )
    )
    w_sl = Window.partitionBy(query_id_col).orderBy(
        F.desc("_adc_cos"), F.asc(id_col)
    )
    cand = (
        adc.withColumn("_rn", F.row_number().over(w_sl))
        .filter(F.col("_rn") <= shortlist)
        .select(query_id_col, id_col)
    )
    # 4. exact re-rank of the shortlist
    rerank = (
        corpus.join(F.broadcast(cand), id_col)
        .join(
            F.broadcast(
                queries.select(query_id_col, F.col(vec_col).alias("_qvec"))
            ),
            query_id_col,
        )
        .select(
            query_id_col,
            id_col,
            F.round(vf.cosine(F.col(vec_col), F.col("_qvec")), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        rerank.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


# --- scalar quantization (SQ8) -------------------------------------------


def sq8_train_stats(
    corpus: DataFrame, dim: int, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension min/max over the corpus as ONE single-pass
    aggregate (2·dim codegen'd agg expressions — no posexplode, so no
    N×dim shuffle at train time). Returns a 1-row frame
    (mins array<double>, maxs array<double>) meant to be broadcast."""
    aggs = []
    for i in range(dim):
        c = F.col(vec_col)[i].cast("double")
        aggs.append(F.min(c).alias(f"_mn{i}"))
        aggs.append(F.max(c).alias(f"_mx{i}"))
    return corpus.agg(*aggs).select(
        F.array(*[F.col(f"_mn{i}") for i in range(dim)]).alias("mins"),
        F.array(*[F.col(f"_mx{i}") for i in range(dim)]).alias("maxs"),
    )


def sq8_encode(
    corpus: DataFrame,
    stats: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Uniform 8-bit scalar quantization: code_i = round((x_i − min_i)
    / (max_i − min_i) · 255) per dimension (zero-range dims → code 0).
    Pure zip_with expressions under the broadcast stats row — encoding
    is scan-local, nothing shuffles. float32 → 8-bit codes = the 4×
    footprint cut that makes a 100 TB corpus scan a 25 TB scan."""
    vecd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    rng = F.zip_with("maxs", "mins", lambda mx, mn: mx - mn)
    shifted = F.zip_with(vecd, "mins", lambda x, mn: x - mn)
    codes = F.zip_with(
        shifted,
        rng,
        lambda s, r: F.when(r > 0, F.round(s / r * 255).cast("int")).otherwise(
            F.lit(0)
        ),
    )
    with_codes = corpus.crossJoin(F.broadcast(stats)).select(
        id_col, codes.alias("codes"), "mins", "maxs"
    )
    # recon_norm rides in the index (as pq_encode's does): the L2 norm
    # of the dequantized row, computed once at build time so probes
    # need no norm aggregate or join.
    recon2 = F.aggregate(
        F.zip_with(
            _sq8_recon(), F.col("codes"), lambda r, _c: r * r
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return with_codes.select(
        id_col, "codes", F.sqrt(recon2).alias("recon_norm")
    )


def _sq8_recon(codes_col: str = "codes") -> F.Column:
    """Dequantize codes back to doubles under broadcast stats columns:
    recon_i = min_i + code_i · (max_i − min_i) / 255."""
    rng = F.zip_with("maxs", "mins", lambda mx, mn: mx - mn)
    scaled = F.zip_with(
        F.col(codes_col), rng, lambda c, r: c.cast("double") * r / 255.0
    )
    return F.zip_with(scaled, "mins", lambda s, mn: s + mn)


def sq8_topk(
    codes_df: DataFrame,
    stats: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """SQ8 top-k with exact re-rank: (1) approximate scan — cosine of
    each query against the DEQUANTIZED codes; the corpus floats are
    never read, only the 4×-smaller code rows stream through the scan;
    (2) per-query ``shortlist`` best approximate candidates
    (distributed TakeOrdered); (3) exact re-rank — only shortlist × Q
    rows join back to the corpus floats for true cosine ordering of
    the final top-k.

    The approximate scan runs in the EXPLODED narrow layout (the same
    storage shape :func:`pq_encode` uses): dot(q, recon) decomposes as
    Σᵢ qᵢ·mnᵢ (a per-query constant) + Σᵢ (qᵢ·sᵢ)·cᵢ, so the per-pair
    work is one codegen'd hash aggregate over (pos-joined) code rows —
    no per-element lambda evaluation (array zip_with chains run
    interpreted per element and dominate wall-clock at scan volume)."""
    # Broadcast-side: stats exploded to (pos, mn, step).
    st = stats.select(
        F.posexplode(F.arrays_zip("mins", "maxs")).alias("pos", "_mm")
    ).select(
        "pos",
        F.col("_mm.mins").alias("_mn"),
        ((F.col("_mm.maxs") - F.col("_mm.mins")) / 255.0).alias("_s"),
    )
    qx = (
        queries.select(query_id_col, F.posexplode(vec_col).alias("pos", "_qv"))
        .join(F.broadcast(st), "pos")
        .select(
            query_id_col,
            "pos",
            (F.col("_qv").cast("double") * F.col("_s")).alias("_qs"),
            (F.col("_qv").cast("double") * F.col("_mn")).alias("_qmn"),
            (F.col("_qv").cast("double") * F.col("_qv")).alias("_q2"),
        )
    )
    qagg = qx.groupBy(query_id_col).agg(
        F.sum("_qmn").alias("_qconst"), F.sqrt(F.sum("_q2")).alias("_qnorm")
    )
    qw = qx.select(query_id_col, "pos", "_qs")
    ex = codes_df.select(
        id_col, "recon_norm", F.posexplode("codes").alias("pos", "_c")
    )
    dots = (
        ex.join(F.broadcast(qw), "pos")
        .groupBy(query_id_col, id_col)
        .agg(
            F.sum(F.col("_qs") * F.col("_c").cast("double")).alias("_wdot"),
            # constant within the group — carried, not re-joined
            F.max("recon_norm").alias("_rnorm"),
        )
    )
    approx = dots.join(F.broadcast(qagg), query_id_col).select(
        query_id_col,
        id_col,
        (
            (F.col("_qconst") + F.col("_wdot"))
            / (F.col("_qnorm") * F.col("_rnorm"))
        ).alias("_approx"),
    )
    q = queries.select(query_id_col, F.col(vec_col).alias("_qvec"))
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("_approx"), F.asc(id_col)
    )
    cand = (
        approx.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= shortlist)
        .select(query_id_col, id_col)
    )
    rerank = cand.join(corpus.select(id_col, vec_col), id_col).join(
        F.broadcast(q), query_id_col
    )
    scored = rerank.select(
        query_id_col,
        id_col,
        F.round(vf.cosine(F.col(vec_col), F.col("_qvec")), 6).alias("cosine"),
    )
    w2 = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )
