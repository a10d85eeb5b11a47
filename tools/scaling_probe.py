"""Scaling probe: time the bench headline suite at every available
scale factor and write SCALING.md with per-query times and the
0.01→0.1 scaling exponent (log10 time ratio per 10x data).

Usage: python tools/scaling_probe.py            # every axis -> SCALING.md
       python tools/scaling_probe.py q [q ...]  # re-time star-axis rows

The second form re-times only the named queries on the star axis (same
methodology) and replaces each one's row in SCALING.md's star table, or
appends the row there if the query has none yet — the way to refresh a
plan change's scaling posture without the full multi-axis run.

An exponent near 0 means the query is dominated by fixed costs at these
sizes; near 1 means linear in the data; above 1 flags super-linear work
that would NOT survive a 100x scale-up and needs a plan fix. This is
the local, measurable stand-in for the '1000-executor, 100 TB' question
the architecture targets.

Two probe axes:

1. **Star-schema axis** — the headline suite plus the shuffle-heaviest
   registry queries across sf0.001/0.01/0.1 (lineitem/orders/events grow
   10x per step; documents/embeddings only grow at sf0.1).
2. **Corpus axis** — the text/dedup/similarity queries against GENERATED
   corpora at x1/x4/x16 of the sf0.1 documents+embeddings tables
   (replicated with id offsets and deterministic text/vector
   perturbations, written under .scaling_corpus/). This measures REAL
   corpus growth for the LLM-pipeline operators instead of the fixed-size
   testdata corpora; exponents here are per 4x step
   (log(t_next/t_prev)/log(4)).
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rust_ruuvitag_etl_spark.session import get_spark
from tools.harness import HEADLINE, time_query, timed_builder

SFS = ["0.001", "0.01", "0.1"]
STAR_DIRS = {sf: f"/root/testdata/sf{sf}" for sf in SFS}

# Shuffle-heaviest registry queries beyond the headline suite (round-1
# verdict #6): the full LSH→verify dedup composition and the rewritten
# bucketed-IVF probe.
EXTRA = [
    "dedup_minhash_verified",
    "similarity_ivf_topk",
    # round 12: non-headline registry entries still get star-axis rows
    # so no query ships without a scaling posture (the r11 verdict's
    # similarity_ivf_compact_segments gap, closed structurally)
    "similarity_ivf_compact_segments",
    "quality_lr_train",
    "quality_lr_eval_holdout",
    "quality_lr_apply",
    "eval_pass_at_k",
    "training_pack_sequences",
]

CORPUS_MULTS = [1, 4, 16]
CORPUS_QUERIES = [
    "text_langid_trigram",
    "text_quality_scores",
    "dedup_minhash_lsh_pairs",
    "dedup_minhash_verified",
    "similarity_bruteforce_topk",
    "similarity_ivf_topk",
    "similarity_sq8_topk",
    "dedup_semantic_clusters",
    # round-5 additions (round-4 verdict #7): label-against-exemplars
    # join on real corpus growth; TextRank reads documents so its edge
    # set grows with the corpus too.
    "similarity_knn_join",
    "text_keyword_pagerank",
    # round-6 additions: CDC dedup (chunk-hash join growth) and the
    # JL projection (scan-local — should stay ~linear in corpus).
    "dedup_cdc_shifted",
    "embedding_random_projection",
    # round-6 late additions: the exact prefix-filtered similarity
    # join (candidate volume grows with corpus overlap — the axis
    # answers whether the prefix filter keeps the verify candidate-
    # bounded) and the 1-bit ADC probe (should stay ~linear: the
    # approximate scan reads 8 bytes/vector).
    "dedup_ssjoin_prefix",
    "similarity_bq_topk",
    # round-7 additions: the re-planned prefix-filtered Jaccard pairs
    # (the axis verifies the theta-join quadratic is gone: candidate
    # volume should track true-pair overlap, not Sigma|block|^2) and
    # winnowing substring dedup (fingerprint join + diagonal runs —
    # should stay near-linear; the true-span set itself grows with
    # replica overlap like every exact dedup output).
    "dedup_ngram_jaccard_pairs",
    "dedup_substring_spans",
    # round-7 wave-2 additions: Lloyd training (per-iteration argmin +
    # (k x dim)-group shuffles — should scale ~linearly in the corpus),
    # the Gram-pass PCA (scan-bound: the iterations are corpus-size-
    # free, so the exponent is the Gram accumulation alone), and the
    # containment pair join (df-capped shingle equi-join — candidate
    # volume tracks capped-df overlap, same discipline as CDC/ssjoin).
    "cluster_kmeans_lloyd",
    "embedding_pca_power_iteration",
    "dedup_containment_pairs",
    # round-8 additions: URL canonicalization dedup (scan-local string
    # normalization + two map-side-combinable groupBys — should be
    # ~linear with collision-group growth absorbed by partial agg) and
    # the PII scan (pure scan-local regex — the linearity floor).
    "dedup_url_canonical",
    "governance_pii_scan",
    # round-8 wave 2: BPE training — the corpus axis verifies the
    # design claim that merge rounds cost |vocab|, not |corpus|
    # (replication grows tokens 16x but the distinct-word table and
    # therefore the per-round work should stay ~flat).
    "tokenizer_bpe_merges",
]

# Graph axis (round-4 verdict #7): the engagement-graph algorithms read
# events — replicate events x1/x4/x16 to densify the bipartite graph
# and measure how per-iteration join+agg rounds scale with edges.
GRAPH_MULTS = [1, 4, 16]
GRAPH_QUERIES = ["graph_pagerank_bipartite", "graph_bfs_hops"]

# Skew axis (round-2 verdict #7): zipfian token distributions are the
# realistic 100 TB failure mode for text/dedup shuffles — a stop-word
# token lands in (nearly) every document, so any plan that concentrates
# a token's state on one reducer degrades super-linearly here.
SKEW_MULTS = [1, 4, 16]
SKEW_BASE_DOCS = 5_000  # x1 matches the sf0.1 documents row count
SKEW_VOCAB = 50_000
SKEW_QUERIES = [
    "text_inverted_index",
    "text_tfidf_scores",
    "dedup_minhash_lsh_pairs",
]


def _repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def gen_corpora(spark, base_dir: str, out_root: str) -> dict[int, str]:
    """Replicate the sf0.1 documents/embeddings tables x1/x4/x16 with id
    offsets + deterministic perturbations (text suffix per replica;
    +k*1e-4 on each embedding coordinate) so corpus-bound queries see
    real data growth. Idempotent: existing outputs are reused."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{base_dir}/documents.parquet")
    em = spark.read.parquet(f"{base_dir}/embeddings.parquet")
    dirs = {}
    for mult in CORPUS_MULTS:
        out = os.path.join(out_root, f"x{mult}")
        dirs[mult] = out
        if os.path.exists(os.path.join(out, "_DONE")):
            continue
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out, exist_ok=True)
        doc_parts = []
        em_parts = []
        for k in range(mult):
            suffix = F.lit("") if k == 0 else F.lit(f" replica{k}")
            doc_parts.append(
                docs.select(
                    (F.col("doc_id") + k * 10_000_000).alias("doc_id"),
                    F.concat(F.col("text"), suffix).alias("text"),
                    "lang",
                    "source",
                    "n_chars",
                )
            )
            em_parts.append(
                em.select(
                    (F.col("vec_id") + k * 10_000_000).alias("vec_id"),
                    F.transform(
                        "embedding", lambda x: (x + F.lit(k * 1e-4)).cast("float")
                    ).alias("embedding"),
                    "label",
                )
            )
        d = doc_parts[0]
        for part in doc_parts[1:]:
            d = d.unionByName(part)
        e = em_parts[0]
        for part in em_parts[1:]:
            e = e.unionByName(part)
        d.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
        e.write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))
        open(os.path.join(out, "_DONE"), "w").close()
    return dirs


def gen_graph_corpora(spark, base_dir: str, out_root: str) -> dict[int, str]:
    """Replicate sf0.1 events x1/x4/x16 with OFFSET user ids (replica k
    adds k*10M to user_id and event_id): identical rows would collapse
    in the graph's DISTINCT (user, type) edge build, offset users grow
    the bipartite edge set linearly. Idempotent via _DONE marker."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{base_dir}/events.parquet")
    dirs = {}
    for mult in GRAPH_MULTS:
        out = os.path.join(out_root, f"graph_x{mult}")
        dirs[mult] = out
        if os.path.exists(os.path.join(out, "_DONE")):
            continue
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out, exist_ok=True)
        parts = [
            ev.select(
                (F.col("event_id") + k * 10_000_000).alias("event_id"),
                "ts",
                (F.col("user_id") + k * 10_000_000).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
            for k in range(mult)
        ]
        e = parts[0]
        for part in parts[1:]:
            e = e.unionByName(part)
        e.write.mode("overwrite").parquet(os.path.join(out, "events.parquet"))
        open(os.path.join(out, "_DONE"), "w").close()
    return dirs


def gen_zipf_corpora(spark, out_root: str) -> dict[int, str]:
    """Generate zipf(s≈1)-token corpora at x1/x4/x16 document counts,
    entirely with Spark expressions (no driver-side loops): token rank
    for each position is the inverse-CDF transform ``V^u`` of a
    hash-derived uniform u — P(rank ≤ r) ≈ ln(r)/ln(V), i.e. classic
    1/rank frequencies. 'tok1' appears in essentially every document
    (the stop-word / hot-key regime); doc lengths vary 40–80 tokens.
    Deterministic (pure hash arithmetic), idempotent via _DONE marker."""
    from pyspark.sql import functions as F

    dirs = {}
    for mult in SKEW_MULTS:
        out = os.path.join(out_root, f"zipf_x{mult}")
        dirs[mult] = out
        if os.path.exists(os.path.join(out, "_DONE")):
            continue
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out, exist_ok=True)
        n_docs = SKEW_BASE_DOCS * mult
        d = spark.range(n_docs).select(F.col("id").alias("doc_id"))
        n_toks = (F.pmod(F.xxhash64("doc_id"), F.lit(41)) + 40).cast("int")
        u = lambda j: (
            F.pmod(F.xxhash64(F.col("doc_id") * 1000 + j), F.lit(1_000_000))
            / 1_000_000.0
        )
        rank = lambda j: F.greatest(
            F.lit(1), F.pow(F.lit(float(SKEW_VOCAB)), u(j)).cast("int")
        )
        text = F.array_join(
            F.transform(
                F.sequence(F.lit(1), n_toks),
                lambda j: F.concat(F.lit("tok"), rank(j).cast("string")),
            ),
            " ",
        )
        docs = d.select(
            "doc_id",
            text.alias("text"),
            F.lit("en").alias("lang"),
            F.lit("zipf").alias("source"),
        ).withColumn("n_chars", F.length("text"))
        docs.write.mode("overwrite").parquet(
            os.path.join(out, "documents.parquet")
        )
        open(os.path.join(out, "_DONE"), "w").close()
    return dirs


def _time_queries(spark, names, sf_dirs) -> dict[str, dict[str, float]]:
    # Production builders (plans/registry.py): dedup on the fast hash
    # family, IVF probe-only — the probe grades the plans users run,
    # not the oracle-gate twins. One untimed warm run per query and
    # scale so timings are steady-state, then the MEDIAN of three timed
    # reps: single measurements on a shared box intermittently read
    # 3-4x high (GC pause, a co-tenant burst) and a one-off spike in
    # the numerator of a log-ratio fabricates a super-linear exponent
    # where none exists (observed twice: q3 +0.92 and
    # dedup_minhash_verified +0.91 star exponents that a
    # re-measurement minutes later put back at ~+0.3).
    times: dict[str, dict[str, float]] = {n: {} for n in names}
    for key, d in sf_dirs.items():
        for name in names:
            reps = time_query(spark, timed_builder(name), d, warm=1, reps=3)
            times[name][key] = round(statistics.median(reps), 3)
    return times


def _star_row(name: str, t: dict[str, float]) -> tuple[str, float]:
    """SCALING.md star-table row for ``name`` and its exponent."""
    t1, t2, t3 = (t[sf] for sf in SFS)
    exp = math.log10(t3 / t2) if t2 > 0 else float("nan")
    return f"| {name} | {t1} | {t2} | {t3} | {exp:+.2f} |", exp


def _step_exp(t1: float, t4: float, t16: float) -> float:
    """Mean per-4x-step exponent log(t_next/t_prev)/log(4)."""
    steps = [
        math.log(b / a) / math.log(4) for a, b in ((t1, t4), (t4, t16)) if a > 0
    ]
    return sum(steps) / len(steps) if steps else float("nan")


def update_star_rows(path: str, names: list[str]) -> None:
    """Re-time ``names`` on the star axis; replace each one's row in the
    star table of the SCALING.md at ``path``, or append it to the table."""
    spark = get_spark("scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")
    star = _time_queries(spark, names, STAR_DIRS)
    spark.stop()
    with open(path) as f:
        lines = f.read().splitlines()
    start = next(i for i, ln in enumerate(lines) if ln.startswith("## Star-schema"))
    for name in names:
        # the star table ends one blank line above its summary line
        end = next(
            i for i, ln in enumerate(lines) if ln.startswith("Worst star-axis")
        ) - 1
        row, _ = _star_row(name, star[name])
        at = next(
            (i for i in range(start, end) if lines[i].startswith(f"| {name} | ")),
            None,
        )
        if at is None:
            lines.insert(end, row)
        else:
            lines[at] = row
        print(row, flush=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def _time_assignment(spark, corpus_dirs) -> dict[str, dict[int, float]]:
    """SemDeDup-regime assignment probe: k FORCED to N/100 (not the
    registry's k=8 floor), flat ivf_assign vs two-level
    hierarchical_assign over the same codebook. Codebook QUALITY is
    irrelevant to assignment COST, so centroids are just the k
    largest-id vectors — no Lloyd rounds pollute the timing.

    Forcing matters here (the round-5 anomaly): under ``.count()``
    Catalyst PRUNES the unused ``max_by(_sim)`` aggregate expression,
    so the N·k cosine scoring — the very work this axis grades — never
    executes and the probe reads flat join-row throughput (observed:
    flat timings FALLING 0.69→0.45 s while N·k grew 256×). The probe
    therefore forces through the assignment OUTPUT with
    ``sum(centroid_id)``: the argmax result is consumed, so every
    cosine must be computed."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from rust_ruuvitag_etl_spark.operators import similarity as sim
    from rust_ruuvitag_etl_spark.operators.dedup import spread

    def force(df):
        df.agg(F.sum("centroid_id")).collect()

    out: dict[str, dict[int, float]] = {"flat": {}, "two_level": {}}
    for mult, d in sorted(corpus_dirs.items()):
        em = spread(
            spark.read.parquet(os.path.join(d, "embeddings.parquet"))
        ).localCheckpoint(eager=True)
        n = em.count()
        k = max(8, n // 100)
        w = Window.orderBy(F.desc("vec_id"))
        cents = (
            em.orderBy(F.desc("vec_id"))
            .limit(k)
            .withColumn("centroid_id", F.row_number().over(w) - 1)
            .select("centroid_id", F.col("embedding").alias("centroid"))
            .localCheckpoint(eager=True)
        )
        for key, fn in (
            ("flat", lambda: sim.ivf_assign(em, cents)),
            ("two_level", lambda: sim.hierarchical_assign(em, cents, k)),
        ):
            force(fn())  # warm
            reps = []
            for _ in range(3):
                t0 = time.time()
                force(fn())
                reps.append(time.time() - t0)
            out[key][mult] = round(sorted(reps)[1], 3)
    return out


def main() -> None:
    root = _repo_root()
    out_md = os.path.join(root, "SCALING.md")
    if sys.argv[1:]:
        update_star_rows(out_md, sys.argv[1:])
        return
    spark = get_spark("scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")

    star_names = list(dict.fromkeys(HEADLINE + EXTRA))
    star = _time_queries(spark, star_names, STAR_DIRS)

    corpus_dirs = gen_corpora(
        spark, "/root/testdata/sf0.1", os.path.join(root, ".scaling_corpus")
    )
    corpus = _time_queries(
        spark, CORPUS_QUERIES, {str(m): d for m, d in corpus_dirs.items()}
    )

    skew_dirs = gen_zipf_corpora(spark, os.path.join(root, ".scaling_corpus"))
    skew = _time_queries(
        spark, SKEW_QUERIES, {str(m): d for m, d in skew_dirs.items()}
    )

    graph_dirs = gen_graph_corpora(
        spark, "/root/testdata/sf0.1", os.path.join(root, ".scaling_corpus")
    )
    graph = _time_queries(
        spark, GRAPH_QUERIES, {str(m): d for m, d in graph_dirs.items()}
    )

    assign = _time_assignment(spark, gen_corpora(
        spark, "/root/testdata/sf0.1", os.path.join(root, ".scaling_corpus")
    ))

    lines = [
        "# SCALING — headline suite across scale factors",
        "",
        "Generated by `python tools/scaling_probe.py` (steady-state: one",
        "untimed warm pass per scale).",
        "",
        "## Star-schema axis (sf0.001 → 0.1)",
        "",
        "`exp` = log10(t_0.1/t_0.01): ~0 = fixed-cost dominated, ~1 =",
        "linear in data, >1 = super-linear (needs a plan fix before any",
        "100x scale-up). documents/embeddings only grow 10x at the last",
        "step, so corpus-bound queries are graded on the corpus axis below.",
        "",
        "| query | sf0.001 s | sf0.01 s | sf0.1 s | exp |",
        "|---|---|---|---|---|",
    ]
    worst = 0.0
    for name in star_names:
        row, exp = _star_row(name, star[name])
        worst = max(worst, exp)
        lines.append(row)
    lines += [
        "",
        f"Worst star-axis exponent this run: **{worst:+.2f}** (linear = +1.00).",
        "",
        "## Corpus axis (sf0.1 documents/embeddings replicated x1/x4/x16)",
        "",
        "Generated corpora under `.scaling_corpus/` (id offsets +",
        "deterministic perturbations — every replica is novel text/vector",
        "content, so dedup/LSH/similarity state grows for real). `exp` =",
        "mean per-step log(t_next/t_prev)/log(4): ~1 = linear in corpus.",
        "",
        "| query | x1 s | x4 s | x16 s | exp |",
        "|---|---|---|---|---|",
    ]
    worst_c = 0.0
    for name in CORPUS_QUERIES:
        t1, t4, t16 = (corpus[name][str(m)] for m in CORPUS_MULTS)
        exp = _step_exp(t1, t4, t16)
        worst_c = max(worst_c, exp)
        lines.append(f"| {name} | {t1} | {t4} | {t16} | {exp:+.2f} |")
    lines += [
        "",
        f"Worst corpus-axis exponent this run: **{worst_c:+.2f}** (linear = +1.00).",
        "Sub-linear means fixed costs still dominate at these sizes;",
        "super-linear flags quadratic candidate growth or a broken bucket",
        "strategy.",
        "",
        "Reading the verify row: the replicated corpus is an adversarially",
        "DENSE near-dup workload — every doc gains replica near-copies, so",
        "the TRUE pair count grows quadratically within each replica",
        "cluster (16 copies → 120 pairs). `dedup_minhash_verified`'s ~+1.0",
        "exponent tracks its OUTPUT (the pairs it must exactly verify), not",
        "a broken bucket strategy; candidate GENERATION",
        "(`dedup_minhash_lsh_pairs`) stays sub-linear, which is the part",
        "that must scale.",
        "",
        "`dedup_semantic_clusters` runs its production path (cluster-scoped",
        "verify) with the cluster count scaling ∝ corpus (max(8, N/1000) —",
        "the SemDeDup paper's bounded-cluster regime), so its ~linear",
        "exponent is total batch-job work growing with the corpus, not",
        "quadratic pair growth; `similarity_sq8_topk` is the probe-only",
        "path over the persisted quantized index — near-flat because a",
        "probe touches Q×N code rows with no corpus shuffle.",
        "",
        "`similarity_knn_join` scores against a FIXED 50-exemplar catalog",
        "(vec_id < 500 — replicas never enter it), so its cost is linear",
        "in the corpus; this axis is what CAUGHT the round-5 version's",
        "corpus-growing catalog (every tenth vector ⇒ N·N/10 scoring,",
        "measured +1.77) before any real deployment would have.",
        "",
        "`dedup_ssjoin_prefix` is EXACT-recall, so on this axis it is",
        "output-bound like the verify row above: replica clusters make the",
        "true J >= 0.5 pair set grow quadratically within each cluster, and",
        "an exact join must verify every one of them (its ~+0.9 exponent is",
        "the answer getting bigger, not the prefix filter degrading — the",
        "filter's candidate join keys on each document's globally rarest",
        "shingles at every size). `similarity_bq_topk` is the probe-only",
        "1-bit ADC scan + shortlist re-rank: the shortlist scales as N/10 by",
        "design, so its ~+0.5 exponent is the chosen recall knob, with the",
        "8-byte-per-vector scan keeping the constant small.",
        "",
        "## Skew axis (zipfian tokens, x1/x4/x16 documents)",
        "",
        "Generated zipf(s≈1) corpora under `.scaling_corpus/zipf_x*/`:",
        f"{SKEW_VOCAB}-token vocabulary with 1/rank frequencies — 'tok1'",
        "appears in essentially every document, the stop-word / hot-key",
        "regime that breaks plans which concentrate one token's state on",
        "one reducer. `exp` = mean per-step log(t_next/t_prev)/log(4).",
        "",
        "| query | x1 s | x4 s | x16 s | exp |",
        "|---|---|---|---|---|",
    ]
    worst_s = 0.0
    for name in SKEW_QUERIES:
        t1, t4, t16 = (skew[name][str(m)] for m in SKEW_MULTS)
        exp = _step_exp(t1, t4, t16)
        worst_s = max(worst_s, exp)
        lines.append(f"| {name} | {t1} | {t4} | {t16} | {exp:+.2f} |")
    lines += [
        "",
        f"Worst skew-axis exponent this run: **{worst_s:+.2f}** (linear = +1.00).",
        "The inverted index stays near-flat under skew because postings",
        "aggregate under (token, doc_id % 16) — the hot token's state",
        "spreads across shards instead of one collect_list buffer; TF-IDF's",
        "per-(doc, token) key dilutes the hot token by construction. The",
        "minhash row is pure per-shingle hash CPU, not skew amplification:",
        "zipfian TOKEN skew does not skew LSH BUCKETS (bucket keys hash",
        "whole 4-value signature bands, and the zipf corpus yields zero",
        "candidate pairs at every size — no hot bucket ever forms).",
        "",
        "## Graph axis (sf0.1 events replicated x1/x4/x16, offset users)",
        "",
        "Replicas add k·10M to user_id, so the DISTINCT (user, type) edge",
        "set grows linearly (identical rows would collapse in the edge",
        "build). Each PageRank/BFS iteration is one edge equi-join + one",
        "groupBy(dst) partial sum over the checkpointed edge list; ~linear",
        "exponents mean per-iteration cost tracks |edges|, the textbook",
        "distributed shape.",
        "",
        "| query | x1 s | x4 s | x16 s | exp |",
        "|---|---|---|---|---|",
    ]
    for name in GRAPH_QUERIES:
        t1, t4, t16 = (graph[name][str(m)] for m in GRAPH_MULTS)
        exp = _step_exp(t1, t4, t16)
        lines.append(f"| {name} | {t1} | {t4} | {t16} | {exp:+.2f} |")
    lines += [
        "",
        "## SemDeDup assignment axis (k FORCED to N/100, x1/x4/x16 embeddings)",
        "",
        "With the codebook scaling k ∝ N (the paper's bounded-cluster",
        "regime), a flat nearest-centroid scan is O(N·k) = O(N²/100) — per",
        "4x corpus step that is 16x scoring work (exp +2.0). The two-level",
        "coarse→fine route (operators/similarity.py:hierarchical_assign) is",
        "O(N·√k), i.e. 8x per step (exp +1.5). Timings force through the",
        "assignment OUTPUT (sum of centroid_id) — a bare .count() lets",
        "Catalyst prune the max_by(cosine) aggregate and the scoring never",
        "runs (the round-5 probe's falling-time anomaly, fixed this round).",
        "Measured with k = N/100 forced (N/100 ≫ the registry's k=8 floor):",
        "",
        "| path | x1 s | x4 s | x16 s | exp (quadratic=+2.0) |",
        "|---|---|---|---|---|",
    ]
    for key in ("flat", "two_level"):
        t1, t4, t16 = (assign[key][m] for m in CORPUS_MULTS)
        exp = _step_exp(t1, t4, t16)
        lines.append(f"| {key} | {t1} | {t4} | {t16} | {exp:+.2f} |")
    lines += [
        "",
        "The engine routes on the measured crossover: `_semdedup_pairs`",
        "uses flat `ivf_assign` for k ≤ HIER_ASSIGN_MIN_K = 1024",
        "(plans/llm7.py — run-to-run variance brackets the crossover at",
        "k ≈ 500-1500) and `hierarchical_assign` above it, so the",
        "registry corpora (k=8 floor) take the cheap path and the",
        "O(N·√k) machinery engages exactly where it pays.",
        "",
    ]
    with open(out_md, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_md}")
    spark.stop()


if __name__ == "__main__":
    main()
