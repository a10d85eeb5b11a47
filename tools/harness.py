"""The one measurement harness behind bench.py and every tool under
tools/: which queries the bench times (``HEADLINE``), which builder
stands for a query (``timed_builder``: the registry's production
builder, else the registered one), how a query is timed
(``time_query``: warm passes, then timed reps, ``reclaim`` after every
run), the contention sentinel (``calibration_s``), and the per-job and
per-stage metrics of a job group (``job_stages``), read in-process from
the SparkContext status store — no HTTP UI, no fixed port.
"""

from __future__ import annotations

import time

from rust_ruuvitag_etl_spark.plans import REGISTRY
from rust_ruuvitag_etl_spark.plans.registry import QueryFn

# Headline suite: the flagship pipeline + representative heavy hitters
# from each operator family (join-heavy, agg-heavy, window, LLM ops,
# retrieval, the composed corpus-prep flagship, approximate ANN).
HEADLINE = [
    "ruuvi_flagship",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q18_large_volume_orders",
    "window_topk_orders_per_customer",
    "window_rolling_avg",
    "sliding_window_user_value",
    "dedup_exact_documents",
    "dedup_minhash_lsh_pairs",
    "dedup_minhash_verified",
    "similarity_bruteforce_topk",
    "similarity_ivf_topk",
    "text_quality_scores",
    "text_langid_trigram",
    "text_tfidf_scores",
    "text_bm25_ranking",
    "text_inverted_index",
    "contamination_ngram_eval",
    "multimodal_audio_stats",
    "multimodal_image_stats",
    "multimodal_png_stats",
    "multimodal_gif_stats",
    "dedup_exact_lines",
    "similarity_ivf_pq_topk",
    "corpus_prep_end_to_end",
    "timeseries_ohlc_downsample",
    "funnel_view_click_purchase",
    "retention_weekly_cohorts",
    "graph_pagerank_bipartite",
    "similarity_sq8_topk",
    "dedup_semantic_clusters",
    "dq_constraint_checks",
    "timeseries_ewma_smooth",
    "incremental_rollup_merge",
    "text_keyword_pagerank",
    "bitmap_user_activity",
    "multimodal_jpeg_stats",
    "multimodal_flac_stats",
    "similarity_knn_join",
    "multimodal_avi_stats",
    "multimodal_ogg_pages",
    "multimodal_mp3_frames",
    "multimodal_tiff_stats",
    "dedup_cdc_shifted",
    "embedding_random_projection",
    "dedup_ssjoin_prefix",
    "similarity_bq_topk",
    "timeseries_seasonal_decompose",
    "timeseries_holt_winters",
    # round 7: the registry's slowest pair queries enter the headline
    # so their cost is measured every round — dedup_ngram_jaccard_pairs
    # re-planned through the prefix filter (was an unmeasured 12 s+
    # within-block theta join), dedup_embedding_cosine_pairs kept as
    # the documented spec-level exact-recall reference for the LSH twin
    "dedup_ngram_jaccard_pairs",
    "dedup_embedding_cosine_pairs",
    # round 7 wave 2: iterative training + the containment pair join —
    # both shuffle-heavy shapes that must stay measured
    "cluster_kmeans_lloyd",
    "dedup_containment_pairs",
    "embedding_pca_power_iteration",
    # the two retrieval compositions: each is corpus-scan + constant-
    # size fusion/greedy stages — measured so the scan share stays honest
    "retrieval_rrf_fusion",
    "retrieval_mmr_rerank",
    # round 8: keep the headline tracking the slowest registry entries —
    # winnowing substring dedup (3.5 s) and the Gopher repetition gates
    # (3.0 s) were both heavier than half the round-7 headline. Their
    # inclusion RAISES the expected total vs r7; that's coverage, not a
    # regression.
    "dedup_substring_spans",
    "text_gopher_repetition",
    # round 8 wave 2: a sweep of ENGINE-ONLY timings over the whole
    # registry (oracle cost excluded) surfaced two heavy non-headline
    # plans — the blocked edit-distance join (15 s even with the banded
    # threshold form; the corpus's shared-prefix names defeat segment
    # filters, see the query docstring) and degree-oriented triangle
    # counting (7 s, dominated by co-purchase edge construction). The
    # headline exists to keep exactly these visible.
    "fuzzy_match_levenshtein",
    "graph_triangle_count",
    # round 9: the registry-wide engine sweep surfaced (and this round
    # fixed) three hidden hot spots — the embedding pair queries'
    # one-split serialization (16.3 s -> 4.1 s) and the stream-stream
    # state-store fan-out (9.2 s -> 3.5 s). The survivors plus the
    # heaviest still-unmeasured plans enter the headline so they stay
    # visible: the LSH pair query WITH its in-query exact recall gate,
    # the stream-stream interval join (first streaming entry in the
    # headline — it times a real availableNow job), the bloom-filter
    # delta dedup, the full dedup endgame (LSH -> verify -> connected
    # components -> keep-best), and round 9's co-purchase CC.
    "dedup_embedding_lsh_pairs",
    "streaming_interval_join",
    "dedup_bloom_delta",
    "dedup_keep_best_canonical",
    "graph_connected_components",
    # round 10: per the round-9 verdict's task 7, the fresh-JVM
    # engine-only re-rank admitted every remaining plan >1.5 s at
    # sf0.1 — the two-rater kappa (2.9 s), the winnowing scrub twin
    # (3.2 s), and the new five-artifact deletion-propagation audit
    # (5.0 s). timeseries_gap_fill was triaged as requested and stays
    # OUT: its engine share is 1.1 s; the 44 s full-artifact row is
    # DuckDB-oracle cost (dense-grid reconstruction), noted in
    # PLANS.md.
    "eval_cohens_kappa",
    "dedup_substring_scrub",
    "governance_deletion_propagate",
    # round 10 wave 2: the post-wave full-registry engine sweep +
    # fresh-JVM confirmation admitted every remaining plan >=2.5 s at
    # sf0.1, closing the "top-N with no gaps" criterion: the streaming
    # k-means scorer (5.7 s), the Arrow applyInPandas movement-delta
    # twin (4.2 s), the MinHash-vs-exact estimator audit (3.0 s), the
    # salted skew join (3.0 s), the k-means inertia descent gate
    # (3.1 s), and four 2.5-3.0 s entries including two round-10
    # additions (assortativity, Bradley-Terry).
    "streaming_kmeans_assign",
    "ruuvi_movement_delta_pandas",
    "eval_minhash_estimate",
    "skew_salted_join",
    "cluster_kmeans_inertia",
    "graph_degree_assortativity",
    "eval_bradley_terry_strength",
    "streaming_interval_join_left",
    "streaming_late_data_discard",
    "dedup_simhash_candidates",
    # round 10 wave 8: image near-dup with the real BMP codec in the
    # loop (3.7 s engine-only at sf0.1) joins the headline under the
    # same >=2.5 s gap-free rule.
    "dedup_image_bands",
    # round 11: the three new real-codec / maintenance queries all
    # clear the >=2.5 s gap-free rule in the round-11 engine sweep
    # (phash 5.1 s, maintained-probe measured via its production
    # override, audio envelope 3.4 s).
    "dedup_image_phash",
    "dedup_audio_envelope",
    "similarity_ivf_append_maintain",
    # round 12: the registry sweep + fresh-JVM confirmation admits the
    # two new heavy plans under the >=2.5 s gap-free rule — the video
    # near-dup with the real AVI codec in the loop (6.1 s fresh-JVM
    # median) and the end-to-end incremental corpus refresh (9.0 s —
    # a 4-stage composition whose cost is sequential fixed overhead,
    # not data volume; see its SCALING exponent). The LR trainer pair
    # measured 1.6/1.35 s and stays out.
    "dedup_video_frames",
    "corpus_refresh_incremental",
]


def timed_builder(name: str) -> QueryFn:
    """The builder every harness times for ``name``: the production path
    when the registry names one (the registered builder then carries a
    correctness twin or the oracle-reproducible hash family), else the
    registered builder itself."""
    q = REGISTRY[name]
    return q.production or q.fn


def calibration_s(reps: int = 3) -> float:
    """Contention sentinel: median wall-clock of a fixed pure-Python CPU
    loop (no Spark, no IO). On idle hardware this reads a stable
    machine-specific constant; a reading >1.3x the recorded idle value
    means the box is contended and every suite timing in this run is
    inflated — rerun before treating a per-query delta as a regression
    (three rounds running, a contended bench manufactured a phantom
    regression: r3 langid, r4 corpus_prep, r5 the whole suite at 44.7 s
    vs 34.5 s idle). Interpretation notes live in PLANS.md."""
    samples = []
    for _ in range(reps):
        t0 = time.time()
        acc = 0
        for i in range(2_000_000):
            acc += i * i & 0xFFFF
        samples.append(time.time() - t0)
    return round(sorted(samples)[reps // 2], 3)


def reclaim(spark) -> None:
    """Steady-state isolation, run OUTSIDE every timed region: drop
    storage blocks a previous query leaked and ask the JVM to collect.
    Eager ``localCheckpoint`` queries (jaccard prefix, ANN builds) pin
    executor blocks until their RDDs are JVM-GC'd, and a warm pass
    over the whole suite accumulates enough of them to inflate every
    LATER query's timing by 30-50% (measured: dedup_semantic_clusters
    2.6 s isolated vs 4.7-5.6 s timed after the round-7 pair queries
    entered the warm pass). Each query's number must measure ITS plan,
    not the previous query's garbage."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    spark._jvm.System.gc()


def time_query(spark, fn: QueryFn, sf_dir: str, warm: int, reps: int) -> list[float]:
    """Wall-clock seconds of ``reps`` timed ``fn(spark, sf_dir).count()``
    runs, after ``warm`` untimed ones. Each run builds the plan afresh
    (so builder time and eager ``localCheckpoint`` jobs are included)
    and forces it with ``count()``; ``reclaim`` runs after every run,
    outside the timed region. Callers report the median: single
    measurements on a shared box intermittently read 3-4x high (GC
    pause, co-tenant burst)."""
    for _ in range(warm):  # codegen, footers, plan build, JIT
        fn(spark, sf_dir).count()
        reclaim(spark)
    out = []
    for _ in range(reps):
        t0 = time.time()
        fn(spark, sf_dir).count()
        out.append(time.time() - t0)
        reclaim(spark)
    return out


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _opt(o, default):
    return o.get() if o.isDefined() else default


def job_stages(spark, group: str) -> list[dict]:
    """Jobs run under job group ``group`` (``sc.setJobGroup``), oldest
    first, each with the metrics of the stages it ran, read from
    ``sc._jsc.sc().statusStore()`` (perfbench/tracing.py:LayerProbe
    makes the same calls). Read right after the group's runs: the store
    keeps only the most recent ``spark.ui.retainedJobs``/``Stages``.

    A job is ``{id, desc, wall_s, tasks, stages}``; a stage is
    ``{id, name, tasks, run_s, cpu_s, gc_s, fetch_wait_s, shuffle_r,
    shuffle_w}`` with the shuffle sizes in bytes. A stage listed by
    several jobs appears under the first only, so sums count it once;
    stages that ran no task (skipped) are left out."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    seen: set[int] = set()
    jobs = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        j = store.job(jid)
        stages = []
        for sid in sorted(_seq(j.stageIds())):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # skipped stages never ran
                continue
            if sd.numCompleteTasks() == 0:
                continue
            stages.append(dict(
                id=sid,
                name=sd.name(),
                tasks=sd.numCompleteTasks(),
                run_s=sd.executorRunTime() / 1e3,
                cpu_s=sd.executorCpuTime() / 1e9,
                gc_s=sd.jvmGcTime() / 1e3,
                fetch_wait_s=sd.shuffleFetchWaitTime() / 1e3,
                shuffle_r=sd.shuffleReadBytes(),
                shuffle_w=sd.shuffleWriteBytes(),
            ))
        t0 = _opt(j.submissionTime(), None)
        t1 = _opt(j.completionTime(), None)
        jobs.append(dict(
            id=jid,
            desc=_opt(j.description(), j.name()),
            wall_s=(t1.getTime() - t0.getTime()) / 1e3 if t0 and t1 else 0.0,
            tasks=j.numCompletedTasks(),
            stages=stages,
        ))
    return jobs
