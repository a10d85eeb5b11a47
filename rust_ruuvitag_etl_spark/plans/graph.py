"""Iterative graph algorithms over a derived bipartite graph:
PageRank (damped push) and BFS hop distance (min-propagation).

The graph: users and event_types from ``events``, one undirected edge
per DISTINCT (user_id, event_type) interaction — the classic bipartite
engagement graph behind recommendation/influence features. Node ids
are namespaced strings (``u:<user_id>``, ``t:<event_type>``).

Both algorithms run a FIXED number of synchronous iterations as one
Catalyst plan over a localCheckpoint'd edge list (the same
checkpoint-the-invariant-side discipline as
``operators/similarity.py:kmeans_centroids``), and both use EXACT
integer arithmetic so the DuckDB oracle — the same iterations unrolled
as CTEs — reproduces every rank/distance bit-for-bit:

* PageRank ranks are scaled by 10^12 and every update is integer
  (``div``): r_i(v) = (15·S) // (100·N) + (85 · Σ_{u→v} r_{i-1}(u) //
  outdeg(u)) // 100. Integer division is deterministic and
  order-independent (BIGINT sums), unlike a float PageRank whose sum
  order differs between engines. The bipartite-undirected construction
  guarantees outdeg ≥ 1 (no dangling-mass term needed) and in-edges
  for every node (no vanishing rows).
* BFS distances are small integers: dist_i(v) = min(dist_{i-1}(v),
  1 + min over in-neighbors) with unreached = a large sentinel kept
  OUT of the output (NULL after the final filter-to-reached).

Scale posture: each iteration is one equi-join of the edge list
against the (node, value) frontier plus one groupBy(dst) aggregate —
the textbook distributed PageRank shape (shuffle keyed by node id,
map-side partial sums). The edge list builds once (distinct over the
fact scan) and is checkpointed so iterations never re-scan events. At
100 TB the iteration count is the knob (this query pins 3/4 for exact
oracle parity); convergence-driven runs would loop with the same
converge-or-raise guard as ``operators/dedup.py:connected_components``.

Registered AFTER the earlier families so the driver's first-50
correctness sample keeps the reference-parity surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load
from .registry import query

_S = 10**12  # PageRank fixed-point scale
_PR_ITERS = 3
_BFS_ITERS = 4
_BFS_ROOT = "t:purchase"
_INF = 10**9


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected bipartite edge list (both directions materialized),
    checkpointed: iterations must not re-scan the fact table."""
    ev = load(spark, sf_dir, "events")
    pairs = ev.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("u"),
        F.concat(F.lit("t:"), F.col("event_type")).alias("t"),
    ).distinct()
    edges = pairs.select(F.col("u").alias("src"), F.col("t").alias("dst")).unionAll(
        pairs.select(F.col("t").alias("src"), F.col("u").alias("dst"))
    )
    return edges.localCheckpoint(eager=True)


# SQL prefix defining CTEs p (distinct interactions) and e (the
# symmetrized edge list) for the bipartite engagement graph.
_BIPARTITE_EDGE_SQL = """
WITH p AS (
    SELECT DISTINCT 'u:' || user_id AS u, 't:' || event_type AS t
    FROM events
),
e AS (
    SELECT u AS src, t AS dst FROM p
    UNION ALL
    SELECT t AS src, u AS dst FROM p
)
"""

# CTEs shared by every PageRank oracle: out-degrees and the integer
# constants, keyed off whatever CTE `e` the prefix defined.
_PR_CONST_CTES = """,
deg AS (
    SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY src
),
c AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST({S} AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS r_init,
           CAST(15 * {S} AS BIGINT) // (100 * CAST(COUNT(*) AS BIGINT))
               AS base
    FROM deg
)
""".replace("{S}", str(_S))

_PR_ITER_CTE = """
r{i} AS (
    SELECT e.dst AS node,
           c.base + (85 * CAST(SUM(r{prev}.r // deg.outdeg) AS BIGINT)) // 100
               AS r
    FROM e
    JOIN r{prev} ON e.src = r{prev}.node
    JOIN deg ON deg.src = e.src
    CROSS JOIN c
    GROUP BY e.dst, c.base
)
"""


def _pr_oracle_sql(edge_prefix: str, iters: int, tail: str) -> str:
    """Unrolled integer-PageRank oracle: ``edge_prefix`` must open the
    WITH clause and define CTE ``e`` (src, dst); ``tail`` is the final
    SELECT over ``r{iters}``."""
    return (
        edge_prefix.rstrip()
        + _PR_CONST_CTES
        + ",\nr0 AS (SELECT src AS node, c.r_init AS r FROM deg CROSS JOIN c)"
        + "".join(
            "," + _PR_ITER_CTE.format(i=i, prev=i - 1)
            for i in range(1, iters + 1)
        )
        + tail.format(last=f"r{iters}")
    )


def _pagerank(edges: DataFrame, iters: int = _PR_ITERS) -> DataFrame:
    """The Spark side of the integer PageRank: ``iters`` synchronous
    rounds over a (src, dst) edge frame; returns (node, r). Each round
    is one edge equi-join + one groupBy(dst) partial-sum aggregate."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    consts = deg.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"CAST({_S} AS BIGINT) div count(1)").alias("r_init"),
        F.expr(f"CAST(15 * {_S} AS BIGINT) div (100 * count(1))").alias("base"),
    )
    rank = deg.crossJoin(F.broadcast(consts)).select(
        F.col("src").alias("node"), F.col("r_init").alias("r")
    )
    for _ in range(iters):
        contrib = (
            edges.join(rank, edges.src == rank.node)
            .join(deg, "src")
            .select("dst", F.expr("r div outdeg").alias("contrib"))
        )
        rank = (
            contrib.groupBy("dst")
            .agg(F.sum("contrib").alias("s"))
            .crossJoin(F.broadcast(consts))
            .select(
                F.col("dst").alias("node"),
                F.expr("base + (85 * s) div 100").alias("r"),
            )
        )
    return rank


_PR_ORACLE = _pr_oracle_sql(
    _BIPARTITE_EDGE_SQL,
    _PR_ITERS,
    f"""
SELECT node, r AS rank_scaled,
       ROUND(CAST(r AS DOUBLE) / {_S}.0, 8) AS pagerank
FROM {{last}}
""",
)


@query("graph_pagerank_bipartite", oracle=_PR_ORACLE)
def graph_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (d=0.85, 3 synchronous iterations) over the
    bipartite user↔event_type engagement graph, in EXACT fixed-point
    integer arithmetic (scale 10^12) so both engines agree bit-for-bit
    — see the module docstring for the update rule and scale posture."""
    rank = _pagerank(_edges(spark, sf_dir))
    return rank.select(
        "node",
        F.col("r").alias("rank_scaled"),
        F.round(F.col("r").cast("double") / _S, 8).alias("pagerank"),
    )


_BFS_EDGE_CTES = """
WITH p AS (
    SELECT DISTINCT 'u:' || user_id AS u, 't:' || event_type AS t
    FROM events
),
e AS (
    SELECT u AS src, t AS dst FROM p
    UNION ALL
    SELECT t AS src, u AS dst FROM p
),
v AS (
    SELECT DISTINCT src AS node FROM e
)
"""

def _bfs_oracle() -> str:
    # Two CTE steps per unrolled iteration: the frontier relax as an
    # edge join + a LEAST against the previous distances.
    parts = [_BFS_EDGE_CTES.rstrip()]
    parts.append(
        f""",
d0 AS (
    SELECT node,
           CASE WHEN node = '{_BFS_ROOT}' THEN 0 ELSE {_INF} END AS dist
    FROM v
)"""
    )
    for i in range(1, _BFS_ITERS + 1):
        parts.append(
            f""",
m{i} AS (
    SELECT e.dst AS node, 1 + MIN(d{i - 1}.dist) AS relax
    FROM e JOIN d{i - 1} ON e.src = d{i - 1}.node
    GROUP BY e.dst
),
d{i} AS (
    SELECT d.node, LEAST(d.dist, COALESCE(m.relax, {_INF})) AS dist
    FROM d{i - 1} d LEFT JOIN m{i} m ON m.node = d.node
)"""
        )
    parts.append(
        f"""
SELECT node, CAST(dist AS BIGINT) AS hops
FROM d{_BFS_ITERS} WHERE dist < {_INF}
"""
    )
    return "".join(parts)


@query("graph_bfs_hops", oracle=_bfs_oracle())
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance from the ``t:purchase`` node over the bipartite
    engagement graph: 4 synchronous min-propagation rounds (the
    label-relaxation dual of the PageRank push — same edge-join +
    groupBy(dst) shape per round), unreachable nodes excluded. Small
    exact integers — no float discipline needed."""
    edges = _edges(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    dist = nodes.select(
        "node",
        F.when(F.col("node") == _BFS_ROOT, 0).otherwise(_INF).alias("dist"),
    )
    for _ in range(_BFS_ITERS):
        relax = (
            edges.join(dist, edges.src == dist.node)
            .groupBy("dst")
            .agg((F.lit(1) + F.min("dist")).alias("relax"))
        )
        dist = (
            dist.join(relax, dist.node == relax.dst, "left")
            .select(
                "node",
                F.least(
                    F.col("dist"), F.coalesce(F.col("relax"), F.lit(_INF))
                ).alias("dist"),
            )
        )
    return dist.filter(F.col("dist") < _INF).select(
        "node", F.col("dist").cast("long").alias("hops")
    )


# --- TextRank keyword extraction ------------------------------------------

_TR_WINDOW = 2  # co-occurrence window (positions apart, 1..2)
_TR_TOPK = 20


def _tr_edge_sql() -> str:
    return f"""
WITH t AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
    FROM documents
),
tok AS (
    SELECT doc_id, toks[CAST(u.i AS BIGINT)] AS tok,
           CAST(u.i AS BIGINT) AS pos
    FROM t, LATERAL unnest(range(1, len(toks) + 1)) u(i)
),
pr AS (
    SELECT DISTINCT a.tok AS src, b.tok AS dst
    FROM tok a JOIN tok b
      ON a.doc_id = b.doc_id
     AND b.pos - a.pos BETWEEN 1 AND {_TR_WINDOW}
     AND a.tok <> b.tok
),
e AS (
    SELECT src, dst FROM pr
    UNION
    SELECT dst, src FROM pr
)
"""


@query(
    "text_keyword_pagerank",
    oracle=_pr_oracle_sql(
        _tr_edge_sql(),
        _PR_ITERS,
        f"""
SELECT node AS keyword, r AS rank_scaled,
       ROUND(CAST(r AS DOUBLE) / {_S}.0, 8) AS textrank
FROM {{last}}
ORDER BY r DESC, node
LIMIT {_TR_TOPK}
""",
    ),
)
def text_keyword_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the corpus-wide word co-occurrence graph — tokens are nodes,
    undirected edges link tokens appearing within 2 positions of each
    other in any document — then the top-20 tokens by rank. Runs the
    same integer-exact PageRank core as graph_pagerank_bipartite
    (:func:`_pagerank`), so the unrolled-CTE oracle reproduces every
    rank bit-for-bit.

    Scale posture: co-occurrence pairs derive from TWO positional
    equi-joins on (doc_id, pos+δ) — per-token work is constant (δ ∈
    {{1, 2}}), never a within-document cross join; the DISTINCT
    collapses them to the vocabulary-sized edge list the iterations run
    on, and top-k is a distributed TakeOrderedAndProject, no global
    sort."""
    from ..operators.dedup import spread

    docs = spread(load(spark, sf_dir, "documents"))
    # Round 13 (guide §2.4 remove shuffles outright): co-occurrence
    # pairs build IN-ROW from the token array — window offsets are a
    # per-token constant-fanout transform, so the two positional
    # self-joins this replaces (tok ⋈ tok on (doc_id, pos±δ): two extra
    # shuffles of every token occurrence, four evaluations of the
    # tokenize split, and the suite's recurring 128-task JIT-swing
    # stage) buy nothing the array index can't. The token array binds
    # ONCE as a named column (the tf.shingles lesson: HOFs are
    # CodegenFallback with no subexpression elimination — naming the
    # split expression inside the lambda would re-split per element).
    # Same edge set, same distinct, same checkpoint.
    toks = docs.select(F.split(F.trim("text"), r"\s+").alias("t"))

    def _pairs_at(d: int):
        # NB: the lambda must be UNARY — pyspark dispatches on lambda
        # arity, and a `lambda i, d=d` would become the (element,
        # index) two-argument form with d silently rebound to the
        # array index.
        def pair(i):
            return F.struct(
                F.element_at(F.col("t"), i.cast("int")).alias("src"),
                F.element_at(F.col("t"), (i + d).cast("int")).alias("dst"),
            )

        return F.when(
            F.size("t") <= d,
            F.array().cast("array<struct<src:string,dst:string>>"),
        ).otherwise(
            F.transform(F.sequence(F.lit(1), F.size("t") - d), pair)
        )

    pair_arrays = [_pairs_at(d) for d in range(1, _TR_WINDOW + 1)]
    pr = (
        toks.select(F.explode(F.concat(*pair_arrays)).alias("e"))
        .select("e.src", "e.dst")
        .filter(F.col("src") != F.col("dst"))
    )
    edges = (
        pr.unionAll(pr.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rank = _pagerank(edges)
    return (
        rank.orderBy(F.desc("r"), F.asc("node"))
        .limit(_TR_TOPK)
        .select(
            F.col("node").alias("keyword"),
            F.col("r").alias("rank_scaled"),
            F.round(F.col("r").cast("double") / _S, 8).alias("textrank"),
        )
    )


# --- triangle counting (round 6) --------------------------------------------


def co_purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part co-purchase graph as distinct (u, v) edges, u < v: parts
    adjacent when they appear in the same order. One groupBy(order)
    into a sorted per-order part array, then an in-row pair explosion
    (fan-out bounded by order size); localCheckpointed, since every
    consumer reads the edge list more than once."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    grp = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    return (
        grp.select(
            F.explode(
                F.flatten(
                    F.expr(
                        "transform(ps, (x, i) -> transform("
                        "slice(ps, i + 2, size(ps) - i - 1),"
                        " y -> struct(x as u, y as v)))"
                    )
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
        .localCheckpoint(eager=True)
    )


@query(
    "graph_triangle_count",
    oracle="""
WITH pairs AS (
    SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
                    GREATEST(a.l_partkey, b.l_partkey) AS v
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT CAST(COUNT(DISTINCT x) AS BIGINT) AS n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
       (SELECT CAST(COUNT(*) AS BIGINT)
        FROM pairs e1
        JOIN pairs e2 ON e2.u = e1.v
        JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
FROM (SELECT u AS x FROM pairs UNION SELECT v FROM pairs)
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the part co-purchase graph (parts are
    adjacent when they appear in the same order) — the clustering /
    community-density primitive. The Spark plan uses the
    DEGREE-ORIENTED formulation (Suri & Vassilvitskii's MapReduce
    triangle counting): every undirected edge is directed from its
    lower-(degree, id) endpoint to the higher, so each triangle is
    counted EXACTLY once as a wedge-close and — the 100 TB point — a
    hot node's wedge work is bounded by its ORIENTED out-degree, which
    the orientation caps near √|E| for any degree distribution (a
    celebrity node of degree d contributes C(d,2) wedges under naive
    id-ordering but only C(out,2), out ≪ d, here). The total is
    orientation-invariant, so the DuckDB oracle counts the same
    triangles with the simpler id-ordered 3-way self-join. Two
    equi-join shuffles over the edge list; edges localCheckpointed so
    the wedge join never replays the lineitem scan.

    Edge build: one groupBy(order) into a sorted per-order part array,
    then an in-row pair explosion — per-order fan-out is bounded by
    order size (<= 7 lineitems), so the HOF cost is constant per group
    and ONE shuffle of lineitem replaces the self-join's two (measured
    2.2 s -> 1.4 s, identical edge set). This does NOT contradict the
    adjudicated wedge-join decision above: WEDGE explosion is quadratic
    in oriented out-degree (~36M structs, CodegenFallback loses), while
    edge explosion is quadratic only in order size (a constant)."""
    edges = co_purchase_edges(spark, sf_dir)
    par = spark.sparkContext.defaultParallelism
    deg = (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    # orient each edge from the lower-(degree, id) endpoint: src -> dst
    oriented = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select(F.col("e.s").alias("src"), F.col("e.t").alias("dst"))
        # Explicit fan-out BEFORE the checkpoint pins the layout: AQE
        # sizes the post-join stage by its ~5 MB of shuffle bytes and
        # coalesces to ~3 partitions, but the wedge self-join below
        # EXPLODES each partition quadratically in oriented out-degree
        # (measured 18.4 s of executorRunTime squeezed into 3 tasks —
        # 29 of 32 cores idle, guide §2.5/§2.6 idle-capacity). Bytes
        # are the wrong proxy for an exploding join's cost; spread the
        # build rows round-robin so the explosion runs at full width.
        .repartition(par)
        .localCheckpoint(eager=True)
    )
    # Wedges from each source's oriented out-neighbor pairs, closed by
    # a third edge. The closing edge is stored in exactly ONE oriented
    # direction (orientation is a total order), so both sides join on
    # the canonical unordered (min, max) pair key.
    # Canonical unordered pair packed into ONE 64-bit key
    # (part keys < 2^31, so min<<32 | max is collision-free): a
    # single-long join key makes the closing-edge broadcast a
    # LongHashedRelation instead of a generic two-column
    # UnsafeHashedRelation — the probe runs once per WEDGE (~36M
    # times), so the per-probe constant dominates this stage
    # (guide §3.2 build-side representation, §4 narrow the hot path).
    def pack(a, b):
        return F.shiftleft(F.least(a, b), 32) + F.greatest(a, b)

    w = (
        oriented.alias("e1")
        .join(
            oriented.alias("e2"),
            (F.col("e1.src") == F.col("e2.src"))
            & (F.col("e1.dst") < F.col("e2.dst")),
        )
        .select(pack(F.col("e1.dst"), F.col("e2.dst")).alias("ck"))
    )
    closing = oriented.select(pack(F.col("src"), F.col("dst")).alias("ck"))
    tri = w.join(closing, ["ck"]).agg(F.count(F.lit(1)).alias("n_triangles"))
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    ne = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        nodes.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(tri))
        .select("n_nodes", "n_edges", "n_triangles")
    )
