"""Eighth relational wave: mutation-shaped analytics — MERGE-style
upsert (reconciled as a pure relational plan, no table format needed)
and SCD2 (slowly-changing-dimension) interval history. Both are the
table-maintenance patterns a warehouse engine must express even when
the storage layer is append-only parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup as dd
from ..sources import load
from .registry import query


@query(
    "merge_upsert_orders",
    oracle="""
WITH updates AS (
    SELECT o_orderkey, o_totalprice + 100.0 AS new_price
    FROM orders WHERE o_orderkey % 7 = 0
    UNION ALL
    SELECT o_orderkey + 10000000, 42.0
    FROM orders WHERE o_orderkey % 1000 = 0
),
merged AS (
    SELECT COALESCE(o.o_orderkey, u.o_orderkey) AS o_orderkey,
           COALESCE(u.new_price, o.o_totalprice) AS o_totalprice,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN u.o_orderkey IS NULL THEN 'keep'
                ELSE 'update' END AS action
    FROM orders o FULL OUTER JOIN updates u USING (o_orderkey)
)
SELECT o_orderkey, o_totalprice, action FROM merged
""",
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics as a pure relational plan: a deterministic
    updates batch (price bump for matched keys, brand-new keys for
    inserts) reconciled against the base by ONE full-outer join on the
    primary key — matched rows take the update, unmatched base rows
    pass through, unmatched updates become inserts, each tagged with
    its action. This is exactly what a table format's MERGE compiles
    to; expressed directly, it runs on append-only parquet.

    Scale posture: one shuffle keyed by the (unique, uniform) primary
    key; with the base bucketed by pk (see bucketed_join_colocated) the
    base side would not shuffle at all, and real deployments rewrite
    only the partitions that received changes (dynamic partition
    overwrite — sources/sinks.py)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    updates = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .select("o_orderkey", (F.col("o_totalprice") + 100.0).alias("new_price"))
        .unionByName(
            o.filter(F.col("o_orderkey") % 1000 == 0).select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                F.lit(42.0).alias("new_price"),
            )
        )
    )
    merged = o.join(updates, "o_orderkey", "full_outer")
    return merged.select(
        "o_orderkey",
        F.coalesce("new_price", "o_totalprice").alias("o_totalprice"),
        F.when(F.col("o_totalprice").isNull(), "insert")
        .when(F.col("new_price").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
    )


# Gaps-and-islands over each user's time-ordered events: seg_no numbers
# the runs of consecutive same-type events. The oracle CTEs and the Spark
# build of the same numbering, shared by the SCD2 history and the
# point-in-time join against it.
_SEG_CTES = """WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           LAG(event_type) OVER w AS prev_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
flagged AS (
    SELECT user_id, event_type, ts, event_id,
           CASE WHEN prev_type IS NULL OR prev_type <> event_type
                THEN 1 ELSE 0 END AS chg
    FROM ordered
),
seg AS (
    SELECT user_id, event_type, ts, event_id,
           SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS seg_no
    FROM flagged
)"""


def _segments(ev: DataFrame) -> DataFrame:
    """events + ``chg`` (1 where the type differs from the previous
    event's) + ``seg_no`` (its running sum); ties break by event_id."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    return flagged.withColumn(
        "seg_no",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


@query(
    "scd2_user_event_segments",
    oracle=f"""
{_SEG_CTES},
spans AS (
    SELECT user_id, event_type, seg_no,
           MIN(ts) AS valid_from,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM seg GROUP BY user_id, event_type, seg_no
)
SELECT user_id, event_type, valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY seg_no)
           AS valid_to,
       (LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY seg_no)
           IS NULL) AS is_current,
       n_events
FROM spans
""",
)
def scd2_user_event_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (type-2 slowly-changing dimension) history derived from the
    event stream: each run of consecutive same-type events per user
    becomes one versioned interval [valid_from, valid_to) with
    ``is_current`` on the open tail — the gaps-and-islands + LEAD
    pattern every dimension-history build uses. All windows partition
    by user_id (uniform key, one shuffle reused across the three window
    functions — Catalyst collapses same-spec windows into one sort);
    ties break by event_id so segment boundaries are
    partition-order independent."""
    ev = load(spark, sf_dir, "events")
    seg = _segments(ev)
    spans = seg.groupBy("user_id", "event_type", "seg_no").agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("seg_no")
    return spans.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
        "n_events",
    )


@query(
    "recursive_cte_key_ancestry",
    oracle="""
WITH RECURSIVE anc(c_custkey, node, depth) AS (
    SELECT c_custkey, c_custkey, 0 FROM customer
    UNION ALL
    SELECT c_custkey, node // 2, depth + 1 FROM anc WHERE node > 1
)
SELECT c_custkey,
       CAST(MAX(depth) AS INTEGER) AS depth_to_root,
       CAST(COUNT(*) AS BIGINT) AS chain_len
FROM anc GROUP BY c_custkey
""",
)
def recursive_cte_key_ancestry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE executed by Spark's native recursive-CTE support:
    walk each customer key up the implicit binary ancestry (k → k/2) to
    the root — the hierarchy/graph-walk shape (org charts, category
    trees, BOM explosions) that previously required the driver-side
    iteration of operators/dedup.py:connected_components. Each recursion
    level is one narrow projection of the frontier (depth is bounded by
    log₂(max key) ≈ 18 levels here); rows per level never exceed the
    anchor size, and the final aggregate is one uniform shuffle keyed by
    customer."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE anc(c_custkey, node, depth) AS (
            SELECT c_custkey, c_custkey, 0 FROM customer
            UNION ALL
            SELECT c_custkey, node DIV 2, depth + 1 FROM anc WHERE node > 1
        )
        SELECT c_custkey,
               CAST(MAX(depth) AS INT) AS depth_to_root,
               COUNT(*) AS chain_len
        FROM anc GROUP BY c_custkey
        """
    )


@query(
    "lateral_topk_customers_per_nation",
    oracle="""
SELECT n.n_name, l.c_custkey, l.c_acctbal
FROM nation n,
     LATERAL (SELECT c_custkey, c_acctbal FROM customer c
              WHERE c.c_nationkey = n.n_nationkey
              ORDER BY c_acctbal DESC, c_custkey LIMIT 3) l
""",
)
def lateral_topk_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — per-nation
    top-3 customers by balance, the 'top-N per row' idiom SQL users
    reach for before learning window functions. Catalyst decorrelates
    the lateral into a ranked join (same physical shape as the
    row_number variant, one shuffle keyed by nation), so the friendly
    SQL costs nothing extra; ties break by custkey for engine-exact
    output."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name, l.c_custkey, l.c_acctbal
        FROM nation n,
             LATERAL (SELECT c_custkey, c_acctbal FROM customer c
                      WHERE c.c_nationkey = n.n_nationkey
                      ORDER BY c_acctbal DESC, c_custkey LIMIT 3) l
        """
    )


# --- binned interval join (round 6) -----------------------------------------


@query(
    "join_interval_binned",
    oracle="""
SELECT o.o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_in_transit
FROM orders o
JOIN lineitem l
  ON o.o_orderdate >= l.l_shipdate
 AND o.o_orderdate <= l.l_shipdate + INTERVAL 6 DAY
WHERE l.l_quantity > 47
GROUP BY o.o_orderkey
""",
)
def join_interval_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FACT×FACT interval join via time BINNING — the manual
    implementation of the range-join optimization Spark lacks natively
    (the broadcast-theta shape of join_range_events_orders only works
    while one side stays small; two facts need this). Each 7-day
    shipment-transit interval registers in every week bin it covers
    (≤2, via sequence+explode); each order keys to its single week
    bin; the join becomes an EQUI-join on the bin plus the exact
    BETWEEN residual filter. A point lies in exactly one bin, so each
    qualifying (order, shipment) pair surfaces exactly once — no
    dedup. Per-bin work is |orders_bin| × |intervals_bin| (temporal
    locality), not |O| × |L|: the plan that survives a 100× scale-up
    where the naive theta join is a cartesian disaster. Semantics:
    per order, how many heavy shipments (l_quantity > 47) from ANY
    order were in their 7-day transit window on its order date.

    The exploded interval side broadcasts, so the ORDERS side is the
    broadcast-hash PROBE and runs at scan parallelism — one parquet
    split at harness scale would serialize the join+partial-agg on one
    core (the round-8 ssjoin lesson); spread() round-robins it
    (identical output)."""
    epoch = F.lit("1970-01-01")
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 47)
        .select("l_shipdate")
        .withColumn("_d", F.datediff(F.col("l_shipdate"), epoch))
        .withColumn(
            "bin",
            F.explode(
                F.sequence(
                    F.floor(F.col("_d") / 7),
                    F.floor((F.col("_d") + 6) / 7),
                )
            ),
        )
    )
    o = (
        dd.spread(load(spark, sf_dir, "orders"))
        .select("o_orderkey", "o_orderdate")
        .withColumn(
            "bin", F.floor(F.datediff(F.col("o_orderdate"), epoch) / 7)
        )
    )
    return (
        o.join(li, "bin")
        .filter(
            (F.col("o_orderdate") >= F.col("l_shipdate"))
            & (
                F.col("o_orderdate")
                <= F.col("l_shipdate") + F.expr("INTERVAL 6 DAYS")
            )
        )
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n_in_transit"))
    )


@query(
    "ivm_delta_join",
    oracle="""
WITH full_j AS (
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, c.c_mktsegment,
           (o.o_orderdate >= TIMESTAMP '1999-01-01') AS fact_new,
           (c.c_custkey % 10 = 0) AS dim_new
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT o_orderkey, o_custkey,
       CASE WHEN fact_new AND dim_new THEN 'both'
            WHEN fact_new THEN 'fact' ELSE 'dim' END AS delta_src,
       o_totalprice, c_mktsegment
FROM full_j WHERE fact_new OR dim_new
""",
)
def ivm_delta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of a JOIN view — the delta-rule
    decomposition d(O |x| C) = dO|x|C_old  UNION  O_old|x|dC  UNION
    dO|x|dC, each term tagged with its provenance. The maintained view
    is orders |x| customer; the fact delta is orders on/after
    1999-01-01 (a watermark — the standard "new partitions" shape) and
    the dim delta is c_custkey % 10 = 0 (a dimension back-fill). The
    oracle computes the SAME delta non-incrementally (full join
    filtered to rows touching either delta, tags from the predicates),
    so the hash match IS the IVM correctness theorem instantiated: the
    three-way decomposition produces exactly the rows the recomputed
    view gains, each exactly once (the three terms partition the delta
    because the dim split partitions customers).

    100 TB posture: this is why warehouses maintain views
    incrementally — the three delta terms touch |dO|*|C| + |O|*|dC| +
    |dO|*|dC| rows instead of re-joining |O|*|C|. Both dO-sided terms
    scan only the watermarked fact partitions (partition pruning on
    the date predicate); the O_old|x|dC term BROADCASTS the small dim
    delta so the big fact never reshuffles; nothing recomputes the
    old view. Companion to merge_upsert_orders (row-level MERGE) and
    incremental_rollup_merge (aggregate IVM) — this is join IVM.
    Reference analog: the append-only sink discipline of
    ``database/writer.rs`` (new rows only, never rewrite history)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    d0 = F.lit("1999-01-01").cast("timestamp")
    o_old, o_new = o.filter(F.col("o_orderdate") < d0), o.filter(
        F.col("o_orderdate") >= d0
    )
    dim_new = F.col("c_custkey") % 10 == 0
    c_old, c_new = c.filter(~dim_new), c.filter(dim_new)

    def term(fact: DataFrame, dim: DataFrame, tag: str, bcast: bool):
        d = F.broadcast(dim) if bcast else dim
        return fact.join(d, F.col("o_custkey") == F.col("c_custkey")).select(
            "o_orderkey",
            "o_custkey",
            F.lit(tag).alias("delta_src"),
            "o_totalprice",
            "c_mktsegment",
        )

    return (
        term(o_new, c_old, "fact", bcast=False)
        .unionAll(term(o_old, c_new, "dim", bcast=True))
        .unionAll(term(o_new, c_new, "both", bcast=True))
    )


@query(
    "scd2_point_in_time_join",
    oracle=f"""
{_SEG_CTES},
spans AS (
    SELECT user_id, event_type, seg_no, MIN(ts) AS valid_from
    FROM seg GROUP BY user_id, event_type, seg_no
),
dim AS (
    SELECT user_id, event_type, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY seg_no)
               AS valid_to
    FROM spans
),
probes AS (
    SELECT event_id, user_id, ts, ts - INTERVAL 1 HOUR AS asof_ts
    FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.ts,
       d.event_type AS attributed_state,
       d.valid_from AS state_since
FROM probes p
LEFT JOIN dim d
  ON d.user_id = p.user_id
 AND d.valid_from <= p.asof_ts
 AND (d.valid_to IS NULL OR p.asof_ts < d.valid_to)
""",
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME (temporal) join against the SCD2 history — the
    query scd2_user_event_segments builds its dimension FOR: every
    purchase event joins the segment that was ACTIVE one hour before
    it (valid_from <= ts-1h < valid_to, open tail = NULL valid_to) —
    'what state was this user in when the decision was made', the
    repeatable-read attribution every warehouse needs for training-
    label correctness (joining TODAY's dimension row would leak the
    future). LEFT join: purchases probing before the user's first
    segment attribute to NULL rather than vanishing.

    Correctness shape: SCD2 segments partition each user's timeline,
    so at most ONE segment matches any probe — the join cannot fan
    out; the one-hour lookback makes the probe distinct from the
    segment boundaries it came from.

    100 TB posture: the join is EQUI on user_id with the interval
    containment as a residual predicate — after the user_id key the
    candidate space is that user's own segment list (gaps-and-islands
    output, bounded per user), so no binning/broadcast machinery is
    needed (contrast join_interval_binned, where NEITHER side has an
    equi key); the SCD2 build reuses one user_id window sort across
    its three window functions. Reference analog: the registry lookup
    of ``utils.rs:83-87``, made time-correct."""
    ev = load(spark, sf_dir, "events")
    seg = _segments(ev)
    spans = seg.groupBy("user_id", "event_type", "seg_no").agg(
        F.min("ts").alias("valid_from")
    )
    w2 = Window.partitionBy("user_id").orderBy("seg_no")
    dim = spans.select(
        F.col("user_id").alias("d_user_id"),
        F.col("event_type").alias("attributed_state"),
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
    )
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("asof_ts"),
    )
    joined = probes.join(
        dim,
        (F.col("d_user_id") == F.col("user_id"))
        & (F.col("valid_from") <= F.col("asof_ts"))
        & (F.col("valid_to").isNull() | (F.col("asof_ts") < F.col("valid_to"))),
        "left",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "attributed_state",
        F.col("valid_from").alias("state_since"),
    )


@query(
    "drill_across_conformed",
    oracle="""
WITH rev AS (
    SELECT c.c_nationkey AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
),
eng AS (
    SELECT c.c_nationkey AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(e.value AS DECIMAL(18,6)))
                      AS DOUBLE), 4) AS engagement
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_nationkey
)
SELECT n.n_name AS nation,
       rev.n_orders, rev.revenue, eng.n_events, eng.engagement
FROM rev FULL OUTER JOIN eng ON rev.nationkey = eng.nationkey
JOIN nation n ON n.n_nationkey = COALESCE(rev.nationkey, eng.nationkey)
""",
)
def drill_across_conformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRILL-ACROSS over two fact stars sharing a conformed dimension —
    the Kimball rule the multi-fact warehouse lives by: revenue
    (orders star) and engagement (events star) each aggregate
    SEPARATELY to the conformed grain (nation, via the shared customer
    dimension), and only the two tiny result cubes full-outer join.
    Fact rows never meet fact rows, so the query cannot fan out — the
    structural mistake this pattern exists to prevent (joining orders
    x events on customer first would multiply row counts before any
    aggregate). One-sided nations keep honest NULLs on the missing
    measure.

    100 TB posture: each star is one map-side-combinable aggregate to
    <= |nations| rows; the drill-across join and the nation-name
    enrich run over those constant-size cubes (broadcast). The two
    stars never co-shuffle; adding a third fact (shipments, costs) is
    another independent aggregate + join at the same grain.
    Reference analog: the two vertically-split sinks of
    ``operations.rs:32-87`` re-unified at report grain."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    e = load(spark, sf_dir, "events")
    n = load(spark, sf_dir, "nation")
    rev = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_nationkey").alias("r_nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("revenue"),
        )
    )
    eng = (
        e.join(c, F.col("user_id") == F.col("c_custkey"))
        .groupBy(F.col("c_nationkey").alias("e_nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"),
                4,
            ).alias("engagement"),
        )
    )
    cube = rev.join(
        eng, F.col("r_nationkey") == F.col("e_nationkey"), "full_outer"
    ).withColumn(
        "nationkey", F.coalesce("r_nationkey", "e_nationkey")
    )
    return cube.join(
        F.broadcast(n), F.col("n_nationkey") == F.col("nationkey")
    ).select(
        F.col("n_name").alias("nation"),
        "n_orders",
        "revenue",
        "n_events",
        "engagement",
    )


_MB_MIN_PAIRS = 2


@query(
    "market_basket_rules",
    oracle=f"""
WITH b AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (
    SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM b
),
item AS (
    SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item
    FROM b GROUP BY l_partkey
),
pair AS (
    SELECT a.l_partkey AS part_a, b2.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS n_ab
    FROM b a JOIN b b2
      ON a.l_orderkey = b2.l_orderkey AND a.l_partkey < b2.l_partkey
    GROUP BY a.l_partkey, b2.l_partkey
    HAVING COUNT(*) >= {_MB_MIN_PAIRS}
)
SELECT p.part_a, p.part_b, p.n_ab, ia.n_item AS n_a, ib.n_item AS n_b,
       ROUND(CAST(p.n_ab AS DOUBLE) / o.n, 6) AS support,
       ROUND(CAST(p.n_ab AS DOUBLE) / ia.n_item, 6) AS conf_a_to_b,
       ROUND(CAST(p.n_ab AS DOUBLE) / ib.n_item, 6) AS conf_b_to_a,
       ROUND(CAST(p.n_ab AS DOUBLE) * o.n / (ia.n_item * ib.n_item), 6)
           AS lift
FROM pair p
JOIN item ia ON ia.l_partkey = p.part_a
JOIN item ib ON ib.l_partkey = p.part_b
CROSS JOIN n_orders o
""",
)
def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET association rules over order baskets: for every
    part pair co-ordered in >= 2 baskets, support, both directed
    confidences, and lift — the retail affinity analysis (and the
    co-occurrence-statistics shape behind PMI word association). Every
    measure divides ONCE from exact integer counts, rounded at the end.

    100 TB posture: the pair space is the within-basket self-join on
    l_orderkey — fan-out bounded by basket size squared (avg 4, max 13
    parts here), the a-priori locality argument, never a part x part
    cross join; pair counts partial-aggregate map-side; the item-count
    enrich joins are part-keyed (dimension-sized, broadcastable) and
    the basket total is a 1-row broadcast. The HAVING floor is the
    a-priori min-support prune applied at the first aggregation.
    Reference analog: the manufacturer-data map lookup of
    ``scanner.rs:179-181`` — association by shared container,
    generalized to statistics."""
    li = load(spark, sf_dir, "lineitem")
    b = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = b.agg(
        F.count_distinct("l_orderkey").alias("n")
    )
    item = b.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    a, b2 = b.alias("a"), b.alias("b2")
    pair = (
        a.join(
            b2,
            (F.col("a.l_orderkey") == F.col("b2.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b2.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b2.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= _MB_MIN_PAIRS)
    )
    ia = item.select(
        F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a")
    )
    ib = item.select(
        F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b")
    )
    nab = F.col("n_ab").cast("double")
    return (
        pair.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(nab / F.col("n"), 6).alias("support"),
            F.round(nab / F.col("n_a"), 6).alias("conf_a_to_b"),
            F.round(nab / F.col("n_b"), 6).alias("conf_b_to_a"),
            F.round(
                nab * F.col("n") / (F.col("n_a") * F.col("n_b")), 6
            ).alias("lift"),
        )
    )


@query(
    "orders_open_backlog_curve",
    oracle="""
WITH opened AS (
    SELECT date_trunc('day', o.o_orderdate) AS day,
           CAST(COUNT(*) AS BIGINT) AS opened, CAST(0 AS BIGINT) AS shipped
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
),
shipped AS (
    SELECT date_trunc('day', l_shipdate) AS day,
           CAST(0 AS BIGINT) AS opened, CAST(COUNT(*) AS BIGINT) AS shipped
    FROM lineitem GROUP BY 1
),
daily AS (
    SELECT day, CAST(SUM(opened) AS BIGINT) AS opened,
           CAST(SUM(shipped) AS BIGINT) AS shipped
    FROM (SELECT * FROM opened UNION ALL SELECT * FROM shipped)
    GROUP BY day
)
SELECT day, opened, shipped,
       CAST(SUM(opened - shipped) OVER (ORDER BY day
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS backlog
FROM daily
""",
)
def orders_open_backlog_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SWEEP-LINE interval counting: the open-order-line backlog curve —
    how many order lines are ordered but not yet shipped, for every day
    of the warehouse's history. Each line contributes +1 at its order
    date and -1 at its ship date; the curve is the running sum of the
    per-day deltas. This counts N overlapping intervals with ZERO
    interval joins — the classic event-delta trick behind concurrency
    curves, inventory levels, and active-session counts
    (timeseries_gap_fill's calendar dual).

    100 TB posture: both delta streams aggregate map-side to one row
    per DAY before anything else — the only window runs over the
    |days| table, whose size is the TIME SPAN (~2,500 rows here),
    independent of fact scale; it is the audited partition-less-window
    class (tests/test_plan_posture.py ALLOWED), same as the funnel
    stage summary. The order-date enrich is the one fact-fact equi
    join, keyed on l_orderkey. Reference analog: the sample-count
    accumulation of ``utils.rs:58-66``, run over open intervals
    instead of windows."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    opened = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("day"))
        .agg(
            F.count(F.lit(1)).alias("opened"),
            F.lit(0).cast("long").alias("shipped"),
        )
    )
    shipped = li.groupBy(
        F.date_trunc("day", F.col("l_shipdate")).alias("day")
    ).agg(
        F.lit(0).cast("long").alias("opened"),
        F.count(F.lit(1)).alias("shipped"),
    )
    daily = (
        opened.unionAll(shipped)
        .groupBy("day")
        .agg(
            F.sum("opened").alias("opened"),
            F.sum("shipped").alias("shipped"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "opened",
        "shipped",
        F.sum(F.col("opened") - F.col("shipped"))
        .over(w)
        .cast("long")
        .alias("backlog"),
    )
