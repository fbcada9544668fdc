"""Graph analytics as join-per-round DataFrame iteration: PageRank over
the supplier co-occurrence graph.

North-star extension (SURVEY.md §2 Part B — iterative algorithms).
Unlike the bounded-model-state loops in ``operators/iterative.py``
(k-means collects K centroids per round), PageRank's state is O(nodes),
so it must STAY DISTRIBUTED: each round is one edges⋈ranks join plus a
per-destination aggregate, with lineage truncated between rounds (same
shape as ``dedup.connected_components``).  Nothing per-row ever reaches
the driver; the only driver-visible value is the final top-20 collect by
the harness.

Cross-engine determinism (the decimal-sum convention,
functions/rounding.py): per-edge contributions are rounded to 12
decimals, summed as DECIMAL(25,12) (order-independent), and each round's
rank is re-rounded — so the SQL twin, which unrolls the loop into
chained CTEs, is bit-identical to the Spark loop.

100 TB notes: the edge list is built per-order (self-join keyed by
l_orderkey, so pair cost is bounded by order size, never table size) and
is the round-invariant relation — persist/bucket it by ``src`` once and
every round's join is co-located; the per-round shuffle is the groupBy
on ``dst``.  Convergence at web scale takes ~50 rounds; the fixed
{PR_ITERS}-round unroll keeps the SQL twin reviewable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oracle_parquet_dumper_spark.functions.rounding import (
    cents_py,
    comoment,
    comoment_sql,
    exact_dot,
    exact_dot_sql,
    exact_sum,
    exact_sum_sql,
    to_double,
    to_double_sql,
)
from oracle_parquet_dumper_spark.functions.tokens import md5_long, md5_long_sql
from oracle_parquet_dumper_spark.plans.registry import query
from oracle_parquet_dumper_spark.session import materialize
from oracle_parquet_dumper_spark.sources.tables import load_table

PR_ITERS = 5
PR_DAMPING = 0.85
PR_TOP = 20
# Rank mass is carried as INTEGER micro-units (1.0 == PR_SCALE): every
# per-round operation — contribution split, damping, teleport — is exact
# BIGINT arithmetic, so the loop is bit-identical across engines with NO
# float rounding convention at all.  (round(double, 12) proved fragile:
# Spark rounds HALF_UP on the shortest repr, DuckDB half-away on the
# binary value, and at ~1k nodes x 5 rounds a 13-digit tie eventually
# lands on the boundary.)  The damping factor 0.85 becomes *85 div 100.
PR_SCALE = 1_000_000_000_000


def _cooccurrence_edges(su: DataFrame, keep=None) -> DataFrame:
    """Symmetric distinct co-occurrence edges from an (o, s) relation,
    built CANONICALLY (r14, guide §2.3 — shuffle fewer bytes): the
    per-o self-join emits each unordered pair once (``src < dst``
    instead of ``src != dst``), the optional ``keep(src, dst)``
    predicate (e.g. DOULION edge sampling) is evaluated on the
    canonical pair — half the hash evaluations, and Catalyst pushes it
    below the distinct into the join — and the distinct therefore
    exchanges HALF the rows of the old both-directions form.  The
    symmetric set is then restored by a 2-element explode (one plan
    subtree — no union re-derivation, no extra exchange).  Measured at
    sf0.1 (r14, interleaved n=5 medians): part-graph edge build
    3.72 s -> 3.15 s with an identical oriented-edge set."""
    a = su.select("o", F.col("s").alias("src"))
    b = su.select(F.col("o").alias("o2"), F.col("s").alias("dst"))
    canon = a.join(b, (F.col("o") == F.col("o2")) & (F.col("src") < F.col("dst")))
    if keep is not None:
        canon = canon.where(keep)
    canon = canon.select("src", "dst").distinct()
    return canon.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("u"), F.col("dst").alias("v")),
                F.struct(F.col("dst").alias("u"), F.col("src").alias("v")),
            )
        ).alias("e")
    ).select(F.col("e.u").alias("src"), F.col("e.v").alias("dst"))


def supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric edge list: suppliers that co-occur in an order.  The
    self-join is keyed by l_orderkey, so the pair count per order is
    bounded by the order's distinct-supplier count (≤7 in TPC-H) — this
    never goes quadratic in table size.  Canonical-pair construction
    (see ``_cooccurrence_edges``) halves the self-join output and the
    distinct exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    su = li.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")).distinct()
    return _cooccurrence_edges(su)


def pagerank(edges: DataFrame, iters: int = PR_ITERS, damping: float = PR_DAMPING) -> DataFrame:
    """(node, pr) after ``iters`` synchronous rounds.  Assumes every node
    has out-edges (true for a symmetric edge list, so no dangling-mass
    term)."""
    # Round-invariant relation: computed and materialized ONCE, with the
    # out-degree denormalized onto each edge via a count() window riding
    # a single src exchange (r14: the old two-step — checkpoint edges,
    # groupBy deg, join, checkpoint again — paid a second materialization
    # and a join for the same relation; measured 6.28 s -> 5.01 s at
    # sf0.1, hash-identical).  PLAN REALITY (r8 sweep, measured): the
    # checkpoint surfaces as Scan ExistingRDD, which DROPS the window
    # exchange's outputPartitioning — it does NOT carry into the
    # per-round join.  What the executed round body actually does: AQE
    # broadcasts the node-sized ranks side (zero edge movement — the
    # fixture-scale plan, verified), leaving ONE fresh exchange per
    # round (the dst aggregate).  At 100 TB node counts, ranks stops
    # being broadcastable and each round re-SHUFFLES the checkpointed
    # edges (bounded I/O of materialized rows, never recompute); the
    # structural fix at that scale is the bucketed-table variant
    # (graph_pagerank_bucketed: bucketBy(src) scan keeps its clustering
    # across queries, so only the ranks side ever moves).
    from pyspark.sql import Window as W

    edges_deg = materialize(
        edges.withColumn("deg", F.count(F.lit(1)).over(W.partitionBy("src"))), eager=True
    )
    # 1-row node count, materialized ONCE (r14): left in-plan it was
    # re-derived per round — 5 extra aggregation jobs over the edges.
    n1 = materialize(edges_deg.agg(F.count_distinct("src").alias("nn")), eager=True)
    ranks = _pagerank_rounds(edges_deg, edges_deg.select("src").distinct(), n1, iters, damping)
    return ranks.select("node", (F.col("r") / F.lit(float(PR_SCALE))).alias("pr"))


def _pagerank_rounds(
    edges_deg: DataFrame, nodes: DataFrame, n1: DataFrame, iters: int, damping: float
) -> DataFrame:
    """(node, r): ``iters`` synchronous rounds over the (src, dst, deg)
    relation ``edges_deg``, starting from uniform integer rank mass on
    the ``src`` column of ``nodes``; ``n1`` is the 1-row node count
    ``nn``.  Each round's ranks are materialized eagerly."""
    d_num = cents_py(damping)  # 0.85 -> 85, exact integer damping
    ranks = nodes.crossJoin(F.broadcast(n1)).select(
        F.col("src").alias("node"), F.expr(f"{PR_SCALE} div nn").alias("r")
    )
    for _ in range(iters):
        # no join hint: while ranks fits the broadcast threshold the
        # round is a zero-shuffle broadcast join; past it, the SAME plan
        # becomes a merge join, and over graph_pagerank_bucketed's
        # bucketed scan only ranks exchanges (asserted with
        # auto-broadcast disabled in tests/test_plans.py)
        contribs = edges_deg.join(ranks, edges_deg.src == ranks.node).select(
            "dst", F.expr("r div deg").alias("c")
        )
        ranks = materialize(
            contribs.groupBy("dst")
            .agg(F.sum("c").alias("sc"))
            .crossJoin(F.broadcast(n1))
            .select(
                F.col("dst").alias("node"),
                F.expr(
                    f"{(100 - d_num) * PR_SCALE} div (100 * nn) + ({d_num} * sc) div 100"
                ).alias("r"),
            ),
            eager=True,
        )
    return ranks


def _pagerank_oracle() -> str:
    """SQL twin: the loop unrolled into chained CTEs, expression-for-
    expression identical to the Spark plan — all-integer rank mass
    (see PR_SCALE note), so the unroll is exact with no float
    convention to align.

    ``edges`` is MATERIALIZED: DuckDB inlines non-materialized CTEs,
    so the 5-round unroll re-ran the edge self-join + DISTINCT per
    round — at sf1 (~9M edges) that pushed the oracle past both the
    sweep's memory budget and any reasonable runtime.  Materializing is
    the SQL analog of the Spark loop's pre-bucketed round-invariant
    edge relation."""
    d_num = cents_py(PR_DAMPING)
    rounds = []
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        rounds.append(
            f"""r{i} AS (
      SELECT e.dst AS node,
             {(100 - d_num) * PR_SCALE} // (100 * (SELECT nn FROM n))
               + ({d_num} * SUM(r.r // d.deg)) // 100 AS r
      FROM edges e JOIN {prev} r ON e.src = r.node JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    )"""
        )
        prev = f"r{i}"
    chain = ",\n    ".join(rounds)
    return f"""
    WITH su AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
    edges AS MATERIALIZED (
      SELECT DISTINCT a.s AS src, b.s AS dst
      FROM su a JOIN su b ON a.o = b.o AND a.s != b.s
    ),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    n AS (SELECT COUNT(*) AS nn FROM deg),
    r0 AS (SELECT src AS node, {PR_SCALE} // (SELECT nn FROM n) AS r FROM deg),
    {chain}
    SELECT node, r / {float(PR_SCALE)} AS pr FROM {prev}
    ORDER BY pr DESC, node
    LIMIT {PR_TOP}
    """


@query(
    "graph_pagerank",
    oracle=_pagerank_oracle(),
    tags=("join", "graph", "iterative", "flagship"),
    bench=True,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PR_TOP} suppliers by PageRank over the order-co-occurrence
    graph, {PR_ITERS} synchronous rounds, damping {PR_DAMPING}.

    The rare ORACLE-CHECKED iterative query: rank mass is integer
    micro-units (PR_SCALE), so every round is exact commutative BIGINT
    arithmetic and the DuckDB twin (the loop unrolled into CTEs,
    generated from the same constants) hash-matches bit-for-bit with no
    float rounding convention at all.  Invariants (rank mass ≈ 1,
    uniform-degree fixed point) are additionally pinned in
    tests/test_iterative.py."""
    ranks = pagerank(supplier_edges(spark, sf_dir))
    return (
        ranks.select(F.col("node").cast("long").alias("node"), "pr")
        .orderBy(F.col("pr").desc(), "node")
        .limit(PR_TOP)
    )


PR_BUCKETS = 32


def pagerank_edge_state(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the round-invariant (src, dst, deg) relation exists as a
    BUCKETED parquet table (bucketBy src, sortBy src) and return its
    catalog name.  This is the structural fix for the checkpoint-drops-
    partitioning trap (r8 sweep): a checkpoint surfaces as Scan
    ExistingRDD with NO outputPartitioning, so at node counts where the
    ranks side stops being broadcastable every round re-shuffles the
    edges.  A bucketed scan reports its hash clustering to EVERY query
    that reads it — the edges never move again, in any round, at any
    scale; only the node-sized ranks relation exchanges into the bucket
    partitioning.

    Lifecycle (VERDICT r8 #3 / ADVICE r8) is the shared
    ``ensure_bucketed_state`` contract (sources/layouts.py): keyed
    ``opds_pr_edges/<md5(sf_dir)>/<content-fingerprint>`` layout,
    independent catalog/data-path verification, atomic-rename builds,
    warm-path re-registration without rewrite, sibling-key GC."""
    from oracle_parquet_dumper_spark.sources.layouts import ensure_bucketed_state

    def build(spark):
        edges = supplier_edges(spark, sf_dir)
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        return edges.join(deg, "src").select("src", "dst", "deg")

    return ensure_bucketed_state(
        spark,
        sf_dir,
        state_name="opds_pr_edges",
        fp_table="lineitem",
        schema_ddl="src BIGINT, dst BIGINT, deg BIGINT",
        bucket_col="src",
        n_buckets=PR_BUCKETS,
        sort_col="src",
        build=build,
    )


@query(
    "graph_pagerank_bucketed",
    oracle=_pagerank_oracle(),
    tags=("join", "graph", "iterative", "layout"),
    bench=True,  # steady-state (warm edge state): bench.py pre-builds
)
def graph_pagerank_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graph_pagerank's exact semantics (same oracle, identical integer
    rank mass) with the round-invariant edge relation persisted as a
    BUCKETED table instead of a checkpoint: the bucketBy(src) scan
    carries HashPartitioning(src) into every round's edges⋈ranks merge
    join, so the edge relation is shuffled ZERO times across all
    {PR_ITERS} rounds — only the node-sized ranks side moves (plan-
    asserted in tests/test_plans.py with auto-broadcast disabled).  The
    one-time bucketed write is the same amortize-at-export-time story
    as dedup_incremental_stored's standing index.  At 100 TB this is
    the variant that holds: the checkpointed form silently degrades to
    an edge re-shuffle per round once V outgrows the broadcast
    threshold (measured note at pagerank(), graph.py)."""
    table = pagerank_edge_state(spark, sf_dir)
    edges_deg = spark.table(table)
    deg = edges_deg.groupBy("src").agg(F.first("deg").alias("deg"))
    # 1-row node count, materialized ONCE — left in-plan it would
    # re-scan the edge table every round just to recount nodes
    n1 = materialize(deg.agg(F.count(F.lit(1)).alias("nn")), eager=True)
    ranks = _pagerank_rounds(edges_deg, deg, n1, PR_ITERS, PR_DAMPING)
    return (
        ranks.select(
            F.col("node").cast("long").alias("node"),
            (F.col("r") / F.lit(float(PR_SCALE))).alias("pr"),
        )
        .orderBy(F.col("pr").desc(), "node")
        .limit(PR_TOP)
    )


HIER_MAX_ROUNDS = 6


@query(
    "graph_hierarchy_depth",
    oracle="""
    WITH RECURSIVE users AS (SELECT DISTINCT user_id FROM events),
    walk(node, cur, depth) AS (
      SELECT user_id, user_id, 0 FROM users
      UNION ALL
      SELECT node, cur // 2, depth + 1 FROM walk WHERE cur > 0
    )
    SELECT node AS user_id, depth FROM walk WHERE cur = 0
    """,
    tags=("join", "graph", "iterative"),
)
def graph_hierarchy_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy flattening (depth to root) by POINTER DOUBLING — the
    scalable form of a recursive CTE.  The synthetic tree is
    parent(u) = u div 2 over event users (root 0), so the DuckDB twin is
    a plain WITH RECURSIVE walk.

    A naive walk takes O(tree depth) join rounds; pointer doubling
    composes each node's ancestor pointer with the ANCESTOR'S pointer,
    doubling the jump per round — O(log depth) rounds of self-join on
    the node key, the standard trick for deep hierarchies (org charts,
    BOM explosions, thread ancestry) where depth can reach thousands.
    Depths are integers, so the oracle comparison is exact.

    The node set is the CLOSURE of user_ids under parent() — the inner
    self-join ``a.anc == b.node`` drops any node whose ancestor is
    missing from the relation, so pointer doubling over just the raw
    user_ids would silently lose nodes whose synthetic parent
    (``user_id div 2``) never appears as a user_id.  The closure is
    built in one explode (u >> i for i in 0..62), no iteration."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    # closure under div-2: every prefix of the binary representation,
    # down to the root 0 (shift 63 of any positive long IS 0, so the
    # closure reaches the root even for 63-bit ids) — guarantees the
    # self-join is total.
    nodes = users.select(
        F.explode(
            F.expr("transform(sequence(0, 63), i -> shiftright(user_id, i))")
        ).alias("node")
    ).distinct()
    ptr = nodes.select(
        "node",
        F.expr("node div 2").alias("anc"),
        F.when(F.col("node") > 0, F.lit(1)).otherwise(F.lit(0)).alias("depth"),
    )
    from pyspark.sql import Observation

    remaining = None
    for r in range(HIER_MAX_ROUNDS):
        # compose jumps: node -> anc (d1) with anc -> anc2 (d2)
        nxt = (
            ptr.alias("a")
            .join(ptr.alias("b"), F.col("a.anc") == F.col("b.node"))
            .select(
                F.col("a.node").alias("node"),
                F.col("b.anc").alias("anc"),
                (F.col("a.depth") + F.col("b.depth")).alias("depth"),
            )
        )
        # The convergence probe rides the eager checkpoint's own job via
        # observe() — one job per round, not two (checkpoint + count).
        obs = Observation(f"hier_round_{r}")
        ptr = materialize(
            nxt.observe(obs, F.sum((F.col("anc") != 0).cast("long")).alias("live")), eager=True
        )
        remaining = int(obs.get["live"])
        if remaining == 0:
            break
    if remaining:
        raise RuntimeError(
            f"graph_hierarchy_depth did not converge in {HIER_MAX_ROUNDS} "
            f"pointer-doubling rounds: {remaining} nodes still above root "
            f"(reachable depth cap is 2**rounds; raise HIER_MAX_ROUNDS)"
        )
    return ptr.join(users, ptr["node"] == users["user_id"], "left_semi").select(
        F.col("node").alias("user_id"), F.col("depth").cast("long").alias("depth")
    )


TRI_TOP = 15


def _triangle_oracle() -> str:
    # Part (not supplier) co-occurrence: the supplier graph is ~91%
    # complete at sf0.1 (1000 nodes, 907k of 999k directed pairs) and
    # DENSIFIES with scale — triangle count on it degenerates to
    # O(n^3).  The part graph keeps average degree constant as SF grows
    # (order size is bounded, part count scales), which is the regime
    # the degree-ordered algorithm is for.
    return f"""
    WITH su AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS s FROM lineitem),
    edges AS MATERIALIZED (
      SELECT DISTINCT a.s AS src, b.s AS dst
      FROM su a JOIN su b ON a.o = b.o AND a.s != b.s
    ),
    deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
    o AS MATERIALIZED (
      SELECT e.src AS u, e.dst AS v
      FROM edges e JOIN deg du ON e.src = du.node JOIN deg dv ON e.dst = dv.node
      WHERE (du.d, e.src) < (dv.d, e.dst)
    ),
    tri AS (
      SELECT p.u AS a, p.v AS b, q.v AS c
      FROM o p JOIN o q ON p.v = q.u
               JOIN o r ON r.u = p.u AND r.v = q.v
    ),
    per_node AS (
      SELECT node, COUNT(*) AS n_triangles FROM (
        SELECT a AS node FROM tri UNION ALL
        SELECT b FROM tri UNION ALL
        SELECT c FROM tri
      ) GROUP BY node
    )
    SELECT node, CAST(n_triangles AS BIGINT) AS n_triangles
    FROM per_node ORDER BY n_triangles DESC, node LIMIT {TRI_TOP}
    """


@query(
    "graph_triangle_count",
    oracle=_triangle_oracle(),
    tags=("join", "graph"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TRI_TOP} suppliers by triangle participation in the order
    co-occurrence graph, via DEGREE-ORDERED edge orientation ("compact
    forward" / node-iterator++): orient every symmetric edge from its
    lower-(degree, id) endpoint to the higher one, join oriented paths
    u->v->w, and keep those closed by an oriented edge u->w.  Each
    triangle is counted exactly once with no orientation-dependent
    double counting.

    Scale shape: orientation bounds every node's out-neighborhood by
    O(sqrt(m)) on any graph (high-degree hubs only receive edges from
    even-higher-degree nodes), so the wedge join — the only superlinear
    stage — generates O(m^1.5) rows worst case instead of the
    O(sum deg^2) a naive neighbor self-join pays; this is the standard
    distributed triangle algorithm (Suri & Vassilvitskii, WWW'11).  All
    joins are equi-joins on node keys (shuffle-partitionable); degrees
    are count() windows riding the edge relation's own src/dst
    exchanges (NO degree relation, no broadcast of anything node-sized
    — VERDICT r10 #2), and the closing join keys on (u, v) pairs.
    Counts are integers — bit-exact oracle.

    The graph is PART co-occurrence (same edge construction as
    supplier_edges but keyed on l_partkey): the supplier graph is ~91%
    complete at sf0.1 and densifies with scale — a near-clique makes
    triangle counting O(n^3) by construction — while the part graph
    keeps average degree constant as SF grows (bounded order size,
    scaling part count), the sparse regime this algorithm targets."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    su = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("s")).distinct()
    # canonical-pair build (r14): half the self-join output and half the
    # distinct exchange vs the old src != dst form — see _cooccurrence_edges
    edges = _cooccurrence_edges(su)
    # Degrees as count() windows over partitionBy(src) / partitionBy(dst)
    # — the graph_adamic_adar form (graph.py:728-745): the degree
    # relation is O(#nodes), DATA-SIZED for a graph operator (~1e9 rows
    # at the 100 TB point), so it must never carry a forced F.broadcast
    # (VERDICT r10 #2 — the hint overrides AQE's size gate at ANY
    # scale).  The window form eliminates the degree relation and its
    # two joins entirely: the edge list is symmetric, so the in-degree
    # counted by partitionBy(dst) IS the out-degree, and each window
    # rides one keyed exchange of the edge relation itself.
    oriented = (
        edges.withColumn("du", F.count(F.lit(1)).over(W.partitionBy("src")))
        .withColumn("dv", F.count(F.lit(1)).over(W.partitionBy("dst")))
        .where(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("src") < F.col("dst")))
        )
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    # Three plan references follow (p, q, closing); without materializing,
    # Catalyst re-derives the su-self-join -> distinct -> degree-orient
    # pipeline once PER reference (the audit tool counted 109 exchanges /
    # 54 scans).  Materialize the oriented edges once — the Spark analog
    # of the oracle's AS MATERIALIZED CTE.
    oriented = materialize(oriented, eager=True)
    paths = (
        oriented.alias("p")
        .join(oriented.alias("q"), F.col("p.v") == F.col("q.u"))
        .select(F.col("p.u").alias("a"), F.col("p.v").alias("b"), F.col("q.v").alias("c"))
    )
    closing = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = paths.join(closing, ["a", "c"], "left_semi")
    nodes = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return (
        nodes.groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "node")
        .limit(TRI_TOP)
    )


@query(
    "graph_neighbor_jaccard",
    oracle="""
    WITH ps AS MATERIALIZED (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ),
    deg AS (SELECT s, COUNT(*) AS d FROM ps GROUP BY s),
    inter AS (
      SELECT a.s AS sa, b.s AS sb, COUNT(*) AS n_common
      FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
      GROUP BY a.s, b.s
    )
    SELECT sa, sb, CAST(n_common AS BIGINT) AS n_common,
           CAST(da.d + db.d - n_common AS BIGINT) AS n_union,
           CAST(n_common AS DOUBLE) / (da.d + db.d - n_common) AS jaccard
    FROM inter JOIN deg da ON da.s = sa JOIN deg db ON db.s = sb
    ORDER BY jaccard DESC, sa, sb
    LIMIT 20
    """,
    tags=("graph", "join", "similarity", "topk"),
)
def graph_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard link prediction: the 20 supplier pairs whose
    supplied-part sets overlap most (|N(a) ∩ N(b)| / |N(a) ∪ N(b)|) —
    the classic "who is interchangeable with whom" signal, and the
    common-neighbors primitive under most link-prediction scores.

    Candidate pairs come from a WEDGE join through the bipartite
    part→supplier relation, so the fan-out per part is (suppliers per
    part choose 2) — bounded by the SMALL side's degree (~4 in TPC-H,
    never by supplier count), the same degree-bounding argument as
    ``supplier_edges``'s per-order self-join.  That keeps total wedges
    O(parts · k²), linear in data for bounded k.  Jaccard itself is
    exact integers (intersection from the wedge count, union by
    inclusion-exclusion off the degree relation) with ONE IEEE divide —
    the float-portability convention — and the top-20 runs through
    TakeOrderedAndProject (rank ties broken by the (sa, sb) key, so the
    cut is deterministic cross-engine).

    Scale: the wedge join is keyed on the part column (co-located if ps
    is bucketed by p); a celebrity part supplied by thousands would
    need the per-key cap/salting treatment (join_skew_planted_salted)
    before the wedge — flagged, not hidden, at k² fan-out."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")).distinct()
    deg = ps.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    a = ps.select("p", F.col("s").alias("sa"))
    b = ps.select(F.col("p").alias("p2"), F.col("s").alias("sb"))
    inter = (
        a.join(b, (F.col("p") == F.col("p2")) & (F.col("sa") < F.col("sb")))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    da = deg.select(F.col("s").alias("sa"), F.col("d").alias("da"))
    db = deg.select(F.col("s").alias("sb"), F.col("d").alias("db"))
    j = (
        inter.join(da, "sa")
        .join(db, "sb")
        .select(
            "sa",
            "sb",
            F.col("n_common").cast("long").alias("n_common"),
            (F.col("da") + F.col("db") - F.col("n_common"))
            .cast("long")
            .alias("n_union"),
            (
                F.col("n_common").cast("double")
                / (F.col("da") + F.col("db") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    return j.orderBy(F.col("jaccard").desc(), "sa", "sb").limit(20)


@query(
    "graph_degree_distribution",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS degree FROM ps GROUP BY s)
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_suppliers
    FROM deg GROUP BY degree
    """,
    tags=("graph", "agg"),
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the supplier->part bipartite graph: how
    many suppliers supply exactly d distinct parts — the first plot in
    any graph characterization (power-law check, skew probe for the
    wedge joins in graph_neighbor_jaccard / graph_triangle_count, and
    the direct input to the salting decision those docstrings flag).

    Exact integers end to end.  Scale shape: one pushed-down scan ->
    distinct on (s, p) (one shuffle, map-side partial) -> count per s
    reusing the SAME (s,p)-hashed partitioning (degree counting needs
    only s-colocation, which the distinct already provides — AQE
    coalesces, no second wide exchange of data rows) -> the final
    groupBy(degree) shuffles only the per-supplier degree relation,
    already |suppliers| rows.  No reference counterpart."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")).distinct()
    deg = ps.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).cast("long").alias("n_suppliers"))


KCORE_K = 3
KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    # Every CTE is MATERIALIZED: each round references its predecessor
    # TWICE (degree count + edge filter), so inlining would re-derive
    # the wedge join 2^rounds times — measured as a 79 GiB DuckDB spill
    # at sf1 before these hints.
    sql = """
    WITH su AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
    e0 AS MATERIALIZED (
      SELECT DISTINCT a.s AS src, b.s AS dst
      FROM su a JOIN su b ON a.o = b.o AND a.s != b.s
    )"""
    prev = "e0"
    for r in range(1, KCORE_ROUNDS + 1):
        sql += f""",
    d{r} AS MATERIALIZED (SELECT src, COUNT(*) AS c FROM {prev} GROUP BY src),
    k{r} AS MATERIALIZED (SELECT src FROM d{r} WHERE c >= {KCORE_K}),
    e{r} AS MATERIALIZED (
      SELECT e.src, e.dst FROM {prev} e
      JOIN k{r} a ON e.src = a.src
      JOIN k{r} b ON e.dst = b.src
    )"""
        prev = f"e{r}"
    sql += f"""
    SELECT src AS s_suppkey, CAST(COUNT(*) AS BIGINT) AS degree
    FROM {prev} GROUP BY src
    """
    return sql


@query(
    "graph_kcore_peel",
    oracle=_kcore_oracle(),
    tags=("graph", "iterative"),
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_ROUNDS}-round {KCORE_K}-core peel of the supplier
    co-occurrence graph: each round removes every node whose CURRENT
    degree is below k and the edges touching it, then recounts — the
    standard dense-subgraph/community seed (Matula & Beck 1983's peeling,
    truncated to a FIXED round count so both engines run the identical
    unrolled dataflow; full convergence is data-dependent iteration,
    which the oracle convention forbids — the k-means/BPE unrolling
    rule).  Survivors are reported with their within-core degree.

    Exact integers end to end; edges are symmetric, so one-sided degree
    counting is the true degree.

    Scale shape: per round, one degree aggregate (map-side partial) and
    two semi-shaped joins keyed by node id — all high-cardinality keys;
    each round's edge relation is eagerly materialized
    (iterative.py's flat-plan convention) so round r+1 re-reads a
    materialized relation instead of re-deriving r rounds of joins.
    The per-order wedge bound (<= 7 suppliers/order, supplier_edges)
    keeps |E| linear in data."""
    e = materialize(supplier_edges(spark, sf_dir), eager=True)
    for _ in range(KCORE_ROUNDS):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("c"))
        keep = deg.where(F.col("c") >= KCORE_K).select("src")
        e = materialize(
            e.join(keep, "src")
            .join(keep.withColumnRenamed("src", "dst"), "dst")
            .select("src", "dst"),
            eager=True,
        )
    return e.groupBy(F.col("src").alias("s_suppkey")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )


AA_TOP = 20


@query(
    "graph_adamic_adar",
    oracle=f"""
    WITH ps AS MATERIALIZED (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ),
    deg AS (
      SELECT p, COUNT(*) AS d,
             CAST(round(1000000 / ln(COUNT(*))) AS BIGINT) AS w
      FROM ps GROUP BY p HAVING COUNT(*) >= 2
    ),
    pairs AS (
      SELECT a.s AS sa, b.s AS sb, CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(d2.w) AS BIGINT) AS aa_micro
      FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
      JOIN deg d2 ON d2.p = a.p
      GROUP BY a.s, b.s
    )
    SELECT sa, sb, n_common, aa_micro
    FROM pairs ORDER BY aa_micro DESC, sa, sb
    LIMIT {AA_TOP}
    """,
    tags=("graph", "join", "similarity", "topk"),
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{AA_TOP} supplier pairs by Adamic-Adar link prediction over
    the part-supplier bipartite graph: AA(a,b) = Σ_p 1/ln(deg(p)) over
    common parts p — rare shared parts count for more than ubiquitous
    ones, the refinement that makes AA beat raw common-neighbor counts
    for link prediction (Adamic & Adar 2003).

    Scale shape: the graph_neighbor_jaccard wedge pattern — dedup to
    (part, supplier) pairs, self-join keyed on the part (wedge fan-out
    bounded by suppliers-per-part, ~4 in TPC-H, never quadratic in
    table size), weights joined from the part-degree relation keyed on
    the part.  A common part has deg >= 2, so ln(deg) >= ln 2 and the
    per-wedge weight round(1e6/ln d) is a well-defined positive BIGINT;
    the pair score is an exact integer sum and the top-k is a
    TakeOrderedAndProject heap.  The HAVING >= 2 prune also drops
    single-supplier parts BEFORE the self-join, shrinking the wedge
    input."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    # ONE p-partitioned exchange (the repartition), genuinely reused via
    # ReusedExchange by the wedge b-side, and NO degree JOIN at all:
    # the per-part degree is a count() window over partitionBy(p),
    # which rides the same p-exchange (clustering satisfied, only a
    # local sort added — which the wedge SMJ needed anyway).  NO
    # materialize — a checkpoint surfaces as Scan ExistingRDD,
    # which DROPS outputPartitioning and forces every consumer to
    # re-exchange (VERDICT r7 #1).  NO F.broadcast of the degree
    # relation — it is O(#parts), data-sized (~20B rows at the 100 TB
    # point); the window form eliminates that relation entirely.  The
    # explicit non-null guard makes the a/b branches canonically
    # identical (without it the inferred isnotnull filters differ and
    # defeat ReuseExchange — captured r8).  The merge hint pins the
    # wedge join to SMJ so neither the static planner nor AQE
    # hash-builds the data-sized pair relation per task.
    ps = (
        li.where(F.col("l_partkey").isNotNull() & F.col("l_suppkey").isNotNull())
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
        .repartition("p")
    )
    keyed = (
        ps.withColumn("d", F.count(F.lit(1)).over(W.partitionBy("p")))
        .where(F.col("d") >= 2)  # deg-1 parts pruned pre-wedge
        .select("p", "s", F.round(1000000 / F.log("d")).cast("long").alias("w"))
    )
    pairs = (
        keyed.alias("a")
        .join(
            ps.alias("b").hint("merge"),
            (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")),
        )
        .groupBy(F.col("a.s").alias("sa"), F.col("b.s").alias("sb"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum("a.w").cast("long").alias("aa_micro"),
        )
    )
    return pairs.orderBy(F.col("aa_micro").desc(), "sa", "sb").limit(AA_TOP)


# --- market-basket co-occurrence (bipartite projection) ---------------------

BASKET_CAP = 8  # items admitted per basket (row_number, deterministic)
COPURCHASE_MIN_SUPPORT = 2


@query(
    "graph_copurchase_pairs",
    oracle=f"""
    WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    c AS (
      SELECT o, p FROM (
        SELECT o, p, ROW_NUMBER() OVER (PARTITION BY o ORDER BY p) AS rn FROM b
      ) WHERE rn <= {BASKET_CAP}
    ),
    pr AS (SELECT x.p AS p1, y.p AS p2 FROM c x JOIN c y ON x.o = y.o AND x.p < y.p)
    SELECT p1, p2, CAST(COUNT(*) AS BIGINT) AS support
    FROM pr GROUP BY p1, p2 HAVING COUNT(*) >= {COPURCHASE_MIN_SUPPORT}
    """,
    tags=("graph", "join", "agg"),
)
def graph_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the bipartite order-part graph
    projected onto parts — (p1, p2, support) for part pairs co-ordered
    in >= {COPURCHASE_MIN_SUPPORT} baskets.  The pair-generation core of
    frequent-itemset mining (Agrawal & Srikant, VLDB'94) and of
    co-view/co-cite recommendation graphs.

    Scale shape: within-basket pairs are C(k,2) in basket size k, so an
    unbounded basket is the same quadratic hazard as an uncapped LSH
    bucket (round-10 band-cardinality rule).  Each basket therefore
    admits only its {BASKET_CAP} smallest partkeys (row_number over the
    basket key — rides the self-join's own o-partitioning, the
    lev-LSH-capped convention), bounding work at C({BASKET_CAP},2) = 28
    pairs per basket, O(#baskets) total.  TPC-H baskets are <= 7 items
    so the fixture answer is cap-invariant; the planted test pins the
    cap's bite on a synthetic 12-item basket.  The support filter rides
    the pair groupBy's partial aggregation (map-side combine drops
    singletons before the shuffle spills them)."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    c = (
        b.withColumn("rn", F.row_number().over(W.partitionBy("o").orderBy("p")))
        .where(F.col("rn") <= BASKET_CAP)
        .drop("rn")
    )
    pairs = (
        c.alias("x")
        .join(c.alias("y"), "o")
        .where(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("p1"), F.col("y.p").alias("p2"))
    )
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .where(F.col("support") >= COPURCHASE_MIN_SUPPORT)
    )


# --- BFS reachability (bounded-depth frontier expansion) --------------------

BFS_DEPTH = 3


def _bfs_oracle() -> str:
    chain = []
    prev_vis, prev_frontier = "v0", "f0"
    for d in range(1, BFS_DEPTH + 1):
        chain.append(
            f"f{d} AS (SELECT DISTINCT e.dst AS node FROM edges e "
            f"JOIN {prev_frontier} f ON e.src = f.node "
            f"WHERE e.dst NOT IN (SELECT node FROM {prev_vis})), "
            f"v{d} AS (SELECT node FROM {prev_vis} UNION ALL SELECT node FROM f{d})"
        )
        prev_vis, prev_frontier = f"v{d}", f"f{d}"
    depth_union = " UNION ALL ".join(
        f"SELECT node, {d} AS depth FROM f{d}" for d in range(1, BFS_DEPTH + 1)
    )
    return f"""
    WITH su AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
    edges AS MATERIALIZED (
      SELECT DISTINCT a.s AS src, b.s AS dst
      FROM su a JOIN su b ON a.o = b.o AND a.s != b.s
    ),
    seed AS (SELECT MIN(src) AS node FROM edges),
    f0 AS (SELECT node FROM seed),
    v0 AS (SELECT node FROM seed),
    {', '.join(chain)}
    SELECT node, CAST(0 AS BIGINT) AS depth FROM f0
    UNION ALL
    SELECT node, CAST(depth AS BIGINT) FROM ({depth_union})
    """


@query(
    "graph_bfs_reachability",
    oracle=_bfs_oracle(),
    tags=("graph", "iterative", "join"),
)
def graph_bfs_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS from the smallest supplier over the order
    co-occurrence graph: (node, depth of FIRST reach) for depth <=
    {BFS_DEPTH} — single-source reachability, the primitive behind
    blast-radius, fraud-ring expansion, and n-hop ego-network
    extraction.  Completes the iterative-graph family (pagerank,
    label-prop, k-core peel) with the frontier-expansion pattern.

    Synchronous-frontier unroll, {BFS_DEPTH} rounds: each round joins
    the frontier against the edge list and anti-joins the visited set.
    NEITHER join carries a broadcast hint (VERDICT r10 #3): the
    frontier and especially the monotonically-growing visited set are
    node-sized — O(reachable nodes), 1e9+ at the 100 TB point — so a
    forced hint would override AQE's size gate straight into an
    executor OOM; unhinted, AQE broadcasts them dynamically while they
    fit (the fixture-scale plan) and degrades to a keyed shuffle join
    the moment they don't.  At 100 TB the edge list is the bucketed
    round-invariant state (graph_bfs_reachability_bucketed below) so
    the edge side never moves.  The unroll keeps the DuckDB twin
    reviewable, exactly like the pagerank CTE chain; depths are exact
    integers (no convergence tolerance), so the oracle hash-matches
    with no float convention."""
    # materialize the edge list once: it is joined in every round plus
    # the seed fold, and re-deriving the distinct self-join per round
    # measured 18.9 s at sf1 vs 6.9 s checkpointed (the bucketed edge
    # state of pagerank_edge_state is the stored-state equivalent)
    edges = materialize(supplier_edges(spark, sf_dir))
    seed = edges.agg(F.min("src").alias("node"))
    return _bfs_rounds(edges, seed)


def _bfs_rounds(edges: DataFrame, seed: DataFrame) -> DataFrame:
    """The shared {BFS_DEPTH}-round frontier-expansion body: edges is
    the (materialized) symmetric edge relation, seed the 1-row start
    node.  All frontier/visited joins are UNHINTED — see the
    graph_bfs_reachability docstring for the scale argument."""
    frontier = materialize(seed)
    visited = frontier
    out = frontier.select("node", F.lit(0).cast("long").alias("depth"))
    for d in range(1, BFS_DEPTH + 1):
        frontier = materialize(
            edges.join(frontier.select(F.col("node").alias("src")), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
        )
        visited = materialize(visited.unionAll(frontier))
        out = out.unionAll(frontier.select("node", F.lit(d).cast("long").alias("depth")))
    return out


@query(
    "graph_bfs_reachability_bucketed",
    oracle=_bfs_oracle(),
    tags=("graph", "iterative", "join", "layout"),
)
def graph_bfs_reachability_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graph_bfs_reachability's exact semantics (same oracle) with the
    edge relation read from the SHARED bucketed round-invariant state
    (pagerank_edge_state — bucketBy(src), sortBy(src)) instead of a
    session-local checkpoint: the bucketed scan reports
    HashPartitioning(src) to every round's frontier join, so the
    data-sized edge relation is shuffled ZERO times across all
    {BFS_DEPTH} rounds at ANY scale — only the node-sized frontier
    moves into the bucket partitioning (the structural fix the base
    query's docstring promises at 100 TB, VERDICT r10 #8).  The state
    table is the SAME one pagerank_bucketed amortizes (one build,
    two query families), which is the point of standing layout state.
    Equality with the checkpointed form is pinned in
    tests/test_round11_ops.py."""
    table = pagerank_edge_state(spark, sf_dir)
    edges = spark.table(table).select("src", "dst")
    seed = edges.agg(F.min("src").alias("node"))
    return _bfs_rounds(edges, seed)


# --- DOULION sampled triangle count (r11) -----------------------------------

TRI_SAMPLE_MOD = 4  # keep each undirected edge w.p. 1/4 -> estimate x 64


def _tri_sampled_oracle() -> str:
    pair = "CAST(LEAST(src, dst) AS VARCHAR) || '_' || CAST(GREATEST(src, dst) AS VARCHAR)"
    keep = f"{md5_long_sql(pair, 1, 8)} % {TRI_SAMPLE_MOD} = 0"
    return f"""
    WITH su AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS s FROM lineitem),
    edges0 AS MATERIALIZED (
      SELECT DISTINCT a.s AS src, b.s AS dst
      FROM su a JOIN su b ON a.o = b.o AND a.s != b.s
    ),
    edges AS MATERIALIZED (SELECT src, dst FROM edges0 WHERE {keep}),
    deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
    o AS MATERIALIZED (
      SELECT e.src AS u, e.dst AS v
      FROM edges e JOIN deg du ON e.src = du.node JOIN deg dv ON e.dst = dv.node
      WHERE (du.d, e.src) < (dv.d, e.dst)
    ),
    tri AS (
      SELECT p.u AS a, p.v AS b, q.v AS c
      FROM o p JOIN o q ON p.v = q.u
               JOIN o r ON r.u = p.u AND r.v = q.v
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled_triangles,
           CAST(COUNT(*) * {TRI_SAMPLE_MOD ** 3} AS BIGINT) AS est_total_triangles
    FROM tri
    """


@query(
    "graph_triangle_count_sampled",
    oracle=_tri_sampled_oracle(),
    tags=("graph", "join", "sketch"),
    # standing bench row (VERDICT r11 #2): this is the candidate-growth
    # family's published scale path — a regression here must show up in
    # BENCH_r{N}.json, not only in an ad-hoc sweep.
    bench=True,
)
def graph_triangle_count_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION sampled triangle count (Tsourakakis et al., KDD'09):
    keep each UNDIRECTED edge with probability 1/{TRI_SAMPLE_MOD}
    (deterministic pair-hash, so both directions of a symmetric edge
    survive or drop together — sampling directions independently would
    destroy triangle structure), count triangles exactly on the
    sampled graph, scale by {TRI_SAMPLE_MOD}^3.  This is the published
    escape hatch for graph_triangle_count's superlinear decade curve
    (SCALING.md round-11: 6.12x/decade is the O(m^1.5) wedge bound on
    a densifying graph): the wedge stage shrinks ~p^2 and the closing
    joins ~p^3 — a 64x work reduction here — while the estimator stays
    unbiased with variance that VANISHES as triangle counts grow,
    exactly the 100 TB regime.

    Deterministic, hence still ORACLE-CHECKED: the 'coin' is the edge
    pair's md5 — both engines sample the identical subgraph, and the
    exact count on it is an integer.  (A true random DOULION run is
    this query with the hash swapped for a seeded RNG.)

    Scale shape: identical plan skeleton to graph_triangle_count
    (window degrees would also work; the deg join here stays UNHINTED
    — AQE sizes it), on a 1/{TRI_SAMPLE_MOD}-sized edge relation;
    output is a 1-row fold."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    su = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("s")).distinct()
    # canonical-pair build (r14): the keep-hash is evaluated on the
    # canonical (src < dst) pair — least/greatest reduce to (src, dst) —
    # so each undirected edge is hashed ONCE, pre-distinct (Catalyst
    # pushes the predicate into the self-join), and the distinct
    # exchange carries half the old row count.
    keep = (
        md5_long(F.concat_ws("_", F.col("src").cast("string"), F.col("dst").cast("string")), 1, 8)
        % TRI_SAMPLE_MOD
        == 0
    )
    edges = _cooccurrence_edges(su, keep=keep)
    oriented = (
        edges.withColumn("du", F.count(F.lit(1)).over(W.partitionBy("src")))
        .withColumn("dv", F.count(F.lit(1)).over(W.partitionBy("dst")))
        .where(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("src") < F.col("dst")))
        )
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    oriented = materialize(oriented, eager=True)
    paths = (
        oriented.alias("p")
        .join(oriented.alias("q"), F.col("p.v") == F.col("q.u"))
        .select(F.col("p.u").alias("a"), F.col("p.v").alias("b"), F.col("q.v").alias("c"))
    )
    closing = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = paths.join(closing, ["a", "c"], "left_semi")
    return tri.agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled_triangles"),
        (F.count(F.lit(1)) * TRI_SAMPLE_MOD**3)
        .cast("long")
        .alias("est_total_triangles"),
    )


# ---------------------------------------------------------------------------
# Degree assortativity (round 12)
# ---------------------------------------------------------------------------

_ASSORT_SQL = f"""
    WITH su AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS s FROM lineitem),
    edges AS MATERIALIZED (
      SELECT DISTINCT a.s AS src, b.s AS dst
      FROM su a JOIN su b ON a.o = b.o AND a.s != b.s
    ),
    j AS (
      SELECT CAST(COUNT(*) OVER (PARTITION BY src) AS BIGINT) AS du,
             CAST(COUNT(*) OVER (PARTITION BY dst) AS BIGINT) AS dv
      FROM edges
    ),
    a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m_edges,
             {exact_sum_sql('du')} AS sx,
             {exact_sum_sql('dv')} AS sy,
             {exact_dot_sql('du', 'dv')} AS sxy,
             {exact_dot_sql('du', 'du')} AS sxx,
             {exact_dot_sql('dv', 'dv')} AS syy
      FROM j
    ),
    n AS (SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes FROM edges)
    SELECT m_edges, n_nodes,
           {to_double_sql(comoment_sql('m_edges', 'sxy', 'sx', 'sy'))}
           / sqrt({to_double_sql(comoment_sql('m_edges', 'sxx', 'sx'))}
                  * {to_double_sql(comoment_sql('m_edges', 'syy', 'sy'))}) AS assortativity
    FROM a CROSS JOIN n
    """


@query(
    "graph_degree_assortativity",
    oracle=_ASSORT_SQL,
    tags=("graph", "join", "agg"),
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient (Newman, PRL 2002): the Pearson
    correlation of endpoint degrees over the symmetric PART
    co-occurrence edge list — positive means hubs link to hubs
    (assortative mixing), negative means hub-to-leaf.  The part graph,
    not the supplier graph, for the same reason the triangle family
    uses it: the supplier graph is ~91% complete at sf0.1 (near-clique
    ⇒ all degrees equal ⇒ zero degree variance, and the coefficient is
    0/0 — measured at sf0.01 where it IS complete), while the part
    graph keeps constant average degree as SF grows.

    Determinism: the five moment sums (``exact_sum``/``exact_dot``) and
    the co-moment numerators m·Σxy − Σx·Σy (``comoment``) are exact
    integers (functions/rounding.py); each numerator crosses to double
    through ONE ``to_double``, and the Pearson formula is then an
    identical IEEE op tree on both engines.

    Scale shape: edge build is keyed by l_orderkey (pair count bounded
    by order size — never quadratic in table size); endpoint degrees
    are count() windows riding the edge relation's own src/dst
    exchanges — NO node-sized degree relation is joined or broadcast
    anywhere (the r11 de-hinted triangle pattern, graph.py:1051);
    the moment fold is a 1-row global aggregate."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    su = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("s")).distinct()
    ea = su.select("o", F.col("s").alias("src"))
    eb = su.select(F.col("o").alias("o2"), F.col("s").alias("dst"))
    edges = (
        ea.join(eb, (F.col("o") == F.col("o2")) & (F.col("src") != F.col("dst")))
        .select("src", "dst")
        .distinct()
    )
    j = edges.select(
        F.count(F.lit(1)).over(W.partitionBy("src")).alias("du"),
        F.count(F.lit(1)).over(W.partitionBy("dst")).alias("dv"),
    )
    a = j.agg(
        F.count(F.lit(1)).cast("long").alias("m_edges"),
        exact_sum("du").alias("sx"),
        exact_sum("dv").alias("sy"),
        exact_dot("du", "dv").alias("sxy"),
        exact_dot("du", "du").alias("sxx"),
        exact_dot("dv", "dv").alias("syy"),
    )
    n1 = edges.agg(F.countDistinct("src").cast("long").alias("n_nodes"))  # 1-row fold
    m = F.col("m_edges")
    cov = to_double(comoment(m, "sxy", "sx", "sy"))
    var_u = to_double(comoment(m, "sxx", "sx"))
    var_v = to_double(comoment(m, "syy", "sy"))
    return a.crossJoin(F.broadcast(n1)).select(
        "m_edges", "n_nodes", (cov / F.sqrt(var_u * var_v)).alias("assortativity")
    )


# ---------------------------------------------------------------------------
# Community conductance (round 12)
# ---------------------------------------------------------------------------

_CONDUCTANCE_SQL = """
    WITH su AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS s FROM lineitem),
    edges AS MATERIALIZED (
      SELECT DISTINCT a.s AS src, b.s AS dst
      FROM su a JOIN su b ON a.o = b.o AND a.s != b.s
    ),
    lab AS (
      SELECT e.src, e.dst, ps.p_brand AS src_brand, pd.p_brand AS dst_brand
      FROM edges e
      JOIN part ps ON ps.p_partkey = e.src
      JOIN part pd ON pd.p_partkey = e.dst
    ),
    per AS (
      SELECT src_brand AS brand,
             CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes,
             CAST(COUNT(*) AS BIGINT) AS volume,
             CAST(SUM(CASE WHEN src_brand != dst_brand THEN 1 ELSE 0 END)
                  AS BIGINT) AS cut
      FROM lab GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(volume) AS BIGINT) AS total_vol FROM per)
    SELECT brand, n_nodes, volume, cut,
           CAST(cut * 1000000 // LEAST(volume, total_vol - volume) AS BIGINT)
             AS conductance_ppm
    FROM per CROSS JOIN tot
    ORDER BY brand
    """


@query(
    "graph_conductance_cut",
    oracle=_CONDUCTANCE_SQL,
    tags=("graph", "join", "agg"),
)
def graph_conductance_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community-cut conductance φ(S) = cut(S,S̄) / min(vol(S), vol(S̄))
    per part BRAND over the part co-occurrence graph — the standard
    community-quality score (low φ = a well-separated cluster, φ→1 =
    the label carves the graph randomly).  TPC-H brands are assigned
    independently of co-purchase structure, so φ near the random
    baseline is itself the expected (and verifiable) reading.

    Exact integers end to end: with the symmetric directed edge list,
    vol(S) is the count of edges whose src is in S and cut(S,S̄) the
    count whose endpoints' brands differ (each undirected cut edge
    counted once per direction, consistently in both terms); the final
    score is ppm floor division — bit-exact oracle.

    Scale shape: edge build keyed by l_orderkey (bounded per-order pair
    fan-out); TWO hash joins decorate endpoints with brands — at
    fixture scale AQE broadcasts the part relation, at 100 TB these
    become shuffle joins co-partitioned on the edge keys (no forced
    hint either way); then one bounded-domain (25-brand) aggregate and
    a 1-row total fold."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    su = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("s")).distinct()
    ea = su.select("o", F.col("s").alias("src"))
    eb = su.select(F.col("o").alias("o2"), F.col("s").alias("dst"))
    edges = (
        ea.join(eb, (F.col("o") == F.col("o2")) & (F.col("src") != F.col("dst")))
        .select("src", "dst")
        .distinct()
    )
    lab = (
        edges.join(
            pt.select(F.col("p_partkey").alias("src"), F.col("p_brand").alias("src_brand")),
            "src",
        )
        .join(
            pt.select(F.col("p_partkey").alias("dst"), F.col("p_brand").alias("dst_brand")),
            "dst",
        )
    )
    per = lab.groupBy(F.col("src_brand").alias("brand")).agg(
        F.countDistinct("src").cast("long").alias("n_nodes"),
        F.count(F.lit(1)).cast("long").alias("volume"),
        F.sum(
            F.when(F.col("src_brand") != F.col("dst_brand"), 1).otherwise(0)
        ).cast("long").alias("cut"),
    )
    n1_tot = per.agg(F.sum("volume").cast("long").alias("total_vol"))  # 1-row fold
    return (
        per.crossJoin(F.broadcast(n1_tot))
        .select(
            "brand",
            "n_nodes",
            "volume",
            "cut",
            F.expr("cut * 1000000 div least(volume, total_vol - volume)")
            .cast("long")
            .alias("conductance_ppm"),
        )
        .orderBy("brand")
    )
