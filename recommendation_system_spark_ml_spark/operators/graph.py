"""Iterative graph analytics as DataFrame plans (SURVEY.md §2.11
extensions).

Companion to the label-propagation connected components in
operators/dedup.py (`dedup_components`): PageRank is the other
canonical iterative-join algorithm a relational engine gets asked for
(supplier/part importance, link analysis over citation or co-occurrence
graphs). The reference has no graph surface; the loop shape follows the
standard power-iteration formulation (Page et al. 1999) exactly as
GraphFrames/GraphX state it, but as plain joins + groupBy so Catalyst
plans every step.

Scale notes (100 TB): the per-iteration work is one join of the edge
list against the rank vector (both hash-partitioned on the SAME key, so
AQE reuses the exchange) and one groupBy(dst) sum -- the textbook
2-shuffle PageRank step. Ranks are localCheckpoint'ed mid-loop to cut
lineage growth (10 iterations would otherwise compound a 40-node plan
per step); the edge+degree table is localCheckpoint'ed once. The only
driver scalars are the node count and the loop bound -- never row data.

Graph construction is decided once per graph, each Spark builder
paired with its DuckDB CTE twin:

- ``_bipartite_edges`` / ``_BIPARTITE_SQL``: the part<->supplier graph
  (pagerank, k-core, label propagation, PPR, modularity). Node ids are
  'p'||partkey and 's'||suppkey; a lineitem row with a NULL key adds
  no edge; each distinct supply relationship is one edge each way.
- ``_coorder_edges`` / ``_COORDER_SQL``: the part co-order graph
  (triangle count, link prediction) as its distinct u < v edge set.
- ``_rank_inputs`` / ``_DEG_SQL``: the out-degree table and the
  degree-annotated edge table both power iterations join each round.
- ``_min_labels`` / ``_labelprop_cte``: the bounded min-label rounds
  (label propagation, modularity).
- ``_vec``: the broadcast gate on every per-round |V|-sized join side,
  shared with ``dedup.min_label_components``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recommendation_system_spark_ml_spark.registry import register
from recommendation_system_spark_ml_spark.session import pin_session_conf
from recommendation_system_spark_ml_spark.sources.catalog import load

DAMPING = 0.85
N_ITER = 10
CHECKPOINT_EVERY = 5  # cut lineage mid-loop; value-neutral
TOL = 1e-6            # early-exit threshold on max |delta(rank * n)|

# Per-iteration join strategy gate (r10, guide §3.1/§2.4): every
# iterative graph algorithm here joins the E-sized edge table against
# a |V|-sized vector (ranks / labels / alive set). Under the default
# sort-merge plan BOTH sides are re-exchanged and re-sorted EVERY
# round (the plan before the gate, `git show
# 364059f:plans/r10/graph_pagerank_before.txt`: one Exchange+Sort of
# the checkpointed edge RDD per iteration -- the dominant cost, since
# E >> V; LEDGER.json's graph_pagerank row now reads 0 SortMergeJoin).
# Broadcasting the vector side turns each round into
# BroadcastHashJoin(edges) + one partial-combined aggregation
# exchange: the edge table is never shuffled again after its one
# materialization. The gate keeps the plan scale-honest: vectors
# bigger than this node count fall back to the shuffle join (the
# 8 GB / 512M-row broadcast cap, driver memory, and executor build
# memory all bound how big a broadcast vector can be; ~4M rows of
# (string node, double) is low hundreds of MB built). Override via
# SPARK_GRAFT_GRAPH_BCAST_MAX_NODES for cluster tuning.
import os as _os

GRAPH_BCAST_MAX_NODES = int(
    _os.environ.get("SPARK_GRAFT_GRAPH_BCAST_MAX_NODES", "4000000"))


def _vec(df: DataFrame, n_nodes: int) -> DataFrame:
    """The |V|-sized side of a per-iteration join: broadcast when the
    node count is under the gate, else leave the planner's choice."""
    return F.broadcast(df) if n_nodes <= GRAPH_BCAST_MAX_NODES else df


# A NULL key must add no edge: a NULL node id never equals itself in
# the per-round ``src = node`` join, so it would receive rank every
# round and never pass it on.
_BIPARTITE_SQL = """e0 AS (
    SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
                    's' || CAST(l_suppkey AS VARCHAR) AS dst
    FROM lineitem WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
), und AS MATERIALIZED (
    SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
)"""


def _bipartite_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The doubled part<->supplier edge list (src, dst), lazy: the
    Spark twin of ``_BIPARTITE_SQL``'s ``und``."""
    li = (load(spark, sf_dir, "lineitem")
          .where(F.col("l_partkey").isNotNull()
                 & F.col("l_suppkey").isNotNull()))
    half = (li.select(
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"))
        .distinct())
    return half.union(half.select(F.col("dst").alias("src"),
                                  F.col("src").alias("dst")))


_COORDER_SQL = """oi AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS item
    FROM lineitem WHERE l_partkey IS NOT NULL
), e AS MATERIALIZED (
    SELECT DISTINCT a.item AS u, b.item AS v
    FROM oi a JOIN oi b ON a.o = b.o AND a.item < b.item
)"""


def _coorder_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part co-order edge set (u, v), u < v, distinct, lazy: two
    parts are adjacent when some order contains both. Generation is
    the bounded-fan-out self-join on the order key (<= 21 id pairs per
    TPC-H order, never a projection of a hub). The Spark twin of
    ``_COORDER_SQL``'s ``e``."""
    oi = (load(spark, sf_dir, "lineitem")
          .where(F.col("l_partkey").isNotNull())
          .select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("item"))
          .distinct())
    a, b = oi.alias("a"), oi.alias("b")
    return (a.join(b, (F.col("a.o") == F.col("b.o"))
                   & (F.col("a.item") < F.col("b.item")))
            .select(F.col("a.item").alias("u"), F.col("b.item").alias("v"))
            .distinct())


_DEG_SQL = """deg AS MATERIALIZED (
    SELECT src, count(*) AS outdeg FROM und GROUP BY 1
)"""


def _rank_inputs(edges: DataFrame) -> tuple[DataFrame, DataFrame, int]:
    """(deg, ed, n_nodes) for a power iteration over the directed edge
    list ``edges`` (src, dst); ``deg`` is the Spark twin of ``_DEG_SQL``.

    ``deg`` (src, outdeg) is materialized once, eagerly (V rows): its
    count is the broadcast-vector gate and the rank seed. ``ed`` (src,
    dst, outdeg) is the one materialized edge+degree table every round
    joins (localCheckpoint: computed once, lineage cut, blocks
    reclaimed by the ContextCleaner when unreferenced -- no unpersist
    race against the returned lazy plan). The degree attach is a
    broadcast of the V-sized side, so edges pay no shuffle there."""
    deg = (edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
           .localCheckpoint(eager=True))
    n_nodes = deg.count()  # driver scalar: node count, never row data
    ed = edges.join(_vec(deg, n_nodes), "src").localCheckpoint(eager=True)
    return deg, ed, n_nodes


def _power_iterate(ed: DataFrame, ranks: DataFrame, n_nodes: int,
                   max_iter: int = N_ITER, tol: float = TOL,
                   damping: float = DAMPING) -> tuple[DataFrame, int]:
    """Damped power iteration with convergence-aware early exit.

    The convergence check costs one scalar join+agg plus an EAGER
    (blocking) checkpoint of the new rank vector, so it only runs when
    early exit is plausible: the delta contracts at best ~damping per
    round from an O(1) scaled starting point, so reaching a 1e-6-ish
    tol needs tens of iterations -- for short caps (max_iter <= 20, the
    registered 10-iteration query) the check provably cannot fire and
    the loop takes the pre-r4 fast path (lazy lineage-cut checkpoint,
    zero delta joins; the r4 always-on check cost ~3.6 s/sweep for zero
    exits, BENCH_r04 vs r03). When it does run, the check is
    piggybacked on the CHECKPOINT_EVERY lineage-cut boundary where the
    vector is materialized anyway: per check the driver sees ONE float,
    never row data. Exit fires when max |delta(rank * n_nodes)| < tol
    -- scaled ranks, so the threshold is independent of graph size.

    max_iter stays a hard cap: the registered query's oracle is the
    fixed-N_ITER unrolled-CTE form, and on the part-supplier graph the
    cap binds (measured: max delta ~4.0 at iteration 10, 0.85x per
    iteration -- 1e-6 is ~94 iterations away), so the result is
    bit-identical to the unrolled oracle. Graphs that DO converge
    inside a long cap (the chain-graph property test) skip the
    remaining rounds -- at cluster scale, where hundreds of iterations
    are budgeted, that is the real saving.

    Returns (ranks, iterations_run)."""
    base = (1.0 - damping) / n_nodes
    check_convergence = max_iter > 20 and tol > 0.0
    it = 0
    for i in range(1, max_iter + 1):
        it = i
        contrib = (ed.join(_vec(ranks, n_nodes), ed.src == ranks.node)
                   .select(F.col("dst"),
                           (F.col("rank") / F.col("outdeg")).alias("c")))
        new_ranks = (contrib.groupBy("dst")
                     .agg((F.lit(base) + damping * F.sum("c")).alias("rank"))
                     .withColumnRenamed("dst", "node"))
        if i % CHECKPOINT_EVERY == 0 and i < max_iter:
            if check_convergence:
                new_ranks = new_ranks.localCheckpoint(eager=True)
                delta, = (new_ranks.join(
                    _vec(ranks.withColumnRenamed("rank", "old"), n_nodes),
                    "node")
                    .agg(F.max(F.abs((F.col("rank") - F.col("old"))
                                     * n_nodes))).first())
                if delta is not None and delta < tol:
                    ranks = new_ranks
                    break
            else:
                new_ranks = new_ranks.localCheckpoint(eager=False)
        ranks = new_ranks
    return ranks, it


def _pagerank_oracle() -> str:
    """Fixed-iteration PageRank unrolled as chained CTEs (r1..rN each
    referencing the previous) -- deterministic, so ANSI-SQL-expressible
    without recursion. Every node of the doubled bipartite graph has
    out-degree >= 1, hence no dangling-mass term."""
    steps = []
    for i in range(1, N_ITER + 1):
        steps.append(f"""r{i} AS (
    SELECT e.dst AS node,
           (1 - {DAMPING}) / (SELECT n FROM nn)
           + {DAMPING} * sum(r.rank / d.outdeg) AS rank
    FROM und e
    JOIN r{i - 1} r ON e.src = r.node
    JOIN deg d ON e.src = d.src
    GROUP BY e.dst
)""")
    return f"""
WITH {_BIPARTITE_SQL}, {_DEG_SQL}, nn AS (
    SELECT count(*) AS n FROM deg
), r0 AS (
    SELECT src AS node, 1.0 / (SELECT n FROM nn) AS rank FROM deg
), {", ".join(steps)}
SELECT node, round(rank * (SELECT n FROM nn), 6) AS pagerank
FROM r{N_ITER}
"""


@register("graph_pagerank", oracle=_pagerank_oracle(), bench=True)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part<->supplier bipartite graph from lineitem
    (``_bipartite_edges``: distinct supply relationships, doubled to
    undirected, no edge from a NULL key), damping 0.85, 10 power
    iterations over ``_rank_inputs``' materialized edge+degree table,
    no dangling nodes by construction (every node appears in an edge,
    so the scaled ranks sum to the node count). Returns ranks scaled
    by node count (mean 1.0) rounded to 6 -- coarse enough to absorb
    cross-engine float-summation order, fine enough to rank.

    The oracle is the SAME power iteration unrolled as 10 chained SQL
    CTEs -- fixed-iteration PageRank is deterministic, so the whole
    iterative algorithm is hash-checked value-for-value, which the
    usual "iterative therefore rows-only" framing gives up on.

    Timing honesty (PERF.md): ~9-18 s at sf0.1 vs DuckDB's 3 s on the
    unrolled form -- 10 sequential stages pay Spark's per-stage
    scheduling floor on a 1M-edge toy graph; the same floor amortizes
    to noise at cluster scale, where the per-iteration join/agg is the
    part that must (and does) stay a plain 2-shuffle step. In the
    headline bench since r5 (one of the five slowest queries: the r4
    convergence-check regression was invisible to BENCH_rN diffs).

    The loop is convergence-aware (_power_iterate) but with a 10-round
    cap the exit provably cannot fire (measured contraction: delta
    ~4.0 at iteration 10 shrinking 0.85x per round -- 1e-6 is ~94
    iterations away), so the check is gated off entirely (max_iter <=
    20 takes the lazy-checkpoint fast path, no delta joins) and the
    output remains bit-identical to the 10-iteration unrolled oracle;
    the chain-graph property test exercises the genuinely-early exit
    on a 60-round cap."""
    pin_session_conf(spark)
    deg, ed, n_nodes = _rank_inputs(_bipartite_edges(spark, sf_dir))
    ranks = deg.select(F.col("src").alias("node"),
                       F.lit(1.0 / n_nodes).alias("rank"))
    ranks, _ = _power_iterate(ed, ranks, n_nodes)
    return ranks.select(
        "node", F.round(F.col("rank") * n_nodes, 6).alias("pagerank"))


@register("graph_degree_histogram", oracle="""
WITH e0 AS (
    SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
), deg AS (
    SELECT 'part' AS node_type, p AS node, count(*) AS degree
    FROM e0 GROUP BY 2
    UNION ALL
    SELECT 'supplier' AS node_type, s AS node, count(*) AS degree
    FROM e0 GROUP BY 2
)
SELECT node_type, CAST(degree AS BIGINT) AS degree,
       CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY 1, 2
""")
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part<->supplier bipartite graph
    (distinct supply relationships), per side -- the first thing to
    read before running graph_pagerank or dedup_components at scale:
    a heavy-tailed histogram says which side needs salting and how
    big the frontier can get; a flat one says the 2-shuffle iteration
    is safe as-is.

    Shape: one distinct on the edge pair (the same first shuffle
    graph_pagerank pays), then per-side degree counts and a
    degree-histogram rollup -- every aggregate partial-combines, the
    final keyspace is |distinct degrees| x 2. The two sides ride ONE
    scan: the distinct edge set is computed once and both degree
    directions derive from it via a union of two tiny groupBys."""
    pin_session_conf(spark)
    li = load(spark, sf_dir, "lineitem")
    e0 = (li.select(F.col("l_partkey").alias("p"),
                    F.col("l_suppkey").alias("s"))
          .distinct().localCheckpoint())
    deg = (e0.groupBy("p").agg(F.count(F.lit(1)).alias("degree"))
           .select(F.lit("part").alias("node_type"), "degree")
           .union(
               e0.groupBy("s").agg(F.count(F.lit(1)).alias("degree"))
               .select(F.lit("supplier").alias("node_type"), "degree")))
    return (deg.groupBy("node_type", F.col("degree").cast("long")
                        .alias("degree"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_nodes")))


@register("graph_triangle_count", bench=True, oracle=f"""
WITH {_COORDER_SQL}, deg AS (
    SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e
    ) GROUP BY 1
), oriented AS (
    SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
           CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
    FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
), tri AS MATERIALIZED (
    SELECT e1.s AS x, e1.t AS y, e2.t AS z
    FROM oriented e1
    JOIN oriented e2 ON e1.t = e2.s
    JOIN oriented e3 ON e3.s = e1.s AND e3.t = e2.t
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM (SELECT unnest([x, y, z]) AS node FROM tri)
GROUP BY 1
""")
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the part co-order graph (parts
    are adjacent when some order contains both) -- the clustering-
    coefficient / community-density primitive next to graph_pagerank's
    centrality and dedup_components' connectivity. The edge set is
    ``_coorder_edges``.

    The triangle join runs on the DEGREE-ORDERED orientation (each
    undirected edge points from its (degree, id)-smaller endpoint), the
    standard trick (Chiba-Nishizeki / Schank-Wagner) that bounds wedge
    work by sum(outdeg^2) = O(E^1.5) instead of sum(deg^2), which a
    hub node makes quadratic -- at 100 TB this is the difference
    between a skew-killed shuffle and a balanced one. Each triangle is
    found exactly once (its orientation is acyclic), then credited to
    all three corners; everything shuffles 16-byte id pairs, counts
    are integers, and the oracle replays the identical orientation via
    tuple comparison."""
    pin_session_conf(spark)
    e = _coorder_edges(spark, sf_dir)
    deg = (e.select(F.col("u").alias("node"))
           .union(e.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("d"))
           .localCheckpoint(eager=True))
    n_nodes = deg.count()  # driver scalar: broadcast-vector gate
    du = _vec(deg.select(F.col("node").alias("u"), F.col("d").alias("du")),
              n_nodes)
    dv = _vec(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")),
              n_nodes)
    u_first = (F.struct("du", "u") < F.struct("dv", "v"))
    oriented = (e.join(du, "u").join(dv, "v")
                .select(F.when(u_first, F.col("u")).otherwise(F.col("v"))
                        .alias("s"),
                        F.when(u_first, F.col("v")).otherwise(F.col("u"))
                        .alias("t"))
                .localCheckpoint(eager=True))
    e1 = oriented.select(F.col("s").alias("x"), F.col("t").alias("y"))
    e2 = oriented.select(F.col("s").alias("y"), F.col("t").alias("z"))
    e3 = oriented.select(F.col("s").alias("x"), F.col("t").alias("z"))
    # SHUFFLE_HASH on the E-sized build sides (guide §3.1): sort-merge
    # sorted the wedge stream -- the one sum(outdeg^2)-sized table in
    # the plan -- on both join boundaries; hash joins keep the wedge
    # stream sort-free (it is exchanged, never ordered) and build the
    # per-partition map from E/partitions rows of 16-byte id pairs.
    tri = (e1.join(e2.hint("shuffle_hash"), "y")
           .join(e3.hint("shuffle_hash"), ["x", "z"])
           .select("x", "y", "z"))
    # ONE pass credits all three corners: a union of three projections
    # of `tri` would re-execute the wedge join three times (measured
    # 3x wall on the dense sf0.1 co-order graph); explode streams each
    # closed wedge once and the count partial-combines map-side.
    corners = tri.select(
        F.explode(F.array("x", "y", "z")).alias("node"))
    return (corners.groupBy("node")
            .agg(F.count(F.lit(1)).cast("long").alias("n_triangles")))


K_CORE = 3        # minimum induced degree to survive peeling
KCORE_ROUNDS = 8  # fixed peeling rounds, shared with the oracle


def _kcore_oracle() -> str:
    """Bounded-round k-core peeling unrolled as MATERIALIZED CTEs
    (the vec_top_pc lesson: each round references the previous alive
    set twice, so default inlining re-expands the edge subtree 2^N
    times). All-integer, so the replay is exact."""
    steps = []
    prev = "a0"
    for t in range(1, KCORE_ROUNDS + 1):
        steps.append(f"""e{t} AS MATERIALIZED (
    SELECT und.src, und.dst FROM und
    JOIN {prev} x ON und.src = x.node
    JOIN {prev} y ON und.dst = y.node
), d{t} AS MATERIALIZED (
    SELECT src AS node, count(*) AS deg FROM e{t} GROUP BY 1
), a{t} AS MATERIALIZED (
    SELECT node FROM d{t} WHERE deg >= {K_CORE}
)""")
        prev = f"a{t}"
    return f"""
WITH {_BIPARTITE_SQL}, a0 AS MATERIALIZED (
    SELECT DISTINCT src AS node FROM und
), {", ".join(steps)}
SELECT node, CAST(deg AS BIGINT) AS degree
FROM d{KCORE_ROUNDS} WHERE deg >= {K_CORE}
"""


@register("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round {K_CORE}-core peeling of the part<->supplier
    graph (Seidman 1983; Batagelj-Zaversnik): iteratively drop nodes
    whose induced degree falls below {K_CORE} -- the dense-backbone
    extractor between graph_degree_histogram's skew read and
    graph_pagerank's centrality (cores locate the substructure where
    iterative algorithms spend their time). FIXED {KCORE_ROUNDS}
    peeling rounds rather than peel-to-fixpoint: the round count is
    part of the algorithm's contract, both engines replay it exactly
    (the graph_pagerank determinism recipe), and the tests verify the
    fixpoint separately where the graph converges sooner.

    Per round: one semi-join of the checkpointed edge list against
    the shrinking alive set (frontier-sized, never corpus-sized
    growth) and one partial-combined degree count -- 2 shuffles/round
    like pagerank, all-integer so the unrolled oracle is exact. The
    edge list is ``_bipartite_edges``, materialized once; the alive
    set is checkpointed every round (see the loop)."""
    pin_session_conf(spark)
    und = _bipartite_edges(spark, sf_dir).localCheckpoint(eager=True)
    alive = und.select(F.col("src").alias("node")).distinct()
    n_nodes = alive.count()  # driver scalar: broadcast-vector gate
    deg = None
    for t in range(1, KCORE_ROUNDS + 1):
        x = alive.select(F.col("node").alias("src"))
        y = alive.select(F.col("node").alias("dst"))
        e = und.join(_vec(x, n_nodes), "src").join(_vec(y, n_nodes), "dst")
        deg = e.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("deg"))
        alive = deg.where(F.col("deg") >= K_CORE).select("node")
        # checkpoint EVERY round (<=V rows, shrinking): alive is
        # referenced twice per round (src + dst semi-join sides), so an
        # un-materialized chain re-executes the E-sized join 2^depth
        # times once the vector side is broadcast.
        if t < KCORE_ROUNDS:
            alive = alive.localCheckpoint(eager=True)
    return (deg.where(F.col("deg") >= K_CORE)
            .select("node", F.col("deg").cast("long").alias("degree")))


LP_ROUNDS = 4  # fixed synchronous min-label rounds, shared with the oracle


def _labelprop_cte() -> str:
    """Bounded-round min-label propagation unrolled as MATERIALIZED
    CTEs (the graph_kcore recipe: each round references the previous
    label table twice, so default inlining would re-expand the edge
    subtree exponentially). Labels are node-id strings; min over
    ASCII strings is byte-order identical on both engines."""
    steps = []
    prev = "l0"
    for t in range(1, LP_ROUNDS + 1):
        steps.append(f"""m{t} AS MATERIALIZED (
    SELECT und.dst AS node, min(l.label) AS nm
    FROM und JOIN {prev} l ON und.src = l.node
    GROUP BY 1
), l{t} AS MATERIALIZED (
    SELECT l.node,
           CASE WHEN m.nm IS NOT NULL AND m.nm < l.label
                THEN m.nm ELSE l.label END AS label
    FROM {prev} l LEFT JOIN m{t} m ON l.node = m.node
)""")
        prev = f"l{t}"
    return f"""
WITH {_BIPARTITE_SQL}, l0 AS MATERIALIZED (
    SELECT DISTINCT src AS node, src AS label FROM und
), {", ".join(steps)}"""


def _labelprop_oracle() -> str:
    return f"""{_labelprop_cte()}
SELECT node, label FROM l{LP_ROUNDS}
"""


def _min_labels(und: DataFrame) -> tuple[DataFrame, int]:
    """(lab, n_nodes): LP_ROUNDS synchronous min-label rounds over the
    materialized doubled edge list ``und`` (src, dst); ``lab`` (node,
    label) is the lazy last round, one row per node. The Spark twin of
    ``_labelprop_cte``'s label CTEs."""
    lab = (und.select(F.col("src").alias("node")).distinct()
           .withColumn("label", F.col("node"))
           .localCheckpoint(eager=True))
    n_nodes = lab.count()  # driver scalar: broadcast-vector gate
    for t in range(1, LP_ROUNDS + 1):
        msgs = (und.join(_vec(lab.select(F.col("node").alias("src"),
                                         "label"), n_nodes),
                         "src")
                .select(F.col("dst").alias("node"), "label"))
        nbrmin = msgs.groupBy("node").agg(F.min("label").alias("nm"))
        lab = (lab.join(_vec(nbrmin, n_nodes), "node", "left")
               .select("node",
                       F.when(F.col("nm").isNotNull()
                              & (F.col("nm") < F.col("label")),
                              F.col("nm")).otherwise(F.col("label"))
                       .alias("label")))
        # checkpoint EVERY round (V rows, cheap): lab is referenced
        # twice per round (message source + left-join stream side), so
        # an un-materialized chain re-executes the E-sized join 2^depth
        # times once the vector side is broadcast.
        if t < LP_ROUNDS:
            lab = lab.localCheckpoint(eager=True)
    return lab, n_nodes


@register("graph_label_propagation", oracle=_labelprop_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round min-label propagation over the part<->supplier
    graph (the HashMin community/component sweep of Raghavan et al.
    2007's LPA family, with the deterministic min-label update instead
    of the randomized majority vote): after {LP_ROUNDS} synchronous
    rounds every node carries the smallest node-id reachable within
    {LP_ROUNDS} hops -- the bounded-diameter community assignment, and
    the building block dedup_components runs to fixpoint on documents.
    FIXED round count rather than convergence: the round budget is
    part of the algorithm's contract, replayed exactly by both engines
    (the graph_pagerank/graph_kcore determinism recipe).

    Per round: one join of the checkpointed edge list against the
    current label table (2-shuffle iteration, the textbook Pregel
    step as relational algebra) and one partial-combined min; the
    label table never exceeds |nodes| rows. The edge list is
    ``_bipartite_edges``, materialized once; the rounds are
    ``_min_labels``, which checkpoints the label table every round.
    Labels are node-id STRINGS -- min over ASCII is byte-order
    identical across engines, no float anywhere."""
    pin_session_conf(spark)
    und = _bipartite_edges(spark, sf_dir).localCheckpoint(eager=True)
    lab, _ = _min_labels(und)
    return lab


LP_TOPK = 50  # link-prediction shortlist length
LP_MID_CAP = 32  # wedge fan-out cap: first N neighbors (by id) per middle
_LP_Q = 1_000_000  # 6-decimal floor quantization before the ranked cut


@register("graph_link_prediction", oracle=f"""
WITH {_COORDER_SQL}, und AS MATERIALIZED (
    SELECT u, v FROM e UNION ALL SELECT v, u FROM e
), deg AS MATERIALIZED (
    SELECT u AS node, count(*) AS d FROM und GROUP BY 1
), adj AS MATERIALIZED (
    SELECT mid, nbr, d_mid FROM (
        SELECT o.v AS mid, o.u AS nbr, dm.d AS d_mid,
               row_number() OVER (PARTITION BY o.v
                                  ORDER BY o.u ASC) AS rn
        FROM und o
        JOIN deg dm ON o.v = dm.node
        JOIN deg dn ON o.u = dn.node
        WHERE (dn.d, o.u) > (dm.d, o.v)) WHERE rn <= {LP_MID_CAP}
), cand AS (
    SELECT a.nbr AS x, b.nbr AS y,
           count(*) AS cn,
           floor(sum(1.0 / ln(a.d_mid)) * {_LP_Q} + 0.5) / {_LP_Q} AS aa
    FROM adj a JOIN adj b ON a.mid = b.mid AND a.nbr < b.nbr
    GROUP BY 1, 2
), nonadj AS (
    SELECT c.* FROM cand c
    LEFT JOIN e ON c.x = e.u AND c.y = e.v
    WHERE e.u IS NULL
), scored AS (
    SELECT n.x AS u, n.y AS v, n.cn, n.aa,
           round(n.cn * 1.0 / (du.d + dv.d - n.cn), 6) AS jaccard
    FROM nonadj n JOIN deg du ON n.x = du.node
                  JOIN deg dv ON n.y = dv.node
)
SELECT u, v, CAST(cn AS BIGINT) AS common_neighbors, aa AS adamic_adar,
       jaccard
FROM scored
ORDER BY aa DESC, u ASC, v ASC
LIMIT {LP_TOPK}
""")
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph (Liben-Nowell &
    Kleinberg 2003): for part pairs at distance 2 (share a co-purchase
    neighbor but never bought together), score common-neighbor count,
    Adamic-Adar (common neighbors weighted 1/ln(degree) -- rare shared
    neighbors count more), and Jaccard -- the top-{LP_TOPK} shortlist
    is the classic "these two items WILL co-occur next quarter"
    prediction, and the graph twin of the ratings-based item-item CF
    in operators/recommend.py.

    Shape -- and the load-bearing cap: raw wedge enumeration is
    sum(deg_mid^2), and on this DENSE co-purchase graph (near-uniform
    degree ~125 at sf0.1) that is ~300M wedges -- measured 88 s, the
    registry's slowest query before the cap. Middle selection is
    DEGREE-ORDERED (r7 verdict task 5, the graph_triangle_count
    Chiba-Nishizeki orientation): a middle only enumerates neighbors
    with a LARGER (degree, id), i.e. every wedge is charged to its
    lowest-degree common neighbor, then that oriented adjacency is
    cut to the first {LP_MID_CAP} out-neighbors by id
    (WindowGroupLimit -- a documented algorithmic contract shared
    verbatim with the oracle, the USER_CAP recipe from the item-CF
    pipeline). Capped wedge volume is therefore
    sum_mid min(outdeg, {LP_MID_CAP})^2
    <= {LP_MID_CAP} * sum_mid outdeg = {LP_MID_CAP} * E --
    it tracks EDGES at any scale (and in the unsaturated regime the
    orientation alone gives the Chiba-Nishizeki E^1.5 wedge bound,
    with outdeg <= sqrt(2E) for every middle); the id-ordered cap on
    the UNORIENTED adjacency it replaces admitted twice that
    (2E entries) and spent the budget on an arbitrary id-ordered
    subset. The orientation also keeps exactly the HIGH-WEIGHT
    wedges: Adamic-Adar weighs a middle 1/ln(deg_mid), largest for
    low-degree middles, which are precisely the middles the
    orientation lets enumerate. Scores become oriented-capped CN/AA
    (standard hub-middle practice); Jaccard denominators keep the
    TRUE degrees. Adamic-Adar denominators are a broadcast degree
    join; non-adjacency is a left anti join against the canonical u<v
    edge set; the final cut is orderBy+limit (TakeOrderedAndProject
    -- a distributed heap, never a global sort). AA floor-quantizes
    at 1e-6 BEFORE the ranked cut so the shortlist is cross-engine
    deterministic. deg_mid >= 2 always (the middle touches both
    ends), so ln never sees 1."""
    pin_session_conf(spark)
    e = _coorder_edges(spark, sf_dir).localCheckpoint(eager=True)
    und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # r11 (guide §5): deg is broadcast TWICE into the orientation (and
    # the before-plan built it four times -- twice per wedge side);
    # one eager materialization of the |V|-row table replaces four
    # E-sized aggregation scans.
    deg = (und.groupBy(F.col("u").alias("node"))
           .agg(F.count(F.lit(1)).alias("d"))
           .localCheckpoint(eager=True))
    # degree orientation: keep (mid=v -> nbr=u) only when the
    # neighbor's (degree, id) exceeds the middle's, so each wedge is
    # charged to its lowest-degree common neighbor (broadcast degree
    # joins -- |nodes| rows); then cap the oriented out-adjacency.
    dmid = deg.select(F.col("node").alias("v"), F.col("d").alias("d_mid"))
    dnbr = deg.select(F.col("node").alias("u"), F.col("d").alias("d_nbr"))
    oriented = (und.join(F.broadcast(dmid), "v")
                .join(F.broadcast(dnbr), "u")
                .where((F.col("d_nbr") > F.col("d_mid"))
                       | ((F.col("d_nbr") == F.col("d_mid"))
                          & (F.col("u") > F.col("v")))))
    wadj = Window.partitionBy("v").orderBy(F.col("u").asc())
    # the middle's AA weight rides the (bounded) adjacency rows, so
    # the wedge stream -- the only table that is ever CAP * E wide --
    # joins nothing downstream and never carries the mid column.
    # r11 (guide §5 + §3.1): adj feeds both sides of the wedge
    # self-join; the before-plan ran the whole und+orientation+window
    # chain twice (`git show
    # 364059f:plans/r11/graph_link_prediction_before.txt`, nodes 16-34
    # and 50-68). One eager checkpoint materializes the capped
    # oriented adjacency (<= LP_MID_CAP rows per middle) once. The
    # wedge join then takes the SHUFFLE_HASH hint (the
    # graph_triangle_count lever): the CAP*E-sized wedge stream is
    # exchanged but never SORTED -- sort-merge would re-sort both
    # checkpointed sides, and broadcast is out once the adjacency
    # outgrows the threshold at scale.
    adj = (oriented.withColumn("rn", F.row_number().over(wadj))
           .where(F.col("rn") <= LP_MID_CAP)
           .select(F.col("v").alias("mid"), F.col("u").alias("nbr"),
                   (F.lit(1.0) / F.log(F.col("d_mid"))).alias("w_mid"))
           .localCheckpoint(eager=True))
    wa, wb = adj.alias("wa"), adj.alias("wb").hint("shuffle_hash")
    cand = (wa.join(wb, (F.col("wa.mid") == F.col("wb.mid"))
                    & (F.col("wa.nbr") < F.col("wb.nbr")))
            .select(F.col("wa.nbr").alias("x"), F.col("wb.nbr").alias("y"),
                    F.col("wa.w_mid").alias("w_mid"))
            .groupBy("x", "y")
            .agg(F.count(F.lit(1)).alias("cn"),
                 (F.floor(F.sum("w_mid") * _LP_Q + F.lit(0.5)) / _LP_Q)
                 .alias("aa")))
    # anti-join builds the hash on the edge side per partition instead
    # of sorting the (bigger) candidate aggregate stream (§3.1)
    nonadj = cand.join(e.hint("shuffle_hash"),
                       (cand.x == e.u) & (cand.y == e.v), "left_anti")
    du = deg.select(F.col("node").alias("x"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("y"), F.col("d").alias("dv"))
    scored = (nonadj.join(F.broadcast(du), "x").join(F.broadcast(dv), "y")
              .select(F.col("x").alias("u"), F.col("y").alias("v"),
                      F.col("cn").cast("long").alias("common_neighbors"),
                      F.col("aa").alias("adamic_adar"),
                      F.round(F.col("cn").cast("double")
                              / (F.col("du") + F.col("dv") - F.col("cn")), 6)
                      .alias("jaccard")))
    return (scored.orderBy(F.col("adamic_adar").desc(), F.col("u").asc(),
                           F.col("v").asc())
            .limit(LP_TOPK))


PPR_ITERS = 8        # fixed personalized-PageRank rounds
PPR_SEED_MOD = 50    # parts with partkey % 50 == 0 form the seed set


def _ppr_oracle() -> str:
    """Fixed-iteration personalized PageRank unrolled as MATERIALIZED
    CTEs: every round LEFT JOINs the full node table against the
    incoming contributions so zero-rank nodes survive (the teleport
    set is sparse, most nodes start at 0 -- unlike global PageRank's
    uniform vector)."""
    steps = []
    prev = "r0"
    for i in range(1, PPR_ITERS + 1):
        steps.append(f"""c{i} AS MATERIALIZED (
    SELECT e.dst AS node, sum(r.rank / d.outdeg) AS m
    FROM und e
    JOIN {prev} r ON e.src = r.node
    JOIN deg d ON e.src = d.src
    GROUP BY e.dst
), r{i} AS MATERIALIZED (
    SELECT n.node,
           (CASE WHEN n.is_seed THEN (1.0 - {DAMPING}) / ns.s
                 ELSE 0.0 END) + {DAMPING} * coalesce(c.m, 0.0) AS rank
    FROM nodes n CROSS JOIN ns LEFT JOIN c{i} c ON n.node = c.node
)""")
        prev = f"r{i}"
    return f"""
WITH {_BIPARTITE_SQL}, {_DEG_SQL}, nodes AS MATERIALIZED (
    SELECT src AS node,
           src LIKE 'p%'
               AND CAST(substr(src, 2) AS BIGINT) % {PPR_SEED_MOD} = 0
               AS is_seed
    FROM deg
), ns AS MATERIALIZED (
    SELECT CAST(sum(CASE WHEN is_seed THEN 1 ELSE 0 END) AS DOUBLE) AS s
    FROM nodes
), r0 AS MATERIALIZED (
    SELECT node, CASE WHEN is_seed THEN 1.0 / ns.s ELSE 0.0 END AS rank
    FROM nodes CROSS JOIN ns
), {", ".join(steps)}
SELECT node, round(rank * (SELECT count(*) FROM nodes), 6) AS ppr
FROM r{PPR_ITERS}
"""


@register("graph_personalized_pagerank", oracle=_ppr_oracle())
def graph_personalized_pagerank(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Personalized PageRank from a sparse seed set (parts with key %
    {PPR_SEED_MOD} == 0): the teleport jumps back to the SEEDS, not
    uniformly, so ranks measure proximity to the seed set -- the
    query-dependent relevance PageRank variant behind 'related items'
    / Pinterest Pixie-style recommendations, and the graph twin of a
    seeded recommender. {PPR_ITERS} fixed rounds, damping {DAMPING},
    hash-checked value-for-value against the unrolled MATERIALIZED-CTE
    oracle (the graph_pagerank recipe; fixed-iteration PPR is
    deterministic).

    Shape differs from global PageRank in one load-bearing way: the
    rank vector starts and stays SPARSE-supported (only nodes within
    t hops of a seed are nonzero), so each round is the same
    2-shuffle join/agg but the full node table re-enters via a LEFT
    join to keep zero-rank nodes in the output contract. The seed
    indicator and count are computed from the node table itself
    (ns is a broadcast scalar); lineage cut every 3 rounds. The graph
    and its degree tables are graph_pagerank's (``_bipartite_edges``,
    ``_rank_inputs``)."""
    pin_session_conf(spark)
    deg, ed, n_nodes = _rank_inputs(_bipartite_edges(spark, sf_dir))
    is_seed = (F.col("node").startswith("p")
               & (F.substring(F.col("node"), 2, 100).cast("bigint")
                  % PPR_SEED_MOD == 0))
    nodes = (deg.select(F.col("src").alias("node"))
             .withColumn("is_seed", is_seed)
             .localCheckpoint(eager=True))
    ns = nodes.agg(F.sum(F.when(F.col("is_seed"), 1).otherwise(0))
                   .cast("double").alias("s"))
    ranks = (nodes.crossJoin(F.broadcast(ns))
             .select("node", F.when(F.col("is_seed"),
                                    F.lit(1.0) / F.col("s"))
                     .otherwise(F.lit(0.0)).alias("rank")))
    for t in range(1, PPR_ITERS + 1):
        contrib = (ed.join(_vec(ranks, n_nodes), ed.src == ranks.node)
                   .groupBy("dst")
                   .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("m")))
        ranks = (nodes.crossJoin(F.broadcast(ns))
                 .join(_vec(contrib, n_nodes),
                       nodes.node == contrib.dst, "left")
                 .select(nodes.node,
                         (F.when(F.col("is_seed"),
                                 (1.0 - DAMPING) / F.col("s"))
                          .otherwise(F.lit(0.0))
                          + DAMPING * F.coalesce(F.col("m"), F.lit(0.0)))
                         .alias("rank")))
        if t % 3 == 0 and t < PPR_ITERS:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node",
                        F.round(F.col("rank") * n_nodes, 6).alias("ppr"))


_MOD_Q = 1_000_000  # q-term quantization


@register("graph_modularity", oracle=f"""{_labelprop_cte()},
lab AS MATERIALIZED (SELECT node, label FROM l{LP_ROUNDS}),
m AS (SELECT count(*) / 2.0 AS m FROM und),
internal AS (
    SELECT la.label, count(*) / 2.0 AS e_c
    FROM und JOIN lab la ON und.src = la.node
             JOIN lab lb ON und.dst = lb.node
    WHERE la.label = lb.label
    GROUP BY 1
),
degsum AS (
    SELECT la.label, count(*) AS deg_c
    FROM und JOIN lab la ON und.src = la.node
    GROUP BY 1
),
terms AS (
    SELECT d.label, coalesce(i.e_c, 0.0) AS e_c, d.deg_c
    FROM degsum d LEFT JOIN internal i ON d.label = i.label
)
SELECT t.label AS community,
       CAST((SELECT count(*) FROM lab WHERE lab.label = t.label) AS BIGINT)
           AS size,
       CAST(t.e_c AS DOUBLE) AS internal_edges,
       CAST(t.deg_c AS BIGINT) AS degree_sum,
       floor((t.e_c / m.m - (t.deg_c / (2.0 * m.m))
              * (t.deg_c / (2.0 * m.m))) * {_MOD_Q} + 0.5) / {_MOD_Q}
           AS q_term
FROM terms t, m
""")
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity decomposition of the min-label-propagation
    communities (Newman & Girvan 2004): per community, Q_c = e_c/m -
    (deg_c/2m)^2 -- internal-edge share minus the share expected at
    random given the degrees. Sum the q_term column for the headline
    Q; per-community terms are the actionable read (which communities
    are real structure vs degree artifacts) -- the community-quality
    metric that complements graph_label_propagation exactly the way
    ml_kmeans_silhouette complements the Lloyd fit, and it shares the
    LPA oracle CTE text so the scored partition IS the registered one.
    On the dense fixture graph the verdict is the honest one: min-LPA
    collapses to the trivial whole-graph community (Q = 0) -- the
    known LPA failure mode on high-conductance graphs, and exactly
    the collapse this metric exists to expose before anyone ships
    those communities.

    Shape: two joins of the (checkpointed) edge list against the
    bounded label table (internal-edge count + degree sum, both
    partial-combined), one broadcast scalar m; community keyspace is
    bounded by the component count. Exact integer edge counts until
    the final divisions; q_terms floor-quantize at 1e-6. One
    ``_bipartite_edges`` materialization feeds both the
    ``_min_labels`` rounds and the scoring joins."""
    pin_session_conf(spark)
    und = _bipartite_edges(spark, sf_dir).localCheckpoint(eager=True)
    lab, n_nodes = _min_labels(und)
    lab = lab.localCheckpoint(eager=True)
    m = und.agg((F.count(F.lit(1)) / 2.0).alias("m"))
    la = _vec(lab.select(F.col("node").alias("src"),
                         F.col("label").alias("sl")), n_nodes)
    lb = _vec(lab.select(F.col("node").alias("dst"),
                         F.col("label").alias("dl")), n_nodes)
    internal = (und.join(la, "src").join(lb, "dst")
                .where(F.col("sl") == F.col("dl"))
                .groupBy(F.col("sl").alias("label"))
                .agg((F.count(F.lit(1)) / 2.0).alias("e_c")))
    degsum = (und.join(la, "src")
              .groupBy(F.col("sl").alias("label"))
              .agg(F.count(F.lit(1)).alias("deg_c")))
    sizes = lab.groupBy("label").agg(F.count(F.lit(1)).alias("size"))
    terms = (degsum.join(internal, "label", "left")
             .join(F.broadcast(sizes), "label")
             .crossJoin(F.broadcast(m))
             .withColumn("e_c", F.coalesce("e_c", F.lit(0.0))))
    half_share = F.col("deg_c") / (2.0 * F.col("m"))
    return terms.select(
        F.col("label").alias("community"),
        F.col("size").cast("long").alias("size"),
        F.col("e_c").cast("double").alias("internal_edges"),
        F.col("deg_c").cast("long").alias("degree_sum"),
        (F.floor((F.col("e_c") / F.col("m") - half_share * half_share)
                 * _MOD_Q + F.lit(0.5)) / _MOD_Q).alias("q_term"))
