"""The graph family (operators/graph.py): PageRank convergence, the
NULL-key and shuffle-join arms of the shared graph core, and the
semantic invariants of triangle count, label propagation, link
prediction, personalized PageRank and modularity.

The registered graph queries are hash-checked against their DuckDB
oracles by tests/test_oracle_parity.py; these tests cover what the
oracle cannot see. The PageRank loop's convergence-aware early exit
(added in r4): on a graph that reaches the tolerance inside the
iteration cap the loop must stop early AND the early result must agree
with the full-length run to within the residual-drift bound
tol * d / (1 - d).
"""

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from recommendation_system_spark_ml_spark.operators.graph import (
    N_ITER, _bipartite_edges, _power_iterate, _rank_inputs)
from tests.conftest import (
    SF_SMOKE, _plan, _specs, assert_df_matches, oracle_df)


def _graph(edges):
    """(ed, ranks0, n_nodes) for a directed edge list (src, dst)."""
    deg, ed, n = _rank_inputs(edges)
    ranks0 = deg.select(F.col("src").alias("node"),
                        F.lit(1.0 / n).alias("rank"))
    return ed, ranks0, n


def _chain(spark, m):
    half = (spark.createDataFrame([(i, i + 1) for i in range(m - 1)],
                                  "a int, b int")
            .select(F.col("a").cast("string").alias("src"),
                    F.col("b").cast("string").alias("dst")))
    return _graph(half.union(half.select(F.col("dst").alias("src"),
                                         F.col("src").alias("dst"))))


def test_chain_graph_exits_early_and_is_converged(spark):
    """A 30-node chain at damping 0.5 reaches max |delta(rank*n)| <
    1e-6 well inside a 60-iteration cap: the loop must exit early, and
    the early ranks must match a longer fixed-length run to within the
    geometric-tail bound tol * d/(1-d) (scaled ranks)."""
    tol, damping, cap = 1e-6, 0.5, 60
    ed, r0, n = _chain(spark, 30)
    ranks, it = _power_iterate(ed, r0, n, max_iter=cap, tol=tol,
                               damping=damping)
    assert it < cap, f"expected early exit, ran all {it} iterations"
    # reference: same iteration count + 20 extra rounds, exit disabled
    ref, _ = _power_iterate(ed, r0, n, max_iter=it + 20, tol=0.0,
                            damping=damping)
    drift_bound = tol * damping / (1 - damping) + 1e-9
    worst, = (ranks.join(ref.withColumnRenamed("rank", "ref"), "node")
              .agg(F.max(F.abs((F.col("rank") - F.col("ref")) * n)))
              .first())
    assert worst < drift_bound, (worst, drift_bound)


def test_bipartite_graph_is_cap_bound(spark):
    """On the registered part-supplier graph the measured delta is
    still ~4.0 (scaled) at iteration 10 -- the 1e-6 exit must NOT fire
    inside the cap, keeping the query bit-identical to its fixed
    N_ITER unrolled-CTE oracle."""
    ed, r0, n = _graph(_bipartite_edges(spark, SF_SMOKE))
    _, it = _power_iterate(ed, r0, n)
    assert it == N_ITER


def test_pagerank_drops_null_keys(spark, tmp_path):
    """A lineitem row with a NULL partkey adds no edge. A NULL node id
    never matches the per-round src = node join, so a ghost node would
    soak up rank it never passes on: no NULL node, the scaled ranks
    sum to the node count, and the oracle agrees."""
    pq.write_table(pa.table({
        "l_orderkey": pa.array([1, 1, 2, 2, 3, 3, 4, 4], pa.int64()),
        "l_partkey": pa.array([1, 2, 2, 3, 1, None, None, 3], pa.int64()),
        "l_suppkey": pa.array([1, 1, 2, 3, 3, 2, 1, 2], pa.int64()),
    }), str(tmp_path / "lineitem.parquet"))
    spec = _specs()["graph_pagerank"]
    got = spec.fn(spark, str(tmp_path))
    rows = got.collect()
    assert all(r["node"] is not None for r in rows)
    n = len(rows)
    assert n == 6
    assert abs(sum(r["pagerank"] for r in rows) - n) < 0.01 * n
    con = duckdb.connect()
    con.execute("CREATE VIEW lineitem AS SELECT * FROM read_parquet("
                f"'{tmp_path / 'lineitem.parquet'}')")
    assert_df_matches(got, con.execute(spec.oracle).df())
    con.close()


@pytest.mark.parametrize("name", [
    "graph_pagerank", "graph_degree_histogram", "graph_triangle_count",
    "graph_kcore", "graph_label_propagation", "graph_link_prediction",
    "graph_personalized_pagerank", "graph_modularity", "dedup_components"])
def test_shuffle_join_side_matches_oracle(spark, duck, monkeypatch, name):
    """Above GRAPH_BCAST_MAX_NODES the per-round vector joins are left
    to the planner. With the gate at 0 and both automatic broadcast
    thresholds off, so AQE cannot turn them back into broadcasts,
    every graph query and dedup_components still matches its oracle."""
    from recommendation_system_spark_ml_spark.operators import graph

    monkeypatch.setattr(graph, "GRAPH_BCAST_MAX_NODES", 0)
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        spec = _specs()[name]
        assert_df_matches(spec.fn(spark, SF_SMOKE),
                          oracle_df(duck, spec.oracle, SF_SMOKE))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_triangle_count_matches_brute_force(spark):
    """Recompute triangles in pure Python from the co-order edge set:
    per-node counts must match exactly."""
    from itertools import combinations

    from recommendation_system_spark_ml_spark.operators.graph import (
        graph_triangle_count)
    from recommendation_system_spark_ml_spark.sources.catalog import load

    li = (load(spark, SF_SMOKE, "lineitem")
          .where(F.col("l_partkey").isNotNull())
          .select("l_orderkey", "l_partkey").distinct().collect())
    orders = {}
    for r in li:
        orders.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    adj = {}
    for items in orders.values():
        for u, v in combinations(sorted(items), 2):
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    want = {}
    for u in adj:
        for v, w in combinations(sorted(adj[u]), 2):
            # enumerate each triangle once, from its smallest corner
            if v > u and w in adj.get(v, ()):
                for n in (u, v, w):
                    want[n] = want.get(n, 0) + 1
    got = {r.node: r.n_triangles
           for r in graph_triangle_count(spark, SF_SMOKE).collect()}
    assert got == {n: c for n, c in want.items() if c > 0}


def test_label_propagation_labels_are_reachable_minima(spark):
    lab = _specs()["graph_label_propagation"].fn(spark, SF_SMOKE)
    rows = lab.collect()
    nodes = {r["node"] for r in rows}
    assert all(r["label"] in nodes for r in rows)   # labels are node ids
    assert all(r["label"] <= r["node"] for r in rows)  # min-label invariant
    assert len({r["label"] for r in rows}) < len(rows)  # it propagated


def test_link_prediction_pairs_are_nonadjacent_heap_cut(spark):
    df = _specs()["graph_link_prediction"].fn(spark, SF_SMOKE)
    rows = df.collect()
    assert 0 < len(rows) <= 50
    assert all(r["common_neighbors"] >= 1 for r in rows)
    assert all(0.0 < r["jaccard"] <= 1.0 for r in rows)
    aa = [r["adamic_adar"] for r in rows]
    assert all(a >= b for a, b in zip(aa, aa[1:])) or len(set(aa)) < len(aa)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_ppr_conserves_mass_and_localizes(spark):
    """With no dangling nodes, teleport + spread conserve total mass:
    sum of node-count-scaled ranks = n_nodes (to rounding). Seeds must
    carry positive rank; rank must localize (seeds' mean > global)."""
    rows = (_specs()["graph_personalized_pagerank"]
            .fn(spark, SF_SMOKE).collect())
    assert rows
    n = len(rows)
    total = sum(r["ppr"] for r in rows)
    assert abs(total - n) < 0.01 * n
    from recommendation_system_spark_ml_spark.operators.graph import (
        PPR_SEED_MOD)
    seed = [r["ppr"] for r in rows
            if r["node"].startswith("p")
            and int(r["node"][1:]) % PPR_SEED_MOD == 0]
    assert seed and min(seed) > 0
    assert sum(seed) / len(seed) > total / n  # localization


def test_modularity_terms_bounded_and_sizes_complete(spark):
    rows = _specs()["graph_modularity"].fn(spark, SF_SMOKE).collect()
    assert rows
    q = sum(r["q_term"] for r in rows)
    assert -0.5 <= q <= 1.0  # Newman Q bounds
    lab = _specs()["graph_label_propagation"].fn(spark, SF_SMOKE)
    assert sum(r["size"] for r in rows) == lab.count()
    assert all(r["internal_edges"] <= r["degree_sum"] for r in rows)
