"""Semantic checks for the ML parity surface (SURVEY.md §2.8): the
reference's KMeans-elbow / cluster-average / ALS pipeline rebuilt on the
star schema must behave like a recommender, not just run."""

import pytest

from tests.conftest import SF_SMOKE, assert_df_matches, oracle_df
from recommendation_system_spark_ml_spark.ml.parity import (
    ml_als_rmse, ml_cluster_predictor, ml_kmeans_elbow, ratings_analog)


def test_kmeans_elbow_table_shape_and_monotone_sse(spark):
    rows = {r.k: r for r in ml_kmeans_elbow(spark, SF_SMOKE).collect()}
    assert sorted(rows) == list(range(2, 11))
    # Nested seeding (k+1's initial centers are k's plus one more)
    # keeps SSE non-increasing in k on this data even at fixed rounds.
    sses = [rows[k].sse for k in range(2, 11)]
    assert all(a >= b for a, b in zip(sses, sses[1:]))
    assert all(s >= 0 for s in sses)
    # diff column telescopes the sse column exactly
    for k in range(3, 11):
        assert rows[k].sse_diff == pytest.approx(
            round(rows[k].sse - rows[k - 1].sse, 4), abs=1e-9)
    # Exactly one best k; reference quirk: k=2 (diff forced to 0) can't win.
    best = [k for k in rows if rows[k].is_best == 1]
    assert len(best) == 1 and best[0] != 2


def _assert_built_on_jvm(df):
    """Driver-computed result rows go through session.local_frame: a
    `spark.createDataFrame(<list>)` result would plan an ExistingRDD
    scan of a Python RDD, whose execution forks pyspark.daemon and
    Python workers. Not for sim_pq: its localCheckpoint-ed codes plan
    as `Scan ExistingRDD` too, with no Python RDD behind them."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan


def test_cluster_predictor_rmse_sane(spark):
    df = ml_cluster_predictor(spark, SF_SMOKE)
    _assert_built_on_jvm(df)
    rows = {r.split: r for r in df.collect()}
    assert set(rows) == {"train", "test"}
    for r in rows.values():
        assert 0.0 < r.rmse < 50.0  # ratings are avg quantities (1..50)
        assert r.n > 0
        assert r.clusters_refine_types  # guaranteed by construction
        # r9 ADVICE cross-checks: falsifiable when the fit merges types
        assert r.partition_bijective
        assert r.cluster_rmse_matches
    # ~70/30 split.
    frac = rows["train"].n / (rows["train"].n + rows["test"].n)
    assert 0.6 < frac < 0.8


def test_cluster_predictor_kmeans_partition_equals_type_partition(spark):
    """The fixture-conditional half of the ml_cluster_predictor
    contract: with k = |p_type vocabulary| = 6 pairwise-sqrt(2)
    one-hot vectors, the seeded KMeans separates all six, so the
    production cluster-partition RMSE EQUALS the hashed
    type-partition RMSE (the docstring's pinned claim)."""
    from recommendation_system_spark_ml_spark.ml.parity import (
        cluster_predictor_frames)

    scores, refines, bijective = cluster_predictor_frames(spark, SF_SMOKE)
    assert [r.split for r in scores] == ["test", "train"]
    for r in scores:
        assert r.c_n == r.n > 0
        assert r.c_rmse == pytest.approx(r.rmse, abs=1e-9)
    assert refines and bijective


def test_als_rmse_two_ways_agree(spark, duck):
    """Band-pins the actual ALS RMSE (the value outside the hashed
    region) and the evaluator-vs-aggregate agreement the contract
    boolean summarizes; the count of MLlib's cold-start-dropped
    predictions must equal an independent DuckDB count of the SQL
    semi-join (test rows whose user AND item are both in train)."""
    from recommendation_system_spark_ml_spark.ml.parity import (
        _RATINGS70_SQL, _SPLIT70_SQL, als_rmse_detail)

    rmse_eval, rmse_agg, n_test, baseline = als_rmse_detail(spark, SF_SMOKE)
    assert n_test > 0
    assert rmse_eval == pytest.approx(rmse_agg, abs=1e-3)
    assert 0.0 < rmse_eval < 50.0
    assert 0.0 < baseline < 50.0
    n_semi = oracle_df(duck, f"""
        WITH s AS (SELECT u, i, {_SPLIT70_SQL} AS split
                   FROM ({_RATINGS70_SQL}))
        SELECT count(*) AS n FROM s t
        WHERE t.split = 'test'
          AND EXISTS (SELECT 1 FROM s a WHERE a.split = 'train' AND a.u = t.u)
          AND EXISTS (SELECT 1 FROM s b WHERE b.split = 'train' AND b.i = t.i)
    """, SF_SMOKE)["n"][0]
    assert n_test == n_semi  # cold-start drop == SQL semi-join
    df = ml_als_rmse(spark, SF_SMOKE)
    _assert_built_on_jvm(df)
    row = df.first()
    assert row.n_test_scored == n_test
    assert row.baseline_user_rmse == baseline
    assert row.evaluator_agrees_aggregate and row.als_rmse_finite



def test_local_frame_types_order_and_empty(spark):
    from recommendation_system_spark_ml_spark.session import local_frame

    ddl = ("k int, id bigint, v double, s string, f boolean, "
           "xs array<double>")
    rows = [(3, 2 ** 62, None, "b", True, [1.0, -0.5]),
            (None, -(2 ** 62), 2.5, None, False, []),
            (1, -7, -0.0, "a", None, None),
            (0, None, 1e300, "", True, [None, 2.0])]
    df = local_frame(spark, rows, ddl)
    assert df.dtypes == [("k", "int"), ("id", "bigint"), ("v", "double"),
                         ("s", "string"), ("f", "boolean"),
                         ("xs", "array<double>")]
    assert [tuple(r) for r in df.collect()] == rows
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = plan.strip().splitlines()
    assert len(nodes) == 1 and nodes[0].startswith("LocalTableScan"), plan
    empty = local_frame(spark, [], "k int, v double")
    assert empty.dtypes == [("k", "int"), ("v", "double")]
    assert empty.count() == 0


def test_onehot_projection_equals_pivot(spark, duck, tmp_path):
    """onehot_parts is a map-only projection over a collected
    vocabulary; on a key-unique part table it must equal the
    groupBy(p_partkey).pivot(p_type) expression it replaced: same
    columns in the same order (NULL's 'null' column first), same 0/1
    values with the pivot's 0-fill. ml_onehot still matches its
    oracle."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from recommendation_system_spark_ml_spark.ml.parity import onehot_parts
    from recommendation_system_spark_ml_spark.registry import all_specs

    pq.write_table(pa.table({
        "p_partkey": pa.array([5, 1, 4, 2, 3, 6], pa.int64()),
        "p_type": pa.array(["SMALL", "LARGE", None, "ECONOMY", "LARGE",
                            "small"], pa.string())}),
        str(tmp_path / "part.parquet"))
    new = onehot_parts(spark, str(tmp_path))
    part = spark.read.parquet(str(tmp_path / "part.parquet"))
    old = (part.groupBy("p_partkey").pivot("p_type")
           .agg(F.coalesce(F.first(F.lit(1)), F.lit(0)))
           .na.fill(0))
    assert new.columns == old.columns == [
        "p_partkey", "null", "ECONOMY", "LARGE", "SMALL", "small"]
    assert new.dtypes == old.dtypes
    assert (sorted(map(tuple, new.collect()))
            == sorted(map(tuple, old.collect())))
    assert tuple(new.where("p_partkey = 4").first()) == (4, 1, 0, 0, 0, 0)
    typed = onehot_parts(spark, str(tmp_path), keep_type=True)
    assert typed.columns == ["p_partkey", "p_type"] + new.columns[1:]

    spec = all_specs()["ml_onehot"]
    assert_df_matches(spec.fn(spark, SF_SMOKE),
                      oracle_df(duck, spec.oracle, SF_SMOKE))


def test_kmeans_sweep_pool_is_capped(spark, monkeypatch):
    """A wide sweep must not start one thread per k; the reference's
    nine ks still all run concurrently."""
    import concurrent.futures

    from recommendation_system_spark_ml_spark.ml import parity

    asked = []

    class RecordingPool(concurrent.futures.ThreadPoolExecutor):
        def __init__(self, max_workers=None, *args, **kwargs):
            asked.append(max_workers)
            super().__init__(max_workers, *args, **kwargs)

    class FakeKMeans:
        def __init__(self, k, seed):
            self.k = k

        def fit(self, feats):
            summary = type("S", (), {"trainingCost": 100.0 / self.k})
            return type("M", (), {"summary": summary})

    monkeypatch.setattr(concurrent.futures, "ThreadPoolExecutor", RecordingPool)
    monkeypatch.setattr(parity, "KMeans", FakeKMeans)
    feats = spark.range(1)  # the stub fits ignore it; its session is read
    wide = parity.kmeans_sweep(feats, ks=range(2, 200))
    assert [k for k, _ in wide] == list(range(2, 200))
    parity.kmeans_sweep(feats)
    assert asked == [16, 9]


def test_kmeans_sweep_jobs_keep_the_callers_job_group(spark):
    """Pool threads run the fits' jobs under the caller's job group:
    no job the sweep starts is left without one."""
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    from recommendation_system_spark_ml_spark.ml.parity import kmeans_sweep

    feats = spark.range(40).select(array_to_vector(F.array(
        (F.col("id") % 5).cast("double"),
        (F.col("id") % 3).cast("double"))).alias("features"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = "kmeans_sweep_job_group"
    sc.setJobGroup(group, "job group inheritance check")
    try:
        kmeans_sweep(feats, ks=range(2, 5))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    grouped = set(tracker.getJobIdsForGroup(group))
    stray = set(tracker.getJobIdsForGroup(None)) - ungrouped
    assert grouped, "the sweep ran no job under the caller's group"
    assert not stray, f"jobs {sorted(stray)} left the caller's job group"


def test_als_cv_full_reproduces_reference_grid(spark):
    """The full-fidelity CV artifact must be the reference's exact
    27-combo grid (MLR.py:211-226) in ParamGridBuilder order, with the
    best row selected as first-minimal avg RMSE (MLR.py:63 idxmin)."""
    from itertools import product

    from recommendation_system_spark_ml_spark.ml.parity import ml_als_cv_full

    rows = ml_als_cv_full(spark, SF_SMOKE).collect()
    assert len(rows) == 27
    # grid order: regParam varies fastest (last addGrid), rank slowest.
    expected = [(r, m, lam) for r, m, lam in
                product([1, 10, 100], [5, 10, 15], [0.001, 0.01, 0.05])]
    got = [(r.rank, r.max_iter, r.reg_param) for r in sorted(rows, key=lambda r: r.grid_idx)]
    assert got == expected
    # contract booleans all hold: finite in-band RMSE, best is the min
    assert all(r.rmse_in_band for r in rows)
    assert all(r.best_attains_min for r in rows)
    best = [r for r in rows if r.is_best == 1]
    assert len(best) == 1
    # the twin reproduces the reference's published winner identity
    # (README.md:107-140) -- also pinned in the DuckDB oracle
    assert (best[0].rank, best[0].max_iter, best[0].reg_param) == (10, 15, 0.05)


def test_ratings_analog_is_a_matrix(spark):
    df = ratings_analog(spark, SF_SMOKE)
    assert df.columns == ["userId", "movieId", "rating"]
    first = df.first()
    assert first.rating > 0


# Golden regression fixture: ml_movielens_report at the smoke twin
# (200 movies x 150 users x 20 ratings/user, seed 823) is fully
# deterministic -- twin generation is xxhash-based, the split is the
# Knuth hash, KMeans/ALS are seeded, AND the fit inputs are pinned to
# a fixed hash layout + within-partition sort (KMeans|| samples rows
# positionally per partition, so without the pin the report varied
# with local[N]) -- verified bit-identical across local[8]/[16]/[32].
# A drift here means an ML refactor changed semantics, not noise.
# (The reference's published numbers, README.md:45-55, are from real
# MovieLens-1M which is not in this sandbox; this pins OUR pipeline's
# numbers the same way theirs pins theirs.)
_REPORT_GOLD = {
    "kmeans_best_k": 5.0,
    "kmeans_sse_best_k": 221.6469,
    "kmeans_train_rmse": 0.5601,
    "kmeans_test_rmse": 0.7709,
    "als_test_rmse": 0.5756,
}


def test_movielens_report_matches_golden_fixture(spark):
    from recommendation_system_spark_ml_spark.ml.parity import (
        ml_movielens_report)

    got = {r.metric: r.value for r in
           ml_movielens_report(spark, SF_SMOKE).collect()}
    assert set(got) == set(_REPORT_GOLD)
    assert got["kmeans_best_k"] == _REPORT_GOLD["kmeans_best_k"]
    for metric, want in _REPORT_GOLD.items():
        assert got[metric] == pytest.approx(want, rel=1e-3), \
            f"{metric}: {got[metric]} vs golden {want}"


def test_als_cv_grid_order_and_fixture_winner(spark):
    """Pins what the ml_als_cv contract hash cannot: the 2x2 grid's
    avg RMSEs are finite/in-band and the first-minimal winner is
    stable on the fixture (seeded CV, deterministic split)."""
    import math

    from recommendation_system_spark_ml_spark.ml.parity import als_cv_detail

    rows, best = als_cv_detail(spark, SF_SMOKE)
    assert [(r, p) for r, p, _ in rows] == [(8, 0.05), (8, 0.5),
                                            (12, 0.05), (12, 0.5)]
    assert all(math.isfinite(m) and 0 < m < 50 for _, _, m in rows)
    assert best[2] == min(m for _, _, m in rows)
