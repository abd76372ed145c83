"""Round-7 wave: semantic invariants + 100 TB plan posture for the
recommender-evaluation family (recsys_eval.py), the exact-stats family
(stats.py), the JL random projection, the filter-overlap matrix, and
burst detection. Oracle parity itself is covered by
tests/test_oracle_parity.py; these tests pin the properties a hash
can't express."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, _plan, _specs


# ------------------------------------------------------ recsys_eval


def test_bayes_leaderboard_is_monotone_and_heap_cut(spark):
    df = _specs()["ml_bayes_avg_rating"].fn(spark, SF_SMOKE)
    rows = df.orderBy("rank").collect()
    assert rows, "leaderboard must not be empty"
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    scores = [r["bayes_score"] for r in rows]
    assert all(a >= b for a, b in zip(scores, scores[1:]))
    assert all(r["n_ratings"] >= 1 for r in rows)
    # the top-100 cut must be a distributed heap, not a global sort
    assert "TakeOrderedAndProject" in _plan(
        _specs()["ml_bayes_avg_rating"].fn(spark, SF_SMOKE))


def test_popularity_eval_metrics_in_unit_range(spark):
    row = _specs()["ml_rec_eval_popularity"].fn(spark, SF_SMOKE).collect()[0]
    for m in ("precision_at_k", "recall_at_k", "hit_rate", "ndcg_at_k"):
        assert 0.0 <= row[m] <= 1.0, (m, row[m])
    # a hit in the list implies the user counts as hit: P@k <= hit rate
    assert row["precision_at_k"] <= row["hit_rate"] + 1e-9
    assert row["n_users"] > 0


def test_popularity_eval_pool_is_broadcast(spark):
    plan = _plan(_specs()["ml_rec_eval_popularity"].fn(spark, SF_SMOKE))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_coverage_novelty_bounds(spark):
    row = _specs()["ml_rec_coverage_novelty"].fn(spark, SF_SMOKE).collect()[0]
    assert 0.0 < row["coverage_pct"] <= 100.0
    assert row["mean_novelty_bits"] > 0.0
    assert 0.0 < row["top_item_share"] <= 1.0
    assert row["n_rec_rows"] >= row["n_rec_users"]


def test_content_recs_never_repeat_rated_items(spark):
    from recommendation_system_spark_ml_spark.operators.recsys_eval import (
        _base_ratings)
    recs = _specs()["ml_content_recs"].fn(spark, SF_SMOKE)
    rated = _base_ratings(spark, SF_SMOKE).select(
        F.col("u").alias("userId"), F.col("i").alias("movieId"))
    overlap = recs.join(rated, ["userId", "movieId"]).count()
    assert overlap == 0
    per_user = recs.groupBy("userId").count().agg(F.max("count")).first()[0]
    assert per_user <= 5


# ------------------------------------------------------------ stats


def test_mann_whitney_bounds_and_two_level_cumsum(spark):
    row = _specs()["agg_mann_whitney"].fn(spark, SF_SMOKE).collect()[0]
    assert 0.0 <= row["u1"] <= row["n1"] * row["n2"]
    assert -1.0 <= row["rank_biserial"] <= 1.0
    plan = _plan(_specs()["agg_mann_whitney"].fn(spark, SF_SMOKE))
    # the cumulative never rides a single global sort of the values:
    # the only single-partition window is the bounded bucket-offset
    # table (two_level_running_sum), whose input is a groupBy result
    assert "partial_sum" in plan


def test_psi_has_full_spine_and_consistent_totals(spark):
    rows = _specs()["agg_psi_drift"].fn(spark, SF_SMOKE).collect()
    assert [r["bucket"] for r in sorted(rows, key=lambda r: r["bucket"])] \
        == list(range(1, 11))
    assert sum(r["cnt_a"] for r in rows) > 0
    assert sum(r["cnt_b"] for r in rows) > 0


def test_benford_shares_sum_to_one(spark):
    rows = _specs()["agg_benford"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 9
    assert abs(sum(r["obs_share"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["exp_share"] for r in rows) - 1.0) < 1e-4


def test_bootstrap_ci_brackets_mean_and_stays_jvm_side(spark):
    row = _specs()["agg_bootstrap_ci"].fn(spark, SF_SMOKE).collect()[0]
    assert row["n_replicates"] == 64
    assert row["ci_lo"] <= row["boot_mean"] <= row["ci_hi"]
    assert row["boot_se"] > 0
    plan = _plan(_specs()["agg_bootstrap_ci"].fn(spark, SF_SMOKE))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Generate" in plan  # the x64 replicate explode is map-side


# ----------------------------------------------------- vec/text/ts


def test_jl_projection_is_pure_codegen(spark):
    df = _specs()["vec_random_projection_jl"].fn(spark, SF_SMOKE)
    row = df.collect()[0]
    assert row["n_pairs"] == 190  # C(20, 2)
    assert 0 < row["min_ratio"] <= row["mean_ratio"] <= row["max_ratio"]
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_filter_overlap_is_single_scan(spark):
    df = _specs()["pipeline_filter_overlap"].fn(spark, SF_SMOKE)
    rows = df.collect()
    assert len(rows) == 6
    for r in rows:
        assert r["n_both"] <= min(r["n_a"], r["n_b"])
        assert r["n_either"] == r["n_a"] + r["n_b"] - r["n_both"]
    # fresh plan (the executed one may render truncated): ONE scan only
    plan = _plan(_specs()["pipeline_filter_overlap"].fn(spark, SF_SMOKE))
    assert plan.split("\n\n")[0].count("Scan parquet") == 1


def test_burst_detection_flags_respect_gates(spark):
    rows = _specs()["ts_burst_detect"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        if r["is_burst"]:
            assert r["z"] is not None and r["z"] > 3.0
            assert r["cnt"] >= 5
        if r["z"] is None:
            assert not r["is_burst"]
    plan = _plan(_specs()["ts_burst_detect"].fn(spark, SF_SMOKE))
    assert "hashpartitioning(event_type" in plan  # partitioned window


# ------------------------------------------------- batch E (r7)


def test_kmeans_lloyd_partitions_everything(spark):
    rows = _specs()["ml_kmeans_lloyd_exact"].fn(spark, SF_SMOKE).collect()
    assert 1 <= len(rows) <= 3
    from recommendation_system_spark_ml_spark.sources.catalog import load
    n_vecs = (load(spark, SF_SMOKE, "embeddings")
              .where(F.col("embedding").isNotNull()).count())
    assert sum(r["n_members"] for r in rows) == n_vecs
    assert all(r["sse"] >= 0 for r in rows)


def test_kmeans_lloyd_improves_on_round_zero(spark):
    """3 Lloyd rounds must not do worse than the raw seed assignment:
    total SSE <= the SSE of assigning everything to the seed vectors."""
    from recommendation_system_spark_ml_spark.operators import similarity as S
    from recommendation_system_spark_ml_spark.sources.catalog import load
    spark2 = spark
    v = (load(spark2, SF_SMOKE, "embeddings")
         .where(F.col("embedding").isNotNull())
         .select("vec_id", F.col("embedding").cast("array<double>")
                 .alias("x")))
    cent = (v.where(F.col("vec_id") < S.KM_K)
            .select(F.col("vec_id").alias("cid"), F.col("x").alias("c")))
    sqd = F.aggregate(F.zip_with(F.col("x"), F.col("c"),
                                 lambda a, b: (a - b) * (a - b)),
                      F.lit(0.0), lambda acc, z: acc + z)
    from pyspark.sql.window import Window
    wv = Window.partitionBy("vec_id").orderBy(F.col("d").asc(),
                                              F.col("cid").asc())
    seed_sse = (v.crossJoin(F.broadcast(cent)).withColumn("d", sqd)
                .withColumn("rk", F.row_number().over(wv))
                .where(F.col("rk") == 1)
                .agg(F.sum("d")).first()[0])
    fitted = sum(r["sse"] for r in
                 _specs()["ml_kmeans_lloyd_exact"].fn(spark, SF_SMOKE)
                 .collect())
    assert fitted <= seed_sse + 1e-6


def test_survival_curve_is_monotone_nonincreasing(spark):
    rows = sorted(_specs()["agg_survival_km"].fn(spark, SF_SMOKE).collect(),
                  key=lambda r: r["duration_days"])
    assert rows
    s = [r["survival"] for r in rows]
    assert all(a >= b - 1e-9 for a, b in zip(s, s[1:]))
    assert all(0.0 <= x <= 1.0 for x in s)
    # at-risk counts shrink as duration grows
    nr = [r["n_risk"] for r in rows]
    assert all(a >= b for a, b in zip(nr, nr[1:]))
    assert all(r["n_events"] >= 1 for r in rows)


def test_logistic_irls_beats_chance_and_is_scanlike(spark):
    row = _specs()["ml_logistic_irls_exact"].fn(spark, SF_SMOKE).collect()[0]
    assert row["n"] > 0
    assert 0.5 <= row["train_acc"] <= 1.0  # at least the majority class
    assert row["log_lik"] < 0
    # log-lik must beat the null model (intercept-only at the base rate)
    import math
    p = 0.2  # urgent share is ~1/5 by construction; loose bound below
    null_ll = row["n"] * (p * math.log(p) + (1 - p) * math.log(1 - p)) * 1.3
    assert row["log_lik"] > null_ll
    plan = _plan(_specs()["ml_logistic_irls_exact"].fn(spark, SF_SMOKE))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_itemcf_eval_same_contract_as_popularity(spark):
    cf = _specs()["ml_rec_eval_itemcf"].fn(spark, SF_SMOKE)
    pop = _specs()["ml_rec_eval_popularity"].fn(spark, SF_SMOKE)
    assert cf.columns == pop.columns  # one experiment, two recommenders
    row = cf.collect()[0]
    for m in ("precision_at_k", "recall_at_k", "hit_rate", "ndcg_at_k"):
        assert 0.0 <= row[m] <= 1.0


def test_identifier_clause_rejects_injection(spark):
    """A hostile identifier parameter must fail to parse as ONE
    identifier, never execute as extra SQL."""
    from recommendation_system_spark_ml_spark.operators.sqlapi import (
        register_views)
    register_views(spark, SF_SMOKE)
    import pytest
    with pytest.raises(Exception):
        spark.sql("SELECT count(*) FROM IDENTIFIER(:tbl)",
                  args={"tbl": "orders; DROP TABLE orders"}).collect()
    # the legitimate binding still works in the same session
    n = spark.sql("SELECT count(*) AS n FROM IDENTIFIER(:tbl)",
                  args={"tbl": "orders"}).first()["n"]
    assert n > 0


def test_naive_bayes_confusion_is_complete_and_valid(spark):
    """Mechanics, not accuracy: the fixture corpus draws every
    language from ONE shared vocabulary (verified: near-identical
    top-token distributions per lang), so no token model can beat the
    majority class on it -- the hash check certifies the train/score/
    argmax pipeline, and this test certifies the confusion matrix
    accounts for every scorable test doc exactly once."""
    rows = _specs()["ml_naive_bayes_lang"].fn(spark, SF_SMOKE).collect()
    assert rows
    total = sum(r["n"] for r in rows)
    assert all(r["n"] >= 1 for r in rows)
    from recommendation_system_spark_ml_spark.sources.catalog import load
    docs = (load(spark, SF_SMOKE, "documents")
            .where(F.col("text").isNotNull() & F.col("lang").isNotNull())
            .where((F.col("doc_id") * 2654435761) % 4294967296 % 10 >= 8)
            .where(F.trim(F.lower("text")) != ""))
    assert total == docs.count()  # every scorable test doc counted once
    langs = {r["pred_lang"] for r in rows} | {r["true_lang"] for r in rows}
    assert langs <= set(
        r["lang"] for r in docs.select("lang").distinct().collect()) | {
        r["true_lang"] for r in rows}


def test_silhouette_in_range_and_consistent_with_fit(spark):
    sil = {r["cluster"]: r for r in
           _specs()["ml_kmeans_silhouette"].fn(spark, SF_SMOKE).collect()}
    fit = {r["cluster"]: r for r in
           _specs()["ml_kmeans_lloyd_exact"].fn(spark, SF_SMOKE).collect()}
    assert set(sil) == set(fit)  # same clustering, same clusters
    for cid, r in sil.items():
        assert -1.0 <= r["avg_silhouette"] <= 1.0
        assert r["n_members"] == fit[cid]["n_members"]


def test_nearest_centroid_confusion_complete(spark):
    rows = _specs()["ml_nearest_centroid"].fn(spark, SF_SMOKE).collect()
    assert rows
    from recommendation_system_spark_ml_spark.sources.catalog import load
    n_test = (load(spark, SF_SMOKE, "embeddings")
              .where(F.col("embedding").isNotNull()
                     & F.col("label").isNotNull())
              .where((F.col("vec_id") * 2654435761)
                     % 4294967296 % 10 >= 8).count())
    assert sum(r["n"] for r in rows) == n_test
    assert all(0 <= r["pred_label"] <= 9 for r in rows)


def test_als_eval_three_way_experiment(spark):
    """The three recommender evaluations are one experiment: same
    columns, same split -- so the evaluated user population must be
    IDENTICAL across all three (ALS's coldStartStrategy and the CF
    scorer's support filter may only shrink whose RECS exist, but
    every test user with at least one rec is scored, and at smoke
    scale all three recommenders produce recs for every test user).
    Metric ORDERING is corpus-dependent (the avg-quantity ratings
    analog carries weak CF signal), so it is deliberately not
    asserted."""
    from recommendation_system_spark_ml_spark.operators.recsys_eval import (
        ml_rec_eval_als_metrics)
    als = ml_rec_eval_als_metrics(spark, SF_SMOKE).collect()[0]
    pop = _specs()["ml_rec_eval_popularity"].fn(spark, SF_SMOKE).collect()[0]
    cf = _specs()["ml_rec_eval_itemcf"].fn(spark, SF_SMOKE).collect()[0]
    assert set(als.asDict()) == set(pop.asDict()) == set(cf.asDict())
    assert als["n_users"] == pop["n_users"] == cf["n_users"] > 0
    for row in (als, pop, cf):
        for m in ("precision_at_k", "recall_at_k", "hit_rate",
                  "ndcg_at_k"):
            assert 0.0 <= row[m] <= 1.0


def test_cohort_ltv_monotone_per_cohort(spark):
    rows = _specs()["agg_cohort_ltv"].fn(spark, SF_SMOKE).collect()
    assert rows
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_month"], []).append(
            (r["age_months"], r["ltv_per_user"]))
    for c, pts in by_cohort.items():
        pts.sort()
        assert pts[0][0] == 0  # every cohort starts at age 0
        vals = [v for _, v in pts]
        assert all(a <= b + 1e-9 for a, b in zip(vals, vals[1:])), c
        assert vals[0] > 0


def test_markov_rows_are_distributions(spark):
    rows = _specs()["ts_markov_transitions"].fn(spark, SF_SMOKE).collect()
    assert rows
    by_from = {}
    for r in rows:
        by_from.setdefault(r["from_type"], 0.0)
        by_from[r["from_type"]] += r["p"]
        assert r["n"] >= 1
    for ft, total in by_from.items():
        assert abs(total - 1.0) < 1e-3, (ft, total)  # rows sum to 1
