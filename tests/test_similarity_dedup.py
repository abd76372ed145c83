"""Semantic checks for dedup + similarity (SURVEY.md §2.11): the
fingerprint dedup must actually collapse the word-shuffled duplicates,
simhash must be shuffle-invariant, and IVF must recall most of the
exact top-k on the clustered testdata."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, _plan, _specs
from recommendation_system_spark_ml_spark.operators.dedup import (
    dedup_exact, dedup_fingerprint, dedup_minhash_pairs,
    dedup_simhash_fingerprints)
from recommendation_system_spark_ml_spark.operators.similarity import (
    sim_ivf, sim_topk)


def test_fingerprint_collapses_shuffle_dups_exact_does_not(spark):
    n_exact = dedup_exact(spark, SF_SMOKE).count()
    n_fp = dedup_fingerprint(spark, SF_SMOKE).count()
    assert n_fp < n_exact  # shuffled dups are byte-distinct but bag-equal


def test_simhash_identical_for_bag_equal_docs(spark):
    """Docs with equal sorted-word-bag fingerprints must get equal
    simhashes (simhash is computed from the word set)."""
    fp = dedup_fingerprint(spark, SF_SMOKE)
    dup_groups = fp.where(F.col("n_docs") > 1)
    assert dup_groups.count() > 0
    sh = dedup_simhash_fingerprints(spark, SF_SMOKE)
    # distinct simhash count <= distinct fingerprint count
    assert sh.select("simhash").distinct().count() <= fp.count()


def test_minhash_finds_near_dup_pairs(spark):
    pairs = dedup_minhash_pairs(spark, SF_SMOKE)
    assert pairs.count() > 0
    assert pairs.agg(F.max("jaccard_dist")).first()[0] <= 0.2


def test_band_pairs_core_dedups_orders_filters_and_carries(spark):
    """banding.band_pairs on a hand-built bucket frame: a pair that
    collides in two bands is emitted once, only as (lower id, higher
    id), never with itself; keys collide only within one band; keep
    drops a colliding pair that fails it; extra columns ride along."""
    from recommendation_system_spark_ml_spark.banding import band_pairs
    from recommendation_system_spark_ml_spark.session import local_frame

    buckets = local_frame(spark, [
        (2, 0, 10, 6), (1, 0, 10, 5), (1, 1, 20, 5), (2, 1, 20, 6),
        (3, 0, 10, 100), (3, 1, 99, 100),
        (4, 1, 10, 5),    # key 10 in band 1 meets no band-0 key 10
        (5, 2, 7, 5),     # alone in its bucket
    ], "id bigint, band int, key bigint, v bigint")

    rows = band_pairs(buckets, "id", ("id_a", "id_b")).collect()
    assert sorted((r.id_a, r.id_b) for r in rows) == [(1, 2), (1, 3), (2, 3)]
    assert rows[0].__fields__ == ["id_a", "id_b"]

    kept = band_pairs(
        buckets, "id", ("id_a", "id_b"),
        keep=lambda a, b: F.abs(a("v") - b("v")) <= 10,
        extra=[("gap", lambda a, b: b("v") - a("v"))]).collect()
    assert [(r.id_a, r.id_b, r.gap) for r in kept] == [(1, 2, 1)]


def test_ivf_recall_vs_brute_force(spark):
    from recommendation_system_spark_ml_spark.operators.similarity import (
        sim_ivf_topk)
    exact = {(r.query_id, r.neighbor_id)
             for r in sim_topk(spark, SF_SMOKE).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in sim_ivf_topk(spark, SF_SMOKE).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"IVF recall@5 too low: {recall:.2f}"


def test_lsh_pairs_nonempty_and_above_threshold(spark):
    from recommendation_system_spark_ml_spark.operators.similarity import (
        sim_lsh_pairs)
    pairs = sim_lsh_pairs(spark, SF_SMOKE)
    rows = pairs.collect()
    assert len(rows) > 0
    assert all(r.cosine >= 0.4 - 1e-6 for r in rows)


def test_lsh_recall_vs_exact_pairs(spark):
    """The banded sign-LSH must recover most of the exact cosine>=0.4
    pair set (these near-uniform vectors are sign-LSH's worst case;
    measured recall 0.86 at sf0.001, 0.80 at sf0.01 -- gate at 0.6),
    and precision is exact by construction (full-precision re-rank)."""
    import duckdb

    from recommendation_system_spark_ml_spark.operators.similarity import (
        sim_lsh_pairs)
    exact = set(map(tuple, duckdb.sql(f"""
        SELECT a.vec_id, b.vec_id
        FROM read_parquet('{SF_SMOKE}/embeddings.parquet') a
        JOIN read_parquet('{SF_SMOKE}/embeddings.parquet') b
          ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.4
        """).fetchall()))
    found = {(r.vec_a, r.vec_b)
             for r in sim_lsh_pairs(spark, SF_SMOKE).collect()}
    recall = len(found & exact) / len(exact)
    assert recall >= 0.6, f"LSH recall too low: {recall:.2f}"
    # precision is exact up to the round-4 threshold: every returned
    # pair must clear cosine >= 0.4 within rounding slack of the truth
    near_exact = set(map(tuple, duckdb.sql(f"""
        SELECT a.vec_id, b.vec_id
        FROM read_parquet('{SF_SMOKE}/embeddings.parquet') a
        JOIN read_parquet('{SF_SMOKE}/embeddings.parquet') b
          ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.39995
        """).fetchall()))
    assert found <= near_exact


def test_min_label_components_chain_worst_diameter(spark):
    """A 12-node chain is the worst diameter per edge count: the min
    label crosses one hop per round, forcing >10 rounds and exercising
    the every-5-rounds localCheckpoint lineage truncation. All nodes
    must collapse to component 0; a detached singleton stays alone."""
    import pytest

    from recommendation_system_spark_ml_spark.operators.dedup import (
        min_label_components)

    n = 12
    docs = spark.createDataFrame([(i,) for i in range(n)] + [(99,)],
                                 "doc_id bigint")
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "doc_a bigint, doc_b bigint")
    rows = {r.doc_id: r for r in min_label_components(docs, edges).collect()}
    assert all(rows[i].component == 0 for i in range(n))
    assert all(rows[i].component_size == n for i in range(n))
    assert rows[99].component == 99 and rows[99].component_size == 1
    # the iteration cap fails loudly instead of looping forever
    with pytest.raises(RuntimeError, match="did not converge"):
        min_label_components(docs, edges, max_rounds=3)


def test_min_label_components_empty_edges_all_singletons(spark):
    """No edges: the iteration loop must terminate immediately and
    every doc must come back as its own singleton component (the
    isolated-node join-back path, which the edge-node-restricted
    iteration no longer produces from the loop itself)."""
    from recommendation_system_spark_ml_spark.operators.dedup import (
        min_label_components)

    docs = spark.createDataFrame([(i,) for i in range(7)], "doc_id bigint")
    edges = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    rows = {r.doc_id: r for r in min_label_components(docs, edges).collect()}
    assert len(rows) == 7
    assert all(rows[i].component == i and rows[i].component_size == 1
               for i in range(7))


def test_sq8_recall_and_quantization_error(spark):
    """Int8 scalar quantization must not change the neighbor ranking
    materially: top-5 overlap vs exact brute force >= 80%, and each
    decoded cosine within 0.02 of the exact value for shared pairs."""
    from recommendation_system_spark_ml_spark.operators.similarity import (
        sim_topk, sim_sq8)

    sf = "/root/testdata/sf0.001"
    exact = {(r.query_id, r.neighbor_id): r.cosine
             for r in sim_topk(spark, sf).collect()}
    quant = {(r.query_id, r.neighbor_id): r.cosine
             for r in sim_sq8(spark, sf).collect()}
    shared = set(exact) & set(quant)
    assert len(shared) >= 0.8 * len(exact)
    assert all(abs(exact[k] - quant[k]) <= 0.02 for k in shared)


def test_pq_recall_vs_brute_force(spark):
    """PQ8x16 ADC + full-precision re-rank of the constant-size
    shortlist must keep >= 75% of the exact top-5 (the testdata
    embeddings are near-uniform on the sphere -- PQ's hardest case --
    so the shortlist does the heavy lifting)."""
    from recommendation_system_spark_ml_spark.operators.similarity import (
        sim_topk, sim_pq_topk)

    sf = "/root/testdata/sf0.001"
    exact = {(r.query_id, r.neighbor_id) for r in sim_topk(spark, sf).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in sim_pq_topk(spark, sf).collect()}
    assert len(exact & approx) >= 0.75 * len(exact)


@pytest.mark.parametrize("name", ["sim_ivf", "sim_pq", "vec_top_pc"])
def test_driver_built_frames_plan_local_table_scans(spark, name):
    """The IVF centroids, the PQ norm and LUT tables and the top-PC
    result are computed on the driver and enter the plan as a
    LocalTableScan (session.local_frame), not as a Python-RDD scan."""
    assert "LocalTableScan" in _plan(_specs()[name].fn(spark, SF_SMOKE))


def test_semantic_dedup_precision_and_recall(spark):
    """SemDeDup cell-bounded dedup: every returned (keeper, removed)
    pair must be a true near-dup at the exact threshold (precision 1.0
    by construction -- exact cosine inside the cell), and the removed
    set must recover >= 0.5 of the exact all-pairs removed set
    (observed 0.74 at sf0.001 with 2-probe assignment; cross-cell
    pairs beyond the runner-up cell are the sacrificed remainder)."""
    import duckdb

    from recommendation_system_spark_ml_spark.operators.dedup import (
        dedup_semantic_removals)

    rows = dedup_semantic_removals(spark, SF_SMOKE).collect()
    assert rows, "no semantic dups found at all"
    assert all(r.cosine >= 0.35 - 1e-6 for r in rows)
    assert all(r.keeper_id < r.removed_id for r in rows)
    exact = {r[0] for r in duckdb.sql(f"""
        SELECT DISTINCT b.vec_id
        FROM '{SF_SMOKE}/embeddings.parquet' a
        JOIN '{SF_SMOKE}/embeddings.parquet' b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.35
    """).fetchall()}
    got = {r.removed_id for r in rows}
    assert got <= exact, "semantic dedup returned a non-duplicate"
    recall = len(got & exact) / len(exact)
    assert recall >= 0.5, f"semantic dedup recall too low: {recall:.2f}"


def test_ivf_persisted_zero_fits_and_recall(spark, monkeypatch):
    """sim_ivf_persisted: after build_ivf_index the query path must run
    ZERO KMeans fits (KMeans.fit is poisoned after the build), must
    read only the probed cells' partitions (PartitionFilters on the
    cells scan), and must hit the same >= 0.8 recall@5 gate as
    sim_ivf."""
    from pyspark.ml.clustering import KMeans

    from recommendation_system_spark_ml_spark.operators.similarity import (
        build_ivf_index, sim_ivf_persisted_topk)

    build_ivf_index(spark, SF_SMOKE)

    def _no_fit(self, *a, **kw):
        raise AssertionError("KMeans.fit ran on the query path")

    monkeypatch.setattr(KMeans, "fit", _no_fit)
    df = sim_ivf_persisted_topk(spark, SF_SMOKE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    scan_blocks = [b for b in plan.split("\n\n")
                   if "Scan parquet" in b and "ivf_index/cells" in b]
    assert scan_blocks, "cells index scan missing from plan"
    assert any("PartitionFilters: [" in b and "cell" in b.split(
        "PartitionFilters")[1].splitlines()[0] for b in scan_blocks), (
        "probe cells not pushed as partition filters")
    approx = {(r.query_id, r.neighbor_id) for r in df.collect()}
    exact = {(r.query_id, r.neighbor_id)
             for r in sim_topk(spark, SF_SMOKE).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"persisted-IVF recall@5 too low: {recall:.2f}"


def test_knn_graph_recall_vs_exact(spark):
    """sim_knn_graph (IVF-cell candidates, top-3 per vector) must
    recover most of the exact corpus-wide 3-NN edge set. Near-uniform
    vectors are IVF's worst case (measured curve in the operator
    docstring: 0.81 at the shipped 6 probes); gate at 0.6, the
    sim_lsh worst-case convention."""
    from recommendation_system_spark_ml_spark.operators.similarity import (
        brute_force_topk, sim_knn_graph_edges, KNN_K)
    from recommendation_system_spark_ml_spark.operators.similarity import (
        _corpus)

    corpus = _corpus(spark, SF_SMOKE)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(corpus, corpus, k=KNN_K).collect()}
    approx = {(r.vec_id, r.neighbor_id)
              for r in sim_knn_graph_edges(spark, SF_SMOKE).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"kNN-graph recall@{KNN_K} too low: {recall:.2f}"


def test_minhash_hash_families_agree(spark):
    """dedup_minhash (xxhash64 seeds) and dedup_minhash_checked (md5
    seeds) verify the SAME exact predicate on independently-generated
    candidate sets; each family must recover >= 90% of the pairs the
    other found, or one family's banding (or seeding -- this is the
    test shape that would have caught the lambda-arity bug directly)
    is broken."""
    from recommendation_system_spark_ml_spark.operators.dedup import (
        dedup_minhash_checked)

    xx = {(r.doc_a, r.doc_b)
          for r in dedup_minhash_pairs(spark, SF_SMOKE).collect()}
    md = {(r.doc_a, r.doc_b)
          for r in dedup_minhash_checked(spark, SF_SMOKE).collect()}
    assert len(xx) > 0 and len(md) > 0
    assert len(xx & md) / len(md) >= 0.9, "xxhash family misses md5's pairs"
    assert len(xx & md) / len(xx) >= 0.9, "md5 family misses xxhash's pairs"


def test_leakage_safe_split_never_splits_a_near_dup_pair(spark):
    """The whole point of split_leakage_safe: for EVERY near-dup edge
    (Jaccard >= 0.8 pair), both endpoints carry the same split label.
    Also sanity-check all three labels actually occur and that the
    canonical representative is a member of its own component."""
    from recommendation_system_spark_ml_spark.operators.dedup import (
        _jaccard_edges, dedup_canonical, dedup_components,
        split_leakage_safe)

    splits = split_leakage_safe(spark, SF_SMOKE)
    edges = _jaccard_edges(spark, SF_SMOKE)
    sa = splits.select(F.col("doc_id").alias("doc_a"),
                       F.col("split").alias("split_a"))
    sb = splits.select(F.col("doc_id").alias("doc_b"),
                       F.col("split").alias("split_b"))
    crossed = (edges.join(sa, "doc_a").join(sb, "doc_b")
               .where(F.col("split_a") != F.col("split_b")))
    assert crossed.count() == 0
    labels = {r.split for r in splits.select("split").distinct().collect()}
    assert labels == {"train", "valid", "test"}

    comp = dedup_components(spark, SF_SMOKE)
    kept = dedup_canonical(spark, SF_SMOKE)
    orphans = (kept.join(
        comp.select(F.col("doc_id").alias("kept_doc_id"),
                    F.col("component").alias("member_component")),
        "kept_doc_id")
        .where(F.col("component") != F.col("member_component")))
    assert orphans.count() == 0


def test_realistic_corpus_statistics_and_planted_recall(spark):
    """The realistic-similarity corpus (sources/realistic.py) must have
    the statistics its docstring claims -- long-tail background
    (average cross-pair set-Jaccard well under the 0.8 gate) and ~1%
    planted twins near J~0.9 -- and BOTH production near-dup paths
    (banded MinHash, prefix-filtered Jaccard) must recover every
    planted twin that actually qualifies under their own >= 0.8
    definitions. On the saturated driver corpus these gates were
    trivially satisfiable (23% of ALL pairs qualify); here recall is
    meaningful."""
    from recommendation_system_spark_ml_spark.operators.dedup import (
        dedup_jaccard_prefix_realistic, dedup_minhash_realistic_pairs)
    from recommendation_system_spark_ml_spark.sources.realistic import (
        TWIN_OFFSET, realistic_documents)

    docs = realistic_documents(spark, SF_SMOKE)
    words = F.array_distinct(
        F.filter(F.split(F.lower(F.col("text")), r"\s+"),
                 lambda w: w != ""))
    w = docs.select("doc_id", words.alias("ws"))

    # exact ground truth for the planted twins (set semantics)
    tw = (w.where(F.col("doc_id") >= TWIN_OFFSET)
          .select((F.col("doc_id") - TWIN_OFFSET).alias("doc_id"),
                  F.col("ws").alias("wt")))
    twin_j = (w.join(tw, "doc_id")
              .select("doc_id",
                      (F.size(F.array_intersect("ws", "wt"))
                       / F.size(F.array_union("ws", "wt"))).alias("j")))
    rows = twin_j.collect()
    assert len(rows) >= 5, "expected >=5 planted twins at smoke scale"
    qualifying = {r.doc_id for r in rows if r.j >= 0.8}
    assert qualifying, "mutation rate too high: no twin qualifies"

    # background saturation must be gone: sample unrelated pairs
    a = w.where(F.col("doc_id") < 50).alias("a")
    b = (w.where((F.col("doc_id") >= 50) & (F.col("doc_id") < 100))
         .alias("b"))
    bg = (a.crossJoin(b)
          .agg(F.avg(F.size(F.array_intersect("a.ws", "b.ws"))
                     / F.size(F.array_union("a.ws", "b.ws"))).alias("m"))
          .first().m)
    assert bg < 0.3, f"background Jaccard {bg:.2f}: corpus is saturated"

    # MinHash LSH: every qualifying planted twin must be recovered
    # (16 hashes / 4 bands: P(miss | J>=0.8) ~ 0.12 per pair -- with
    # only ~5 twins at smoke scale a single unlucky miss is plausible,
    # so gate at >= 0.8 recall rather than exactly 1.0)
    mh = dedup_minhash_realistic_pairs(spark, SF_SMOKE)
    found_mh = {r.doc_a for r in mh.collect()
                if r.doc_b == r.doc_a + TWIN_OFFSET}
    recall = len(found_mh & qualifying) / len(qualifying)
    assert recall >= 0.8, f"minhash planted recall {recall:.2f}"

    # prefix-filtered Jaccard is EXACT (filter is lossless): every
    # bag-qualifying twin must appear; verify against brute force
    jp = dedup_jaccard_prefix_realistic(spark, SF_SMOKE)
    got = {(r.doc_a, r.doc_b) for r in jp.collect()}
    cnt = (docs.select("doc_id", F.explode(
               F.filter(F.split(F.lower(F.col("text")), r"\s+"),
                        lambda x: x != "")).alias("wd"))
           .groupBy("doc_id", "wd").agg(F.count(F.lit(1)).alias("c")))
    bags = cnt.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("wd", "c"))).alias("m"),
        F.sum("c").alias("n"))
    ba = bags.select(F.col("doc_id").alias("doc_a"),
                     F.col("m").alias("ma"), F.col("n").alias("na"))
    bb = bags.select(F.col("doc_id").alias("doc_b"),
                     F.col("m").alias("mb"), F.col("n").alias("nb"))
    shared = F.aggregate(
        F.map_values(F.map_zip_with(
            "ma", "mb", lambda k, x, y: F.least(F.coalesce(x, F.lit(0)),
                                                F.coalesce(y, F.lit(0))))),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    brute = (ba.crossJoin(bb).where(F.col("doc_a") < F.col("doc_b"))
             .withColumn("shared", shared)
             .where(F.col("shared") / (F.col("na") + F.col("nb")
                                       - F.col("shared")) >= 0.8))
    want = {(r.doc_a, r.doc_b) for r in brute.collect()}
    assert got == want, (sorted(got - want)[:5], sorted(want - got)[:5])


def _anisotropic_sf_dir(spark) -> str:
    """Second embedding geometry (r4 verdict Next #7): 8 clustered
    ANISOTROPIC blobs (unit-sphere centers, noise stretched 10:1 along
    a random per-cluster axis) written as `embeddings.parquet` in a
    per-process scratch sf-dir. The driver fixture is near-uniform --
    IVF's worst case for probe count but an easy case for cell/cluster
    alignment; anisotropy is the opposite surface: Euclidean KMeans
    cells misalign with cosine neighborhoods along the stretched axis.
    Deterministic: one fixed-seed numpy stream, n=500, dim=64."""
    import os

    import numpy as np

    out = f"/tmp/rsml_aniso/pid{os.getpid()}/sf_aniso"
    if not os.path.exists(os.path.join(out, "embeddings.parquet")):
        rng = np.random.default_rng(823)
        n, dim, k = 500, 64, 8
        centers = rng.normal(size=(k, dim))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        axes = rng.normal(size=(k, dim))
        axes /= np.linalg.norm(axes, axis=1, keepdims=True)
        lab = rng.integers(0, k, size=n)
        major = rng.normal(size=n)[:, None] * 1.1 * axes[lab]
        minor = rng.normal(size=(n, dim)) * 0.11
        x = (centers[lab] + major + minor).astype("float32")
        rows = [(int(i), [float(v) for v in x[i]], int(lab[i]))
                for i in range(n)]
        (spark.createDataFrame(rows, "vec_id long, embedding array<float>, "
                                     "label int")
         .write.mode("overwrite")
         .parquet(os.path.join(out, "embeddings.parquet")))
    return out


def test_semantic_dedup_recall_on_anisotropic_geometry(spark):
    """SemDeDup on the clustered-anisotropic geometry, shipped
    parameters (nassign=2 probe cells, n/300-scaled nlist = 16 at this
    n, threshold 0.35). Measured recall is 1.0 here -- the per-vector
    removed-set metric needs only ONE detected neighbor per vector,
    and within a cluster every vector has many; the near-uniform
    driver fixture (observed 0.74, gated 0.5) remains the hard case.
    So this geometry gates TIGHT (>= 0.9): a regression in cell
    assignment or the within-cell join would crater clustered recall
    long before it shows on the uniform gate."""
    from recommendation_system_spark_ml_spark.operators.dedup import (
        dedup_semantic_removals)
    from recommendation_system_spark_ml_spark.operators.similarity import (
        _corpus, _dot)

    sf = _anisotropic_sf_dir(spark)
    rows = dedup_semantic_removals(spark, sf).collect()
    assert rows, "no semantic dups on clustered data at all"
    assert all(r.cosine >= 0.35 - 1e-6 for r in rows)
    corpus = _corpus(spark, sf)
    a = corpus.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
    b = corpus.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"))
    cos = (_dot(F.col("va"), F.col("vb"))
           / (F.sqrt(_dot(F.col("va"), F.col("va")))
              * F.sqrt(_dot(F.col("vb"), F.col("vb")))))
    exact = {r.ib for r in (a.crossJoin(b).where(F.col("ia") < F.col("ib"))
                            .where(cos >= 0.35).select("ib").distinct()
                            .collect())}
    got = {r.removed_id for r in rows}
    assert got <= exact, "returned a non-duplicate (precision must be 1.0)"
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"anisotropic semantic recall {recall:.2f}"


def test_knn_graph_recall_on_anisotropic_geometry(spark):
    """sim_knn_graph on the anisotropic geometry, shipped 6-probe
    soft assignment. Measured recall@3 = 1.0 (clustered data is IVF's
    easy case -- a vector's true 3-NN share its cluster, and 6 probes
    cover the ~4 KMeans cells an elongated cluster splits into), so
    this gates TIGHT (>= 0.9) where the near-uniform fixture gates
    0.6 at its measured 0.81; together the two geometries bracket the
    probe-dilution and cell-misalignment failure modes."""
    from recommendation_system_spark_ml_spark.operators.similarity import (
        KNN_K, _corpus, brute_force_topk, sim_knn_graph_edges)

    sf = _anisotropic_sf_dir(spark)
    corpus = _corpus(spark, sf)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(corpus, corpus, k=KNN_K).collect()}
    approx = {(r.vec_id, r.neighbor_id)
              for r in sim_knn_graph_edges(spark, sf).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"anisotropic kNN recall@{KNN_K}: {recall:.2f}"


def test_components_persisted_is_pure_scan_with_valid_labeling(spark):
    """The registered probe face of duplicate clustering (r8 verdict
    task 4): the query plan must be an artifact SCAN -- no join, no
    aggregate, no iteration -- and the persisted labeling must satisfy
    the min-label invariants the oracle hash cannot articulate:
    component <= doc_id, the label is a member of its own cluster,
    and component_size telescopes to the cluster's row count."""
    from recommendation_system_spark_ml_spark.operators.dedup import (
        dedup_components_persisted)

    df = dedup_components_persisted(spark, SF_SMOKE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    # probe cost = one parquet scan of the artifact (the fixpoint was
    # paid at build time); any Join/Exchange here means the
    # amortization contract is broken
    assert "Join" not in plan and "Exchange" not in plan
    rows = df.collect()
    assert rows
    by_comp = {}
    for r in rows:
        assert r.component <= r.doc_id
        by_comp.setdefault(r.component, []).append(r)
    for comp, members in by_comp.items():
        ids = {m.doc_id for m in members}
        assert comp in ids, "label must be a member of its own cluster"
        assert all(m.component_size == len(members) for m in members)


def test_lsh_realistic_planted_recall_and_geometry(spark):
    """The clustered scale fixture must behave as designed: planted
    twins (cosine ~0.998) are recovered by the production banding at
    >= 90% recall, every returned pair clears the 0.4 floor, and the
    corpus geometry matches the spec -- cluster-mate cosine
    concentrates near 0.3 (hard negatives), cross-cluster near 0."""
    import pyspark.sql.functions as F

    from recommendation_system_spark_ml_spark.operators.similarity import (
        sim_lsh_realistic_pairs)
    from recommendation_system_spark_ml_spark.sources.realistic import (
        TWIN_OFFSET, realistic_embeddings)

    pairs = sim_lsh_realistic_pairs(spark, SF_SMOKE).cache()
    try:
        assert pairs.where(F.col("cosine") < 0.4).count() == 0
        emb = realistic_embeddings(spark, SF_SMOKE)
        n_twins = emb.where(F.col("vec_id") >= TWIN_OFFSET).count()
        assert n_twins > 0
        hits = pairs.where(
            F.col("vec_b") == F.col("vec_a") + TWIN_OFFSET).count()
        assert hits >= 0.9 * n_twins, f"{hits}/{n_twins} planted twins"
        # geometry: cluster-mate cosine ~0.3, cross ~0 (probe slice)
        v = emb.select("vec_id",
                       F.col("embedding").cast("array<double>").alias("v"),
                       "label")

        def dot(x, y):
            return F.aggregate(F.zip_with(x, y, lambda a, b: a * b),
                               F.lit(0.0), lambda acc, z: acc + z)

        w = v.withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
        a, b = w.alias("a"), w.alias("b")
        cos = (dot(F.col("a.v"), F.col("b.v"))
               / (F.col("a.nrm") * F.col("b.nrm")))
        probe = (a.join(b, (F.col("a.vec_id") < F.col("b.vec_id"))
                        & (F.col("a.vec_id") < 100)
                        & (F.col("b.vec_id") < TWIN_OFFSET))
                 .select((F.col("a.label") == F.col("b.label"))
                         .alias("same"), cos.alias("c")))
        stats = {r.same: r for r in
                 probe.groupBy("same").agg(F.avg("c").alias("m")).collect()}
        assert 0.15 < stats[True].m < 0.45   # clustered, sub-threshold
        assert abs(stats[False].m) < 0.1     # cross-cluster background
    finally:
        pairs.unpersist()
