"""Similarity search over `embeddings` (SURVEY.md §2.11).

Three tiers, exactness decreasing as scale increases:

- sim_topk: exact brute-force cosine top-k, the correctness baseline.
  Query set x corpus join; dot products via zip_with + aggregate stay
  inside whole-stage codegen (no Python).
- sim_lsh: sign-random-projection LSH, expression-native (192 seeded
  hyperplane sign bits -> 32 banded bucket keys + packed-bit Hamming
  pre-filter -> exact re-rank) -- candidate pairs come from hash-bucket
  joins that shuffle ~40 B/row, never a cross product, never MLlib's
  approxSimilarityJoin (SCALE.md measured pitfall #1).
- sim_ivf: IVF-style two-stage search -- KMeans coarse quantizer
  (nlist cells), each query probes its nprobe nearest centroids and
  scans only those cells. This is the 100 TB path: the corpus is
  partitioned by cell id once (a single shuffle at build time), each
  query touches nprobe/nlist of the data, and the centroid table is
  broadcast (nlist rows).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recommendation_system_spark_ml_spark.banding import band_pairs
from recommendation_system_spark_ml_spark.hashing import (
    knuth_hash, knuth_hash_sql)
from recommendation_system_spark_ml_spark.registry import register
from recommendation_system_spark_ml_spark.session import (
    local_frame, pin_session_conf)
from recommendation_system_spark_ml_spark.sources.catalog import load

N_QUERIES = 10  # vec_id < 10 is the fixed query set for the checks
TOP_K = 5
SEED = 823  # the reference's split seed (MovieLensRecommender.py:145)


def _dot(x: Column, y: Column) -> Column:
    return F.aggregate(F.zip_with(x, y, lambda a, b: a * b),
                       F.lit(0.0), lambda acc, z: acc + z)


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (load(spark, sf_dir, "embeddings")
            .select("vec_id", F.col("embedding").cast("array<double>").alias("v"),
                    "label"))


def _pack_bits(bit_cols: list[Column]) -> Column:
    """Pack 0/1 long columns into one long, bit i = bit_cols[i] << i."""
    packed = bit_cols[0]
    for i, c in enumerate(bit_cols[1:], start=1):
        packed = packed.bitwiseXOR(F.shiftleft(c, i))
    return packed


def brute_force_topk(queries: DataFrame, corpus: DataFrame,
                     k: int = TOP_K) -> DataFrame:
    """Exact cosine top-k of `corpus` for each row of `queries`; both
    need (vec_id, v). Deterministic tie-break on neighbor id."""
    # norms hoisted out of the pair loop: same sqrt(dot(x, x))
    # expression, evaluated once per ROW instead of once per PAIR
    # (bit-identical cosines, ~3x less interpreted aggregate work)
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("v").alias("qv"),
                       F.sqrt(_dot(F.col("v"), F.col("v"))).alias("qnrm"))
    c = corpus.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("v").alias("cv"),
                      F.sqrt(_dot(F.col("v"), F.col("v"))).alias("cnrm"))
    cos = (_dot(F.col("qv"), F.col("cv"))
           / (F.col("qnrm") * F.col("cnrm")))
    # queries are the contractually-small side: broadcast them so the
    # pair generation is a map-side BroadcastNestedLoopJoin over the
    # corpus scan, never a CartesianProduct both of whose sides shuffle
    scored = (F.broadcast(q).crossJoin(c)
              .where(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id", cos.alias("cos")))
    w = (Window.partitionBy("query_id")
         .orderBy(F.col("cos").desc(), F.col("neighbor_id").asc()))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("cos", 4).alias("cosine")))


@register("sim_topk", oracle=f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           list_cosine_similarity(q.qv, CAST(c.embedding AS DOUBLE[])) AS cos
    FROM q JOIN embeddings c ON q.query_id <> c.vec_id
), ranked AS (
    SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id ASC) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       round(cos, 4) AS cosine
FROM ranked WHERE rank <= {TOP_K}
""")
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for the 10 fixed query vectors."""
    pin_session_conf(spark)
    corpus = _corpus(spark, sf_dir)
    return brute_force_topk(corpus.where(F.col("vec_id") < N_QUERIES), corpus)


RANGE_T = 0.35  # cosine floor for range search (data max ~0.5)


@register("sim_range_search", oracle=f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < {N_QUERIES})
SELECT q.query_id, c.vec_id AS neighbor_id,
       round(list_cosine_similarity(q.qv, CAST(c.embedding AS DOUBLE[])), 4)
           AS cosine
FROM q JOIN embeddings c ON q.query_id <> c.vec_id
WHERE list_cosine_similarity(q.qv, CAST(c.embedding AS DOUBLE[]))
      >= {RANGE_T}
""")
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range search: ALL neighbors within a cosine radius for each
    query, not a fixed top-k -- the retrieval shape dedup and
    recall-sensitive RAG filtering want (k is unknowable when
    neighborhood sizes vary by orders of magnitude).

    This is the exact twin: query set x corpus with codegen dot
    products, queries broadcast, no per-query state. The scale path
    for a data-sized query set is sim_lsh's banding (threshold maps to
    a Hamming radius on the packed signatures); for corpus-sized
    range-joins, IVF cells bound what each query scans (sim_ivf)."""
    pin_session_conf(spark)
    corpus = _corpus(spark, sf_dir)
    q = (corpus.where(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
                 F.sqrt(_dot(F.col("v"), F.col("v"))).alias("qnrm")))
    c = corpus.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("v").alias("cv"),
                      F.sqrt(_dot(F.col("v"), F.col("v"))).alias("cnrm"))
    cos = (_dot(F.col("qv"), F.col("cv"))
           / (F.col("qnrm") * F.col("cnrm")))
    return (F.broadcast(q).crossJoin(c)
            .where(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", cos.alias("cos"))
            .where(F.col("cos") >= RANGE_T)
            .select("query_id", "neighbor_id",
                    F.round("cos", 4).alias("cosine")))


def sim_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate neighbor pairs (cosine >= 0.4) via sign-random-
    projection LSH, expression-native end to end. This is the
    production API; the registered `sim_lsh` query wraps it in the
    hashable agreement contract (r6 verdict task 2).

    Why not MLlib approxSimilarityJoin: its self-join explodes the
    hash tables inside a plan AQE mis-sizes -- at sf0.1 candidate
    generation collapsed to ONE task (SCALE.md, measured pitfall #1;
    the same reason dedup_minhash is expression-native). Here every
    stage is a plain shuffle the planner sizes correctly:

    1. 192 seeded Gaussian hyperplanes live in a BROADCAST 192-row
       table; each vector meets every plane map-side via the
       broadcast join, ONE reused zip_with/aggregate dot expression
       computes the sign bit, and a partial-aggregating groupBy packs
       bits into bucket keys and signature longs -- map-side combine
       means only one packed row per vector ever shuffles. (Two
       rejected shapes, both measured: literal-array expressions per
       plane hand the optimizer a ~25k-node tree that never finishes;
       nesting the dot inside transform() over a planes array drops
       to interpreted lambda-in-lambda evaluation, ~40x slower than
       the join.);
    2. bits pack into L tables x b-bit bucket keys, and banding.py's
       band_pairs turns shared (table, key) buckets into candidate
       pairs -- the shuffle carries (table, key, vec_id, 3 packed sign
       longs) = ~40 B/row, never the vectors;
    3. Hamming pre-filter ON THE PACKED BITS (xor + bit_count, the
       band join's keep predicate): agreement >= 115/192 ~ estimated
       cosine >= 0.3 -- kills ~99.7% of random-pair candidates before
       anything row-sized joins;
    4. exact cosine re-rank: only the surviving pairs join the real
       vectors back; the returned `cosine` is exact, not estimated.

    These near-uniform test vectors (max pairwise cos ~0.5) are
    sign-LSH's worst case; tests assert recall >= 0.6 vs the exact
    pair set plus the 0.4 floor on every returned row. The
    clustered-geometry scale twin is sim_lsh_realistic."""
    pin_session_conf(spark)
    return lsh_pairs_over(spark, _corpus(spark, sf_dir))


def lsh_band_bits(n_corpus: int) -> int:
    """Size-adaptive band width under the fixed 192-bit signature
    budget: b = clamp(ceil(log2 n) - 3, 6, 16). Factored out of
    lsh_pairs_over so the clamp edges are unit-testable without
    building a corpus (r9 verdict task 3): the lower clamp engages
    for n <= 512 (b=6, the small-corpus recall regime) and the upper
    at n >= 2^19 (b=16, 12 tables, expected junk candidates stay
    ~L*n^2/2^16 -- linear until the next doubling)."""
    import math

    return min(16, max(6, math.ceil(math.log2(max(n_corpus, 2))) - 3))


def lsh_pairs_over(spark: SparkSession, corpus: DataFrame) -> DataFrame:
    """The sign-LSH banding pipeline over any (vec_id, v) corpus --
    the body sim_lsh_pairs documents; factored so the realistic
    clustered fixture runs the IDENTICAL production stages.

    Band width is SIZE-ADAPTIVE under the fixed 192-bit budget:
    b = clamp(ceil(log2(n)) - 3, 6, 16) bits per bucket key, with
    L = 192//b tables -- the standard E2LSH/datasketch tuning rule.
    Random pairs collide per table at ~2^-b, so expected junk
    candidates stay L*n^2/2^b ~= 8*L*n (LINEAR) as the corpus grows,
    where the old fixed b=6 was structurally quadratic (n^2/64 per
    table -- measured r9: sf1 slope 0.84/0.89 on BOTH uniform and
    clustered corpora, the 64-bucket keyspace saturating, not the
    geometry). The -3 offset is the recall margin: it holds the
    banding S-curve threshold (1/L)^(1/b) a band below the corpus
    scale (cos* ~0.19 at the <=512-row test SFs -- bit-identical to
    the old fixed-b behavior there, where the local recall gates
    run -- rising to ~0.7 at 5k and ~0.84 at 55k rows). At scale,
    recall concentrates on the near-duplicates the operator exists to
    find (planted twins at cos 0.998 collide per table with prob
    0.98^13 = 0.77; 14 tables miss with prob ~1e-9), while
    borderline-0.4 recall becomes a documented small-corpus property
    -- exactly how production LSH trades junk volume for tail recall.
    One count() of the id column picks b; everything downstream is
    unchanged.

    Candidates come from banding.band_pairs over (vec_id, band, key,
    sig0..sig2) rows, with the packed-bit Hamming prefilter as its
    keep predicate; the exact cosine re-rank is this function's own."""
    import math

    n_corpus = corpus.count()
    dim = 64
    b = lsh_band_bits(n_corpus)
    n_tables = 192 // b
    n_bits = 192  # fixed budget = 3 packed signature longs

    # Signature stage, VECTORIZED (r10, guide §4.2): the expression
    # form fanned every vector x192 planes through a crossJoin and
    # packed bits back with a groupBy -- a 192x row blowup plus one
    # full Exchange of the fanned stream, all to compute n x 192 sign
    # bits. One mapInPandas computes the whole bit matrix per Arrow
    # batch as a single (batch x 64) @ (64 x 192) BLAS matmul and
    # packs keys/signatures with numpy shifts -- no fan-out, NO
    # shuffle, planes built once per task from the same seeded
    # generator stream (np.default_rng(SEED) draws are identical
    # whether taken as 192 rows or one (192, 64) block). Null/short
    # vectors are dropped up front: under the old form they packed to
    # all-zero keys, collected candidates, and died at the NULL-cosine
    # re-rank filter -- emitting no pairs either way.
    sig_fields = ([f"key{t} bigint" for t in range(n_tables)]
                  + [f"sig{k} bigint" for k in range(n_bits // 64)])
    sig_schema = "vec_id bigint, " + ", ".join(sig_fields)

    def _signatures(batches):
        import numpy as np

        h = np.random.default_rng(SEED).standard_normal((n_bits, dim))
        shifts_key = np.arange(b, dtype=np.uint64)
        shifts_sig = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["v"].to_numpy())          # (n, dim)
            bits = (x @ h.T > 0).astype(np.uint64)      # (n, n_bits)
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            for t in range(n_tables):
                out[f"key{t}"] = (
                    (bits[:, t * b:(t + 1) * b] << shifts_key)
                    .sum(axis=1).astype(np.int64))
            for k in range(n_bits // 64):
                out[f"sig{k}"] = (
                    (bits[:, k * 64:(k + 1) * 64] << shifts_sig)
                    .sum(axis=1, dtype=np.uint64).view(np.int64))
            yield pd.DataFrame(out)

    clean = (corpus.where(F.col("v").isNotNull()
                          & (F.size("v") == dim)
                          & ~F.exists("v", lambda e: e.isNull()))
             .select(F.col("vec_id").cast("bigint").alias("vec_id"), "v"))
    sigs = clean.mapInPandas(_signatures, sig_schema)
    keys = F.array(*[
        F.struct(F.lit(t).alias("band"), F.col(f"key{t}").alias("key"))
        for t in range(n_tables)])
    buckets = (sigs.select("vec_id", "sig0", "sig1", "sig2",
                           F.explode(keys).alias("tk"))
               .select("vec_id", "sig0", "sig1", "sig2",
                       F.col("tk.band").alias("band"),
                       F.col("tk.key").alias("key")))
    # agreement >= ceil(n_bits * (1 - acos(0.3)/pi)) <=> est cos >= 0.3
    min_agree = math.ceil(n_bits * (1 - math.acos(0.3) / math.pi))

    def agree(a, c):
        hamming = sum(F.bit_count(a(f"sig{k}").bitwiseXOR(c(f"sig{k}")))
                      for k in range(3))
        return n_bits - hamming >= min_agree

    cand = band_pairs(buckets, "vec_id", ("vec_a", "vec_b"), keep=agree)
    va = corpus.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("xa"))
    vb = corpus.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("xb"))
    cos = (_dot(F.col("xa"), F.col("xb"))
           / (F.sqrt(_dot(F.col("xa"), F.col("xa")))
              * F.sqrt(_dot(F.col("xb"), F.col("xb")))))
    return (cand.join(va, "vec_a").join(vb, "vec_b")
            .select("vec_a", "vec_b", F.round(cos, 4).alias("cosine"))
            .where(F.col("cosine") >= 0.4))


SIM_CHECK_N = 50  # fixed probe slice for the hashable agreement checks

# Static oracle-side glob for the persisted realistic embeddings (see
# sources/realistic.py: fixed shared path + src_n selects the sf).
from recommendation_system_spark_ml_spark.sources.realistic import (  # noqa: E402
    EMB_ORACLE_GLOB as _REALISTIC_EMB_GLOB,
)


def _lsh_contract_oracle(vectors_sql: str) -> str:
    """The exact side of the sign-LSH probe contract: each probe
    vector's 0.4-neighbor count by exhaustive scan over `vectors_sql`
    (a FROM clause yielding vec_id, embedding)."""
    return f"""
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x,
           sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                        e -> e * e))) AS nrm
    FROM {vectors_sql}
), q AS (SELECT * FROM v WHERE vec_id < {SIM_CHECK_N} AND nrm > 0)
SELECT q.vec_id,
       CAST(sum(CASE WHEN c.vec_id <> q.vec_id AND c.nrm > 0
                      AND round(list_sum(list_transform(
                              range(1, CAST(len(q.x) AS BIGINT) + 1),
                              i -> q.x[i] * c.x[i])) / (q.nrm * c.nrm), 4)
                          >= 0.4
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_neighbors,
       TRUE AS lsh_count_le_exact
FROM q, v c
GROUP BY q.vec_id
"""


def _lsh_contract(spark: SparkSession, corpus: DataFrame) -> DataFrame:
    """Hashable agreement contract over lsh_pairs_over(corpus) (r6
    verdict task 2, the ml_als_cv_full promotion pattern): for each of
    a FIXED SIM_CHECK_N-vector probe slice, the oracle computes the
    exact 0.4-neighbor count (a genuine cross-engine value check --
    Spark's zip_with/aggregate ascending fold vs DuckDB's list_sum
    fold, round-4 before the threshold on both sides, exactly the
    pipeline's own acceptance test), and the contract boolean asserts
    the LSH pipeline returned AT MOST that many pairs touching the
    probe -- guaranteed by construction at float level, because
    lsh_pairs_over re-ranks candidates with the IDENTICAL round-4
    cosine expression before its >= 0.4 filter, so every returned pair
    is in the exact set. Recall (dataset-conditional, so never pinned
    in a hash -- the r6 HLL-bound ADVICE lesson) stays in the local
    recall-gate tests.

    Scale: the exact side is SIM_CHECK_N broadcast probe rows x
    corpus -- LINEAR in the corpus, map-side dots, one bounded
    groupBy; the LSH side is the production banded pipeline
    unchanged, so the operator under measurement still executes."""
    withn = corpus.select(
        "vec_id", "v", F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nrm"))
    q = (withn.where((F.col("vec_id") < SIM_CHECK_N) & (F.col("nrm") > 0))
         .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
                 F.col("nrm").alias("qnrm")))
    c = withn.select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"),
                     F.col("nrm").alias("cnrm"))
    cos4 = F.round(_dot(F.col("qv"), F.col("cv"))
                   / (F.col("qnrm") * F.col("cnrm")), 4)
    hit = ((F.col("cid") != F.col("qid")) & (F.col("cnrm") > 0)
           & (cos4 >= 0.4)).cast("long")
    exact = (F.broadcast(q).crossJoin(c)
             .groupBy(F.col("qid").alias("vec_id"))
             .agg(F.sum(hit).alias("n_exact_neighbors")))
    pairs = lsh_pairs_over(spark, corpus)
    touched = (pairs.select(F.col("vec_a").alias("vec_id"))
               .unionAll(pairs.select(F.col("vec_b").alias("vec_id")))
               .where(F.col("vec_id") < SIM_CHECK_N)
               .groupBy("vec_id")
               .agg(F.count(F.lit(1)).alias("n_lsh")))
    return (exact.join(touched, "vec_id", "left")
            .select("vec_id", "n_exact_neighbors",
                    (F.coalesce(F.col("n_lsh"), F.lit(0))
                     <= F.col("n_exact_neighbors"))
                    .alias("lsh_count_le_exact")))


@register("sim_lsh", oracle=_lsh_contract_oracle("embeddings"))
def sim_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sign-LSH probe contract (_lsh_contract) over the driver's
    `embeddings`, running sim_lsh_pairs' pipeline in full."""
    pin_session_conf(spark)
    return _lsh_contract(spark, _corpus(spark, sf_dir))


def _realistic_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recommendation_system_spark_ml_spark.sources.realistic import (
        realistic_embeddings,
    )
    return (realistic_embeddings(spark, sf_dir)
            .select("vec_id",
                    F.col("embedding").cast("array<double>").alias("v")))


def sim_lsh_realistic_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production sign-LSH pair list over the realistic clustered
    corpus -- the pair-producing face the planted-twin recall gate
    scores; the registered contract sim_lsh_realistic executes it in
    full (byte-identical pipeline: lsh_pairs_over)."""
    pin_session_conf(spark)
    return lsh_pairs_over(spark, _realistic_corpus(spark, sf_dir))


@register("sim_lsh_realistic", bench=True, oracle=_lsh_contract_oracle(
    f"read_parquet('{_REALISTIC_EMB_GLOB}')\n"
    "    WHERE src_n = (SELECT count(*) FROM embeddings)"))
def sim_lsh_realistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sign-LSH probe contract (_lsh_contract) over the realistic
    clustered-embedding corpus (sources/realistic.py::
    realistic_embeddings -- r8 verdict task 7): the driver's
    near-uniform sphere maximizes banding collisions (every bucket
    loads evenly; the sf1 row measured the fixture, not the engine,
    slope 0.84), so this is the headline/scale slot for sign-LSH. The
    fixture concentrates vectors on ~n/50 mild-Zipf topic clusters
    whose within-cluster cosine (~0.31) sits at the Hamming
    prefilter's design point (hard negatives: they collide in buckets
    and die at the exact re-rank) while planted 1% twins (cosine
    ~0.998) and the cluster-cosine tail form the true output.

    HASH-VERIFIED since r10 (r9 verdict task 1): the corpus is
    persisted at a fixed shared path the DuckDB oracle reads through
    a static read_parquet glob (src_n picks the sf). Planted-twin
    recall + geometry stay in the local gate, which scores
    sim_lsh_realistic_pairs directly."""
    pin_session_conf(spark)
    return _lsh_contract(spark, _realistic_corpus(spark, sf_dir))


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k: a KMeans coarse quantizer partitions the corpus into
    cells sized ~300 vectors (nlist scales with the corpus); each query
    scans only its nprobe closest cells. Returns the same
    (query_id, neighbor_id, rank, cosine) shape as sim_topk so recall
    is directly measurable (tests assert >= 80%@5 on the clustered
    testdata)."""
    pin_session_conf(spark)
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    corpus = _corpus(spark, sf_dir).cache()
    # cells scale with the corpus (same measured lesson as
    # dedup_semantic's fixed-k blow-up, dedup.py): ~300 vectors per
    # cell at any size, so a probe scans nprobe*300 vectors, not
    # nprobe/16 of everything. nprobe tracks nlist/4 with the small-n
    # floor at 8 of 16 (the recall-tested configuration); the
    # nprobe:nlist ratio is the recall/cost knob.
    n = corpus.count()
    nlist = max(16, min(4096, n // 300))
    nprobe = max(8, nlist // 4)
    feats = corpus.select("vec_id", array_to_vector("v").alias("features"))
    km = KMeans(k=nlist, seed=823).fit(feats)
    assigned = (km.transform(feats)
                .select("vec_id", F.col("prediction").alias("cell")))
    # At scale: the build-once parquet artifact is sim_ivf_persisted.
    cells = (corpus.join(assigned, "vec_id")
             .withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v")))))

    centroids = local_frame(
        spark, [(i, c.tolist()) for i, c in enumerate(km.clusterCenters())],
        "cell int, cv array<double>")
    queries = (corpus.where(F.col("vec_id") < N_QUERIES)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("v").alias("qv"),
                       F.sqrt(_dot(F.col("v"), F.col("v"))).alias("qnrm")))
    # probe list: nprobe nearest centroids per query (centroids broadcast).
    qc = (queries.crossJoin(F.broadcast(centroids))
          .select("query_id", "cell",
                  _dot(F.col("qv"), F.col("cv")).alias("score")))
    wprobe = Window.partitionBy("query_id").orderBy(F.col("score").desc())
    probes = (qc.withColumn("pr", F.row_number().over(wprobe))
              .where(F.col("pr") <= nprobe).select("query_id", "cell"))

    cand = (queries.join(probes, "query_id")
            .join(cells.select(F.col("vec_id").alias("neighbor_id"),
                               F.col("v").alias("nv"),
                               F.col("nrm").alias("nnrm"), "cell"),
                  "cell")
            .where(F.col("query_id") != F.col("neighbor_id")))
    # norms ride as columns: one dot product per candidate
    cos = (_dot(F.col("qv"), F.col("nv"))
           / (F.col("qnrm") * F.col("nnrm")))
    w = (Window.partitionBy("query_id")
         .orderBy(F.col("cos").desc(), F.col("neighbor_id").asc()))
    out = (cand.select("query_id", "neighbor_id", cos.alias("cos"))
           .withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= TOP_K)
           .select("query_id", "neighbor_id", "rank",
                   F.round("cos", 4).alias("cosine")))
    return out


@register("sim_ivf", oracle=f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
    SELECT q.query_id, c.vec_id AS nid,
           list_cosine_similarity(q.qv, CAST(c.embedding AS DOUBLE[])) AS cos
    FROM q JOIN embeddings c ON q.query_id <> c.vec_id
), ranked AS (
    SELECT query_id, cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, nid ASC) AS rank
    FROM scored
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, round(cos, 4) AS exact_cosine,
       TRUE AS ivf_le_exact
FROM ranked WHERE rank <= {TOP_K}
""")
def sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashable agreement contract over sim_ivf_topk (r6 verdict
    task 2): per (query, rank), the oracle states the EXACT top-k
    cosine (real cross-engine value agreement, the sim_topk recipe),
    and the contract boolean asserts IVF's cosine at that rank never
    exceeds it. Guaranteed at float level, data-independent: IVF's
    ranked candidates are a SUBSET of all pairs, scored by the
    bit-identical dot/(qnrm*cnrm) expression, and round-4 is
    monotone -- so the r-th largest of the subset <= the r-th largest
    of the full set, on any data the hostile probe can generate.
    Recall@k (dataset-conditional) stays in the local tests against
    sim_ivf_topk, whose (query_id, neighbor_id, rank, cosine) edge
    output remains the production API."""
    pin_session_conf(spark)
    corpus = _corpus(spark, sf_dir)
    exact = brute_force_topk(corpus.where(F.col("vec_id") < N_QUERIES),
                             corpus)
    ivf = sim_ivf_topk(spark, sf_dir).select(
        "query_id", "rank", F.col("cosine").alias("ivf_cos"))
    return (exact.join(ivf, ["query_id", "rank"], "left")
            .select("query_id", "rank",
                    F.col("cosine").alias("exact_cosine"),
                    (F.col("ivf_cos").isNull()
                     | (F.col("ivf_cos") <= F.col("cosine")))
                    .alias("ivf_le_exact")))


def topk_cells_udf(spark: SparkSession, cmat: "np.ndarray", nassign: int):
    """Arrow-batched soft cell assignment: a pandas_udf mapping a
    vector column to its `nassign` nearest centroid ids (exact, with a
    deterministic (d2, cell) tiebreak), via ONE NumPy matmul per batch
    against the broadcast (nlist x dim) centroid matrix. Entirely
    map-side; plans as ArrowEvalPython. Shared by dedup_semantic and
    sim_knn_graph -- the measured basis for this shape over the
    interpreted higher-order-function expression is in dedup.py
    (75x at the nlist cap)."""
    from pyspark.sql.types import ArrayType, IntegerType

    b_cmat = spark.sparkContext.broadcast(cmat)
    b_cn2 = spark.sparkContext.broadcast((cmat * cmat).sum(axis=1))

    @F.pandas_udf(ArrayType(IntegerType()))
    def _topk_cells(vs: pd.Series) -> pd.Series:
        xmat = np.vstack(vs.to_numpy())
        # |x - c|^2 = |x|^2 - 2 x.c + |c|^2; the |x|^2 term is
        # constant per row and cannot change the per-row ordering
        d2 = b_cn2.value[None, :] - 2.0 * (xmat @ b_cmat.value.T)
        # Finalist slice is nassign+4 (clamped to nlist), not nassign+1:
        # argpartition picks WHICH tied cells cross the cut arbitrarily,
        # so when a d2 tie spans the partition boundary (3+ cells tied
        # at the cut) the narrow slice could exclude the lowest cell id
        # among ties. The wider slice keeps the (d2, cell) tiebreak
        # exact for up to 4-way boundary ties -- measure-zero on float
        # data, exact on degenerate/duplicated centroids.
        nlist = d2.shape[1]
        kth = min(nassign + 4, nlist - 1)
        finalists = np.argpartition(d2, kth, axis=1)[:, :kth + 1]
        return pd.Series([
            [int(c) for c in
             sorted(cand, key=lambda c: (row[c], c))[:nassign]]
            for row, cand in zip(d2, finalists)])

    return _topk_cells


def build_ivf_index(spark: SparkSession, sf_dir: str,
                    force: bool = False) -> tuple[str, str]:
    """Build (once) the PERSISTED IVF index sim_ivf's in-line comment
    promised: the corpus clustered, repartitioned by cell id, and
    written to parquet `partitionBy("cell")`, plus the centroid table.
    Subsequent queries read the artifact -- zero KMeans fits, zero
    corpus shuffles on the query path (the one-time build carries the
    single repartition). Returns (cells_path, centroids_path).

    Idempotent per process: if both artifacts exist with _SUCCESS the
    build is skipped entirely (the dedup_incremental pattern,
    dedup.py). At 100 TB this split is the whole point of IVF -- the
    index is built once per corpus version and amortized over every
    query batch after it."""
    import os

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from recommendation_system_spark_ml_spark.session import scratch_path

    cells_path = scratch_path(sf_dir, "ivf_index/cells")
    cent_path = scratch_path(sf_dir, "ivf_index/centroids")
    done = all(os.path.exists(os.path.join(p, "_SUCCESS"))
               for p in (cells_path, cent_path))
    if done and not force:
        return cells_path, cent_path
    corpus = _corpus(spark, sf_dir).cache()
    n = corpus.count()
    nlist = max(16, min(4096, n // 300))
    feats = corpus.select("vec_id", array_to_vector("v").alias("features"))
    km = KMeans(k=nlist, seed=SEED).fit(feats)
    assigned = (km.transform(feats)
                .select("vec_id", F.col("prediction").alias("cell")))
    # persist the L2 norm WITH the index: every cosine downstream then
    # costs one dot product instead of three (the norm aggregates are
    # interpreted higher-order functions, so hoisting them out of the
    # per-candidate-pair path is a ~3x cut on the scoring stage)
    (corpus.join(assigned, "vec_id")
     .withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
     .repartition("cell")
     .write.mode("overwrite").partitionBy("cell").parquet(cells_path))
    centroids = local_frame(
        spark, [(i, c.tolist()) for i, c in enumerate(km.clusterCenters())],
        "cell int, cv array<double>")
    centroids.write.mode("overwrite").parquet(cent_path)
    corpus.unpersist()
    return cells_path, cent_path


def sim_ivf_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k answered FROM THE PERSISTED INDEX (build_ivf_index):
    same (query_id, neighbor_id, rank, cosine) contract and recall
    gate as sim_ivf, but the query path runs zero KMeans fits and
    scans only the probed cells' parquet partitions -- the probe list
    is a bounded driver scalar (<= |queries| * nprobe cell ids, here
    <= 10 * nlist/4), pushed down as a STATIC partition filter so the
    scan never opens the other cells' files (plan-asserted:
    PartitionFilters on the cells scan, zero fits on the query path).

    This is the deployment shape: build once per corpus version, then
    every query batch pays O(queries x nprobe x cell_size) reads. The
    bounded collect here is the same class as the fixed query-vector
    collect below (provably <= 10 * 1024 ints at the nlist cap)."""
    pin_session_conf(spark)
    cells_path, cent_path = build_ivf_index(spark, sf_dir)
    centroids = spark.read.parquet(cent_path)
    nlist = centroids.count()  # bounded: <= 4096 centroid rows
    nprobe = max(8, nlist // 4)
    queries = (_corpus(spark, sf_dir).where(F.col("vec_id") < N_QUERIES)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("v").alias("qv"),
                       F.sqrt(_dot(F.col("v"), F.col("v"))).alias("qnrm")))
    qc = (queries.crossJoin(F.broadcast(centroids))
          .select("query_id", "cell",
                  _dot(F.col("qv"), F.col("cv")).alias("score")))
    wprobe = Window.partitionBy("query_id").orderBy(F.col("score").desc(),
                                                    F.col("cell").asc())
    probes = (qc.withColumn("pr", F.row_number().over(wprobe))
              .where(F.col("pr") <= nprobe).select("query_id", "cell"))
    probe_cells = sorted({r.cell for r in probes.select("cell")
                          .distinct().collect()})
    cells = (spark.read.parquet(cells_path)
             .where(F.col("cell").isin(probe_cells)))
    cand = (queries.join(probes, "query_id")
            .join(cells.select(F.col("vec_id").alias("neighbor_id"),
                               F.col("v").alias("nv"),
                               F.col("nrm").alias("nnrm"), "cell"),
                  "cell")
            .where(F.col("query_id") != F.col("neighbor_id")))
    # norms ride as columns (index-persisted / computed once per
    # query), so the per-candidate cost is ONE dot product
    cos = (_dot(F.col("qv"), F.col("nv"))
           / (F.col("qnrm") * F.col("nnrm")))
    w = (Window.partitionBy("query_id")
         .orderBy(F.col("cos").desc(), F.col("neighbor_id").asc()))
    return (cand.select("query_id", "neighbor_id", cos.alias("cos"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id", "rank",
                    F.round("cos", 4).alias("cosine")))


KNN_K = 3       # neighbors per vector in the corpus-wide graph
KNN_NPROBE = 6  # probe cells per vector (measured recall curve below)


def sim_knn_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide k-NN GRAPH (top-{k} cosine neighbors for EVERY
    vector, not just a fixed query set) -- the building block for
    graph-based curation: SemDeDup-style semantic dedup, diversity
    sampling, cluster-balanced mixtures all start from this edge list.

    Built from the SAME persisted IVF index as sim_ivf_persisted:
    every vector soft-assigns to its {p} nearest cells map-side (the
    shared Arrow matmul UDF), joins the index on the cell id, and
    keeps its top-{k} by exact cosine. Candidate generation is
    n * {p} * ~300 -- LINEAR in the corpus (the probe count is fixed
    while nlist grows with n, so the probed fraction vanishes at
    scale), and the cell id is a plain join key AQE can split on
    skew. Probe-count basis, measured at sf0.001 on the near-uniform
    worst case (no cluster structure for the quantizer to exploit):
    recall@3 = 0.46/0.66/0.81/0.88 at 2/4/6/8 probes; {p} is the
    knee. Real embedding corpora are clustered, where fewer probes
    recall more; the test gates at 0.6 (the sim_lsh worst-case
    convention) with 0.81 observed.

    Returns (vec_id, neighbor_id, rank, cosine), rank 1..{k}."""
    pin_session_conf(spark)
    cells_path, cent_path = build_ivf_index(spark, sf_dir)
    cent = spark.read.parquet(cent_path).orderBy("cell").collect()
    cmat = np.array([r.cv for r in cent])  # bounded: <= 4096 x dim
    nprobe = min(KNN_NPROBE, len(cmat))
    topk = topk_cells_udf(spark, cmat, nprobe)
    corpus = _corpus(spark, sf_dir)
    # Candidate generation and dedup run on ID PAIRS ONLY -- a pair can
    # match in up to nprobe shared cells, and deduplicating it while
    # the two 520-byte vectors ride along shuffles ~1 KB/candidate.
    # The scale-curve harness caught exactly that as slope 1.83
    # (2.5 s -> 167 s at 10x); with ids-first the dedup exchange
    # carries 16 B/candidate (and dropDuplicates is a partial
    # aggregate, so map-side combine folds most duplicates before the
    # wire), then the vectors join back ONCE per side -- re-measured
    # slope 0.73 (3.2/5.7/17.2 s at 1x/3x/10x, 9.7x faster at 10x).
    probe_ids = corpus.select(F.col("vec_id").alias("query_id"),
                              F.explode(topk("v")).alias("cell"))
    index = spark.read.parquet(cells_path)
    pairs = (probe_ids.join(index.select(F.col("vec_id")
                                         .alias("neighbor_id"), "cell"),
                            "cell")
             .where(F.col("query_id") != F.col("neighbor_id"))
             .dropDuplicates(["query_id", "neighbor_id"])
             .select("query_id", "neighbor_id"))
    qside = corpus.select(F.col("vec_id").alias("query_id"),
                          F.col("v").alias("qv"),
                          F.sqrt(_dot(F.col("v"), F.col("v")))
                          .alias("qnrm"))
    nside = index.select(F.col("vec_id").alias("neighbor_id"),
                         F.col("v").alias("nv"),
                         F.col("nrm").alias("nnrm"))
    cand = pairs.join(qside, "query_id").join(nside, "neighbor_id")
    cos = (_dot(F.col("qv"), F.col("nv"))
           / (F.col("qnrm") * F.col("nnrm")))
    w = (Window.partitionBy("query_id")
         .orderBy(F.col("cos").desc(), F.col("neighbor_id").asc()))
    return (cand.select("query_id", "neighbor_id", cos.alias("cos"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= KNN_K)
            .select(F.col("query_id").alias("vec_id"), "neighbor_id",
                    "rank", F.round("cos", 4).alias("cosine")))


sim_knn_graph_edges.__doc__ = (sim_knn_graph_edges.__doc__
                               .replace("{k}", str(KNN_K))
                               .replace("{p}", str(KNN_NPROBE)))


@register("sim_knn_graph", oracle=f"""
WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < {SIM_CHECK_N}),
scored AS (
    SELECT q.vec_id, c.vec_id AS nid,
           list_cosine_similarity(q.qv, CAST(c.embedding AS DOUBLE[])) AS cos
    FROM q JOIN embeddings c ON q.vec_id <> c.vec_id
), ranked AS (
    SELECT vec_id, cos,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, nid ASC) AS rank
    FROM scored
)
SELECT vec_id, CAST(rank AS INTEGER) AS rank, round(cos, 4) AS exact_cosine,
       TRUE AS knn_le_exact
FROM ranked WHERE rank <= {KNN_K}
""")
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashable agreement contract over sim_knn_graph_edges (r6
    verdict task 2): the FULL corpus-wide graph is built (the
    production operator executes unchanged), then a fixed
    {SIM_CHECK_N}-vector probe slice is confronted with its exact
    brute-force top-k -- the oracle states the exact cosines (real
    cross-engine value agreement), and the contract boolean asserts
    the graph's cosine at each (vec, rank) never exceeds the exact
    one. Guaranteed data-independently by the subset argument (see
    sim_ivf): the graph's candidates score with the bit-identical
    dot/(qnrm*nnrm) expression, so per-rank order statistics can
    only be <=. The exact side is probe-slice x corpus -- linear in
    the corpus, preserving the measured slope-0.73 scale curve.
    Recall@k stays in the local tests against the edges API."""
    pin_session_conf(spark)
    corpus = _corpus(spark, sf_dir)
    exact = brute_force_topk(corpus.where(F.col("vec_id") < SIM_CHECK_N),
                             corpus, k=KNN_K)
    knn = (sim_knn_graph_edges(spark, sf_dir)
           .where(F.col("vec_id") < SIM_CHECK_N)
           .select(F.col("vec_id").alias("query_id"), "rank",
                   F.col("cosine").alias("knn_cos")))
    return (exact.join(knn, ["query_id", "rank"], "left")
            .select(F.col("query_id").alias("vec_id"), "rank",
                    F.col("cosine").alias("exact_cosine"),
                    (F.col("knn_cos").isNull()
                     | (F.col("knn_cos") <= F.col("cosine")))
                    .alias("knn_le_exact")))


sim_lsh.__doc__ = sim_lsh.__doc__.replace("{SIM_CHECK_N}", str(SIM_CHECK_N))
sim_knn_graph.__doc__ = (sim_knn_graph.__doc__
                         .replace("{SIM_CHECK_N}", str(SIM_CHECK_N)))


@register("vec_stats", oracle="""
SELECT vec_id,
       CAST(len(embedding) AS INTEGER) AS dim,
       round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))), 4)
           AS l2_norm,
       round(CAST(list_max(embedding) AS DOUBLE), 5) AS max_val,
       round(CAST(list_min(embedding) AS DOUBLE), 5) AS min_val
FROM embeddings
""")
def vec_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector statistics via array higher-order functions
    (transform / aggregate / array_min / array_max) -- all JVM
    expressions, no UDF. The norm check doubles as an ingest-quality
    gate: embeddings arriving un-normalized (norm != 1) would corrupt
    every cosine downstream, so a 100 TB pipeline runs exactly this
    scan-shaped assertion before indexing."""
    pin_session_conf(spark)
    emb_d = F.transform("embedding", lambda x: x.cast("double"))
    sumsq = F.aggregate(emb_d, F.lit(0.0), lambda a, x: a + x * x)
    return (load(spark, sf_dir, "embeddings")
            .select("vec_id",
                    F.size("embedding").alias("dim"),
                    F.round(F.sqrt(sumsq), 4).alias("l2_norm"),
                    F.round(F.array_max("embedding").cast("double"), 5).alias("max_val"),
                    F.round(F.array_min("embedding").cast("double"), 5).alias("min_val")))


@register("sim_sq8", bench=True, oracle=f"""
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
), s AS (
    SELECT vec_id, ve,
           127.0 / nullif(list_max(list_transform(ve, x -> abs(x))), 0) AS sc
    FROM v
), d AS (
    SELECT vec_id,
           list_transform(ve, x -> floor(x * sc + 0.5) / sc) AS dv
    FROM s
), q AS (
    SELECT vec_id AS query_id, dv AS qv FROM d WHERE vec_id < {N_QUERIES}
), scored AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           list_cosine_similarity(q.qv, c.dv) AS cos
    FROM q JOIN d c ON q.query_id <> c.vec_id
), ranked AS (
    SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id ASC) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       round(cos, 4) AS cosine
FROM ranked WHERE rank <= {TOP_K}
""")
def sim_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (int8) similarity scan: each vector is encoded
    as 8-bit codes with a per-vector scale (127 / max|x|), then search
    runs over the DEQUANTIZED codes -- the memory-bandwidth play every
    vector store makes: 4x fewer bytes scanned than float32 at <1%
    cosine error. Quantization is floor(x*scale + 0.5), identical and
    deterministic in both engines, so the oracle certifies the whole
    encode -> decode -> rank pipeline value-for-value, which the
    KMeans-seeded IVF/LSH paths cannot.

    At 100 TB: the codes column (array<tinyint> + 1 double) is what a
    real deployment would persist and scan; everything here is
    higher-order array expressions inside codegen -- no UDF, no
    Python. Composes with sim_ivf: IVF prunes cells, SQ8 shrinks the
    bytes each probe reads."""
    pin_session_conf(spark)
    corpus = _corpus(spark, sf_dir)
    sc = 127.0 / F.nullif(
        F.array_max(F.transform("v", lambda x: F.abs(x))), F.lit(0.0))
    # codes materialized as int8 to prove the storage claim, decoded in
    # the same projection for the scan.
    enc = corpus.select(
        "vec_id",
        F.transform("v", lambda x: F.floor(x * sc + 0.5).cast("tinyint"))
        .alias("codes"),
        sc.alias("sc"))
    dec = enc.select(
        "vec_id",
        F.transform("codes", lambda c: c.cast("double") / F.col("sc"))
        .alias("v"))
    return brute_force_topk(dec.where(F.col("vec_id") < N_QUERIES), dec)


def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the codes half of IVF-PQ, the
    standard billion-scale recipe): split each 64-dim vector into m=8
    8-dim subvectors, learn a k=16 KMeans codebook per subspace, store
    each vector as 8 one-byte codes (8 B + scale vs 256 B float32 -- a
    ~30x scan-size cut), score by asymmetric distance (query stays
    full-precision, each candidate's contribution is a CODEBOOK
    LOOKUP), then RE-RANK the ADC shortlist (top 20*k) full-precision --
    the standard two-stage deployment: codes bound the bytes scanned,
    the re-rank restores exactness on a constant-size candidate set.

    Spark shape: the per-(query, subspace, code) partial dot products
    form a 10 x 8 x 16 = 1280-row table -- BROADCAST; the corpus
    explodes to m rows per vector (vec_id, subspace, code), joins the
    broadcast table map-side, and one groupBy(query_id, vec_id) sums
    the m partials. The re-rank joins only |queries| x 20k rows of full
    vectors -- constant per query, vanishing relative to a growing
    corpus (these embeddings are near-uniform on the sphere, PQ's
    hardest case; structured real-world embeddings need a narrower
    shortlist). No pairwise vector math ever shuffles; at 100 TB the codes
    table is what's persisted and the only corpus-sized shuffle is the
    final per-query top-k.

    Returns the sim_topk shape so recall is directly measurable
    (tests assert >= 80%@5)."""
    pin_session_conf(spark)
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    m, ksub, dim = 8, 16, 64
    sub = dim // m  # 8 dims per subspace
    corpus = _corpus(spark, sf_dir)
    with_subs = corpus.select(
        "vec_id", "v",
        *[array_to_vector(F.slice("v", j * sub + 1, sub)).alias(f"sub{j}")
          for j in range(m)]).cache()

    # the m codebook fits are independent -- overlap them on the
    # cluster exactly like kmeans_sweep does (each fit is seeded and
    # layout-free on its own subvector column, so parallel scheduling
    # cannot change the result); the wrapped target keeps the caller's
    # job group on the fits' jobs
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    def fit_subspace(j: int):
        return KMeans(k=ksub, seed=SEED + j, featuresCol=f"sub{j}",
                      predictionCol=f"code{j}").fit(with_subs)

    with ThreadPoolExecutor(max_workers=m) as pool:
        models = list(pool.map(
            inheritable_thread_target(spark)(fit_subspace), range(m)))
    books = [[[float(x) for x in c] for c in km.clusterCenters()]
             for km in models]
    coded = with_subs
    for km in models:
        coded = km.transform(coded)
    # Materialize the codes (vec_id + m one-byte codes -- the compact
    # artifact a real deployment persists) and cut lineage BEFORE
    # releasing the subvector cache: without this, the returned plan
    # would recompute the projection at action time and the cache would
    # only ever serve the KMeans fits.
    codes = coded.select(
        "vec_id",
        F.array(*[F.col(f"code{j}").cast("int") for j in range(m)])
        .alias("codes")).localCheckpoint(eager=True)

    # code -> (partial norm^2) per subspace, for the candidate's
    # approximate length; code x query -> partial inner product.
    norm_rows = [(j, c, sum(x * x for x in books[j][c]))
                 for j in range(m) for c in range(ksub)]
    norms = F.broadcast(local_frame(
        spark, norm_rows, "j int, code int, n2 double"))

    queries = (with_subs.where(F.col("vec_id") < N_QUERIES)
               .select(F.col("vec_id").alias("query_id"), "v").collect())
    # 10 queries x 8 subspaces x 16 codes = 1280 rows: computed
    # driver-side from the broadcast-sized codebooks -- bounded, never
    # corpus-sized.
    lut_rows = []
    for q in queries:
        for j in range(m):
            qs = q.v[j * sub:(j + 1) * sub]
            for c in range(ksub):
                lut_rows.append(
                    (q.query_id, j, c,
                     float(sum(a * b for a, b in zip(qs, books[j][c])))))
    lut = F.broadcast(local_frame(
        spark, lut_rows, "query_id bigint, j int, code int, ip double"))

    exploded = codes.select(
        "vec_id", F.posexplode("codes").alias("j", "code"))
    scored = (exploded.join(norms, ["j", "code"])
              .join(lut, ["j", "code"])
              .where(F.col("query_id") != F.col("vec_id"))
              .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
              .agg(F.sum("ip").alias("ip"), F.sum("n2").alias("n2")))
    # unit-norm corpus (vec_stats certifies): cosine ~ ip / |x_approx|
    approx_cos = F.col("ip") / F.sqrt(F.col("n2"))
    w = (Window.partitionBy("query_id")
         .orderBy(approx_cos.desc(), F.col("neighbor_id").asc()))
    shortlist = (scored.withColumn("adc_rank", F.row_number().over(w))
                 .where(F.col("adc_rank") <= 20 * TOP_K)
                 .select("query_id", "neighbor_id"))
    # full-precision re-rank of the constant-size shortlist: join the
    # real vectors back (10 x 4k rows, never corpus-sized) and score
    # exactly; codes chose WHAT to read, floats decide the order.
    qv = corpus.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    nv = corpus.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("v").alias("nv"))
    cos = (_dot(F.col("qv"), F.col("nv"))
           / (F.sqrt(_dot(F.col("qv"), F.col("qv")))
              * F.sqrt(_dot(F.col("nv"), F.col("nv")))))
    w2 = (Window.partitionBy("query_id")
          .orderBy(F.col("cos").desc(), F.col("neighbor_id").asc()))
    out = (shortlist.join(F.broadcast(qv), "query_id").join(nv, "neighbor_id")
           .select("query_id", "neighbor_id", cos.alias("cos"))
           .withColumn("rank", F.row_number().over(w2))
           .where(F.col("rank") <= TOP_K)
           .select("query_id", "neighbor_id", "rank",
                   F.round("cos", 4).alias("cosine")))
    with_subs.unpersist()
    return out


def _ann_contract_oracle(flag: str) -> str:
    """Shared exact-top-k oracle for the ANN agreement contracts
    (sim_ivf's r7 promotion shape): per (query, rank) the EXACT
    cosine, plus a TRUE bound flag named per contract."""
    return f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
    SELECT q.query_id, c.vec_id AS nid,
           list_cosine_similarity(q.qv, CAST(c.embedding AS DOUBLE[])) AS cos
    FROM q JOIN embeddings c ON q.query_id <> c.vec_id
), ranked AS (
    SELECT query_id, cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, nid ASC) AS rank
    FROM scored
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, round(cos, 4) AS exact_cosine,
       TRUE AS {flag}
FROM ranked WHERE rank <= {TOP_K}
"""


def _ann_le_exact_contract(spark: SparkSession, sf_dir: str,
                           approx: DataFrame, flag: str) -> DataFrame:
    """Join an approximate top-k (query_id, rank, cosine) against the
    exact brute-force top-k and emit the sim_ivf agreement contract:
    exact_cosine as the cross-engine value, and `flag` asserting the
    approximate cosine at each rank never exceeds the exact one --
    guaranteed at float level because every ANN variant re-ranks a
    SUBSET of all pairs with the bit-identical round-4 cosine
    expression, and round-4 is monotone."""
    corpus = _corpus(spark, sf_dir)
    exact = brute_force_topk(corpus.where(F.col("vec_id") < N_QUERIES),
                             corpus)
    a = approx.select("query_id", "rank", F.col("cosine").alias("a_cos"))
    return (exact.join(a, ["query_id", "rank"], "left")
            .select("query_id", "rank",
                    F.col("cosine").alias("exact_cosine"),
                    (F.col("a_cos").isNull()
                     | (F.col("a_cos") <= F.col("cosine"))).alias(flag)))


@register("sim_ivf_persisted", oracle=_ann_contract_oracle("ivfp_le_exact"))
def sim_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashable agreement contract over sim_ivf_persisted_topk (r7
    verdict task 4, the sim_ivf promotion pattern): per (query, rank)
    the oracle states the EXACT top-k cosine, and the contract
    boolean asserts the persisted-index IVF's cosine at that rank
    never exceeds it -- data-independent, because the probed cells'
    candidates are a subset of all pairs scored by the identical
    round-4 cosine (the persisted `nrm` column round-trips parquet
    doubles exactly). Recall@k (dataset-conditional) stays in the
    local tests; the production edge-list API and its
    zero-fits/partition-pruning deployment shape live unchanged in
    sim_ivf_persisted_topk, which this contract executes in full."""
    pin_session_conf(spark)
    return _ann_le_exact_contract(
        spark, sf_dir, sim_ivf_persisted_topk(spark, sf_dir),
        "ivfp_le_exact")


@register("sim_pq", oracle=_ann_contract_oracle("pq_le_exact"))
def sim_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashable agreement contract over sim_pq_topk (r7 verdict
    task 4): per (query, rank) the oracle states the EXACT top-k
    cosine, and the contract boolean asserts PQ's cosine at that rank
    never exceeds it -- guaranteed on any input because PQ's ADC
    shortlist is RE-RANKED full-precision with the identical round-4
    cosine expression, so its final scores are a subset of the exact
    pair scores. Recall@k (codebook- and dataset-conditional) stays
    in the local tests (>= 80%@5 gate); the production edge-list API
    is sim_pq_topk, executed in full here."""
    pin_session_conf(spark)
    return _ann_le_exact_contract(
        spark, sf_dir, sim_pq_topk(spark, sf_dir), "pq_le_exact")


@register("vec_class_centroids", oracle="""
SELECT label, CAST(t.i - 1 AS BIGINT) AS dim,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(CAST(embedding[t.i] AS DOUBLE)), 6) AS mean_val
FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
GROUP BY 1, 2
""")
def vec_class_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label class centroids, one row per (label, dimension) --
    the embedding-QA table behind SemDeDup-style curation and
    sim_ivf's coarse quantizer: a label whose centroid drifts to the
    origin has incoherent members; two labels with near-identical
    centroids will confuse any cosine classifier. Exact means (no
    sampling), so the table doubles as a golden fixture for the
    KMeans-seeded paths.

    Shape: posexplode rewrites each vector into (dim, value) pairs
    map-side -- a 64x row multiply of 12-byte rows, NOT of payloads --
    and the groupBy(label, dim) aggregate partial-combines before its
    one Exchange, whose keyspace (|labels| x dim = 640 cells) is
    bounded at any corpus scale. No UDF, no window, no driver data;
    the float sum rides doubles and round(6) absorbs partition-order
    ulps (cells here are ~50-sample means of O(0.1) values)."""
    pin_session_conf(spark)
    emb = load(spark, sf_dir, "embeddings")
    return (emb.select("label", F.posexplode("embedding")
                       .alias("dim", "x"))
            .groupBy("label", F.col("dim").cast("long").alias("dim"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"),
                 F.round(F.avg(F.col("x").cast("double")), 6)
                 .alias("mean_val")))


@register("vec_normalize", oracle="""
WITH n AS (
    SELECT vec_id, label,
           sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                        x -> x * x))) AS nrm,
           CAST(embedding AS DOUBLE[]) AS ve
    FROM embeddings
)
SELECT vec_id, label,
       round(nrm, 6) AS l2_norm,
       round(list_sum(list_transform(ve, x -> x / nrm)) / len(ve), 6)
           AS mean_component
FROM n WHERE nrm > 0
""")
def vec_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization pass (the pre-index step every cosine ANN
    path assumes): per vector, the original norm and the mean
    component AFTER normalization -- returned as scalars rather than
    the normalized array because the driver's hash compares scalar
    columns; the normalized-array form is this same projection minus
    the final aggregate, and sim_* operators consume it inline.
    Zero-norm vectors are dropped (they have no direction), matching
    the oracle filter.

    Shape: pure map-side array expressions (transform/aggregate HOFs
    over the row's own 64 floats -- interpreted, but O(dim) per row
    with no constant-factor blowup, unlike the HOF-vs-matmul trap in
    SCALE.md which is per-row x large-constant); no shuffle at all.
    Float discipline: both engines square/sum/divide the same double
    casts in the same order; round(6) absorbs the last-ulp libm
    sqrt difference."""
    pin_session_conf(spark)
    emb = load(spark, sf_dir, "embeddings")
    ve = F.transform("embedding", lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(ve, F.lit(0.0), lambda a, x: a + x * x))
    return (emb.select("vec_id", "label", nrm.alias("nrm"), ve.alias("ve"))
            .where(F.col("nrm") > 0)
            .select("vec_id", "label",
                    F.round("nrm", 6).alias("l2_norm"),
                    F.round(F.aggregate(F.transform(
                        "ve", lambda x: x / F.col("nrm")),
                        F.lit(0.0), lambda a, x: a + x)
                        / F.size("ve"), 6).alias("mean_component")))


@register("vec_anisotropy_report", oracle="""
WITH v AS (
    SELECT vec_id,
           CAST(embedding AS DOUBLE[]) AS x,
           sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                        e -> e * e))) AS nrm
    FROM embeddings
), u AS (
    SELECT vec_id, list_transform(x, e -> e / nrm) AS uv, nrm
    FROM v WHERE nrm > 0
), dimsum AS (
    SELECT CAST(t.i AS BIGINT) AS dim, sum(uv[t.i]) AS s
    FROM u, unnest(generate_series(1, len(uv))) AS t(i)
    GROUP BY 1
), agg AS (
    SELECT (SELECT count(*) FROM u) AS n,
           (SELECT avg(nrm) FROM u) AS mean_norm,
           (SELECT sum(s * s) FROM dimsum) AS sumsq
)
SELECT CAST(n AS BIGINT) AS n_vectors,
       round(mean_norm, 6) AS mean_norm,
       round(sqrt(sumsq) / n, 6) AS centroid_norm,
       CASE WHEN n > 1
            THEN round((sumsq - n) / (CAST(n AS DOUBLE) * (n - 1)), 6)
            ELSE NULL END AS avg_pairwise_cosine
FROM agg
""")
def vec_anisotropy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-isotropy diagnostics (Ethayarajh 2019; Mu & Viswanath
    2018 'all-but-the-top'): anisotropic embedding spaces -- all
    vectors leaning into a shared cone -- inflate every cosine and
    poison ANN recall and SemDeDup thresholds, so a 100 TB curation
    pipeline reads this one-row report before trusting any similarity
    threshold. Columns: n_vectors, mean L2 norm, the norm of the mean
    NORMALIZED vector (0 = isotropic, 1 = degenerate), and the exact
    average pairwise cosine via the closed form
    (||sum(u)||^2 - n) / (n * (n - 1)) -- a quadratic-pair quantity
    from ONE linear scan, no pair join anywhere.

    Shape: map-side norm + normalize expressions, a posexplode into
    the bounded 64-cell per-dim keyspace (the vec_class_centroids
    recipe), then two scalar aggregates joined by a broadcast cross of
    single-row frames. Zero-norm vectors are dropped (no direction),
    matching the oracle. round(6) absorbs cross-engine partition-order
    summation ulps; the n=1 corner pins the pairwise term NULL on
    both sides."""
    pin_session_conf(spark)
    emb = load(spark, sf_dir, "embeddings")
    ve = F.transform("embedding", lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(ve, F.lit(0.0), lambda a, x: a + x * x))
    base = (emb.select(nrm.alias("nrm"), ve.alias("x"))
            .where(F.col("nrm") > 0)
            .select("nrm", F.transform(
                "x", lambda e: e / F.col("nrm")).alias("uv")))
    scal = base.agg(F.count(F.lit(1)).alias("n"),
                    F.avg("nrm").alias("mean_norm"))
    sumsq = (base.select(F.posexplode("uv").alias("dim", "e"))
             .groupBy("dim").agg(F.sum("e").alias("s"))
             .agg(F.sum(F.col("s") * F.col("s")).alias("sumsq")))
    n = F.col("n")
    return (scal.crossJoin(F.broadcast(sumsq))
            .select(n.cast("long").alias("n_vectors"),
                    F.round("mean_norm", 6).alias("mean_norm"),
                    F.round(F.sqrt("sumsq") / n, 6).alias("centroid_norm"),
                    F.when(n > 1, F.round(
                        (F.col("sumsq") - n) / (n.cast("double") * (n - 1)),
                        6)).alias("avg_pairwise_cosine")))


N_PC_ITER = 8  # fixed power-iteration count, shared with the oracle


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centered covariance of the embedding cloud as a (i, j, c)
    cell table -- the data-sized stage of vec_top_pc, factored out so
    the plan tests can assert its shape: posexplode self-join keyed on
    vec_id, groupBy(i, j) partial-combining every task down to the
    fixed d^2 keyspace before its one Exchange."""
    emb = load(spark, sf_dir, "embeddings")
    ve = F.transform("embedding", lambda x: x.cast("double"))
    dims = emb.select("vec_id", F.posexplode(ve).alias("i", "xi"))
    mu = dims.groupBy("i").agg(F.avg("xi").alias("mu"))
    cent = (dims.join(F.broadcast(mu), "i")
            .select("vec_id", "i", (F.col("xi") - F.col("mu")).alias("xc")))
    n = emb.count()  # driver scalar: row count only
    a, b = cent.alias("a"), cent.alias("b")
    return (a.join(b, "vec_id")
            .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
            .agg((F.sum(F.col("a.xc") * F.col("b.xc")) / F.lit(n))
                 .alias("c")))


def _top_pc_oracle() -> str:
    """The same centered covariance + N_PC_ITER power iterations
    unrolled as chained CTEs (the graph_pagerank recipe): fixed
    iteration count makes the whole iterative algorithm deterministic
    and hash-checkable. Division by a zero norm is nullif-guarded on
    both sides (a rank-0 covariance, e.g. n = 1, yields NULL loadings
    rather than NaN). Every per-iteration CTE is MATERIALIZED: each
    v{{t}} references its w{{t}} twice (projection + norm), so DuckDB's
    default inlining would re-expand the covariance subtree 2^N times
    (first seen as a too-many-open-files parquet storm)."""
    steps = []
    prev = "v0"
    for t in range(1, N_PC_ITER + 1):
        steps.append(f"""w{t} AS MATERIALIZED (
    SELECT cov.i, sum(cov.c * {prev}.vj) AS wi
    FROM cov JOIN {prev} ON cov.j = {prev}.j GROUP BY 1
), n{t} AS MATERIALIZED (
    SELECT sqrt(sum(wi * wi)) AS nrm FROM w{t}
), v{t} AS MATERIALIZED (
    SELECT i AS j, wi / nullif((SELECT nrm FROM n{t}), 0) AS vj FROM w{t}
)""")
        prev = f"v{t}"
    return f"""
WITH v AS MATERIALIZED (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
), d AS MATERIALIZED (
    SELECT vec_id, CAST(t.i - 1 AS INTEGER) AS i, x[t.i] AS xi
    FROM v, unnest(generate_series(1, len(x))) AS t(i)
), mu AS MATERIALIZED (
    SELECT i, avg(xi) AS mu FROM d GROUP BY 1
), c0 AS MATERIALIZED (
    SELECT d.vec_id, d.i, d.xi - mu.mu AS xc FROM d JOIN mu USING (i)
), nv AS MATERIALIZED (
    SELECT count(*) AS n FROM v
), cov AS MATERIALIZED (
    SELECT a.i AS i, b.i AS j,
           sum(a.xc * b.xc) / (SELECT n FROM nv) AS c
    FROM c0 a JOIN c0 b ON a.vec_id = b.vec_id GROUP BY 1, 2
), dims AS MATERIALIZED (
    SELECT count(DISTINCT i) AS d FROM cov
), v0 AS MATERIALIZED (
    SELECT i AS j, CAST(1 AS DOUBLE) / sqrt((SELECT d FROM dims)) AS vj
    FROM (SELECT DISTINCT i FROM cov)
), {", ".join(steps)}
SELECT CAST(j AS INTEGER) AS dim, round(vj, 6) AS loading,
       round((SELECT nrm FROM n{N_PC_ITER}), 4) AS eigenvalue
FROM v{N_PC_ITER}
"""


@register("vec_top_pc", oracle=_top_pc_oracle())
def vec_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the embedding cloud by power
    iteration -- the 'all-but-the-top' (Mu & Viswanath 2018) /
    anisotropy-correction building block: subtracting this direction
    is the standard fix when vec_anisotropy_report flags a shared
    cone. Fixed N_PC_ITER iterations from the deterministic uniform
    start 1/sqrt(d), so the ENTIRE iterative algorithm is
    value-checked against the unrolled-CTE oracle (the graph_pagerank
    pattern) -- convergence is irrelevant to correctness, both engines
    run the same 8 steps.

    100 TB shape: the covariance is the ONLY data-sized stage -- a
    posexplode self-join keyed on vec_id (fan-out d^2 per row of
    8-byte terms) whose groupBy(i, j) partial-combines every task
    down to the fixed d^2 = 4096-cell keyspace before its one
    Exchange; cost O(n * d^2) compute, O(tasks * d^2) shuffle,
    independent of n past the scan. The iteration then runs
    DRIVER-SIDE on the collected d x d matrix -- a PROVABLY BOUNDED
    4096-double collect (the documented bounded class: constant in
    corpus size, like sim_ivf's centroid table): a first cut ran the
    8 matvecs as chained DataFrame joins with per-round broadcasts,
    and the nested broadcast subtrees re-executed each other into
    36 s of pure scheduling on 64-row data -- the matrix is driver
    scalar work by construction, so schedule none of it. round(6)
    loadings / round(4) eigenvalue absorb cross-engine summation-
    order ulps; the sign is pinned by the all-positive start."""
    pin_session_conf(spark)
    import math as _math

    cov = embedding_covariance(spark, sf_dir)
    # bounded collect: exactly d^2 cells regardless of corpus size
    cells = {(r.i, r.j): r.c for r in cov.collect()}
    dims_present = sorted({i for i, _ in cells})
    d = len(dims_present)
    if d == 0:
        return local_frame(
            spark, [], "dim int, loading double, eigenvalue double")
    v = {i: 1.0 / _math.sqrt(d) for i in dims_present}
    nrm = None
    for _ in range(N_PC_ITER):
        if v[dims_present[0]] is None:
            # Mirrors the oracle's NULL algebra after a zero norm: the
            # next w{t} sums c * NULL -> NULL, so nrm and v stay NULL
            # for every remaining step (a rank-0 covariance, e.g. one
            # embedding row, would otherwise hit 0.0 * None here).
            nrm = None
            continue
        w = {i: sum(cells.get((i, j), 0.0) * v[j] for j in dims_present)
             for i in dims_present}
        nrm = _math.sqrt(sum(x * x for x in w.values()))
        v = {i: (w[i] / nrm if nrm > 0 else None) for i in dims_present}
    rows = [(int(i), v[i], nrm) for i in dims_present]
    out = local_frame(
        spark, rows, "dim int, loading double, eigenvalue double")
    return out.select("dim", F.round("loading", 6).alias("loading"),
                      F.round("eigenvalue", 4).alias("eigenvalue"))


MMR_LAMBDA = 0.7   # relevance weight; 1 - lambda penalizes redundancy
MMR_POOL = 20      # exact top-k candidate pool fed to the greedy stage
MMR_K = 5          # final diversified list length
_MMR_Q = 1_000_000  # 6-decimal floor quantization before any argmax


def _mmr_oracle() -> str:
    """Candidates + pairwise sims in SQL, then the greedy selection
    unrolled: step t picks argmax of lambda*rel - (1-lambda)*max(sim
    to selected) over the remainder, ties -> smallest id. Dot products
    are written as the same ascending-index fold Spark's zip_with +
    aggregate evaluates, and every similarity is floor-quantized at
    1e-6 BEFORE any comparison, so the argmax sequence is cross-engine
    deterministic."""
    lam, mu = "CAST(0.7 AS DOUBLE)", "CAST(0.3 AS DOUBLE)"
    steps = ["""s1 AS (
    SELECT id, rel, {lam} * rel - {mu} * CAST(0 AS DOUBLE) AS score
    FROM cand ORDER BY score DESC, id ASC LIMIT 1
), sel1 AS (SELECT id FROM s1)""".format(lam=lam, mu=mu)]
    for t in range(2, MMR_K + 1):
        steps.append(f"""s{t} AS (
    SELECT c.id, c.rel,
           {lam} * c.rel - {mu} * (
               SELECT max(s.sim) FROM sims s
               WHERE (s.ida = c.id AND s.idb IN (SELECT id FROM sel{t - 1}))
                  OR (s.idb = c.id AND s.ida IN (SELECT id FROM sel{t - 1}))
           ) AS score
    FROM cand c WHERE c.id NOT IN (SELECT id FROM sel{t - 1})
    ORDER BY score DESC, c.id ASC LIMIT 1
), sel{t} AS (SELECT id FROM sel{t - 1} UNION ALL SELECT id FROM s{t})""")
    picks = "\nUNION ALL\n".join(
        f"SELECT {t} AS rank, id AS vec_id, rel AS relevance, "
        f"floor(score * {_MMR_Q} + 0.5) / {_MMR_Q} AS mmr_score FROM s{t}"
        for t in range(1, MMR_K + 1))
    return f"""
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x,
           sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                        e -> e * e))) AS nrm
    FROM embeddings
), q AS (
    SELECT * FROM v WHERE vec_id = 0 AND nrm > 0
), cand AS (
    SELECT c.vec_id AS id,
           floor(list_sum(list_transform(
                     range(1, CAST(len(c.x) AS BIGINT) + 1),
                     i -> q.x[i] * c.x[i])) / (q.nrm * c.nrm)
                 * {_MMR_Q} + 0.5) / {_MMR_Q} AS rel
    FROM v c, q WHERE c.vec_id <> 0 AND c.nrm > 0
    ORDER BY rel DESC, id ASC LIMIT {MMR_POOL}
), cv AS (
    SELECT cand.id, cand.rel, v.x, v.nrm FROM cand JOIN v ON cand.id = v.vec_id
), sims AS (
    SELECT a.id AS ida, b.id AS idb,
           floor(list_sum(list_transform(
                     range(1, CAST(len(a.x) AS BIGINT) + 1),
                     i -> a.x[i] * b.x[i])) / (a.nrm * b.nrm)
                 * {_MMR_Q} + 0.5) / {_MMR_Q} AS sim
    FROM cv a JOIN cv b ON a.id < b.id
), {", ".join(steps)}
{picks}
"""


@register("sim_mmr_rerank", oracle=_mmr_oracle())
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) -- the diversity stage between retrieval and a context
    window: from the exact top-{MMR_POOL} cosine candidates for query
    vec_id = 0, greedily pick {MMR_K} maximizing lambda*relevance -
    (1-lambda)*max-similarity-to-already-picked, the standard fix for
    near-duplicate retrieval results all saying the same thing.

    Division of labor at 100 TB: the corpus-sized work -- the exact
    top-{MMR_POOL} scan (TakeOrderedAndProject per-partition heaps)
    and the {MMR_POOL}x{MMR_POOL} candidate similarity matrix -- is
    distributed; the greedy argmax loop then runs driver-side over a
    PROVABLY BOUNDED set ({MMR_POOL} rows + {MMR_POOL * (MMR_POOL - 1) // 2}
    pair sims, constants independent of corpus size -- the documented
    bounded-collect class, like sim_ivf's centroid table). Every
    cosine is floor-quantized at 1e-6 before any comparison and ties
    break on id, so the pick sequence is deterministic and the
    unrolled-greedy oracle hash-matches the whole algorithm."""
    pin_session_conf(spark)
    import math as _math

    corpus = _corpus(spark, sf_dir)
    withn = corpus.select(
        "vec_id", "v", F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nrm"))
    nz = withn.where(F.col("nrm") > 0)
    q = (nz.where(F.col("vec_id") == 0)
         .select(F.col("v").alias("qv"), F.col("nrm").alias("qnrm")))

    def q6(c):
        return F.floor(c * _MMR_Q + F.lit(0.5)) / _MMR_Q

    cand = (nz.where(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
            .select(F.col("vec_id").alias("id"), "v", "nrm",
                    q6(_dot(F.col("qv"), F.col("v"))
                       / (F.col("qnrm") * F.col("nrm"))).alias("rel"))
            .orderBy(F.col("rel").desc(), F.col("id").asc())
            .limit(MMR_POOL)
            .localCheckpoint(eager=True))
    a = cand.select(F.col("id").alias("ida"), F.col("v").alias("va"),
                    F.col("nrm").alias("na"))
    b = cand.select(F.col("id").alias("idb"), F.col("v").alias("vb"),
                    F.col("nrm").alias("nb"))
    sims = (a.join(b, F.col("ida") < F.col("idb"))
            .select("ida", "idb",
                    q6(_dot(F.col("va"), F.col("vb"))
                       / (F.col("na") * F.col("nb"))).alias("sim")))
    # bounded collects: MMR_POOL rows + MMR_POOL*(MMR_POOL-1)/2 pairs
    rel = {r.id: r.rel for r in cand.select("id", "rel").collect()}
    sim = {}
    for r in sims.collect():
        sim[(r.ida, r.idb)] = r.sim
        sim[(r.idb, r.ida)] = r.sim
    lam, penalty = 0.7, 0.3
    selected, out = [], []
    remaining = dict(rel)
    for rank in range(1, MMR_K + 1):
        if not remaining:
            break
        best_id, best_score = None, None
        for cid in sorted(remaining):
            red = max((sim[(cid, s)] for s in selected), default=0.0)
            score = lam * remaining[cid] - penalty * red
            if best_score is None or score > best_score:
                best_id, best_score = cid, score
        out.append((rank, best_id, rel[best_id],
                    _math.floor(best_score * _MMR_Q + 0.5) / _MMR_Q))
        selected.append(best_id)
        del remaining[best_id]
    return local_frame(spark, out, "rank int, vec_id bigint, "
                       "relevance double, mmr_score double")


JL_PROJ_DIMS = 16   # target dimensionality of the random projection
JL_CHECK_N = 20     # probe slice: all pairs among the first N vectors


@register("vec_random_projection_jl", oracle=f"""
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
    WHERE vec_id < {JL_CHECK_N} AND embedding IS NOT NULL
),
p AS (
    SELECT vec_id, x,
           list_transform(range(0, {JL_PROJ_DIMS}), o ->
               list_sum(list_transform(range(1, len(x) + 1), j ->
                   (CASE WHEN {knuth_hash_sql('o * len(x) + (j - 1)')}
                              % 2 = 0
                         THEN 1.0 ELSE -1.0 END) * x[j]))) AS y
    FROM v
),
pairs AS (
    SELECT sqrt(list_sum(list_transform(range(1, len(a.x) + 1),
                    i -> (a.x[i] - b.x[i]) * (a.x[i] - b.x[i])))) AS dorig,
           sqrt(list_sum(list_transform(range(1, {JL_PROJ_DIMS} + 1),
                    i -> (a.y[i] - b.y[i]) * (a.y[i] - b.y[i])))
                / {JL_PROJ_DIMS}.0) AS dproj
    FROM p a JOIN p b ON a.vec_id < b.vec_id
),
r AS (
    SELECT floor(dproj / dorig * 1000000 + 0.5) / 1000000 AS ratio
    FROM pairs WHERE dorig > 0
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(ratio), 6) AS mean_ratio,
       round(min(ratio), 6) AS min_ratio,
       round(max(ratio), 6) AS max_ratio,
       round(avg(CASE WHEN abs(ratio - 1.0) <= 0.2
                      THEN 1.0 ELSE 0.0 END), 6) AS frac_within_20pct
FROM r
""")
def vec_random_projection_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (Achlioptas 2003
    database-friendly +/-1 variant): project the 64-dim embeddings to
    {JL_PROJ_DIMS} dims with a SIGN MATRIX DERIVED FROM THE KNUTH HASH
    of (out_dim, in_dim) -- no stored projection matrix, no RNG, so
    any executor regenerates any entry locally and a restart can never
    change the projection (the same restart-stability argument as the
    §2.7 sampling gates). Emits the distance-distortion report over
    all pairs of the first {JL_CHECK_N} vectors: mean/min/max ratio of
    projected to original L2 distance and the fraction within the
    +/-20% JL band -- the go/no-go read before swapping the projection
    into an ANN pipeline (sim_lsh/sim_ivf) to cut shuffle bytes 4x.

    Scale shape: the projection is a map-side array expression (one
    whole-stage-codegen pass, {JL_PROJ_DIMS} x 64 multiply-adds per
    row, zero shuffle, zero Python); only the bounded probe slice
    ever joins pairwise. Ratios floor-quantize at 1e-6 before the
    aggregate."""
    pin_session_conf(spark)
    v = (load(spark, sf_dir, "embeddings")
         .where((F.col("vec_id") < JL_CHECK_N)
                & F.col("embedding").isNotNull())
         .select("vec_id", F.col("embedding").cast("array<double>")
                 .alias("x")))

    def project(x):
        d = F.size(x)

        def comp(o):
            def term(acc, j):
                sign = F.when(knuth_hash(o * d + (j - 1)) % 2 == 0,
                              F.lit(1.0)).otherwise(F.lit(-1.0))
                return acc + sign * F.element_at(x, j)
            return F.aggregate(F.sequence(F.lit(1), d), F.lit(0.0), term)
        return F.transform(F.sequence(F.lit(0), F.lit(JL_PROJ_DIMS - 1)),
                           comp)

    p = v.select("vec_id", "x", project(F.col("x")).alias("y"))
    a, b = p.alias("a"), p.alias("b")

    def sqdist(xa, xb):
        return F.aggregate(F.zip_with(xa, xb, lambda u, w: (u - w) * (u - w)),
                           F.lit(0.0), lambda acc, z: acc + z)

    pairs = (a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
             .select(F.sqrt(sqdist(F.col("a.x"), F.col("b.x")))
                     .alias("dorig"),
                     F.sqrt(sqdist(F.col("a.y"), F.col("b.y"))
                            / F.lit(float(JL_PROJ_DIMS))).alias("dproj")))
    r = (pairs.where(F.col("dorig") > 0)
         .select((F.floor(F.col("dproj") / F.col("dorig") * 1000000
                          + F.lit(0.5)) / 1000000).alias("ratio")))
    return r.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.avg("ratio"), 6).alias("mean_ratio"),
        F.round(F.min("ratio"), 6).alias("min_ratio"),
        F.round(F.max("ratio"), 6).alias("max_ratio"),
        F.round(F.avg(F.when(F.abs(F.col("ratio") - 1.0) <= 0.2, 1.0)
                      .otherwise(0.0)), 6).alias("frac_within_20pct"))


KM_K = 3          # clusters; seeds are vec_id 0..K-1 (deterministic)
KM_ROUNDS = 3     # fixed Lloyd iterations, shared with the oracle
_KM_Q = 1_000_000  # centroid quantization between rounds


def _km_sqdist_sql(x: str, c: str) -> str:
    return (f"list_sum(list_transform(range(1, len({x}) + 1), "
            f"i -> ({x}[i] - {c}[i]) * ({x}[i] - {c}[i])))")


def _kmeans_cte() -> str:
    """KM_ROUNDS of Lloyd unrolled as MATERIALIZED CTEs: assignment is
    an argmin window over the CROSS JOIN with the (bounded, K-row)
    centroid table; the update re-aggregates per dimension and
    floor-quantizes each centroid component at 1e-6 -- so both engines
    enter every round comparing IDENTICAL doubles, and the argmin
    sequence (ties -> smallest cluster id) is cross-engine exact.
    Shared by ml_kmeans_lloyd_exact and ml_kmeans_silhouette so the
    evaluated clustering IS the registered clustering."""
    steps = []
    prev = "c0"
    for t in range(1, KM_ROUNDS + 1):
        steps.append(f"""a{t} AS MATERIALIZED (
    SELECT vec_id, x, cid FROM (
        SELECT v.vec_id, v.x, c.cid,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {_km_sqdist_sql('v.x', 'c.c')} ASC,
                            c.cid ASC) AS rk
        FROM v CROSS JOIN {prev} c) WHERE rk = 1
), c{t} AS MATERIALIZED (
    SELECT cid, list(qv ORDER BY pos) AS c FROM (
        SELECT cid, pos,
               floor(avg(val) * {_KM_Q} + 0.5) / {_KM_Q} AS qv
        FROM (SELECT cid, unnest(x) AS val,
                     unnest(range(1, len(x) + 1)) AS pos FROM a{t})
        GROUP BY cid, pos) GROUP BY cid
)""")
        prev = f"c{t}"
    return f"""
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
    WHERE embedding IS NOT NULL
),
c0 AS MATERIALIZED (
    SELECT vec_id AS cid, x AS c FROM v WHERE vec_id < {KM_K}
),
{", ".join(steps)}"""


def _kmeans_oracle() -> str:
    return f"""{_kmeans_cte()},
fin AS (
    SELECT vec_id, cid, d FROM (
        SELECT v.vec_id, c.cid, {_km_sqdist_sql('v.x', 'c.c')} AS d,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {_km_sqdist_sql('v.x', 'c.c')} ASC,
                            c.cid ASC) AS rk
        FROM v CROSS JOIN c{KM_ROUNDS} c) WHERE rk = 1
)
SELECT CAST(cid AS BIGINT) AS cluster,
       CAST(count(*) AS BIGINT) AS n_members,
       round(sum(d), 4) AS sse
FROM fin GROUP BY 1
"""


@register("ml_kmeans_lloyd_exact", oracle=_kmeans_oracle(), bench=True)
def ml_kmeans_lloyd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact relational Lloyd's k-means over the embeddings (k={KM_K},
    {KM_ROUNDS} fixed rounds, seeds = the first {KM_K} vectors by id)
    -- the HASH-VERIFIED twin of the reference's MLlib KMeans phase
    (MovieLensRecommender.py:72-83, M2): MLlib's fit is RNG-seeded and
    can only be rows/band-checked, while this formulation is pure
    joins + windows + aggregates, so cluster sizes AND the SSE are
    bit-for-bit reproduced by the DuckDB oracle. Fixed rounds instead
    of convergence is the same determinism contract as graph_pagerank
    / graph_kcore; centroids floor-quantize at 1e-6 BETWEEN rounds so
    both engines enter every assignment comparing identical doubles.

    Scale shape: per round, the assignment is a broadcast
    nested-loop fan-out of exactly {KM_K} centroid rows per vector
    cut by a per-vector WindowGroupLimit (partition = vec_id, {KM_K}
    rows in the window -- never a data-sized sort), and the update is
    one posexplode + partial-combined groupBy(cid, dim) -- the
    centroid table stays K x d and is eagerly checkpointed each round
    to cut lineage. The reference's 6-fit elbow sweep at 1M rows took
    ~474 s; this single fit is one scan per round."""
    pin_session_conf(spark)
    fin = _lloyd_best2(spark, sf_dir)
    return (fin.groupBy(F.col("cid").cast("long").alias("cluster"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_members"),
                 F.round(F.sum("d1"), 4).alias("sse")))


def _km_sqd(xa, xb):
    return F.aggregate(F.zip_with(xa, xb, lambda a, b: (a - b) * (a - b)),
                       F.lit(0.0), lambda acc, z: acc + z)


def _ranked_dc(cs_col, x_col):
    """Per-vector (d, cid) ranking against a collapsed centroid array:
    array_sort on struct(d, cid) is the same (d ASC, cid ASC) order the
    old row_number window produced, but evaluated MAP-SIDE -- no
    Exchange, no Sort of the vector stream (guide §2.4: the window
    re-shuffled and re-sorted all n vectors once per Lloyd round for a
    K-row argmin). Distances use the identical _km_sqd fold, so every
    (d, cid) pair -- and therefore every assignment and tie-break --
    is bit-for-bit the window's."""
    return F.array_sort(F.transform(
        cs_col, lambda s: F.struct(_km_sqd(x_col, s["c"]).alias("d"),
                                   s["cid"].alias("cid"))))


def _lloyd_best2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run KM_ROUNDS of Lloyd and return ONE row per vector with its
    assignment and the two nearest FINAL centroids: (vec_id, cid, d1,
    d2) where d1 = own-centroid sqdist (rk=1 under the (d, cid) order)
    and d2 = nearest-other sqdist (rk=2). Shared by the SSE and
    silhouette queries; both only ever aggregate by cid afterwards, so
    with the map-side _ranked_dc argmin NO data-sized exchange remains
    anywhere downstream of the scan (the old per-vector row_number
    window exchanged + sorted all n vectors per round plus once more
    for the final ranking)."""
    v = (load(spark, sf_dir, "embeddings")
         .where(F.col("embedding").isNotNull())
         .select("vec_id", F.col("embedding").cast("array<double>")
                 .alias("x")))
    cent = (v.where(F.col("vec_id") < KM_K)
            .select(F.col("vec_id").alias("cid"), F.col("x").alias("c")))
    # collapse the K-row centroid table to ONE array row per round and
    # rank map-side (_ranked_dc) -- the old per-round row_number window
    # exchanged + sorted all n vectors to pick an argmin over K=3 rows.
    for _ in range(KM_ROUNDS):
        cs = cent.agg(F.collect_list(F.struct("c", "cid")).alias("cs"))
        assigned = (v.crossJoin(F.broadcast(cs))
                    .select("vec_id", "x",
                            F.element_at(_ranked_dc(F.col("cs"),
                                                    F.col("x")), 1)
                            .getField("cid").alias("cid")))
        upd = (assigned.select("cid", F.posexplode("x").alias("pos", "val"))
               .groupBy("cid", "pos")
               .agg((F.floor(F.avg("val") * _KM_Q + F.lit(0.5)) / _KM_Q)
                    .alias("qv")))
        cent = (upd.groupBy("cid")
                .agg(F.array_sort(F.collect_list(F.struct("pos", "qv")))
                     .alias("s"))
                .select("cid", F.transform("s", lambda t: t.qv).alias("c"))
                .localCheckpoint(eager=True))
    cs = cent.agg(F.collect_list(F.struct("c", "cid")).alias("cs"))
    ranked = _ranked_dc(F.col("cs"), F.col("x"))
    return (v.crossJoin(F.broadcast(cs))
            .select("vec_id",
                    F.element_at(ranked, 1).getField("cid").alias("cid"),
                    F.element_at(ranked, 1).getField("d").alias("d1"),
                    F.element_at(ranked, 2).getField("d").alias("d2")))


@register("ml_kmeans_silhouette", oracle=f"""{_kmeans_cte()},
ranked AS (
    SELECT vec_id, cid, d, rk FROM (
        SELECT v.vec_id, c.cid, {_km_sqdist_sql('v.x', 'c.c')} AS d,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {_km_sqdist_sql('v.x', 'c.c')} ASC,
                            c.cid ASC) AS rk
        FROM v CROSS JOIN c{KM_ROUNDS} c) WHERE rk <= 2
),
pv AS (
    SELECT vec_id,
           min(CASE WHEN rk = 1 THEN cid END) AS cid,
           min(CASE WHEN rk = 1 THEN d END) AS d1,
           min(CASE WHEN rk = 2 THEN d END) AS d2
    FROM ranked GROUP BY 1
)
SELECT CAST(cid AS BIGINT) AS cluster,
       CAST(count(*) AS BIGINT) AS n_members,
       floor(avg(CASE WHEN d2 > 0 THEN 1.0 - sqrt(d1) / sqrt(d2)
                      ELSE 0.0 END) * {_KM_Q} + 0.5) / {_KM_Q}
           AS avg_silhouette
FROM pv GROUP BY 1
""")
def ml_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette for the exact Lloyd
    clustering (Hruschka et al. 2004; the O(n*k) estimator MLlib's
    ClusteringEvaluator also uses, vs the O(n^2) classic): per vector
    s = 1 - d_own/d_nearest_other over centroid EUCLIDEAN distances,
    averaged per cluster -- the go/no-go quality read after
    ml_kmeans_lloyd_exact's SSE (SSE always falls with k; silhouette
    is what says whether the split is real). Shares the Lloyd CTE
    text / loop helper with the SSE query, so the evaluated
    clustering IS the registered clustering, and stays hash-verified
    where MLlib's evaluator is RNG-downstream.

    Shape: identical to the fit -- broadcast K-row fan-out, one
    WindowGroupLimit keeping rk<=2 per vector, one partial-combined
    groupBy(cluster)."""
    pin_session_conf(spark)
    pv = _lloyd_best2(spark, sf_dir)
    s = F.when(F.col("d2") > 0,
               F.lit(1.0) - F.sqrt(F.col("d1")) / F.sqrt(F.col("d2")))         .otherwise(F.lit(0.0))
    return (pv.groupBy(F.col("cid").cast("long").alias("cluster"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_members"),
                 (F.floor(F.avg(s) * _KM_Q + F.lit(0.5)) / _KM_Q)
                 .alias("avg_silhouette")))


@register("ml_nearest_centroid", oracle=f"""
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x, label,
           {knuth_hash_sql('vec_id')} % 10 AS bucket
    FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL
),
train AS (SELECT * FROM v WHERE bucket < 8),
test AS (SELECT * FROM v WHERE bucket >= 8),
cent AS (
    SELECT label AS cl, list(qv ORDER BY pos) AS c FROM (
        SELECT label, pos, floor(avg(val) * {_KM_Q} + 0.5) / {_KM_Q} AS qv
        FROM (SELECT label, unnest(x) AS val,
                     unnest(range(1, len(x) + 1)) AS pos FROM train)
        GROUP BY label, pos) GROUP BY label
),
pred AS (
    SELECT vec_id, label AS true_label, cl AS pred_label FROM (
        SELECT t.vec_id, t.label, c.cl,
               row_number() OVER (
                   PARTITION BY t.vec_id
                   ORDER BY {_km_sqdist_sql('t.x', 'c.c')} ASC,
                            c.cl ASC) AS rk
        FROM test t CROSS JOIN cent c) WHERE rk = 1
)
SELECT CAST(true_label AS INTEGER) AS true_label,
       CAST(pred_label AS INTEGER) AS pred_label,
       CAST(count(*) AS BIGINT) AS n
FROM pred GROUP BY 1, 2
""")
def ml_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classifier over the labeled
    embeddings, trained and evaluated in pure relational algebra:
    Knuth 80/20 split, per-label mean vectors from the train split
    (1e-6-quantized, the Lloyd recipe), argmin-distance prediction on
    the test split, confusion matrix out -- the SUPERVISED sibling of
    ml_kmeans_lloyd_exact (same centroid/assign machinery, labels
    instead of iterations), and with NB/logistic/k-means the fourth
    classic-ML algorithm this engine hash-verifies end to end.

    Shape: the centroid table is |labels| x d and broadcast; training
    is one posexplode + partial-combined groupBy(label, dim);
    prediction is a broadcast |labels|-fan-out cut by a per-vector
    WindowGroupLimit; the confusion matrix is one bounded groupBy.
    One scan of train, one of test."""
    pin_session_conf(spark)
    v = (load(spark, sf_dir, "embeddings")
         .where(F.col("embedding").isNotNull() & F.col("label").isNotNull())
         .select("vec_id", F.col("embedding").cast("array<double>")
                 .alias("x"), "label",
                 (knuth_hash(F.col("vec_id")) % 10).alias("bucket")))
    train = v.where(F.col("bucket") < 8)
    test = v.where(F.col("bucket") >= 8)
    cent = (train.select("label", F.posexplode("x").alias("pos", "val"))
            .groupBy("label", "pos")
            .agg((F.floor(F.avg("val") * _KM_Q + F.lit(0.5)) / _KM_Q)
                 .alias("qv"))
            .groupBy("label")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "qv")))
                 .alias("s"))
            .select(F.col("label").alias("cl"),
                    F.transform("s", lambda t: t.qv).alias("c")))
    # map-side argmin against the collapsed |labels|-row centroid
    # array (the _ranked_dc recipe): same (d, cl) order as the old
    # row_number window, zero Exchange/Sort of the test stream.
    cs = cent.agg(F.collect_list(
        F.struct("c", F.col("cl").alias("cid"))).alias("cs"))
    pred = (test.crossJoin(F.broadcast(cs))
            .withColumn("best", F.element_at(
                _ranked_dc(F.col("cs"), F.col("x")), 1))
            .withColumn("cl", F.col("best.cid")))
    return (pred.groupBy(F.col("label").cast("int").alias("true_label"),
                         F.col("cl").cast("int").alias("pred_label"))
            .agg(F.count(F.lit(1)).cast("long").alias("n")))


# --------------------------------------- Matryoshka truncation (r10)

MRL_DIM = 16  # truncated prefix dimensionality under evaluation


@register("vec_matryoshka_agreement", oracle=f"""
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
), n AS (
    SELECT vec_id, x, x[1:{MRL_DIM}] AS xt,
           sqrt(list_sum(list_transform(x, e -> e * e))) AS nf,
           sqrt(list_sum(list_transform(x[1:{MRL_DIM}], e -> e * e))) AS nt
    FROM v
), ok AS (SELECT * FROM n WHERE nf > 0 AND nt > 0),
q AS (SELECT * FROM ok WHERE vec_id < {N_QUERIES}),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS nid,
           list_sum(list_transform(range(1, CAST(len(q.x) AS BIGINT) + 1),
                                   i -> q.x[i] * c.x[i]))
               / (q.nf * c.nf) AS cf,
           list_sum(list_transform(range(1, {MRL_DIM} + 1),
                                   i -> q.xt[i] * c.xt[i]))
               / (q.nt * c.nt) AS ct
    FROM q, ok c WHERE q.vec_id <> c.vec_id
), ranked AS (
    SELECT query_id, nid,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cf DESC, nid ASC) AS rf,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY ct DESC, nid ASC) AS rt
    FROM scored
), f5 AS (SELECT query_id, nid FROM ranked WHERE rf <= {TOP_K}),
t5 AS (SELECT query_id, nid FROM ranked WHERE rt <= {TOP_K}),
ov AS (
    SELECT f5.query_id,
           CAST(sum(CASE WHEN t5.nid IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap
    FROM f5 LEFT JOIN t5 ON f5.query_id = t5.query_id AND f5.nid = t5.nid
    GROUP BY 1
), t1 AS (
    SELECT f.query_id, f.nid AS top1_full, t.nid AS top1_trunc
    FROM ranked f JOIN ranked t ON f.query_id = t.query_id
    WHERE f.rf = 1 AND t.rt = 1
)
SELECT o.query_id, o.n_overlap,
       CAST(t1.top1_full AS BIGINT) AS top1_full,
       CAST(t1.top1_trunc AS BIGINT) AS top1_trunc
FROM ov o JOIN t1 ON o.query_id = t1.query_id
""")
def vec_matryoshka_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL, Kusupati et al. 2022) truncation evaluation:
    rank the corpus for each probe query by full-{{64}}-dim cosine AND
    by the first-{MRL_DIM}-dims cosine, then report per query the
    top-{TOP_K} overlap and both rank-1 ids -- the acceptance harness
    you run before cutting embedding storage/compute 4x by truncating
    MRL-trained vectors (retrieval cost scales linearly with dims; if
    n_overlap stays high the truncated index serves first-stage
    retrieval and the full vectors only re-rank).

    Determinism: both rankings order by the RAW double cosine then id
    ascending -- the sim_ivf precedent: Spark's ascending zip_with/
    aggregate fold and DuckDB's list_sum fold produce bit-identical
    doubles, and exact-duplicate vectors (hostile twins plant them)
    tie-break on id identically. Zero-norm rows (full or truncated
    prefix) are filtered on BOTH engines before scoring.

    Scale: {N_QUERIES} broadcast probe rows x corpus -- linear scans,
    two window ranks over the same bounded candidate frame, overlap
    join on ({N_QUERIES} x {TOP_K}) rows. The production-scale twin
    of the full-corpus evaluation is the IVF path (sim_ivf_persisted)
    with a truncated-dim coarse stage."""
    pin_session_conf(spark)
    base = _corpus(spark, sf_dir).select("vec_id", "v")
    n = (base.withColumn("xt", F.slice("v", 1, MRL_DIM))
         .withColumn("nf", F.sqrt(_dot(F.col("v"), F.col("v"))))
         .withColumn("nt", F.sqrt(_dot(F.col("xt"), F.col("xt"))))
         .where((F.col("nf") > 0) & (F.col("nt") > 0)))
    q = (n.where(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("v").alias("qx"), F.col("xt").alias("qxt"),
                 F.col("nf").alias("qnf"), F.col("nt").alias("qnt")))
    c = n.select(F.col("vec_id").alias("nid"),
                 F.col("v").alias("cx"), F.col("xt").alias("cxt"),
                 F.col("nf").alias("cnf"), F.col("nt").alias("cnt_"))
    scored = (F.broadcast(q).crossJoin(c)
              .where(F.col("query_id") != F.col("nid"))
              .select("query_id", "nid",
                      (_dot(F.col("qx"), F.col("cx"))
                       / (F.col("qnf") * F.col("cnf"))).alias("cf"),
                      (_dot(F.col("qxt"), F.col("cxt"))
                       / (F.col("qnt") * F.col("cnt_"))).alias("ct")))
    wf = Window.partitionBy("query_id").orderBy(F.col("cf").desc(),
                                                F.col("nid").asc())
    wt = Window.partitionBy("query_id").orderBy(F.col("ct").desc(),
                                                F.col("nid").asc())
    ranked = scored.select("query_id", "nid",
                           F.row_number().over(wf).alias("rf"),
                           F.row_number().over(wt).alias("rt"))
    f5 = ranked.where(F.col("rf") <= TOP_K).select("query_id", "nid")
    t5 = (ranked.where(F.col("rt") <= TOP_K)
          .select(F.col("query_id").alias("tq"), F.col("nid").alias("tnid")))
    ov = (f5.join(t5, (f5.query_id == t5.tq) & (f5.nid == t5.tnid), "left")
          .groupBy("query_id")
          .agg(F.sum(F.col("tnid").isNotNull().cast("long"))
               .alias("n_overlap")))
    t1 = (ranked.where(F.col("rf") == 1)
          .select("query_id", F.col("nid").alias("top1_full"))
          .join(ranked.where(F.col("rt") == 1)
                .select("query_id", F.col("nid").alias("top1_trunc")),
                "query_id"))
    return (ov.join(t1, "query_id")
            .select(F.col("query_id"),
                    F.col("n_overlap").cast("long").alias("n_overlap"),
                    F.col("top1_full").cast("long").alias("top1_full"),
                    F.col("top1_trunc").cast("long").alias("top1_trunc")))
