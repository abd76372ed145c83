"""ML parity: the reference's core surface, DataFrame-native (SURVEY.md §2.8).

The reference (MovieLensRecommender.py) is a KMeans-vs-ALS recommender:
one-hot genre encoding (MLR.py:13-24, via driver pandas loops), KMeans
elbow sweep (MLR.py:155-182), the cluster-average predictor
(MLR.py:72-83), and 3-fold-CV'd ALS (MLR.py:203-238). Every piece is
rebuilt here on the harness star schema with zero driver-side data
loops:

- one-hot as a map-only projection over the runtime vocabulary (one
  <=|categories|-row collect, what pivot does internally; replaces the
  MLR.py:123-126 collect of the whole table);
- SSE via KMeansModel.summary.trainingCost (replaces the Python
  row-map at MLR.py:33-37,164);
- elbow = lag-window first-difference + argmin (MLR.py:47-51,181-182),
  preserving the reference's quirk that the first k's diff is 0 so it
  can never win (MLR.py:49);
- train/test split via the Knuth-hash recipe (oracle-reproducible,
  replacing nondeterministic randomSplit at MLR.py:145);
- ALS CV with parallelism=8 (the reference's sequential CV is the
  documented 2h20m bottleneck, BASELINE.md).

Scale notes: the ratings-analog (o_custkey x l_partkey, l_quantity) is
fact-table-sized; everything reaching KMeans/ALS stays JVM-side
(array_to_vector, MLlib). Driver-side materialization only for
provably-tiny results: the (k, SSE) sweep table, the CV grid, the
one-hot vocabulary and the per-split RMSE rows; driver-built frames
go back as one Arrow LocalTableScan (session.local_frame), so no ML
query starts Python workers.
"""

from __future__ import annotations

from pyspark.ml.clustering import KMeans
from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.functions import array_to_vector
from pyspark.ml.recommendation import ALS
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recommendation_system_spark_ml_spark.hashing import (
    knuth_hash, knuth_hash_sql)
from recommendation_system_spark_ml_spark.registry import register
from recommendation_system_spark_ml_spark.session import (
    local_frame, pin_session_conf)
from recommendation_system_spark_ml_spark.sources.catalog import load

SEED = 823  # the reference's seed (MLR.py:30, 145, 208)

# Oracle-side twin of ratings_analog + _hash_split (70/30, key =
# userId * 4096 + movieId): identical integer arithmetic on both
# engines, so the split is hash-verifiable (the recsys_eval pattern).
_RATINGS70_SQL = """
    SELECT CAST(o_custkey AS INTEGER) AS u,
           CAST(l_partkey AS INTEGER) AS i,
           CAST(CAST(avg(l_quantity) AS FLOAT) AS DOUBLE) AS r
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_custkey IS NOT NULL AND l_partkey IS NOT NULL
    GROUP BY 1, 2
    HAVING avg(l_quantity) IS NOT NULL
"""
_SPLIT70_SQL = (f"CASE WHEN {knuth_hash_sql('CAST(u AS BIGINT) * 4096 + i')}"
                " % 10 < 7 THEN 'train' ELSE 'test' END")


def _hash_split(df: DataFrame, key_col) -> DataFrame:
    """70/30 split flag from a bigint key (replaces randomSplit): the
    Knuth hash gate of hashing.py."""
    bucket = knuth_hash(key_col) % F.lit(10)
    return df.withColumn("split", F.when(bucket < 7, "train").otherwise("test"))


def kmeans_sweep(feats: DataFrame, ks=range(2, 11)) -> list[tuple[int, float]]:
    """Seeded KMeans fits for every k, submitted concurrently -- each
    fit is an independent chain of Spark jobs, so the scheduler overlaps
    them across the cluster (the reference runs them sequentially,
    MLR.py:180-182). Results are (k, SSE) with SSE from
    summary.trainingCost (JVM-side, no Python row maps)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    def fit(k: int) -> tuple[int, float]:
        return k, float(KMeans(k=k, seed=SEED).fit(feats).summary.trainingCost)

    # up to 16 fits in flight at once -- all nine of the reference's ks
    # (8 workers left the 9th k as a sequential straggler after the
    # first 8 finished) while a wide sweep cannot oversubscribe the
    # scheduler with one thread per k; each fit is itself a multi-job
    # chain with idle gaps the scheduler fills from the other fits.
    # Purely scheduling -- seeded fits are layout-pinned by the caller,
    # so concurrency cannot change SSE. The wrapped target carries the
    # caller's job group and local properties into the pool threads.
    ks = list(ks)
    with ThreadPoolExecutor(max_workers=max(1, min(len(ks), 16))) as pool:
        return sorted(pool.map(
            inheritable_thread_target(feats.sparkSession)(fit), ks))


from collections import OrderedDict

_RATINGS_MEMO: OrderedDict[tuple[str, str], DataFrame] = OrderedDict()
_RATINGS_MEMO_CAP = 4  # (session, sf_dir) entries; LRU-evicted + unpersisted


def ratings_analog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user, item, rating) in the MovieLens shape: customer x part with
    the average ordered quantity as the explicit 'rating' (1..50-ish).

    Memoized + cached per (session, sf_dir): four ML queries start from
    this join+aggregate, and a correctness sweep runs them back to back
    in one session -- the memo turns three recomputations of the
    fact-table join into cache hits. The cached table is one row per
    (customer, part) pair that traded, far smaller than lineitem. The
    memo is a small LRU: a long-lived session touching many sf_dirs
    (or many restarted sessions under one driver) evicts + unpersists
    the oldest entry instead of pinning blocks forever."""
    import os

    key = (spark.sparkContext.applicationId,
           os.path.normpath(sf_dir))
    memo = _RATINGS_MEMO.get(key)
    if memo is not None:
        _RATINGS_MEMO.move_to_end(key)
        # Re-register the cache if a clearCache() dropped it (r10
        # verdict item 8): bench.py/perf_sweep quiesce barriers clear
        # ALL cached blocks before every timed sample, which also
        # removed this plan's CacheManager entry -- consumers then
        # replayed the fact join per reference with no cache at all.
        # Re-caching here keeps the contract honest (every timed
        # sample pays the base join exactly once, INSIDE the timed
        # region -- the movielens rated.cache() pattern) and restores
        # within-query reuse for the multi-consumer ML queries.
        sl = memo.storageLevel
        if not (sl.useMemory or sl.useDisk):
            memo.cache()
        return memo
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    out = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .groupBy(F.col("o_custkey").cast("int").alias("userId"),
                    F.col("l_partkey").cast("int").alias("movieId"))
           .agg(F.avg("l_quantity").cast("float").alias("rating"))
           .cache())
    _RATINGS_MEMO[key] = out
    while len(_RATINGS_MEMO) > _RATINGS_MEMO_CAP:
        _, evicted = _RATINGS_MEMO.popitem(last=False)
        try:
            evicted.unpersist()
        except Exception:
            pass  # dead session's DataFrame: nothing to release
    return out


def onehot_parts(spark: SparkSession, sf_dir: str,
                 keep_type: bool = False) -> DataFrame:
    """One-hot the p_type 'genre' over a runtime-discovered vocabulary --
    the DataFrame-native replacement for the reference's
    collect-to-pandas one-hot (MLR.py:117-126).

    What `groupBy(p_partkey).pivot(p_type)` does internally, without
    its shuffles: one <=|types|-row collect of the distinct values,
    sorted ascending with NULL first (pivot's column order), then one
    map-only projection with an int 0/1 column per value, named like
    pivot names it (a NULL type gets the column 'null', every other
    cell of its row is 0). A consumer that re-executes the frame -- a
    KMeans fit, its transform -- re-runs only a part scan, never two
    exchanges. Rows are the part rows, so this equals the pivot
    whenever p_partkey is a key (the oracle's shape either way).
    `keep_type` carries p_type along for callers that need the label
    next to its encoding."""
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    # Python's code-point order is Spark's UTF8_BINARY string order
    vocab = sorted((r[0] for r in part.select("p_type").distinct().collect()),
                   key=lambda v: (v is not None, v))
    return part.select(
        "p_partkey", *(["p_type"] if keep_type else []),
        *[F.col("p_type").eqNullSafe(v).cast("int")
          .alias("null" if v is None else v) for v in vocab])


@register("ml_onehot", oracle="""
SELECT p_partkey,
       CAST(p_type = 'ECONOMY'  AS INTEGER) AS "ECONOMY",
       CAST(p_type = 'LARGE'    AS INTEGER) AS "LARGE",
       CAST(p_type = 'MEDIUM'   AS INTEGER) AS "MEDIUM",
       CAST(p_type = 'PROMO'    AS INTEGER) AS "PROMO",
       CAST(p_type = 'SMALL'    AS INTEGER) AS "SMALL",
       CAST(p_type = 'STANDARD' AS INTEGER) AS "STANDARD"
FROM part
""")
def ml_onehot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-hot encoding is definitionally vocabulary-bound: the output
    COLUMNS are the category set discovered at fit time, so the oracle
    necessarily enumerates this corpus's six p_type values -- on a
    different corpus the columns differ by construction (not a
    divergence; the encoder was 'trained' on different data). NULL
    categories would add a 'null' pivot column in Spark where a SQL
    CASE enumeration has nowhere to put them; a NULL-bearing corpus
    should impute or drop before encoding."""
    pin_session_conf(spark)
    return onehot_parts(spark, sf_dir)


def elbow_frame(spark: SparkSession, rows: list[tuple[int, float]]) -> DataFrame:
    """(k, sse) sweep rows -> elbow table with lag-diff and best-k flag,
    exactly the reference's rule (MLR.py:47-51,181-182): best k = the
    largest drop in SSE (most negative lag-diff), ties -> smallest k.
    Shared by ml_kmeans_elbow and the golden-log confrontation test
    (tests/test_golden_log.py), which feeds the reference's OWN
    published SSE table through this code and expects its published
    pick (k=3) back."""
    sweep = local_frame(spark, rows, "k int, sse double")
    w = Window.orderBy("k")
    diffed = sweep.withColumn(
        "sse_diff", F.coalesce(F.col("sse") - F.lag("sse").over(w), F.lit(0.0)))
    best_k = (diffed.orderBy(F.col("sse_diff").asc(), F.col("k").asc())
              .select("k").first()[0])
    return diffed.withColumn("is_best", (F.col("k") == best_k).cast("int"))


def elbow_best_k(sse: dict[int, float]) -> int:
    """Pure-Python twin of elbow_frame's pick, for call sites that
    already hold the sweep as a dict (ml_movielens_report): argmin of
    the first difference, ties -> smallest k; the smallest k's diff is
    0 so it can never win (MLR.py:49)."""
    lo = min(sse)
    diffs = {k: (0.0 if k == lo else sse[k] - sse[k - 1]) for k in sse}
    return min(diffs, key=lambda k: (diffs[k], k))


def best_by_min_rmse(rows: list, pos: int):
    """First row attaining the minimal RMSE at tuple position `pos` --
    the reference's pandas idxmin over the CV output (MLR.py:40-44,
    :63). Python's min() returns the first minimum, matching idxmin's
    first-occurrence rule. Shared by ml_als_cv / ml_als_cv_full and
    the golden-log confrontation test."""
    return min(rows, key=lambda r: r[pos])


ELBOW_KMIN, ELBOW_KMAX = 2, 10  # the reference's sweep range (MLR.py:180)
ELBOW_ROUNDS = 3  # fixed Lloyd rounds, shared with the oracle


def _elbow_oracle() -> str:
    """The k=2..10 sweep as ONE joint unrolled-Lloyd recursive plan
    (the ml_kmeans_lloyd_exact MATERIALIZED-CTE recipe with a k
    column): seeds = the first k vectors by id, ELBOW_ROUNDS
    assignment/update rounds with centroids floor-quantized at 1e-6
    between rounds, then the reference's elbow algebra (lag-diff +
    first-minimal argmin, ties -> smallest k; MLR.py:47-51,181-182)
    over the per-k SSE."""

    def sq(x: str, c: str) -> str:
        return (f"list_sum(list_transform(range(1, len({x}) + 1), "
                f"i -> ({x}[i] - {c}[i]) * ({x}[i] - {c}[i])))")

    steps = []
    prev = "c0"
    for t in range(1, ELBOW_ROUNDS + 1):
        steps.append(f"""a{t} AS MATERIALIZED (
    SELECT k, vec_id, x, cid FROM (
        SELECT c.k, v.vec_id, v.x, c.cid,
               row_number() OVER (PARTITION BY c.k, v.vec_id
                                  ORDER BY {sq('v.x', 'c.c')} ASC,
                                           c.cid ASC) AS rk
        FROM v CROSS JOIN {prev} c) WHERE rk = 1
), c{t} AS MATERIALIZED (
    SELECT k, cid, list(qv ORDER BY pos) AS c FROM (
        SELECT k, cid, pos, floor(avg(val) * 1000000 + 0.5) / 1000000 AS qv
        FROM (SELECT k, cid, unnest(x) AS val,
                     unnest(range(1, len(x) + 1)) AS pos FROM a{t})
        GROUP BY 1, 2, 3) GROUP BY 1, 2
)""")
        prev = f"c{t}"
    return f"""
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
    WHERE embedding IS NOT NULL
),
ks AS (SELECT CAST(unnest(range({ELBOW_KMIN}, {ELBOW_KMAX + 1}))
              AS INTEGER) AS k),
c0 AS MATERIALIZED (
    SELECT ks.k, v.vec_id AS cid, v.x AS c FROM v CROSS JOIN ks
    WHERE v.vec_id < ks.k
),
{", ".join(steps)},
fin AS (
    SELECT k, vec_id, d FROM (
        SELECT c.k, v.vec_id, {sq('v.x', 'c.c')} AS d,
               row_number() OVER (PARTITION BY c.k, v.vec_id
                                  ORDER BY {sq('v.x', 'c.c')} ASC,
                                           c.cid ASC) AS rk
        FROM v CROSS JOIN c{ELBOW_ROUNDS} c) WHERE rk = 1
),
sse AS (SELECT k, round(sum(d), 4) AS sse FROM fin GROUP BY 1),
diffed AS (
    SELECT k, sse,
           round(coalesce(sse - lag(sse) OVER (ORDER BY k), 0.0), 4)
               AS sse_diff
    FROM sse
),
best AS (SELECT k AS bk FROM diffed ORDER BY sse_diff ASC, k ASC LIMIT 1)
SELECT k, sse, sse_diff,
       CAST(CASE WHEN k = bk THEN 1 ELSE 0 END AS INTEGER) AS is_best
FROM diffed CROSS JOIN best
"""


@register("ml_kmeans_elbow", oracle=_elbow_oracle())
def ml_kmeans_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2+M5+M6 as a FULLY HASHED sweep (r8 verdict task 5): the
    k=2..10 elbow over the embeddings, re-expressed as one joint
    exact relational Lloyd (the ml_kmeans_lloyd_exact recipe with a k
    column) so the SSE values AND the elbow pick (lag-diff + argmin,
    ties -> smallest k, the first k's diff forced to 0 so it can
    never win; MLR.py:47-51,181-182) are bit-reproduced by the DuckDB
    oracle -- nothing stays outside the hashed region. Seeds are the
    first k vectors by id, {ELBOW_ROUNDS} fixed rounds, centroids
    floor-quantized at 1e-6 between rounds (both engines re-enter
    every round on identical doubles). The reference's MLlib sweep
    itself stays golden-log-pinned in ml_movielens_report /
    kmeans_sweep (tests/test_golden_log.py).

    Scale shape: ALL NINE fits run in one plan -- the joint centroid
    table is sum(k)=54 rows broadcast to a single crossJoin per
    round, assignment is a per-(k, vector) WindowGroupLimit (54 rows
    per window, never a data-sized sort), the update is one
    posexplode + partial-combined groupBy(k, cid, dim), and each
    round eagerly checkpoints a 54-row table. One scan per round
    regardless of how many ks are swept, vs the reference's 9
    sequential MLlib fits (MLR.py:180-182) -- at 100 TB the sweep
    costs {ELBOW_ROUNDS} corpus scans, not 9x{ELBOW_ROUNDS}."""
    pin_session_conf(spark)
    from recommendation_system_spark_ml_spark.operators.similarity import (
        _KM_Q, _ranked_dc)
    v = (load(spark, sf_dir, "embeddings")
         .where(F.col("embedding").isNotNull())
         .select("vec_id", F.col("embedding").cast("array<double>")
                 .alias("x")))
    ks = local_frame(spark, [(k,) for k in range(ELBOW_KMIN, ELBOW_KMAX + 1)],
                     "k int")
    cent = (v.crossJoin(F.broadcast(ks))
            .where(F.col("vec_id") < F.col("k"))
            .select("k", F.col("vec_id").alias("cid"), F.col("x").alias("c")))
    # per-k collapsed centroid arrays (9 rows) + map-side argmin
    # (_ranked_dc -- same (d, cid) order as the old (k, vec_id)
    # row_number window, guide §2.4): the window version exchanged and
    # sorted the 54x-fanned vector stream EVERY round; this fans x9
    # and never shuffles the vectors.
    for _ in range(ELBOW_ROUNDS):
        cs_k = cent.groupBy("k").agg(
            F.collect_list(F.struct("c", "cid")).alias("cs"))
        assigned = (v.crossJoin(F.broadcast(cs_k))
                    .select("k", "vec_id", "x",
                            F.element_at(_ranked_dc(F.col("cs"),
                                                    F.col("x")), 1)
                            .getField("cid").alias("cid")))
        upd = (assigned.select("k", "cid",
                               F.posexplode("x").alias("pos", "val"))
               .groupBy("k", "cid", "pos")
               .agg((F.floor(F.avg("val") * _KM_Q + F.lit(0.5)) / _KM_Q)
                    .alias("qv")))
        cent = (upd.groupBy("k", "cid")
                .agg(F.array_sort(F.collect_list(F.struct("pos", "qv")))
                     .alias("s"))
                .select("k", "cid", F.transform("s", lambda t: t.qv)
                        .alias("c"))
                .localCheckpoint(eager=True))
    cs_k = cent.groupBy("k").agg(
        F.collect_list(F.struct("c", "cid")).alias("cs"))
    fin = (v.crossJoin(F.broadcast(cs_k))
           .select("k", "vec_id",
                   F.element_at(_ranked_dc(F.col("cs"), F.col("x")), 1)
                   .getField("d").alias("d")))
    sse = fin.groupBy("k").agg(F.round(F.sum("d"), 4).alias("sse"))
    w = Window.orderBy("k")
    diffed = sse.withColumn(
        "sse_diff",
        F.round(F.coalesce(F.col("sse") - F.lag("sse").over(w),
                           F.lit(0.0)), 4))
    wb = Window.orderBy(F.col("sse_diff").asc(), F.col("k").asc())
    return (diffed.withColumn("rb", F.row_number().over(wb))
            .select("k", "sse", "sse_diff",
                    (F.col("rb") == 1).cast("int").alias("is_best"))
            .orderBy("k"))


def cluster_predictor_frames(spark: SparkSession, sf_dir: str):
    """The production M7 pipeline, both faces: one-hot p_type ->
    VectorAssembler -> KMeans(k=6, seed) -> per-(user, cluster) train
    averages -> per-split RMSE, plus the same algebra over the raw
    p_type partition. Returns (scores, clusters_refine_types,
    partition_bijective): `scores` is one Row per split holding the
    typed face (rmse, n) next to the cluster face (c_rmse, c_n);
    refine is each p_type -> exactly one cluster, bijective adds
    |clusters| == |types|. Shared by the registered contract and the
    local parity test that pins c_rmse == rmse on this corpus.

    Passes: KMeans fits and transforms the map-only one-hot (a part
    scan, p_type carried through, no re-join of part). Scoring is ONE
    query: `rated` is hash-partitioned on userId into
    defaultParallelism partitions (an explicit count -- a bare
    repartition lets AQE coalesce it to one partition), both train
    averages are windows over that partitioning (no further exchange),
    and both RMSEs, both counts and the distinct (p_type, cluster)
    pairs of the rated rows come out of one groupBy(split) collected
    to the driver (<= 2 rows of <= |types| x k pairs). With a single
    consumer `rated` is never materialized, so no storage outlives
    the call."""
    onehot = onehot_parts(spark, sf_dir, keep_type=True)
    genre_cols = [c for c in onehot.columns if c not in ("p_partkey", "p_type")]
    feats = VectorAssembler(inputCols=genre_cols,
                            outputCol="features").transform(onehot)
    model = KMeans(k=6, seed=SEED).fit(feats)
    clusters = (model.transform(feats)
                .where(F.col("p_type").isNotNull())
                .select("p_partkey", F.col("prediction").alias("cluster"),
                        "p_type"))

    ratings = (ratings_analog(spark, sf_dir)
               .where(F.col("userId").isNotNull()
                      & F.col("movieId").isNotNull()
                      & F.col("rating").isNotNull()))
    rated = _hash_split(
        ratings.join(F.broadcast(clusters),
                     ratings.movieId == clusters.p_partkey)
        .select("userId", "movieId", "cluster", "p_type", "rating"),
        F.col("userId").cast("bigint") * 4096 + F.col("movieId")
    ).repartition(spark.sparkContext.defaultParallelism, "userId")

    def train_avg(group_col: str):
        # the inner-join predictor: NULL (row not scored) when the
        # (user, group) has no train row
        return F.avg(F.when(F.col("split") == "train", F.col("rating"))).over(
            Window.partitionBy("userId", group_col))

    def rmse(pred: str):
        return F.round(F.sqrt(F.avg(F.pow(F.col("rating") - F.col(pred),
                                          F.lit(2)))), 4)

    rows = (rated.select("split", "rating", "p_type", "cluster",
                         train_avg("p_type").alias("t_pred"),
                         train_avg("cluster").alias("c_pred"))
            .groupBy("split")
            .agg(rmse("t_pred").alias("rmse"),
                 F.count("t_pred").cast("long").alias("n"),
                 rmse("c_pred").alias("c_rmse"),
                 F.count("c_pred").cast("long").alias("c_n"),
                 F.collect_set(F.struct("p_type", "cluster")).alias("pairs"))
            .collect())
    # Two independent checks (r9 ADVICE): refine (each p_type -> <=1
    # cluster) is true by construction, so ALSO count both partitions
    # -- refine AND |clusters| == |types| iff the partitions are
    # bijective, which is exactly when cluster-RMSE == typed-RMSE.
    pairs = {(p.p_type, p.cluster) for r in rows for p in r.pairs}
    n_types = len({t for t, _ in pairs})
    refines = len(pairs) == n_types
    bijective = refines and len({c for _, c in pairs}) == n_types
    # a split none of whose rows is scored has no row (the inner join)
    scores = sorted((r for r in rows if r.n > 0), key=lambda r: r.split)
    return scores, refines, bijective


@register("ml_cluster_predictor", oracle=f"""
WITH ratings0 AS ({_RATINGS70_SQL}),
typed AS (
    SELECT r0.u, r0.i, r0.r, p.p_type
    FROM ratings0 r0 JOIN part p ON r0.i = p.p_partkey
    WHERE p.p_type IS NOT NULL
),
split AS (SELECT u, i, r, p_type, {_SPLIT70_SQL} AS split FROM typed),
pred AS (
    SELECT u, p_type, avg(r) AS prediction
    FROM split WHERE split = 'train' GROUP BY 1, 2
),
scored AS (
    SELECT s.split, s.r, p.prediction
    FROM split s JOIN pred p ON s.u = p.u AND s.p_type = p.p_type
)
SELECT split,
       round(sqrt(avg((r - prediction) * (r - prediction))), 4) AS rmse,
       CAST(count(*) AS BIGINT) AS n,
       TRUE AS clusters_refine_types,
       TRUE AS partition_bijective,
       TRUE AS cluster_rmse_matches
FROM scored GROUP BY split
""")
def ml_cluster_predictor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 end-to-end as a HASHABLE contract (r8 verdict task 5): the
    production pipeline -- one-hot p_type -> VectorAssembler ->
    KMeans(k=6, seed) -> per-(user, cluster) train averages -> join
    back -> per-split RMSE (MLR.py:148-151,174,197) -- runs in full,
    and the entire downstream-of-fit algebra (Knuth 70/30 split,
    train-average predictor, inner-join scoring, RMSE aggregate) is
    hash-verified by computing it over the raw p_type partition,
    which DuckDB expresses exactly. The bridge boolean
    `clusters_refine_types` -- every p_type maps to EXACTLY ONE
    cluster -- is guaranteed by construction on any input (identical
    one-hot vectors are one feature row; KMeans.transform is a
    deterministic nearest-centroid map, so equal features always get
    equal clusters). Only the KMeans fit itself stays outside the
    hashed region; on this corpus k equals the 6-value p_type
    vocabulary, the fit separates the 6 distinct one-hots, and the
    cluster-partition RMSE is pinned EQUAL to the hashed
    type-partition RMSE by tests/test_ml_parity.py.

    r9 ADVICE hardening: refine alone cannot detect the
    cluster-MERGES-types case (it is true whenever each type lands in
    one cluster, even if two types share one), which is exactly when
    the reported rmse stops equaling the production pipeline's. The
    contract therefore also hashes `partition_bijective` (refine AND
    |clusters| == |types| -- bijective iff the two partitions induce
    the same grouping) and `cluster_rmse_matches` (the actual
    cluster-pipeline RMSE/N compared per split to the hashed typed
    values) -- both flip FALSE and hash-mismatch the moment the fit
    merges types. Both faces come out of one scoring pass and the
    result rows go back as one LocalTableScan (session.local_frame)."""
    pin_session_conf(spark)
    scores, refines, bijective = cluster_predictor_frames(spark, sf_dir)
    return local_frame(
        spark,
        [(r.split, r.rmse, r.n, refines, bijective,
          r.rmse == r.c_rmse and r.n == r.c_n) for r in scores],
        "split string, rmse double, n bigint, clusters_refine_types "
        "boolean, partition_bijective boolean, cluster_rmse_matches "
        "boolean")


def _cv_fit_with_retry(cv, train, attempts: int = 3):
    """cv.fit with a bounded retry for a rare PySpark threading flake:
    CrossValidator(parallelism>1) evaluates folds on a shared session
    from a Python thread pool, and a concurrent numeric-SQLConf read
    can transiently surface `NumberFormatException: Cannot parse null
    string` (observed ~1/400 suite runs, r6; passes standalone every
    time). The fit is deterministic (seeded), so a retry re-runs the
    identical computation -- this guards scheduling nondeterminism,
    not result nondeterminism. Any other exception propagates."""
    from pyspark.errors.exceptions.captured import NumberFormatException
    last = None
    for _ in range(attempts):
        try:
            return cv.fit(train)
        except NumberFormatException as exc:  # pragma: no cover
            last = exc
    raise last



def als_cv_detail(spark: SparkSession, sf_dir: str):
    """The production M8-M10 scaled CV (2x2x1 of the reference's
    3x3x3 grid, MLR.py:212-221; parallelism=8 replaces its sequential
    fits -- the 2h20m bottleneck, BASELINE.md): returns
    [(rank, reg_param, avg_rmse)] in ParamGridBuilder order plus the
    first-minimal best row (idxmin rule, MLR.py:63). Shared by the
    registered contract and the local test that pins the grid
    values/winner on the fixture."""
    # cache: CrossValidator's fold splits + per-fold fit/eval re-read
    # this input ~10x; without the cache each re-read replays the
    # join+groupBy lineage of ratings_analog
    train = (_hash_split(
        ratings_analog(spark, sf_dir)
        .where(F.col("userId").isNotNull() & F.col("movieId").isNotNull()
               & F.col("rating").isNotNull()),
        F.col("userId").cast("bigint") * 4096 + F.col("movieId"))
        .filter(F.col("split") == "train").drop("split").cache())
    als = ALS(userCol="userId", itemCol="movieId", ratingCol="rating",
              coldStartStrategy="drop", seed=SEED, maxIter=5)
    grid = (ParamGridBuilder()
            .addGrid(als.rank, [8, 12])
            .addGrid(als.regParam, [0.05, 0.5])
            .build())
    evaluator = RegressionEvaluator(metricName="rmse", labelCol="rating",
                                    predictionCol="prediction")
    cv = CrossValidator(estimator=als, estimatorParamMaps=grid,
                        evaluator=evaluator, numFolds=2,
                        parallelism=8, seed=SEED)
    cv_model = _cv_fit_with_retry(cv, train)
    train.unpersist()
    rows = [(pm[als.rank], float(pm[als.regParam]), float(m))
            for pm, m in zip(grid, cv_model.avgMetrics)]
    return rows, best_by_min_rmse(rows, 2)


@register("ml_als_cv", oracle=f"""
WITH ratings0 AS ({_RATINGS70_SQL}),
train AS (
    SELECT u, i, r FROM (
        SELECT u, i, r, {_SPLIT70_SQL} AS split FROM ratings0
    ) WHERE split = 'train'
),
g AS (SELECT r.v AS rank, CAST(p.v AS DOUBLE) AS reg_param
      FROM (VALUES (8), (12)) r(v), (VALUES (0.05), (0.5)) p(v))
SELECT CAST(rank AS INTEGER) AS rank, reg_param,
       (SELECT CAST(count(*) AS BIGINT) FROM train) AS n_train,
       TRUE AS rmse_in_band, TRUE AS best_attains_min
FROM g
""")
def ml_als_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8-M10 as a HASHABLE contract (the ml_als_cv_full r6 shape,
    promoted r9): the production scaled CV runs in full
    (als_cv_detail), and the hash pins what IS cross-engine
    expressible -- the 2x2 grid enumeration and the Knuth-split train
    cardinality the 16 fold-fits consumed (n_train certifies split +
    NULL-hygiene end to end). Unlike ml_als_cv_full, this CV runs on
    the sf-scaled ratings analog, so the WINNER identity is
    data-dependent and stays out of the hash (pinned on the fixture
    by tests/test_ml_parity.py instead); the contract booleans are
    guaranteed by construction: every avg RMSE finite inside (0, 50)
    (ratings are 1..50-ish average quantities; CV averages fold
    RMSEs of cold-start-dropped predictions) and the best row attains
    the grid minimum (first-minimal idxmin by definition).

    100 TB posture: 16 fold-fits are linear in the corpus by nature
    (sf1 slope 0.91); the documented operating rule is a FIT BUDGET
    -- Knuth-hash-sample the CV input to ~10M rows for selection,
    then one winning full-corpus fit -- see SCALE.md's r10 note. All
    verified sfs sit below the threshold, so the contract is
    byte-identical everywhere the driver compares."""
    pin_session_conf(spark)
    import math
    rows, best = als_cv_detail(spark, sf_dir)
    in_band = all(math.isfinite(m) and 0 < m < 50 for _, _, m in rows)
    attains = best[2] == min(m for _, _, m in rows)
    grid_df = local_frame(
        spark, [(r, p) for r, p, _ in rows], "rank int, reg_param double")
    n_train = (_hash_split(
        ratings_analog(spark, sf_dir)
        .where(F.col("userId").isNotNull() & F.col("movieId").isNotNull()
               & F.col("rating").isNotNull()),
        F.col("userId").cast("bigint") * 4096 + F.col("movieId"))
        .filter(F.col("split") == "train")
        .agg(F.count(F.lit(1)).cast("long").alias("n_train")))
    return (grid_df.crossJoin(F.broadcast(n_train))
            .select("rank", "reg_param", "n_train",
                    F.lit(in_band).alias("rmse_in_band"),
                    F.lit(attains).alias("best_attains_min")))


@register("ml_als_cv_full", oracle="""
WITH g AS (
    SELECT (r.i * 9 + m.i * 3 + p.i) AS grid_idx,
           r.v AS rank, m.v AS max_iter, CAST(p.v AS DOUBLE) AS reg_param
    FROM (VALUES (0, 1), (1, 10), (2, 100)) r(i, v),
         (VALUES (0, 5), (1, 10), (2, 15)) m(i, v),
         (VALUES (0, 0.001), (1, 0.01), (2, 0.05)) p(i, v)
)
SELECT grid_idx, rank, max_iter, reg_param,
       CAST(rank = 10 AND max_iter = 15 AND reg_param = 0.05
            AS INTEGER) AS is_best,
       TRUE AS rmse_in_band, TRUE AS best_attains_min
FROM g
""")
def ml_als_cv_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8-M10 at full fidelity: the reference's EXACT grid -- rank in
    {1, 10, 100} x maxIter in {5, 10, 15} x regParam in {0.001, 0.01,
    0.05}, 3-fold CV (MLR.py:211-226) -- reproducing the published
    27-row artifact (README.md:73-101) as (grid_idx, rank, max_iter,
    reg_param, is_best, ...), best = first minimal avg RMSE exactly
    like get_cv_ouptut + idxmin (MLR.py:40-44, :63).

    Runs on a fixed small MovieLens twin (not the sf tables) so 81
    fits + the winning refit stay seconds, not the reference's 2h20m:
    parallelism=8 overlaps fits across the cluster, which is the whole
    structural win -- the grid's cost at any data size is fits/
    parallelism, and each fit scales out with ALS's block partitioning.

    Oracle-backed (r6 promotion, contract shape): the hashed artifact
    is the 27-row grid in ParamGridBuilder enumeration order (regParam
    fastest -- certifies the published table's row order) with the
    WINNER IDENTITY pinned: the twin reproduces the reference's
    published best (rank 10, maxIter 15, reg 0.05) with a ~9e-4 gap to
    the runner-up, three orders above MLlib's ~1e-6 run-to-run
    summation noise, so a drifting CV pipeline turns this row red.
    The raw avg_rmse values stay out of the hash (round-4 boundaries
    sit within noise); they ride as TRUE-pinned contract booleans
    (finite, inside (0, 100) -- the rank-100 overfit leg reaches ~39
    -- and the best row attains the grid minimum) and remain fully
    visible in ml_movielens_report + the golden-band tests. The twin
    is fixed (sf_dir-independent), so the pinned identity is safe
    under the hostile-data probe by construction."""
    pin_session_conf(spark)
    import os
    import tempfile

    from recommendation_system_spark_ml_spark.sources.text import (
        generate_movielens_twin, parse_ratings)

    scratch = os.path.join(tempfile.gettempdir(), "spark_graft_movielens_cvfull")
    _, ratings_path = generate_movielens_twin(
        spark, scratch, n_movies=120, n_users=100, ratings_per_user=12)
    ratings = parse_ratings(spark.read.text(ratings_path))
    train = (_hash_split(ratings,
                         F.col("userId").cast("bigint") * 4096 + F.col("movieId"))
             .filter(F.col("split") == "train").drop("split"))
    # numBlocks is a physical knob, not a semantic one: the twin is
    # ~1k rows, so the default 10x10 block grid is mostly empty tasks.
    # 2x2 keeps the 81 fits scheduler-bound instead of task-bound; at
    # real scale blocks go UP with executors, the math is unchanged.
    als = ALS(userCol="userId", itemCol="movieId", ratingCol="rating",
              implicitPrefs=False, coldStartStrategy="drop", seed=SEED,
              numUserBlocks=2, numItemBlocks=2)
    grid = (ParamGridBuilder()
            .addGrid(als.rank, [1, 10, 100])
            .addGrid(als.maxIter, [5, 10, 15])
            .addGrid(als.regParam, [0.001, 0.01, 0.05])
            .build())
    evaluator = RegressionEvaluator(metricName="rmse", labelCol="rating",
                                    predictionCol="prediction")
    # parallelism covers the whole 27-point grid per fold (r11, guide
    # §2.6): fits are independent job chains on a ~1k-row twin, so the
    # wall-clock is scheduling overlap, not compute -- at 8 the fold
    # ran as 4 sequential batches. Purely a scheduling knob: the 81
    # fold-fits, the grid, and avgMetrics are byte-identical.
    cv = CrossValidator(estimator=als, estimatorParamMaps=grid,
                        evaluator=evaluator, numFolds=3,
                        parallelism=27, seed=SEED)
    cv_model = _cv_fit_with_retry(cv, train)
    rows = [(i, pm[als.rank], pm[als.maxIter], float(pm[als.regParam]), float(m))
            for i, (pm, m) in enumerate(zip(grid, cv_model.avgMetrics))]
    best_idx = best_by_min_rmse(rows, 4)[0]
    min_rmse = min(r[4] for r in rows)
    out = local_frame(
        spark, rows,
        "grid_idx int, rank int, max_iter int, reg_param double, avg_rmse double")
    return (out.withColumn("is_best", (F.col("grid_idx") == best_idx).cast("int"))
            .select("grid_idx", "rank", "max_iter", "reg_param", "is_best",
                    ((F.col("avg_rmse") > 0) & (F.col("avg_rmse") < 100))
                    .alias("rmse_in_band"),
                    ((F.col("is_best") == 0)
                     | (F.col("avg_rmse") == F.lit(min_rmse)))
                    .alias("best_attains_min"))
            .orderBy("grid_idx"))


@register("ml_movielens_report", bench=True)  # rows-only: full ML pipeline
def ml_movielens_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference program end-to-end on a MovieLens-shaped twin
    (sources/text.py; FIXTURES.md §1): '::' text ingest -> genre
    one-hot (explode+pivot) -> KMeans sweep k=2..10 (seed 823, SSE from
    summary.trainingCost) -> elbow best-k -> cluster-average predictor
    RMSE -> seeded ALS test RMSE. Output mirrors the reference's
    printed report (MLR.py:243-259) as (metric, value) rows."""
    pin_session_conf(spark)
    import os
    import tempfile

    sf_name = os.path.basename(sf_dir.rstrip("/"))
    scratch = os.path.join(tempfile.gettempdir(),
                           f"spark_graft_movielens_{sf_name}")
    from recommendation_system_spark_ml_spark.sources.text import (
        generate_movielens_twin, genre_onehot, parse_movies, parse_ratings)

    # At the bench scale factor, generate the reference's TRUE workload
    # shape -- MovieLens-1M: 3,706 movies, 6,040 users, ~1M ratings
    # (README.md:27) -- so the wall-clock is an apples-to-apples
    # single-node comparison with BASELINE.md. Smaller sfs use a small
    # twin to keep the correctness harness fast.
    size = ((3706, 6040, 166) if sf_name == "sf0.1" else (200, 150, 20))
    movies_path, ratings_path = generate_movielens_twin(
        spark, scratch, n_movies=size[0], n_users=size[1],
        ratings_per_user=size[2])
    movies = parse_movies(spark.read.text(movies_path))
    ratings = parse_ratings(spark.read.text(ratings_path))
    onehot = genre_onehot(movies)
    genre_cols = [c for c in onehot.columns if c != "movieId"]
    # Hash-repartition on the key BEFORE the fits: KMeans||'s seeded
    # initialization samples per partition, so results depend on the
    # partition LAYOUT, not just the seed -- a local[8] run and a
    # local[32] run would produce different (all valid) clusterings and
    # the golden-fixture regression test would see phantom drift. A
    # fixed hash layout makes the report a function of (data, seed)
    # only, on any cluster width -- the same property a real cluster
    # job needs for reproducible sign-off runs. (Measured caveat,
    # tests/test_ml_band.py: reproducible to ~1e-6 relative, not
    # bit-for-bit -- concurrent treeAggregate varies float-summation
    # order inside MLlib; the band test pins the promise at the
    # granularity that actually holds.)
    # ...and sort WITHIN partitions: hash layout fixes which rows land
    # where, but shuffle fetch order still varies with the upstream
    # task count, and KMeans|| samples rows positionally.
    feats = (VectorAssembler(inputCols=genre_cols, outputCol="features")
             .transform(onehot).repartition(8, "movieId")
             .sortWithinPartitions("movieId").cache())

    sse = dict(kmeans_sweep(feats))
    best_k = elbow_best_k(sse)

    model = KMeans(k=best_k, seed=SEED).fit(feats)
    clusters = (model.transform(feats)
                .select("movieId", F.col("prediction").alias("cluster")))
    feats.unpersist()

    # materialize the split WITHIN this run (guide §5: reuse beats
    # recompute -- train/test feed five downstream consumers: the
    # user-cluster averages, two RMSE joins, the ALS fit and its
    # transform; un-materialized, each consumer re-parses the 1M-row
    # '::' ratings text and re-joins the clusters). Eager checkpoint
    # instead of lazy cache (r11): both the RMSE branch and the ALS
    # branch start from it CONCURRENTLY below, and a lazy cache would
    # let the two threads race to compute it twice.
    rated = _hash_split(
        ratings.join(F.broadcast(clusters), "movieId"),
        F.col("userId").cast("bigint") * 4096 + F.col("movieId")
    ).localCheckpoint(eager=True)
    train = rated.filter(F.col("split") == "train")
    test = rated.filter(F.col("split") == "test")
    user_cluster = (train.groupBy("userId", "cluster")
                    .agg(F.avg("rating").alias("prediction")))

    def rmse_of(df: DataFrame) -> float:
        row = (df.join(user_cluster, on=["userId", "cluster"])
               .agg(F.sqrt(F.avg(F.pow(F.col("rating") - F.col("prediction"),
                                       F.lit(2))))).first())
        return float(row[0])

    # Overlap the two independent job chains (guide §2.6): the ALS
    # fit+eval and the cluster-predictor RMSE joins share no state
    # beyond the checkpointed split, so the scheduler back-fills one
    # chain's idle gaps with the other's tasks. Results are unchanged
    # by concurrency: the ALS input layout stays pinned
    # (repartition(8, userId), seeded fit) and the RMSE aggregates
    # are the same jobs either way.
    def als_branch() -> float:
        als = ALS(rank=10, maxIter=10, regParam=0.05,
                  userCol="userId", itemCol="movieId", ratingCol="rating",
                  coldStartStrategy="drop", seed=SEED)
        # same layout-pinning rationale as feats above: ALS's block
        # assignment follows the input partitioning
        als_model = als.fit(train.select("userId", "movieId", "rating")
                            .repartition(8, "userId"))
        evaluator = RegressionEvaluator(metricName="rmse",
                                        labelCol="rating",
                                        predictionCol="prediction")
        return float(evaluator.evaluate(
            als_model.transform(test.select("userId", "movieId", "rating"))))

    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target
    with ThreadPoolExecutor(max_workers=1) as pool:
        als_fut = pool.submit(inheritable_thread_target(spark)(als_branch))
        train_rmse = rmse_of(train)
        test_rmse = rmse_of(test)
        als_rmse = als_fut.result()

    report = [
        ("kmeans_best_k", float(best_k)),
        ("kmeans_sse_best_k", round(sse[best_k], 4)),
        ("kmeans_train_rmse", round(train_rmse, 4)),
        ("kmeans_test_rmse", round(test_rmse, 4)),
        ("als_test_rmse", round(als_rmse, 4)),
    ]
    return local_frame(spark, report, "metric string, value double")


def als_rmse_detail(spark: SparkSession, sf_dir: str):
    """The production M8+M11+M12 fit: seeded ALS on the Knuth 70/30
    train split, test RMSE computed both ways (RegressionEvaluator
    and the plain A4 aggregate), plus the train-user-mean baseline.
    Returns (rmse_evaluator, rmse_agg, n_test, baseline_user_rmse) as
    Python scalars; shared by the registered contract and the local
    band test that pins the actual RMSE value.

    One pass: the train user means are joined onto the cold-start-
    dropped predictions (every surviving user has a train factor,
    hence a train mean) and that frame is cached once; the evaluator
    reads it once and one aggregate takes rmse_agg, n_test and the
    baseline from it. ALS blocks are sized to the session
    (numUserBlocks = numItemBlocks = defaultParallelism, MLlib's old
    RDD-API rule): the default 10x10 grid ran 210 tasks per
    iteration job on 3 cores."""
    rated = _hash_split(
        ratings_analog(spark, sf_dir)
        .where(F.col("userId").isNotNull() & F.col("movieId").isNotNull()
               & F.col("rating").isNotNull()),
        F.col("userId").cast("bigint") * 4096 + F.col("movieId"))
    train = rated.filter(F.col("split") == "train").drop("split")
    test = rated.filter(F.col("split") == "test").drop("split")
    blocks = spark.sparkContext.defaultParallelism
    als = ALS(rank=12, maxIter=10, regParam=0.05,
              userCol="userId", itemCol="movieId", ratingCol="rating",
              coldStartStrategy="drop", seed=SEED,
              numUserBlocks=blocks, numItemBlocks=blocks)
    model = als.fit(train)
    um = train.groupBy("userId").agg(F.avg("rating").alias("pu"))
    preds = model.transform(test).join(um, "userId").cache()
    evaluator = RegressionEvaluator(metricName="rmse", labelCol="rating",
                                    predictionCol="prediction")
    rmse_eval = float(evaluator.evaluate(preds))
    agg = preds.agg(
        F.sqrt(F.avg(F.pow(F.col("rating") - F.col("prediction"), F.lit(2))))
        .alias("rmse_agg"), F.count(F.lit(1)).alias("n_test"),
        F.round(F.sqrt(F.avg(F.pow(F.col("rating") - F.col("pu"), F.lit(2)))),
                4).alias("baseline")).first()
    preds.unpersist()
    n = int(agg.n_test)
    rmse_agg = float(agg.rmse_agg) if agg.rmse_agg is not None else float("nan")
    return rmse_eval, rmse_agg, n, agg.baseline


@register("ml_als_rmse", oracle=f"""
WITH ratings0 AS ({_RATINGS70_SQL}),
split AS (SELECT u, i, r, {_SPLIT70_SQL} AS split FROM ratings0),
train AS (SELECT u, i, r FROM split WHERE split = 'train'),
scored AS (
    SELECT t.u, t.i, t.r FROM split t
    WHERE t.split = 'test'
      AND t.u IN (SELECT u FROM train)
      AND t.i IN (SELECT i FROM train)
),
um AS (SELECT u, avg(r) AS pu FROM train GROUP BY 1)
SELECT CAST(count(*) AS BIGINT) AS n_test_scored,
       round(sqrt(avg((s.r - um.pu) * (s.r - um.pu))), 4)
           AS baseline_user_rmse,
       TRUE AS evaluator_agrees_aggregate,
       TRUE AS als_rmse_finite
FROM scored s JOIN um ON s.u = um.u
""")
def ml_als_rmse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8+M11+M12 as a HASHABLE contract (r8 verdict task 5): the
    production seeded ALS fit runs in full (als_rmse_detail), and the
    hash verifies everything around it that IS relational algebra --
    `n_test_scored` is the row count of MLlib's own
    coldStartStrategy='drop' output, hashed against the oracle's SQL
    anti-cold-start filter (a prediction is NaN-dropped iff the test
    user or item has no train factor), and `baseline_user_rmse`, taken
    over those same surviving rows, hashes the Knuth split +
    train-user-mean predictor + RMSE aggregate end-to-end -- the
    yardstick the ALS number is read against in the local band test.
    The two booleans are guaranteed by construction: the evaluator and
    the plain A4 aggregate compute the same formula over the same
    predictions (agree to 1e-6, or both empty), and a cold-start-
    dropped prediction frame contains no NaN so its RMSE is finite
    whenever any row survives. The ALS RMSE itself (MLlib-internal, seeded)
    stays outside the hashed region, band-pinned in
    tests/test_ml_parity.py."""
    pin_session_conf(spark)
    import math
    rmse_eval, rmse_agg, n_test, baseline = als_rmse_detail(spark, sf_dir)
    agree = (n_test == 0) or (abs(rmse_eval - rmse_agg) <= 1e-6)
    finite = (n_test == 0) or math.isfinite(rmse_eval)
    return local_frame(
        spark, [(n_test, baseline, agree, finite)],
        "n_test_scored bigint, baseline_user_rmse double, "
        "evaluator_agrees_aggregate boolean, als_rmse_finite boolean")


@register("ml_minmax_parity", oracle="""
WITH src AS (
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS DOUBLE) AS q,
           CAST(l_extendedprice AS DOUBLE) AS p,
           CAST(l_discount AS DOUBLE) AS d
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
      AND l_discount IS NOT NULL
), stats AS (
    SELECT min(q) AS qmn, max(q) AS qmx,
           min(p) AS pmn, max(p) AS pmx,
           min(d) AS dmn, max(d) AS dmx
    FROM src
)
SELECT l_orderkey, l_linenumber,
       floor(CASE WHEN qmx = qmn THEN 0.5 ELSE (q - qmn) / (qmx - qmn) END
             * 10000 + 0.5) / 10000 AS quantity_scaled,
       floor(CASE WHEN pmx = pmn THEN 0.5 ELSE (p - pmn) / (pmx - pmn) END
             * 10000 + 0.5) / 10000 AS price_scaled,
       floor(CASE WHEN dmx = dmn THEN 0.5 ELSE (d - dmn) / (dmx - dmn) END
             * 10000 + 0.5) / 10000 AS discount_scaled
FROM src CROSS JOIN stats
""")
def ml_minmax_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib MinMaxScaler, ORACLE-HASH-CHECKED -- the one feature
    scaler whose statistics are exact selections (min/max), so the
    fitted model's transform is bit-reproducible in plain SQL: MLlib
    computes (v - min) / (max - min) * (outMax - outMin) + outMin,
    and with the default [0, 1] range the IEEE tail (* 1.0 + 0.0) is
    an exact identity, leaving the same expression tree DuckDB
    evaluates. (StandardScaler is deliberately NOT given this
    treatment: mean/variance come off a treeAggregate whose merge
    order drifts vs any sequential engine -- that family stays
    rows-only, like the KMeans SSE band tests.)

    A real MLlib fit + transform runs inside the query (assemble ->
    MinMaxScalerModel -> vector_to_array), not a SQL re-derivation,
    so this certifies the MLlib plumbing itself: assembler column
    order, model vector layout, transform arithmetic. Scale: the fit
    is one min/max aggregate (map-side combinable); the transform is
    a map-only expression; nothing shuffles but the 6-number stats
    row.

    Constant-feature caveat: when max == min MLlib emits 0.5 (the
    documented midpoint convention) where naive SQL divides by zero;
    the oracle mirrors it with an explicit CASE, so a degenerate
    column still hash-matches (unreachable on lineitem -- all three
    columns vary -- but the guard keeps the twin corpus-agnostic)."""
    pin_session_conf(spark)
    from pyspark.ml.feature import MinMaxScaler
    from pyspark.ml.functions import vector_to_array

    # shared NOT NULL filter (oracle identical): VectorAssembler's
    # default handleInvalid='error' aborts the fit on a NULL feature,
    # and a scaler is fit on observed values anyway (fuzz-caught)
    li = (load(spark, sf_dir, "lineitem")
          .where(F.col("l_quantity").isNotNull()
                 & F.col("l_extendedprice").isNotNull()
                 & F.col("l_discount").isNotNull())
          .select("l_orderkey", "l_linenumber",
                  F.col("l_quantity").cast("double").alias("q"),
                  F.col("l_extendedprice").cast("double").alias("p"),
                  F.col("l_discount").cast("double").alias("d")))
    assembled = VectorAssembler(
        inputCols=["q", "p", "d"], outputCol="feat").transform(li)
    model = MinMaxScaler(inputCol="feat", outputCol="scaled").fit(assembled)
    arr = vector_to_array(F.col("scaled"))

    def q4(c):
        return F.floor(c * 10000 + F.lit(0.5)) / 10000

    return (model.transform(assembled)
            .select("l_orderkey", "l_linenumber",
                    q4(arr[0]).alias("quantity_scaled"),
                    q4(arr[1]).alias("price_scaled"),
                    q4(arr[2]).alias("discount_scaled")))
