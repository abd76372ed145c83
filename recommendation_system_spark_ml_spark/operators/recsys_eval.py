"""Recommender evaluation + baselines (SURVEY.md §2.11, r7 wave).

The reference is a recommender but never EVALUATES one beyond RMSE
(MovieLensRecommender.py:203-238 stops at the ALS CV grid); this
module adds what a production recsys team measures before shipping:
a Bayesian-average popularity baseline (the cold-start answer every
ranker is benchmarked against), a held-out top-K evaluation of that
baseline (precision/recall/hit-rate/NDCG@K -- the offline metrics
suite), beyond-accuracy metrics (catalog coverage, novelty,
concentration) over the item-item CF recommender from
operators/recommend.py, and a content-based recommender over part
metadata (the genre path the reference builds at MLR.py:96-126 but
only feeds to KMeans).

Everything is plain DataFrame algebra -- joins, windows, aggregates --
so the entire evaluation suite is DuckDB-hash-verified end to end,
including the NDCG ideal-DCG arithmetic.

Scale shape (100 TB of ratings): every per-user structure is cut with
WindowGroupLimit BEFORE it fans out; the popularity pool and the
per-item score tables broadcast (they are catalog-sized, not
fact-sized); the only global sort is a top-100 TakeOrderedAndProject.
Scores floor-quantize at 1e-6 before any ranking so neighbor lists and
metric hashes are cross-engine deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recommendation_system_spark_ml_spark.hashing import (
    knuth_hash, knuth_hash_sql)
from recommendation_system_spark_ml_spark.registry import register
from recommendation_system_spark_ml_spark.session import (
    local_frame, pin_session_conf)
from recommendation_system_spark_ml_spark.sources.catalog import load
from recommendation_system_spark_ml_spark.ml.parity import ratings_analog
from recommendation_system_spark_ml_spark.operators.recommend import (
    _CF_Q, _NEIGHBORS_SQL, _RATINGS_SQL, _TOPN_CTE)

M_PRIOR = 5.0     # Bayesian prior strength (pseudo-ratings at the global mean)
TOP_ITEMS = 100   # leaderboard length for the Bayesian-average ranking
POP_POOL = 200    # popularity candidate pool fed to the per-user cut
EVAL_K = 5        # top-K recommendations evaluated / emitted

# Held-out split gate on the (user, item) pair: the Knuth hash
# (hashing.py) of a key mixing both ids, each folded to 2^20 so the
# pair key stays below 2^31 for any id domain (the fold only affects
# WHICH bucket a pair lands in, never determinism). ~80% train / 20%
# test.
_SPLIT_NUM = "(CAST(u AS BIGINT) % 1048576) * 31 + (CAST(i AS BIGINT) % 1048576)"
_SPLIT_SQL = f"{knuth_hash_sql(_SPLIT_NUM)} % 10"


def _base_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, i, r): the NULL-filtered ratings analog shared with
    operators/recommend.py (same filter, same float32 start)."""
    return (ratings_analog(spark, sf_dir)
            .where(F.col("userId").isNotNull()
                   & F.col("movieId").isNotNull()
                   & F.col("rating").isNotNull())
            .select(F.col("userId").alias("u"),
                    F.col("movieId").alias("i"),
                    F.col("rating").cast("double").alias("r")))


def _q6(col):
    """Shared 1e-6 floor quantization (recommend.py convention)."""
    return F.floor(col * _CF_Q + F.lit(0.5)) / _CF_Q


_BAYES_CTE = f"""
ratings AS ({_RATINGS_SQL}),
g AS (SELECT avg(r) AS c FROM ratings),
per AS (
    SELECT i, count(*) AS n, avg(r) AS avg_r
    FROM ratings GROUP BY 1
),
bayes AS (
    SELECT i, n, avg_r,
           floor(((n / (n + {M_PRIOR})) * avg_r
                  + ({M_PRIOR} / (n + {M_PRIOR})) * g.c)
                 * {_CF_Q} + 0.5) / {_CF_Q} AS q
    FROM per, g
)
"""


@register("ml_bayes_avg_rating", oracle=f"""
WITH {_BAYES_CTE}
SELECT i AS "movieId",
       CAST(n AS BIGINT) AS n_ratings,
       floor(avg_r * {_CF_Q} + 0.5) / {_CF_Q} AS avg_rating,
       q AS bayes_score,
       CAST(rk AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY q DESC, i ASC) AS rk FROM bayes)
WHERE rk <= {TOP_ITEMS}
""")
def ml_bayes_avg_rating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian-average item leaderboard (the IMDB Top-250 estimator):
    score = (n/(n+m))*avg + (m/(n+m))*C with m={M_PRIOR} pseudo-ratings
    at the global mean C -- the shrinkage popularity baseline every
    recommender is benchmarked against, and the cold-start ranking
    served to users with no history (the reference's ALS has no
    cold-start path at all, MLR.py:203-238).

    Shape: one groupBy(item) partial-combines counts and sums; the
    global mean is a broadcast scalar crossJoined on; the top-{TOP_ITEMS}
    cut is orderBy+limit (TakeOrderedAndProject, a distributed heap --
    never a global sort), and the final rank window runs on the
    already-bounded {TOP_ITEMS}-row result. Scores floor-quantize at
    1e-6 BEFORE ranking so the leaderboard order is cross-engine
    deterministic."""
    pin_session_conf(spark)
    ratings = _base_ratings(spark, sf_dir)
    g = ratings.agg(F.avg("r").alias("c"))
    per = ratings.groupBy("i").agg(F.count(F.lit(1)).alias("n"),
                                   F.avg("r").alias("avg_r"))
    n_d = F.col("n").cast("double")
    score = ((n_d / (n_d + M_PRIOR)) * F.col("avg_r")
             + (F.lit(M_PRIOR) / (n_d + M_PRIOR)) * F.col("c"))
    sc = per.crossJoin(F.broadcast(g)).select(
        "i", "n", "avg_r", _q6(score).alias("q"))
    top = sc.orderBy(F.col("q").desc(), F.col("i").asc()).limit(TOP_ITEMS)
    w = Window.orderBy(F.col("q").desc(), F.col("i").asc())
    return (top.withColumn("rank", F.row_number().over(w).cast("int"))
            .select(F.col("i").alias("movieId"),
                    F.col("n").cast("long").alias("n_ratings"),
                    _q6(F.col("avg_r")).alias("avg_rating"),
                    F.col("q").alias("bayes_score"),
                    "rank"))


# Ideal DCG for a user with n_test relevant items: sum of the first
# least(EVAL_K, n_test) discount terms. Written as the SAME branching
# expression on both engines (no precomputed decimals) so the doubles
# are built by identical log2 calls.
def _idcg_sql(n: str) -> str:
    terms = [f"CASE WHEN {n} >= {p} THEN 1.0 / log2({p} + 1.0) ELSE 0.0 END"
             for p in range(1, EVAL_K + 1)]
    return "(" + " + ".join(terms) + ")"


def _idcg_col(n) -> F.Column:
    out = F.lit(0.0)
    for p in range(1, EVAL_K + 1):
        out = out + F.when(n >= p, F.lit(1.0) / F.log2(F.lit(p + 1.0))) \
                     .otherwise(F.lit(0.0))
    return out


# The 80/20 split + per-user metric algebra, shared verbatim between
# the popularity and item-CF evaluations (oracle text AND Spark code),
# so the two recommenders are scored by exactly the same rules.
_SPLIT_CTES = f"""
split AS (SELECT u, i, r, {_SPLIT_SQL} AS bucket FROM ratings0),
train AS (SELECT u, i, r FROM split WHERE bucket < 8),
test AS (SELECT u, i, r FROM split WHERE bucket >= 8),
test_users AS (SELECT u, count(*) AS n_test FROM test GROUP BY 1)
"""

# expects recs(u, i, rn) plus the test / test_users CTEs above
_METRICS_TAIL = f"""
scored AS (
    SELECT r.u, r.rn,
           CASE WHEN t.i IS NOT NULL THEN 1 ELSE 0 END AS hit
    FROM recs r LEFT JOIN test t ON r.u = t.u AND r.i = t.i
),
pu AS (
    SELECT u, sum(hit) AS hits,
           sum(hit * (1.0 / log2(rn + 1.0))) AS dcg
    FROM scored GROUP BY 1
),
fin AS (
    SELECT pu.u, pu.hits, pu.dcg, tu.n_test,
           {_idcg_sql("tu.n_test")} AS idcg
    FROM pu JOIN test_users tu ON pu.u = tu.u
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       floor(avg(hits * 1.0 / {EVAL_K}) * {_CF_Q} + 0.5) / {_CF_Q}
           AS precision_at_k,
       floor(avg(hits * 1.0 / n_test) * {_CF_Q} + 0.5) / {_CF_Q}
           AS recall_at_k,
       floor(avg(CASE WHEN hits > 0 THEN 1.0 ELSE 0.0 END)
             * {_CF_Q} + 0.5) / {_CF_Q} AS hit_rate,
       floor(avg(dcg / idcg) * {_CF_Q} + 0.5) / {_CF_Q} AS ndcg_at_k
FROM fin
"""


def _bucket_col():
    """The Knuth (u, i) split bucket expression -- shared by
    _split_ratings and the single-pass count aggregate in
    ml_rec_eval_als so the two can never drift."""
    num = ((F.col("u").cast("bigint") % 1048576) * 31
           + (F.col("i").cast("bigint") % 1048576))
    return knuth_hash(num) % 10


def _split_ratings(ratings: DataFrame):
    """(train, test, test_users) under the Knuth (u, i) gate -- the
    Spark twin of _SPLIT_CTES."""
    split = ratings.withColumn("bucket", _bucket_col())
    train = split.where(F.col("bucket") < 8).select("u", "i", "r")
    test = split.where(F.col("bucket") >= 8).select("u", "i", "r")
    test_users = test.groupBy("u").agg(F.count(F.lit(1)).alias("n_test"))
    return train, test, test_users


def _eval_metrics(recs: DataFrame, test: DataFrame,
                  test_users: DataFrame) -> DataFrame:
    """precision/recall/hit-rate/NDCG@{EVAL_K} of recs(u, i, rn)
    against the held-out test set -- the Spark twin of _METRICS_TAIL."""
    scored = (recs.join(test.select(F.col("u").alias("tu"),
                                    F.col("i").alias("ti")),
                        (recs.u == F.col("tu")) & (recs.i == F.col("ti")),
                        "left")
              .select(recs.u, "rn",
                      F.when(F.col("ti").isNotNull(), 1).otherwise(0)
                      .alias("hit")))
    pu = scored.groupBy("u").agg(
        F.sum("hit").alias("hits"),
        F.sum(F.col("hit") * (F.lit(1.0)
                              / F.log2(F.col("rn") + F.lit(1.0))))
        .alias("dcg"))
    fin = (pu.join(test_users, "u")
           .withColumn("idcg", _idcg_col(F.col("n_test"))))
    return fin.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        _q6(F.avg(F.col("hits") / F.lit(float(EVAL_K))))
        .alias("precision_at_k"),
        _q6(F.avg(F.col("hits") / F.col("n_test"))).alias("recall_at_k"),
        _q6(F.avg(F.when(F.col("hits") > 0, 1.0).otherwise(0.0)))
        .alias("hit_rate"),
        _q6(F.avg(F.col("dcg") / F.col("idcg"))).alias("ndcg_at_k"))


@register("ml_rec_eval_popularity", oracle=f"""
WITH ratings0 AS ({_RATINGS_SQL}),
{_SPLIT_CTES},
pop AS (SELECT i, count(*) AS cnt FROM train GROUP BY 1),
pool AS (
    SELECT i, pop_rank FROM (
        SELECT i, row_number() OVER (ORDER BY cnt DESC, i ASC) AS pop_rank
        FROM pop) WHERE pop_rank <= {POP_POOL}
),
cand AS (
    SELECT tu.u, p.i, p.pop_rank FROM test_users tu CROSS JOIN pool p
),
unseen AS (
    SELECT c.u, c.i, c.pop_rank FROM cand c
    LEFT JOIN train t ON c.u = t.u AND c.i = t.i
    WHERE t.i IS NULL
),
recs AS (
    SELECT u, i, rn FROM (
        SELECT u, i, row_number() OVER (PARTITION BY u
                                        ORDER BY pop_rank ASC) AS rn
        FROM unseen) WHERE rn <= {EVAL_K}
),
{_METRICS_TAIL}
""")
def ml_rec_eval_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out offline evaluation of the popularity recommender:
    hash-split ratings 80/20 on the (user, item) pair, recommend each
    test user the top-{EVAL_K} most-popular TRAIN items they haven't
    seen, and score precision@{EVAL_K} / recall@{EVAL_K} / hit-rate /
    NDCG@{EVAL_K} against their held-out items -- the metrics suite
    the reference's RMSE-only evaluation lacks (MLR.py:248-253), and
    the floor any learned recommender must beat.

    Shape: the split gate is the restart-stable Knuth hash (§2.7
    recipe -- re-running a failed stage can never change the split);
    the candidate pool is a bounded {POP_POOL}-row broadcast
    (TakeOrderedAndProject), so the per-user stage is a broadcast
    nested-loop fan-out of exactly {POP_POOL} rows per test user, cut
    to {EVAL_K} by WindowGroupLimit after a left-anti seen filter; the
    hit join and both aggregates partial-combine. NDCG's ideal-DCG is
    the same branched log2 expression on both engines, and every
    metric floor-quantizes at 1e-6."""
    pin_session_conf(spark)
    ratings = _base_ratings(spark, sf_dir)
    train, test, test_users = _split_ratings(ratings)

    pop = train.groupBy("i").agg(F.count(F.lit(1)).alias("cnt"))
    pool = (pop.orderBy(F.col("cnt").desc(), F.col("i").asc())
            .limit(POP_POOL)
            .withColumn("pop_rank", F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("i").asc())))
            .select("i", "pop_rank"))

    cand = test_users.select("u").crossJoin(F.broadcast(pool))
    unseen = cand.join(train.select("u", "i"), ["u", "i"], "left_anti")
    wr = Window.partitionBy("u").orderBy(F.col("pop_rank").asc())
    recs = (unseen.withColumn("rn", F.row_number().over(wr))
            .where(F.col("rn") <= EVAL_K).select("u", "i", "rn"))
    return _eval_metrics(recs, test, test_users)


_TRAIN_RATINGS_CTE = f"""
    SELECT u, i, r FROM (
        SELECT u, i, r, {_SPLIT_SQL} AS bucket FROM ({_RATINGS_SQL})
    ) WHERE bucket < 8
"""


def _itemcf_eval_oracle() -> str:
    from recommendation_system_spark_ml_spark.operators.recommend import (
        _TOPN_CTE, neighbors_sql)
    return f"""
WITH ratings0 AS ({_RATINGS_SQL}),
{_SPLIT_CTES},
{neighbors_sql(_TRAIN_RATINGS_CTE)},
{_TOPN_CTE},
recs2 AS (
    SELECT "userId" AS u, "movieId" AS i, rank AS rn FROM recs
),
{_METRICS_TAIL.replace("FROM recs r", "FROM recs2 r")}
"""


@register("ml_rec_eval_itemcf", oracle=_itemcf_eval_oracle())
def ml_rec_eval_itemcf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out offline evaluation of the ITEM-ITEM CF recommender:
    the same Knuth 80/20 split, metric algebra, and @{EVAL_K} cutoff
    as ml_rec_eval_popularity (shared CTE text on the oracle side,
    shared helpers on the Spark side), but the recommendations come
    from the neighborhood recommender trained ONLY on the train split
    -- so the two registered queries read as one experiment: does
    collaborative filtering beat raw popularity on precision / recall
    / hit-rate / NDCG? This is the comparison the reference's ALS
    pipeline never runs (MLR.py stops at RMSE on a random split,
    :248-253), and the decision memo a recsys team actually ships.

    Shape: rides the CF pipeline's bounded structures (USER_CAP pair
    cap, WindowGroupLimit cuts, broadcast neighbor table) on the
    train split, then the shared metric tail: one hit join, two
    partial-combined aggregates, a single output row. Train-split
    leakage is structurally impossible: the scorer's seen-filter and
    the neighbor table only ever see train rows, and the oracle's
    CTE text is COMPOSED from the registered recommender's own SQL,
    not re-derived."""
    pin_session_conf(spark)
    from recommendation_system_spark_ml_spark.operators.recommend import (
        _item_neighbors, topn_recs)
    ratings = _base_ratings(spark, sf_dir)
    train, test, test_users = _split_ratings(ratings)
    nbrs = _item_neighbors(spark, sf_dir, ratings=train)
    recs = (topn_recs(train, nbrs)
            .select(F.col("userId").alias("u"),
                    F.col("movieId").alias("i"),
                    F.col("rank").alias("rn")))
    return _eval_metrics(recs, test, test_users)


@register("ml_rec_coverage_novelty", oracle=f"""
WITH {_NEIGHBORS_SQL},
{_TOPN_CTE},
cat AS (SELECT count(DISTINCT i) AS n_items,
               count(DISTINCT u) AS n_users FROM ratings),
pop AS (SELECT i, count(*) AS raters FROM ratings GROUP BY 1),
recpop AS (SELECT "movieId" AS i, count(*) AS rec_cnt FROM recs GROUP BY 1),
nov AS (
    SELECT sum(rp.rec_cnt) AS n_rows,
           count(*) AS n_rec_items,
           sum(rp.rec_cnt * (-log2(p.raters * 1.0 / c.n_users))) AS nov_sum,
           max(rp.rec_cnt) AS max_cnt
    FROM recpop rp JOIN pop p ON rp.i = p.i CROSS JOIN cat c
)
SELECT CAST(n.n_rows AS BIGINT) AS n_rec_rows,
       CAST((SELECT count(DISTINCT "userId") FROM recs) AS BIGINT)
           AS n_rec_users,
       CAST(c.n_items AS BIGINT) AS n_catalog,
       floor(n.n_rec_items * 100.0 / c.n_items * {_CF_Q} + 0.5) / {_CF_Q}
           AS coverage_pct,
       floor(n.nov_sum / n.n_rows * {_CF_Q} + 0.5) / {_CF_Q}
           AS mean_novelty_bits,
       floor(n.max_cnt * 1.0 / n.n_rows * {_CF_Q} + 0.5) / {_CF_Q}
           AS top_item_share
FROM nov n CROSS JOIN cat c
""")
def ml_rec_coverage_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-accuracy metrics for the item-item CF recommender
    (Ge et al. 2010, Castells et al. 2022): catalog coverage (what
    share of the catalog ever gets recommended), mean novelty in bits
    (-log2 of the item's rater share -- high = long-tail recs, low =
    popularity echo), and top-item concentration (share of all rec
    slots taken by the single most-recommended item). An accurate
    recommender that only recommends 1% of the catalog is a business
    failure RMSE can't see -- these three numbers are the standard
    diagnosis, here hash-verified against the SAME oracle CTE text
    that defines ml_user_topn_recs, so the evaluated lists and the
    served lists can never drift.

    Shape: rides the CF pipeline's bounded structures (USER_CAP pair
    fan-out, WindowGroupLimit cuts); the metric stage is one
    groupBy(item) over the |users| x {EVAL_K} rec rows joined to a
    catalog-sized popularity table, collapsed to a single row --
    every aggregate partial-combines, nothing data-sized reaches the
    driver."""
    pin_session_conf(spark)
    from recommendation_system_spark_ml_spark.operators.recommend import (
        ml_user_topn_recs)
    ratings = _base_ratings(spark, sf_dir)
    # r11 (guide §5): recs feeds two consumers (recpop and the
    # distinct-user count); un-materialized, each re-ran the whole CF
    # pipeline. The table is bounded at |users| x EVAL_K rows.
    recs = ml_user_topn_recs(spark, sf_dir).localCheckpoint(eager=True)
    cat = ratings.agg(F.countDistinct("i").alias("n_items"),
                      F.countDistinct("u").alias("n_users"))
    pop = ratings.groupBy("i").agg(F.count(F.lit(1)).alias("raters"))
    recpop = (recs.groupBy(F.col("movieId").alias("i"))
              .agg(F.count(F.lit(1)).alias("rec_cnt")))
    nov = (recpop.join(pop, "i").crossJoin(F.broadcast(cat))
           .agg(F.sum("rec_cnt").alias("n_rows"),
                F.count(F.lit(1)).alias("n_rec_items"),
                F.sum(F.col("rec_cnt")
                      * (-F.log2(F.col("raters").cast("double")
                                 / F.col("n_users")))).alias("nov_sum"),
                F.max("rec_cnt").alias("max_cnt")))
    rec_users = recs.agg(F.countDistinct("userId").alias("n_rec_users"))
    return (nov.crossJoin(F.broadcast(cat))
            .crossJoin(F.broadcast(rec_users))
            .select(F.col("n_rows").cast("long").alias("n_rec_rows"),
                    F.col("n_rec_users").cast("long").alias("n_rec_users"),
                    F.col("n_items").cast("long").alias("n_catalog"),
                    _q6(F.col("n_rec_items") * 100.0 / F.col("n_items"))
                    .alias("coverage_pct"),
                    _q6(F.col("nov_sum") / F.col("n_rows"))
                    .alias("mean_novelty_bits"),
                    _q6(F.col("max_cnt").cast("double") / F.col("n_rows"))
                    .alias("top_item_share")))


TYPE_POOL = 200  # Bayes-ranked candidate pool per p_type


@register("ml_content_recs", oracle=f"""
WITH {_BAYES_CTE},
feat AS (SELECT CAST(p_partkey AS INTEGER) AS i, p_type FROM part
         WHERE p_partkey IS NOT NULL AND p_type IS NOT NULL),
rf AS (SELECT r.u, r.i, r.r, f.p_type FROM ratings r JOIN feat f ON r.i = f.i),
profile AS (
    SELECT u, p_type FROM (
        SELECT u, p_type,
               row_number() OVER (
                   PARTITION BY u
                   ORDER BY floor(sum(r) * 1000000 + 0.5) / 1000000 DESC,
                            p_type ASC) AS rk
        FROM rf GROUP BY u, p_type) WHERE rk = 1
),
type_pool AS (
    SELECT p_type, i, q FROM (
        SELECT f.p_type, b.i, b.q,
               row_number() OVER (PARTITION BY f.p_type
                                  ORDER BY b.q DESC, b.i ASC) AS prk
        FROM feat f JOIN bayes b ON b.i = f.i) WHERE prk <= {TYPE_POOL}
),
cand AS (
    SELECT pr.u, tp.i, tp.q FROM profile pr
    JOIN type_pool tp ON tp.p_type = pr.p_type
),
fresh AS (
    SELECT c.u, c.i, c.q FROM cand c
    LEFT JOIN ratings r ON c.u = r.u AND c.i = r.i
    WHERE r.i IS NULL
)
SELECT u AS "userId", i AS "movieId", q AS bayes_score,
       CAST(rn AS INTEGER) AS rank
FROM (SELECT u, i, q,
             row_number() OVER (PARTITION BY u
                                ORDER BY q DESC, i ASC) AS rn
      FROM fresh)
WHERE rn <= {EVAL_K}
""")
def ml_content_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-based recommender over part metadata: each user's
    profile is their rating-weighted favorite p_type (the reference
    builds exactly this item-content path -- genres one-hot at
    MLR.py:96-126 -- but only feeds it to KMeans, never to a
    recommender); candidates are unrated items of that type, ranked
    by the Bayesian-average score, top-{EVAL_K} per user. This is the
    third recommender family (content-based) next to the neighborhood
    CF (operators/recommend.py) and the ALS factorization (ml/
    parity.py) -- and the one that works for brand-new items.

    Shape -- and the load-bearing cap: "all items of the favorite
    type" is catalog/|types| per user, which on this 6-type catalog
    meant 3,333 candidates x 15k users = 50M rows (measured 37-51 s
    at sf0.1) and at 100 TB grows LINEARLY WITH THE CATALOG. Each
    type's candidates are therefore cut to its top-{TYPE_POOL}
    Bayes-ranked items first (WindowGroupLimit over the bounded type
    keyspace, shared verbatim with the oracle), so the user fan-out
    is a broadcast {TYPE_POOL}-row-per-type pool -- users x
    {TYPE_POOL} rows regardless of catalog size (50M -> 3M at sf0.1,
    ~4 s). The profile argmax is one groupBy + WindowGroupLimit; the
    seen-filter is a left-anti join on (u, i); the final cut is
    WindowGroupLimit. A user who has rated most of their type's
    top-{TYPE_POOL} simply gets fewer than {EVAL_K} recs (documented
    contract). Scores floor-quantize at 1e-6 before ranking."""
    pin_session_conf(spark)
    ratings = _base_ratings(spark, sf_dir)
    feat = (load(spark, sf_dir, "part")
            .where(F.col("p_partkey").isNotNull()
                   & F.col("p_type").isNotNull())
            .select(F.col("p_partkey").cast("int").alias("i"), "p_type"))
    rf = ratings.join(F.broadcast(feat), "i")
    # Floor-quantize the per-(u, p_type) rating sum BEFORE the argmax
    # rank (the bayes_score treatment): near-tied type sums otherwise
    # order by each engine's accumulation noise — a latent hash-flake.
    wp = Window.partitionBy("u").orderBy(F.col("s").desc(),
                                         F.col("p_type").asc())
    profile = (rf.groupBy("u", "p_type").agg(_q6(F.sum("r")).alias("s"))
               .withColumn("rk", F.row_number().over(wp))
               .where(F.col("rk") == 1).select("u", "p_type"))

    g = ratings.agg(F.avg("r").alias("c"))
    per = ratings.groupBy("i").agg(F.count(F.lit(1)).alias("n"),
                                   F.avg("r").alias("avg_r"))
    n_d = F.col("n").cast("double")
    score = ((n_d / (n_d + M_PRIOR)) * F.col("avg_r")
             + (F.lit(M_PRIOR) / (n_d + M_PRIOR)) * F.col("c"))
    bayes = (per.crossJoin(F.broadcast(g))
             .select("i", _q6(score).alias("q")))

    wt = Window.partitionBy("p_type").orderBy(F.col("q").desc(),
                                              F.col("i").asc())
    type_pool = (feat.join(bayes, "i")
                 .withColumn("prk", F.row_number().over(wt))
                 .where(F.col("prk") <= TYPE_POOL)
                 .select("p_type", "i", "q"))
    cand = (profile.join(F.broadcast(type_pool), "p_type")
            .select("u", "i", "q"))
    fresh = cand.join(ratings.select("u", "i"), ["u", "i"], "left_anti")
    wr = Window.partitionBy("u").orderBy(F.col("q").desc(),
                                         F.col("i").asc())
    return (fresh.withColumn("rank", F.row_number().over(wr))
            .where(F.col("rank") <= EVAL_K)
            .select(F.col("u").alias("userId"),
                    F.col("i").alias("movieId"),
                    F.col("q").alias("bayes_score"),
                    F.col("rank").cast("int").alias("rank")))


EVAL_USER_CAP = 20_000  # absolute cap on the evaluated user population


def _eval_user_pool(train: DataFrame, test_users: DataFrame) -> DataFrame:
    """The evaluated population: test users with >= 1 train rating,
    deterministically capped at EVAL_USER_CAP by the Knuth hash of
    the user id (orderBy + limit -> TakeOrderedAndProject: per-
    partition partial top-K, only CAP rows ever merge -- never a
    global sort). The cap contract (r10, the ml_als_cv fit-budget
    sibling): offline recommender evaluation is a MEASUREMENT, and
    its statistical power saturates long before 20k users -- scoring
    every user at 100 TB multiplies recommendForAllUsers' users x
    items factor work for zero extra decision value (measured: 346 s
    at sf1, slope 1.22, before the cap). The hash makes the sample
    restart-stable and oracle-expressible; the cap engages at NO
    driver-verified sf (cotrained populations are 149 / 1.5k / ~15k
    at sf0.001/0.01/0.1), so every hashed value is unchanged there."""
    gate = knuth_hash(F.col("u").cast("bigint"))
    return (test_users.join(train.select("u").distinct(), "u")
            .orderBy(gate.asc(), F.col("u").asc())
            .limit(EVAL_USER_CAP))


def ml_rec_eval_als_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out evaluation of the ALS factorization recommender --
    completing the three-way experiment: ml_rec_eval_popularity
    (non-personalized floor) vs ml_rec_eval_itemcf (neighborhood CF)
    vs this (the reference's own model family, MLR.py:203-238), all
    scored by the IDENTICAL split gate and metric algebra
    (_split_ratings/_eval_metrics), so the three one-row outputs are
    directly comparable -- the model-selection memo the reference's
    RMSE-only CV never produces.

    ALS is fit on the FULL train split (seeded, rank 10, the
    ml_als_rmse hyper-parameters); candidates come from
    recommendForUserSubset over the capped evaluation pool
    (_eval_user_pool -- at most EVAL_USER_CAP hash-selected users,
    the factor-matmul top-k runs for THEM only), then seen-items are
    anti-joined out and the list re-cut to {EVAL_K} by the shared
    WindowGroupLimit rule. Factor values are MLlib internals; the
    evaluation arithmetic downstream of them is the hash-verified
    shared code. This entry point and the registered contract
    ml_rec_eval_als share the fit + recommend + metrics body
    (_als_eval_over) and differ only in how the pool is
    materialized: here it stays lazy, while ml_rec_eval_als
    checkpoints it once and also hashes its SQL-expressible pins."""
    pin_session_conf(spark)
    ratings = _base_ratings(spark, sf_dir)
    train, test, test_users = _split_ratings(ratings)
    pool = _eval_user_pool(train, test_users).select("u", "n_test")
    return _als_eval_over(train, test, pool)


def _als_eval_over(train: DataFrame, test: DataFrame,
                   pool: DataFrame) -> DataFrame:
    """The fit + recommend + metrics body over prebuilt split/pool
    frames (r11, guide §5): ml_rec_eval_als builds the bounded pool
    ONCE (eager localCheckpoint) and shares it between this metrics
    run and its own hashed n_eval_users count, instead of recomputing
    the pool's groupBy+join+top-k chain twice per query."""
    from pyspark.ml.recommendation import ALS
    als = ALS(userCol="u", itemCol="i", ratingCol="r",
              rank=10, maxIter=10, regParam=0.05, seed=823,
              coldStartStrategy="drop", nonnegative=True)
    model = als.fit(train)
    # Headroom must survive the seen-filter for the HEAVIEST rater:
    # a user whose top-k_pool ALS list is mostly already-seen train
    # items would silently get < EVAL_K recs, deflating the ALS arm
    # of the three-way experiment. EVAL_K + POP_POOL (= the docstring
    # contract, same pool depth the popularity arm gets) leaves
    # >= EVAL_K fresh candidates for any train history up to POP_POOL
    # items of overlap — far above the fixture's per-user maximum.
    k_pool = EVAL_K + POP_POOL
    recs_raw = (model.recommendForUserSubset(pool.select("u"), k_pool)
                .select(F.col("u"),
                        F.posexplode("recommendations")
                        .alias("pos", "rec"))
                .select("u", F.col("rec.i").alias("i"),
                        F.col("rec.rating").alias("score")))
    unseen = recs_raw.join(train.select("u", "i"), ["u", "i"], "left_anti")
    wr = Window.partitionBy("u").orderBy(F.col("score").desc(),
                                         F.col("i").asc())
    recs = (unseen.withColumn("rn", F.row_number().over(wr))
            .where(F.col("rn") <= EVAL_K).select("u", "i", "rn"))
    # metrics over the capped pool: test rows of pool users only, so
    # the population is identical whether or not the cap engages
    test_p = test.join(pool.select("u"), "u", "left_semi")
    return _eval_metrics(recs, test_p, pool)


@register("ml_rec_eval_als", oracle=f"""
WITH ratings0 AS ({_RATINGS_SQL}),
{_SPLIT_CTES},
tr_u AS (SELECT DISTINCT u FROM train),
pool AS (
    SELECT tu.u FROM test_users tu JOIN tr_u ON tu.u = tr_u.u
    ORDER BY {knuth_hash_sql('CAST(tu.u AS BIGINT)')}, tu.u
    LIMIT {EVAL_USER_CAP}
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM train) AS n_train,
       (SELECT CAST(count(*) AS BIGINT) FROM test) AS n_test,
       (SELECT CAST(count(*) AS BIGINT) FROM pool) AS n_eval_users,
       TRUE AS scored_subset_of_pool,
       TRUE AS metrics_in_unit_range,
       TRUE AS ndcg_in_band
""")
def ml_rec_eval_als(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ml_rec_eval_als_metrics as a HASHABLE contract (r9 verdict
    task 4, the ml_als_cv recipe at ml/parity.py:549): the full ALS
    evaluation pipeline runs -- fit on the train split, bounded
    recommendForAllUsers candidates, shared seen-filter + metric tail
    -- and the hash pins what IS cross-engine expressible:

    - the split integers n_train / n_test / n_eval_users (the capped
      evaluation pool: test users with >= 1 train rating, Knuth-hash
      top-EVAL_USER_CAP -- the cap is part of the estimator's
      definition on BOTH engines, the cap-contract pattern),
      certifying the split gate + NULL hygiene + pool rule end to
      end exactly as ml_als_cv's n_train does;
    - scored_subset_of_pool: the evaluated user count never exceeds
      the pool (guaranteed: _eval_metrics inner-joins recs to the
      pool, and recommendForUserSubset only sees pool users);
    - metrics_in_unit_range / ndcg_in_band: all four metrics finite
      in [0, 1] (guaranteed: hits <= min(K, n_test) bounds precision
      and recall; dcg sums a subset of idcg's per-rank weights, so
      dcg <= idcg).

    The fixture-conditional NDCG value and the three-way population
    identity stay in tests/test_r7_wave.py, which scores the metrics
    face (ml_rec_eval_als_metrics) directly -- the r6 HLL lesson:
    never pin a statistical value in a hash. The single collected
    row and three scalar counts are bounded driver objects."""
    pin_session_conf(spark)
    import math
    # r11 (guide §5): ONE split build serves the metrics run and the
    # hashed counts. The bounded (<= EVAL_USER_CAP rows) pool is
    # materialized eagerly and shared -- previously the pool chain
    # (test_users groupBy + train-user join + hash-ordered top-k) ran
    # twice, and n_train/n_test were two separate full passes; they
    # are now one single-pass aggregate over the shared bucket
    # expression (identical arithmetic, same _bucket_col).
    ratings = _base_ratings(spark, sf_dir)
    train, test, test_users = _split_ratings(ratings)
    pool = (_eval_user_pool(train, test_users).select("u", "n_test")
            .localCheckpoint(eager=True))
    row = _als_eval_over(train, test, pool).collect()[0]
    metrics = [row["precision_at_k"], row["recall_at_k"],
               row["hit_rate"], row["ndcg_at_k"]]
    in_range = all(m is not None and math.isfinite(m) and 0.0 <= m <= 1.0
                   for m in metrics)
    ndcg_band = (row["ndcg_at_k"] is not None
                 and math.isfinite(row["ndcg_at_k"])
                 and 0.0 <= row["ndcg_at_k"] <= 1.0)
    n_train, n_test = ratings.agg(
        F.sum((_bucket_col() < 8).cast("long")),
        F.sum((_bucket_col() >= 8).cast("long"))).first()
    n_train, n_test = int(n_train or 0), int(n_test or 0)
    n_pool = pool.count()
    subset = int(row["n_users"] or 0) <= n_pool
    return local_frame(
        spark, [(n_train, n_test, n_pool,
                 bool(subset), bool(in_range), bool(ndcg_band))],
        "n_train bigint, n_test bigint, n_eval_users bigint, "
        "scored_subset_of_pool boolean, "
        "metrics_in_unit_range boolean, ndcg_in_band boolean")
