"""Exact statistical testing + resampling (SURVEY.md §2.11, r7 wave).

Completes the inference family started in operators/aggregates.py
(Welch t-test, chi-squared, closed-form OLS, KS drift): the
nonparametric two-sample test (Mann-Whitney U -- the test teams reach
for when t-test normality fails), the model-monitoring drift score
(Population Stability Index, the banking/MLOps standard that
complements the KS statistic's max-gap read with a per-bucket
decomposition), the fraud-screening digit test (Benford's law), and
a Poisson-bootstrap confidence interval -- the ONLY bootstrap that
works on a distributed engine, because it needs no global resample:
each row draws its replicate weights independently (Chamandy et al.
2012, "Estimating Uncertainty for Massive Data Streams", the Google
MapReduce-bootstrap paper).

Everything is exact integer/rational arithmetic until one final
division, so every operator is DuckDB-hash-verified; randomness is
the restart-stable Knuth hash (hashing.py), never an engine RNG.

The reference has no inference surface at all (MovieLensRecommender.py
stops at RMSE point estimates, :248-253); these are what turns its
"model A beats model B" readout into a defensible claim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recommendation_system_spark_ml_spark.hashing import (
    knuth_hash, knuth_hash_sql)
from recommendation_system_spark_ml_spark.registry import register
from recommendation_system_spark_ml_spark.session import pin_session_conf
from recommendation_system_spark_ml_spark.sources.catalog import load

_Q = 1_000_000       # 6-decimal floor quantization, shared with oracles

# ---------------------------------------------------------------- MWU

_MW_BUCKET = 4096.0  # price-range bucket width for the two-level cumsum


@register("agg_mann_whitney", oracle=f"""
WITH base AS (
    SELECT l_extendedprice AS v,
           CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS isa
    FROM lineitem
    WHERE l_returnflag IN ('A', 'R') AND l_extendedprice IS NOT NULL
),
vals AS (
    SELECT v, sum(isa) AS na, sum(1 - isa) AS nb
    FROM base GROUP BY 1
),
cum AS (
    SELECT v, na, nb,
           sum(nb) OVER (ORDER BY v ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cumb
    FROM vals
),
s AS (
    SELECT sum(na) AS n1, sum(nb) AS n2,
           sum(na * (2 * cumb - nb)) AS u2,
           sum(CAST(na + nb AS BIGINT) * (na + nb) * (na + nb)
               - (na + nb)) AS tie
    FROM cum
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       u2 / 2.0 AS u1,
       round((u2 / 2.0 - n1 * 1.0 * n2 / 2.0)
             / sqrt(n1 * 1.0 * n2 / 12.0
                    * ((n1 + n2 + 1.0)
                       - tie / ((n1 + n2) * 1.0 * (n1 + n2 - 1.0)))), 4)
           AS z,
       round(2.0 * (u2 / 2.0) / (n1 * 1.0 * n2) - 1.0, 6)
           AS rank_biserial
FROM s
""")
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test: does l_extendedprice
    for returned lineitems (flag A) stochastically dominate
    non-returned ones (flag R)? The nonparametric sibling of
    agg_ab_ttest -- no normality assumption, so it is the test of
    record for skewed revenue/latency metrics. Emits U1, the
    tie-corrected normal-approximation z, and the rank-biserial
    effect size.

    Exactness: U1 is computed from per-VALUE counts, not per-row
    ranks -- U1 = sum over distinct v of nA(v) * (#B below v + 0.5 *
    #B tied at v). Doubling gives an INTEGER (u2), so the entire
    statistic is exact integer arithmetic until the final z division;
    the tie term sum(t^3 - t) is likewise integral.

    Scale shape: one groupBy(value) collapses 100 TB of rows to the
    distinct-value table; the cumulative #B never runs as a
    single-reducer sort -- two_level_running_sum (operators/scale.py)
    range-buckets the price axis, cumsums inside buckets in parallel,
    and lifts with a broadcast ~30-row offset table. The final
    aggregate is one partial-combined row. The oracle is the naive
    single-window definition, certifying the distributed cumsum."""
    pin_session_conf(spark)
    from recommendation_system_spark_ml_spark.operators.scale import (
        two_level_running_sum)
    base = (load(spark, sf_dir, "lineitem")
            .where(F.col("l_returnflag").isin("A", "R")
                   & F.col("l_extendedprice").isNotNull())
            .select(F.col("l_extendedprice").alias("v"),
                    F.when(F.col("l_returnflag") == "A", 1).otherwise(0)
                    .alias("isa")))
    vals = base.groupBy("v").agg(
        F.sum("isa").alias("na"),
        F.sum(F.lit(1) - F.col("isa")).alias("nb"))
    cum = two_level_running_sum(
        vals, F.floor(F.col("v") / _MW_BUCKET).cast("long"),
        [F.col("v").asc()], F.col("nb"), out="cumb")
    s = cum.agg(
        F.sum("na").alias("n1"), F.sum("nb").alias("n2"),
        F.sum(F.col("na") * (2 * F.col("cumb") - F.col("nb"))).alias("u2"),
        # tie term stays INTEGER arithmetic (t*t*t, not pow): float64
        # cubes go inexact for per-value counts above ~2^17.7, which
        # would let summation order leak into z at large scale. BIGINT
        # cubes are exact to t ~ 2^21 per distinct value and overflow
        # LOUDLY (ANSI) beyond, never silently diverging.
        F.sum((F.col("na") + F.col("nb")).cast("long")
              * (F.col("na") + F.col("nb"))
              * (F.col("na") + F.col("nb"))
              - (F.col("na") + F.col("nb"))).alias("tie"))
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    nd = n1d + n2d
    u1 = F.col("u2") / 2.0
    sigma = F.sqrt(n1d * n2d / 12.0
                   * ((nd + 1.0) - F.col("tie") / (nd * (nd - 1.0))))
    return s.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        u1.alias("u1"),
        F.round((u1 - n1d * n2d / 2.0) / sigma, 4).alias("z"),
        F.round(2.0 * u1 / (n1d * n2d) - 1.0, 6).alias("rank_biserial"))


# ---------------------------------------------------------------- PSI

_PSI_EDGES = [i / 10.0 for i in range(1, 10)]  # decile edges from period A
_PSI_SMOOTH = 0.5  # Laplace pseudo-count per bucket (both periods)


@register("agg_psi_drift", oracle=f"""
WITH ev AS (
    SELECT epoch_us(ts) AS tu, value AS v FROM events
    WHERE ts IS NOT NULL AND value IS NOT NULL
),
mid AS (
    SELECT (min(tu) + max(tu)) // 2 AS m FROM ev
),
edges AS (
    SELECT list_transform(quantile_cont(v, {_PSI_EDGES}),
                          e -> floor(e * {_Q} + 0.5) / {_Q}) AS es
    FROM ev, mid WHERE tu <= m
),
bucketed AS (
    SELECT 1 + len(list_filter(es, e -> v > e)) AS bucket,
           CASE WHEN tu <= m THEN 1 ELSE 0 END AS ina
    FROM ev, mid, edges
),
counts AS (
    SELECT bucket, sum(ina) AS ca, sum(1 - ina) AS cb
    FROM bucketed GROUP BY 1
),
spine AS (SELECT unnest(generate_series(1, 10)) AS bucket),
tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM counts),
filled AS (
    SELECT s.bucket,
           coalesce(c.ca, 0) AS ca, coalesce(c.cb, 0) AS cb
    FROM spine s LEFT JOIN counts c ON s.bucket = c.bucket
)
SELECT CAST(f.bucket AS INTEGER) AS bucket,
       CAST(f.ca AS BIGINT) AS cnt_a, CAST(f.cb AS BIGINT) AS cnt_b,
       round(((f.ca + {_PSI_SMOOTH}) / (t.na + {_PSI_SMOOTH} * 10)
              - (f.cb + {_PSI_SMOOTH}) / (t.nb + {_PSI_SMOOTH} * 10))
             * ln(((f.ca + {_PSI_SMOOTH}) / (t.na + {_PSI_SMOOTH} * 10))
                  / ((f.cb + {_PSI_SMOOTH}) / (t.nb + {_PSI_SMOOTH} * 10))),
             6) AS psi_term
FROM filled f, tot t
ORDER BY 1
""")
def agg_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the events stream (split at the midpoint of the observed time
    range -- exact integer microsecond arithmetic, so both engines cut
    at the same row). Buckets are the DECILES OF PERIOD A (the
    reference-population convention: score the new period against the
    training period's bins), Laplace-smoothed so an empty bucket
    contributes a finite term instead of log(0). Per-bucket terms are
    emitted (sum them for the headline PSI; >0.25 = "major shift" by
    the usual banking rule) -- the decomposition is the actionable
    part, telling you WHICH slice of the distribution moved.

    Scale shape: one pass computes the time split; the nine decile
    edges are an exact array-percentile over period A (a bounded
    9-float broadcast, quantized at 1e-6 before any comparison); the
    bucket id is a map-side array scan (no join); one groupBy(bucket)
    partial-combines to <= 10 rows joined against a literal spine."""
    pin_session_conf(spark)
    ev = (load(spark, sf_dir, "events")
          .where(F.col("ts").isNotNull() & F.col("value").isNotNull())
          .select(F.unix_micros(F.col("ts").cast("timestamp")).alias("tu"),
                  F.col("value").alias("v")))
    mid = ev.agg(((F.min("tu") + F.max("tu"))
                  .cast("long") / F.lit(2)).cast("long").alias("m"))
    ev2 = ev.crossJoin(F.broadcast(mid))
    qs = ", ".join(str(e) for e in _PSI_EDGES)
    edges = (ev2.where(F.col("tu") <= F.col("m"))
             .agg(F.expr(f"percentile(v, array({qs}))").alias("raw"))
             .select(F.transform(
                 F.col("raw"),
                 lambda e: F.floor(e * _Q + F.lit(0.5)) / _Q).alias("es")))
    bucketed = (ev2.crossJoin(F.broadcast(edges))
                .select((F.lit(1) + F.size(F.filter(
                    F.col("es"), lambda e: F.col("v") > e))).alias("bucket"),
                    F.when(F.col("tu") <= F.col("m"), 1).otherwise(0)
                    .alias("ina")))
    counts = bucketed.groupBy("bucket").agg(
        F.sum("ina").alias("ca"), F.sum(F.lit(1) - F.col("ina")).alias("cb"))
    spine = spark.range(1, 11).select(F.col("id").cast("int").alias("bucket"))
    tot = counts.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    filled = (spine.join(F.broadcast(counts), "bucket", "left")
              .select("bucket",
                      F.coalesce("ca", F.lit(0)).alias("ca"),
                      F.coalesce("cb", F.lit(0)).alias("cb"))
              .crossJoin(F.broadcast(tot)))
    pa = (F.col("ca") + _PSI_SMOOTH) / (F.col("na") + _PSI_SMOOTH * 10)
    pb = (F.col("cb") + _PSI_SMOOTH) / (F.col("nb") + _PSI_SMOOTH * 10)
    return (filled.select(
        F.col("bucket").cast("int").alias("bucket"),
        F.col("ca").cast("long").alias("cnt_a"),
        F.col("cb").cast("long").alias("cnt_b"),
        F.round((pa - pb) * F.log(pa / pb), 6).alias("psi_term"))
        .orderBy("bucket"))


# ------------------------------------------------------------- Benford


@register("agg_benford", oracle=f"""
WITH cents AS (
    SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
    FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
),
digits AS (
    SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit
    FROM cents
),
obs AS (SELECT digit, count(*) AS n FROM digits GROUP BY 1),
tot AS (SELECT sum(n) AS total FROM obs),
spine AS (SELECT unnest(generate_series(1, 9)) AS digit)
SELECT CAST(s.digit AS INTEGER) AS digit,
       CAST(coalesce(o.n, 0) AS BIGINT) AS n,
       round(coalesce(o.n, 0) * 1.0 / t.total, 6) AS obs_share,
       round(log10(1.0 + 1.0 / s.digit), 6) AS exp_share,
       round(abs(coalesce(o.n, 0) * 1.0 / t.total
                 - log10(1.0 + 1.0 / s.digit)), 6) AS abs_dev
FROM spine s LEFT JOIN obs o ON s.digit = o.digit CROSS JOIN tot t
ORDER BY 1
""")
def agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals: the forensic
    screen for fabricated or systematically manipulated monetary data
    (Nigrini 1996; real multiplicative amounts follow P(d) =
    log10(1 + 1/d), fabricated ones cluster on 3..7). Emits the
    observed vs expected share and absolute deviation per leading
    digit -- the per-digit decomposition auditors act on.

    Determinism note: the leading digit is extracted from the INTEGER
    cent count's decimal string, never via floor(log10(x)) -- the log
    path can straddle a ulp boundary differently across libm
    implementations at exact powers of ten; integer-to-string is
    identical everywhere. Shape: one map-side projection, one
    groupBy(digit) to 9 rows, a literal spine join; fully
    partial-combined, nothing data-sized moves."""
    pin_session_conf(spark)
    cents = (load(spark, sf_dir, "orders")
             .where(F.col("o_totalprice").isNotNull()
                    & (F.col("o_totalprice") > 0))
             .select(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                     .cast("long").alias("c")))
    digits = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("int")
        .alias("digit"))
    obs = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = obs.agg(F.sum("n").alias("total"))
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    exp_share = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    obs_share = F.coalesce("n", F.lit(0)).cast("double") / F.col("total")
    return (spine.join(F.broadcast(obs), "digit", "left")
            .crossJoin(F.broadcast(tot))
            .select(F.col("digit").cast("int").alias("digit"),
                    F.coalesce("n", F.lit(0)).cast("long").alias("n"),
                    F.round(obs_share, 6).alias("obs_share"),
                    F.round(exp_share, 6).alias("exp_share"),
                    F.round(F.abs(obs_share - exp_share), 6)
                    .alias("abs_dev"))
            .orderBy("digit"))


# ------------------------------------------------- Poisson bootstrap

N_BOOT = 64  # replicates; each row draws B independent Poisson(1) weights

# Cumulative Poisson(1) CDF thresholds, written as identical decimal
# literals on both engines (both parse to the same IEEE doubles):
# P(X <= k) for k = 0..6; u beyond the last gets weight 7.
_POIS_CDF = (
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238462", "0.9963401531726563", "0.9994058151824183",
    "0.9999167588507120",
)


def _pois_case_sql(u: str) -> str:
    branches = "".join(
        f" WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF))
    return f"(CASE{branches} ELSE 7 END)"


def _pois_case_col(u) -> F.Column:
    out = F.when(u < float(_POIS_CDF[0]), 0)
    for k, t in enumerate(_POIS_CDF[1:], start=1):
        out = out.when(u < float(t), k)
    return out.otherwise(7)


@register("agg_bootstrap_ci", oracle=f"""
WITH rows_b AS (
    SELECT (o_orderkey % 16777216) AS k, o_totalprice AS x,
           unnest(generate_series(0, {N_BOOT - 1})) AS b
    FROM orders WHERE o_totalprice IS NOT NULL
),
w AS (
    SELECT b, x,
           {_pois_case_sql(f"{knuth_hash_sql('k * 131 + b')} / 4294967296.0")} AS wt
    FROM rows_b
),
reps AS (
    SELECT b, floor(sum(wt * x) / sum(wt) * {_Q} + 0.5) / {_Q} AS m
    FROM w GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_replicates,
       round(avg(m), 4) AS boot_mean,
       round(stddev_samp(m), 4) AS boot_se,
       round(quantile_cont(m, 0.025), 4) AS ci_lo,
       round(quantile_cont(m, 0.975), 4) AS ci_hi
FROM reps
""")
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for the mean order total (Chamandy et
    al. 2012): each row draws {N_BOOT} independent Poisson(1) weights
    -- the n -> infinity limit of multinomial resampling -- so NO
    global resample, shuffle, or second pass over the data is needed;
    the bootstrap that actually runs at 100 TB. Point estimates
    per replicate are weighted means; the CI is the 2.5/97.5
    percentile of the {N_BOOT} replicate means, the SE their stddev.

    Determinism: weights come from the restart-stable Knuth hash
    (hashing.py) of (orderkey fold, replicate) -- both engines build
    the identical uniform (an exact integer divided by 2^32) and walk
    the same branched CDF literals, so every weight matches
    bit-for-bit. Replicate means floor-quantize at 1e-6 before the
    percentile pass, absorbing partial-sum order noise. Shape: explode
    x{N_BOOT} map-side, ONE groupBy(replicate) partial-combines to
    {N_BOOT} rows, then a bounded final aggregate -- wall cost is one
    scan of {N_BOOT}x the input, zero joins."""
    pin_session_conf(spark)
    rows_b = (load(spark, sf_dir, "orders")
              .where(F.col("o_totalprice").isNotNull())
              .select((F.col("o_orderkey") % 16777216).alias("k"),
                      F.col("o_totalprice").alias("x"))
              .withColumn("b", F.explode(F.sequence(
                  F.lit(0), F.lit(N_BOOT - 1)))))
    u = knuth_hash(F.col("k") * 131 + F.col("b")) / F.lit(4294967296.0)
    w = rows_b.select("b", "x", _pois_case_col(u).alias("wt"))
    reps = (w.groupBy("b")
            .agg((F.floor(F.sum(F.col("wt") * F.col("x"))
                          / F.sum("wt") * _Q + F.lit(0.5)) / _Q)
                 .alias("m")))
    return reps.agg(
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
        F.round(F.avg("m"), 4).alias("boot_mean"),
        F.round(F.stddev_samp("m"), 4).alias("boot_se"),
        F.round(F.expr("percentile(m, 0.025)"), 4).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.975)"), 4).alias("ci_hi"))


# ------------------------------------------------- Kaplan-Meier

_KM_CENSOR_DAYS = 90  # ordered within this window of corpus end = censored
_DAY_US = 86400000000


@register("agg_survival_km", oracle=f"""
WITH ev AS (
    SELECT o_custkey AS u, epoch_us(o_orderdate) AS tu FROM orders
    WHERE o_orderdate IS NOT NULL AND o_custkey IS NOT NULL
),
g AS (SELECT max(tu) AS gmax FROM ev),
users AS (
    SELECT u, floor((max(tu) - min(tu)) / {_DAY_US}.0) AS d,
           CASE WHEN max(tu) < g.gmax - {_KM_CENSOR_DAYS} * {_DAY_US}
                THEN 1 ELSE 0 END AS observed
    FROM ev, g GROUP BY u, g.gmax
),
tot AS (SELECT count(*) AS n FROM users),
durs AS (
    SELECT d, count(*) AS m, sum(observed) AS dth
    FROM users GROUP BY 1
),
cum AS (
    SELECT d, m, dth,
           sum(m) OVER (ORDER BY d ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cm
    FROM durs
),
death AS (
    SELECT d, dth, t.n - cm + m AS n_risk,
           1.0 - dth * 1.0 / (t.n - cm + m) AS ratio
    FROM cum, tot t WHERE dth > 0
),
surv AS (
    SELECT d, dth, n_risk,
           sum(CASE WHEN ratio > 0 THEN ln(ratio) ELSE 0.0 END)
               OVER w AS cumln,
           max(CASE WHEN ratio <= 0 THEN 1 ELSE 0 END) OVER w AS dead
    FROM death
    WINDOW w AS (ORDER BY d ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT CAST(d AS BIGINT) AS duration_days,
       CAST(n_risk AS BIGINT) AS n_risk,
       CAST(dth AS BIGINT) AS n_events,
       CASE WHEN dead = 1 THEN 0.0
            ELSE floor(exp(cumln) * {_Q} + 0.5) / {_Q} END AS survival
FROM surv
""")
def agg_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of CUSTOMER LIFETIMES (first-to-
    last order span in days): the product-limit estimator with
    censoring -- customers still ordering within {_KM_CENSOR_DAYS}
    days of the corpus end are censored, not churned, the correction
    naive retention-curve SQL gets wrong and the reason KM exists
    (Kaplan & Meier 1958). Emits, per death-time, the at-risk count,
    events, and S(t) -- the churn curve a subscription/engagement
    team reads (the events table's synthetic users are ALL active at
    corpus end -- every lifetime censored, an empty curve -- so the
    operator reads the orders fact table, whose multi-year customer
    histories actually churn).

    Exactness: at-risk counts derive from ONE cumulative sum over the
    duration histogram (n_risk(t) = N - cum(m) + m, all integers);
    the product limit is exp(running sum of ln ratios) with an
    explicit zero-ratio flag carried as a running max, so S collapses
    to an exact 0.0 after extinction instead of riding a NULL or
    -inf through the sum; the ln-sum noise is absorbed by the 1e-6
    floor quantization.

    Scale shape: one groupBy(customer) collapses the fact table; the
    duration keyspace is bounded by the corpus time span in days, so
    both running sums ride two_level_running_sum with duration//64 as
    the (bounded, monotone) bucket key -- never a single-reducer sort
    over customers."""
    pin_session_conf(spark)
    from recommendation_system_spark_ml_spark.operators.scale import (
        two_level_running_sum)
    ev = (load(spark, sf_dir, "orders")
          .where(F.col("o_orderdate").isNotNull()
                 & F.col("o_custkey").isNotNull())
          .select(F.col("o_custkey").alias("u"),
                  F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                  .alias("tu")))
    g = ev.agg(F.max("tu").alias("gmax"))
    users = (ev.crossJoin(F.broadcast(g))
             .groupBy("u", "gmax")
             .agg(F.floor((F.max("tu") - F.min("tu")) / float(_DAY_US))
                  .alias("d"),
                  F.when(F.max("tu") < F.col("gmax")
                         - _KM_CENSOR_DAYS * _DAY_US, 1).otherwise(0)
                  .alias("observed_flag"))
             .select("u", "d",
                     F.col("observed_flag").alias("observed")))
    tot = users.agg(F.count(F.lit(1)).alias("n"))
    durs = users.groupBy("d").agg(F.count(F.lit(1)).alias("m"),
                                  F.sum("observed").alias("dth"))
    bucket = (F.col("d") / 64).cast("long")
    cum = two_level_running_sum(durs, bucket,
                                [F.col("d").asc()], F.col("m"), out="cm")
    death = (cum.crossJoin(F.broadcast(tot))
             .withColumn("n_risk", F.col("n") - F.col("cm") + F.col("m"))
             .withColumn("ratio", F.lit(1.0) - F.col("dth").cast("double")
                         / F.col("n_risk"))
             .where(F.col("dth") > 0)
             .select("d", "dth", "n_risk", "ratio"))
    lnterm = F.when(F.col("ratio") > 0, F.log(F.col("ratio"))) \
        .otherwise(F.lit(0.0))
    zflag = F.when(F.col("ratio") <= 0, 1).otherwise(0)
    s1 = two_level_running_sum(death.withColumn("zf", zflag), bucket,
                               [F.col("d").asc()], lnterm, out="cumln")
    s2 = two_level_running_sum(s1, bucket,
                               [F.col("d").asc()], F.col("zf"), out="deadcum")
    return s2.select(
        F.col("d").cast("long").alias("duration_days"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("dth").cast("long").alias("n_events"),
        F.when(F.col("deadcum") > 0, F.lit(0.0))
        .otherwise(F.floor(F.exp(F.col("cumln")) * _Q + F.lit(0.5)) / _Q)
        .alias("survival"))


# ------------------------------------------------- IRLS logistic

IRLS_ITERS = 3      # fixed Newton/IRLS rounds, shared with the oracle
_MQ = 10_000        # 1e-4 moment quantization: everything downstream of
#                     the (noise-bearing) double sums is then exact


def _irls_moments_sql(beta: str) -> str:
    """One aggregation pass: the 6 distinct entries of X'WX and the 3
    of X'Wz at the current beta CTE (columns b0, b1, b2)."""
    eta = f"({beta}.b0 + {beta}.b1 * d.x1 + {beta}.b2 * d.x2)"
    mu = f"(1.0 / (1.0 + exp(-{eta})))"
    w = f"({mu} * (1.0 - {mu}))"
    z = f"({eta} + (d.y - {mu}) / {w})"
    q = f"floor({{}} * {_MQ} + 0.5) / {_MQ}"
    terms = {
        "s00": f"sum({w})", "s01": f"sum({w} * d.x1)",
        "s02": f"sum({w} * d.x2)", "s11": f"sum({w} * d.x1 * d.x1)",
        "s12": f"sum({w} * d.x1 * d.x2)", "s22": f"sum({w} * d.x2 * d.x2)",
        "t0": f"sum({w} * {z})", "t1": f"sum({w} * {z} * d.x1)",
        "t2": f"sum({w} * {z} * d.x2)",
    }
    cols = ", ".join(q.format(v) + f" AS {k}" for k, v in terms.items())
    return f"SELECT {cols} FROM d, {beta}"


_CRAMER = """
    SELECT
      (m.s00 * (m.s11 * m.s22 - m.s12 * m.s12)
       - m.s01 * (m.s01 * m.s22 - m.s12 * m.s02)
       + m.s02 * (m.s01 * m.s12 - m.s11 * m.s02)) AS det,
      (m.t0 * (m.s11 * m.s22 - m.s12 * m.s12)
       - m.s01 * (m.t1 * m.s22 - m.s12 * m.t2)
       + m.s02 * (m.t1 * m.s12 - m.s11 * m.t2)) AS d0,
      (m.s00 * (m.t1 * m.s22 - m.t2 * m.s12)
       - m.t0 * (m.s01 * m.s22 - m.s12 * m.s02)
       + m.s02 * (m.s01 * m.t2 - m.t1 * m.s02)) AS d1,
      (m.s00 * (m.s11 * m.t2 - m.s12 * m.t1)
       - m.s01 * (m.s01 * m.t2 - m.t1 * m.s02)
       + m.t0 * (m.s01 * m.s12 - m.s11 * m.s02)) AS d2
    FROM m{t} m
"""


def _logistic_oracle() -> str:
    q6 = f"floor({{}} * {_Q} + 0.5) / {_Q}"
    steps = []
    prev = "b0t"
    for t in range(1, IRLS_ITERS + 1):
        cramer = _CRAMER.format(t=t)
        steps.append(f"""m{t} AS MATERIALIZED (
    {_irls_moments_sql(prev)}
), b{t} AS MATERIALIZED (
    SELECT {q6.format('d0 / det')} AS b0,
           {q6.format('d1 / det')} AS b1,
           {q6.format('d2 / det')} AS b2
    FROM ({cramer})
)""")
        prev = f"b{t}"
    eta = f"({prev}.b0 + {prev}.b1 * d.x1 + {prev}.b2 * d.x2)"
    return f"""
WITH d AS (
    SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS y,
           o_totalprice / 100000.0 AS x1,
           (CAST(month(o_orderdate) AS DOUBLE) - 1.0) / 11.0 AS x2
    FROM orders
    WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
          AND o_orderdate IS NOT NULL
),
b0t AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
{", ".join(steps)}
SELECT CAST(count(*) AS BIGINT) AS n,
       min({prev}.b0) AS beta0, min({prev}.b1) AS beta1,
       min({prev}.b2) AS beta2,
       round(sum(d.y * {eta} - ln(1.0 + exp({eta}))), 4) AS log_lik,
       {q6.format(
           "avg(CASE WHEN (" + eta + " > 0) = (d.y = 1.0)"
           " THEN 1.0 ELSE 0.0 END)")} AS train_acc
FROM d, {prev}
"""


@register("ml_logistic_irls_exact", oracle=_logistic_oracle())
def ml_logistic_irls_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression fit by {IRLS_ITERS} unrolled IRLS/Newton
    rounds, ENTIRELY in relational algebra -- the classification twin
    of ml_linear_regression_exact's closed-form OLS: per round, ONE
    partial-combined aggregation builds the 9 weighted moments (X'WX
    upper triangle + X'Wz), the 3x3 system solves by Cramer's rule in
    a scalar projection, and the new beta broadcasts back. Predicts
    P(order is 1-URGENT) from total price + order month; emits the
    coefficients, train log-likelihood, and accuracy. MLlib's
    LogisticRegression is LBFGS-iterative and can only be
    band-checked; this formulation is DuckDB-hash-verified
    bit-for-bit.

    Determinism: the moments are the ONLY noise-bearing double sums,
    so they floor-quantize at 1e-4 (noise ~1e-8, margin 1e4x) --
    everything downstream (Cramer, the next round's eta/mu/w/z
    expression trees) computes from identical doubles on both
    engines; betas quantize at 1e-6 for display. Fixed round count is
    the graph_pagerank determinism contract.

    Scale shape: each round is one scan + one 9-column partial
    aggregate to a single row (the classic 'ML on MPP' pattern --
    Hellerstein et al. 2012 MADlib); the 1-row beta table broadcasts;
    {IRLS_ITERS} rounds = {IRLS_ITERS} scans + the final scoring
    scan. No windows, no shuffles beyond the aggregate's."""
    pin_session_conf(spark)
    d = (load(spark, sf_dir, "orders")
         .where(F.col("o_orderpriority").isNotNull()
                & F.col("o_totalprice").isNotNull()
                & F.col("o_orderdate").isNotNull())
         .select(F.when(F.col("o_orderpriority") == "1-URGENT", 1.0)
                 .otherwise(0.0).alias("y"),
                 (F.col("o_totalprice") / 100000.0).alias("x1"),
                 ((F.month("o_orderdate").cast("double") - 1.0) / 11.0)
                 .alias("x2")))

    def mq(c):
        return F.floor(c * _MQ + F.lit(0.5)) / _MQ

    beta = (0.0, 0.0, 0.0)
    beta_df = None
    for _ in range(IRLS_ITERS):
        if beta_df is None:
            b0, b1, b2 = (F.lit(v) for v in beta)
            cur = d
        else:
            b0, b1, b2 = F.col("b0"), F.col("b1"), F.col("b2")
            cur = d.crossJoin(F.broadcast(beta_df))
        eta = b0 + b1 * F.col("x1") + b2 * F.col("x2")
        mu = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
        w = mu * (F.lit(1.0) - mu)
        z = eta + (F.col("y") - mu) / w
        x1, x2 = F.col("x1"), F.col("x2")
        m = cur.agg(mq(F.sum(w)).alias("s00"),
                    mq(F.sum(w * x1)).alias("s01"),
                    mq(F.sum(w * x2)).alias("s02"),
                    mq(F.sum(w * x1 * x1)).alias("s11"),
                    mq(F.sum(w * x1 * x2)).alias("s12"),
                    mq(F.sum(w * x2 * x2)).alias("s22"),
                    mq(F.sum(w * z)).alias("t0"),
                    mq(F.sum(w * z * x1)).alias("t1"),
                    mq(F.sum(w * z * x2)).alias("t2"))
        s00, s01, s02 = F.col("s00"), F.col("s01"), F.col("s02")
        s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
        t0, t1, t2 = F.col("t0"), F.col("t1"), F.col("t2")
        det = (s00 * (s11 * s22 - s12 * s12)
               - s01 * (s01 * s22 - s12 * s02)
               + s02 * (s01 * s12 - s11 * s02))
        d0 = (t0 * (s11 * s22 - s12 * s12)
              - s01 * (t1 * s22 - s12 * t2)
              + s02 * (t1 * s12 - s11 * t2))
        d1 = (s00 * (t1 * s22 - t2 * s12)
              - t0 * (s01 * s22 - s12 * s02)
              + s02 * (s01 * t2 - t1 * s02))
        d2 = (s00 * (s11 * t2 - s12 * t1)
              - s01 * (s01 * t2 - t1 * s02)
              + t0 * (s01 * s12 - s11 * s02))
        q6 = lambda c: F.floor(c * _Q + F.lit(0.5)) / _Q  # noqa: E731
        beta_df = (m.select(q6(d0 / det).alias("b0"),
                            q6(d1 / det).alias("b1"),
                            q6(d2 / det).alias("b2"))
                   .localCheckpoint(eager=True))
    fin = d.crossJoin(F.broadcast(beta_df))
    eta = (F.col("b0") + F.col("b1") * F.col("x1")
           + F.col("b2") * F.col("x2"))
    correct = F.when((eta > 0) == (F.col("y") == 1.0), 1.0).otherwise(0.0)
    return fin.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("b0").alias("beta0"), F.min("b1").alias("beta1"),
        F.min("b2").alias("beta2"),
        F.round(F.sum(F.col("y") * eta
                      - F.log(F.lit(1.0) + F.exp(eta))), 4).alias("log_lik"),
        (F.floor(F.avg(correct) * _Q + F.lit(0.5)) / _Q).alias("train_acc"))


# --------------------------------------------------- winsorized mean

_WZ_LO_PCT, _WZ_HI_PCT = 5, 95  # winsorization percentiles (integer %)
_WZ_Q = 1_000_000


@register("agg_winsorized_mean", oracle=f"""
WITH c AS (
    SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
    FROM lineitem WHERE l_extendedprice IS NOT NULL
),
thr AS (
    -- discrete quantile: the ACTUAL data value at rank ceil(q*n),
    -- pure integer arithmetic -- no interpolation, so no cross-engine
    -- 1-ulp drift when neighboring order statistics tie (r8 ADVICE)
    SELECT min(CASE WHEN cum >= (n * {_WZ_LO_PCT} + 99) // 100
               THEN cents END) AS lo_c,
           min(CASE WHEN cum >= (n * {_WZ_HI_PCT} + 99) // 100
               THEN cents END) AS hi_c
    FROM (SELECT cents, sum(cnt) OVER (ORDER BY cents) AS cum
          FROM (SELECT cents, count(*) AS cnt FROM c GROUP BY cents)),
         (SELECT count(*) AS n FROM c)
)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN cents < lo_c THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clipped_lo,
       CAST(sum(CASE WHEN cents > hi_c THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clipped_hi,
       CAST(lo_c AS BIGINT) AS lo_cents, CAST(hi_c AS BIGINT) AS hi_cents,
       floor(CAST(sum(least(greatest(cents, lo_c), hi_c)) AS DOUBLE)
             / count(*) / 100.0 * {_WZ_Q} + 0.5) / {_WZ_Q}
           AS winsorized_mean,
       floor(CAST(sum(cents) AS DOUBLE)
             / count(*) / 100.0 * {_WZ_Q} + 0.5) / {_WZ_Q} AS raw_mean
FROM c, thr GROUP BY lo_c, hi_c
""")
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of l_extendedprice (clip at the 5th/95th
    percentile, then average) -- the robust location estimate revenue
    dashboards want when a handful of whale orders would otherwise own
    the mean; emitted next to the raw mean so the gap itself is the
    outlier-influence metric.

    Exactness discipline (the agg_mann_whitney integer recipe): prices
    become exact integer CENTS first, so the clipped sum is a BIGINT
    in any summation order -- no float accumulation anywhere until the
    two final divisions (exact integer inputs, IEEE-identical
    quotients, 1e-6 floor quantization). The clip thresholds are
    DISCRETE quantiles -- the actual data value at rank ceil(q*n),
    located by an integer cumulative-count walk over the distinct
    cent values -- so both engines compute the identical BIGINT with
    zero interpolation (r8 ADVICE: Spark percentile() and DuckDB
    quantile_cont() can disagree by 1 ulp on tied neighbors, and a
    1-ulp-low interpolation floors to a different cent).

    One scan plus a distinct-cents aggregate for the thresholds, then
    a broadcast 1-row threshold join: the 100 TB cost is the scan.
    The threshold walk's window sort runs over DISTINCT cent values
    only (bounded keyspace, same buffer argument as the exact
    percentile it replaces); the documented approx swap for unbounded
    domains is approx_percentile (see agg_approx_percentile)."""
    pin_session_conf(spark)
    c = (load(spark, sf_dir, "lineitem")
         .where(F.col("l_extendedprice").isNotNull())
         .select(F.round(F.col("l_extendedprice") * 100, 0).cast("long")
                 .alias("cents")))
    d = c.groupBy("cents").agg(F.count(F.lit(1)).alias("cnt"))
    cum = d.select(
        "cents", F.sum("cnt").over(Window.orderBy("cents")).alias("cum"))
    n_tot = c.agg(F.count(F.lit(1)).alias("n"))
    rank = lambda pct: F.expr(f"(n * {pct} + 99) DIV 100")
    thr = (cum.crossJoin(F.broadcast(n_tot)).agg(
        F.min(F.when(F.col("cum") >= rank(_WZ_LO_PCT), F.col("cents")))
        .alias("lo_c"),
        F.min(F.when(F.col("cum") >= rank(_WZ_HI_PCT), F.col("cents")))
        .alias("hi_c")))
    clipped = F.least(F.greatest(F.col("cents"), F.col("lo_c")),
                      F.col("hi_c"))
    q = lambda col: F.floor(col * _WZ_Q + F.lit(0.5)) / _WZ_Q
    return (c.crossJoin(F.broadcast(thr))
            .groupBy("lo_c", "hi_c")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum((F.col("cents") < F.col("lo_c")).cast("long"))
                 .alias("n_clipped_lo"),
                 F.sum((F.col("cents") > F.col("hi_c")).cast("long"))
                 .alias("n_clipped_hi"),
                 F.sum(clipped).alias("wsum"),
                 F.sum("cents").alias("rsum"))
            .select(F.col("n"), "n_clipped_lo", "n_clipped_hi",
                    F.col("lo_c").cast("long").alias("lo_cents"),
                    F.col("hi_c").cast("long").alias("hi_cents"),
                    q(F.col("wsum").cast("double") / F.col("n") / 100.0)
                    .alias("winsorized_mean"),
                    q(F.col("rsum").cast("double") / F.col("n") / 100.0)
                    .alias("raw_mean")))
