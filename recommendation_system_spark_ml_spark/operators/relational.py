"""Scans, projections, filters, set ops, deterministic splits.

Reference sites covered (SURVEY.md §2.1/2.2/2.5/2.7):
- S1/S2 text scans (MovieLensRecommender.py:114,132) -> scan_text, as a
  DataFrame-native split+cast pipeline (no RDD, no pandas round-trip).
- S6/gap parquet scan+sink -> scan_parquet / sink_parquet with a
  partitioned write (the 100 TB sink shape).
- P1/P2 split+cast projections (MovieLensRecommender.py:134-139),
  P3 drop (MLR.py:140), P4/P5 select+rename (MLR.py:74,77).
- P6/gap filters: the reference has no explicit predicate; the engine
  exposes comparison/IN/BETWEEN/LIKE/null tests -> filter_pred,
  filter_notnull (ALS coldStartStrategy='drop' semantics, MLR.py:209).
- set ops (§2.5 gap), R1 deterministic split (MLR.py:145) as a
  hash-split both engines compute identically.

Scale notes: every query is a single Catalyst plan; filters/projections
reach the parquet scan (PushedFilters/ReadSchema verified in
tests/test_plans.py); no collect(), no driver loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from recommendation_system_spark_ml_spark.hashing import (
    knuth_hash, knuth_hash_sql)
from recommendation_system_spark_ml_spark.registry import register
from recommendation_system_spark_ml_spark.session import (
    pin_session_conf, scratch_path as _scratch)
from recommendation_system_spark_ml_spark.sources.catalog import load


# --- S: scans & sinks ------------------------------------------------------

@register("scan_parquet", oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_returnflag = 'N'
""")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate that must push down to the parquet scan."""
    pin_session_conf(spark)
    return (load(spark, sf_dir, "lineitem")
            .filter((F.col("l_shipdate") >= "1998-01-01") & (F.col("l_returnflag") == "N"))
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"))


@register("scan_text", oracle="SELECT r_regionkey, r_name FROM region")
def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'::'-delimited text ingest, DataFrame-native.

    The reference reads its .dat files via RDD lambdas + a pandas
    round-trip (MovieLensRecommender.py:113-129). Here: write a text
    twin of `region`, read it back with spark.read.text, split + cast
    in one Catalyst plan. No Python workers anywhere.

    NULL discipline: concat_ws SKIPS null fields (the repo's
    documented round-trip trap), so a NULL r_name would shrink the
    line to one field and the positional read would crash under ANSI
    (probe-caught at seed 31). NULLs ride the classic '\\N' text
    sentinel: coalesce on write, nullif on read -- the round trip
    reproduces the table exactly, NULLs included."""
    pin_session_conf(spark)
    path = _scratch(sf_dir, "region_text")
    sentinel = "\\N"
    (load(spark, sf_dir, "region")
     .select(F.concat_ws("::", F.col("r_regionkey"),
                         F.coalesce(F.col("r_name"), F.lit(sentinel)))
             .alias("value"))
     .coalesce(1).write.mode("overwrite").text(path))
    parts = F.split(F.col("value"), "::")
    return (spark.read.text(path)
            .select(parts.getItem(0).cast("int").alias("r_regionkey"),
                    F.nullif(parts.getItem(1), F.lit(sentinel))
                    .alias("r_name")))


@register("sink_parquet", oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS sum_qty,
       count(*) AS n_rows
FROM lineitem GROUP BY 1, 2
""")
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet write (the real 100 TB sink) + read-back."""
    pin_session_conf(spark)
    path = _scratch(sf_dir, "lineitem_agg")
    agg = (load(spark, sf_dir, "lineitem")
           .groupBy("l_returnflag", "l_linestatus")
           .agg(F.sum(F.round("l_quantity", 0).cast("long")).alias("sum_qty"),
                F.count(F.lit(1)).alias("n_rows")))
    agg.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    # partitionBy turns the partition column into a directory key; restore
    # column order/types on read-back.
    return (spark.read.parquet(path)
            .select("l_returnflag", "l_linestatus", "sum_qty", "n_rows"))


# --- P: projections --------------------------------------------------------

@register("proj_split_cast", oracle="""
WITH encoded AS (
    SELECT o_orderkey || '::' || o_orderstatus || '::' || CAST(round(o_totalprice * 100, 0) AS BIGINT) AS line
    FROM orders
)
SELECT CAST(string_split(line, '::')[1] AS BIGINT) AS o_orderkey,
       string_split(line, '::')[2] AS o_orderstatus,
       CAST(string_split(line, '::')[3] AS BIGINT) / 100.0 AS o_totalprice
FROM encoded
""")
def proj_split_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole ingest idiom (MLR.py:134-139): encode rows
    as '::'-delimited strings, then split + positional cast back."""
    pin_session_conf(spark)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    # concat (NULL-propagating, matching the oracle's ||), NOT
    # concat_ws: concat_ws SKIPS null fields, so a null status would
    # shift every later field left and the positional parts[2] cast
    # indexes out of bounds under ANSI (fuzz-caught crash).
    encoded = (load(spark, sf_dir, "orders")
               .select(F.concat(F.col("o_orderkey").cast("string"),
                                F.lit("::"), F.col("o_orderstatus"),
                                F.lit("::"), cents.cast("string"))
                       .alias("line")))
    parts = F.split(F.col("line"), "::")
    return encoded.select(
        parts.getItem(0).cast("long").alias("o_orderkey"),
        parts.getItem(1).alias("o_orderstatus"),
        (parts.getItem(2).cast("long") / 100.0).alias("o_totalprice"))


@register("proj_select", oracle="""
SELECT c_custkey AS custkey, c_mktsegment AS segment, round(c_acctbal, 2) AS balance
FROM customer
""")
def proj_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Narrow select + rename (MLR.py:74,77,161)."""
    pin_session_conf(spark)
    return (load(spark, sf_dir, "customer")
            .select(F.col("c_custkey").alias("custkey"),
                    F.col("c_mktsegment").alias("segment"),
                    F.round("c_acctbal", 2).alias("balance")))


@register("proj_drop", oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus
FROM lineitem
""")
def proj_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column drop (MLR.py:140 drops timestamp). Catalyst prunes the
    parquet scan to the surviving columns."""
    pin_session_conf(spark)
    return load(spark, sf_dir, "lineitem").drop(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount", "l_tax", "l_shipdate")


# --- filters ---------------------------------------------------------------

@register("filter_pred", oracle="""
SELECT o_orderkey, o_orderstatus, o_orderpriority, round(o_totalprice, 2) AS o_totalprice
FROM orders
WHERE o_orderstatus = 'O'
  AND o_totalprice BETWEEN 1000 AND 200000
  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
  AND o_orderpriority LIKE '%-%'
  AND o_custkey IS NOT NULL
""")
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comparison + BETWEEN + IN + LIKE + null-test in one predicate
    (the §2.2 gap: the reference never filters explicitly)."""
    pin_session_conf(spark)
    o = load(spark, sf_dir, "orders")
    return (o.filter((F.col("o_orderstatus") == "O")
                     & F.col("o_totalprice").between(1000, 200000)
                     & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
                     & F.col("o_orderpriority").like("%-%")
                     & F.col("o_custkey").isNotNull())
            .select("o_orderkey", "o_orderstatus", "o_orderpriority",
                    F.round("o_totalprice", 2).alias("o_totalprice")))


@register("filter_notnull", oracle="""
WITH p AS (
    SELECT event_id, CASE WHEN value >= 50 THEN round(value, 2) END AS big_value
    FROM events
)
SELECT event_id, big_value FROM p WHERE big_value IS NOT NULL
""")
def filter_notnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """na.drop semantics -- the engine twin of ALS coldStartStrategy
    ='drop' (MLR.py:209): derive a nullable column, drop its nulls."""
    pin_session_conf(spark)
    ev = load(spark, sf_dir, "events")
    return (ev.select("event_id",
                      F.when(F.col("value") >= 50, F.round("value", 2)).alias("big_value"))
            .na.drop(subset=["big_value"]))


# --- set ops ---------------------------------------------------------------

@register("set_union", oracle="""
SELECT o_orderkey, 'urgent' AS src FROM orders WHERE o_orderpriority = '1-URGENT'
UNION ALL
SELECT o_orderkey, 'big' AS src FROM orders WHERE o_totalprice > 150000
""")
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_session_conf(spark)
    o = load(spark, sf_dir, "orders")
    urgent = (o.filter(F.col("o_orderpriority") == "1-URGENT")
              .select("o_orderkey", F.lit("urgent").alias("src")))
    big = (o.filter(F.col("o_totalprice") > 150000)
           .select("o_orderkey", F.lit("big").alias("src")))
    return urgent.unionByName(big)


@register("set_intersect", oracle="""
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
""")
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with both an open and a filled order."""
    pin_session_conf(spark)
    o = load(spark, sf_dir, "orders")
    return (o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
            .intersect(o.filter(F.col("o_orderstatus") == "F").select("o_custkey")))


@register("set_except", oracle="""
SELECT c_custkey FROM customer
EXCEPT
SELECT o_custkey AS c_custkey FROM orders
""")
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders at all, via EXCEPT (anti-join twin)."""
    pin_session_conf(spark)
    return (load(spark, sf_dir, "customer").select("c_custkey")
            .exceptAll(load(spark, sf_dir, "orders")
                       .select(F.col("o_custkey").alias("c_custkey")))
            .distinct())


# --- R: deterministic split ------------------------------------------------

# The Knuth hash gate (hashing.py) in place of the reference's
# randomSplit (MLR.py:145).
@register("split_hash", oracle=f"""
SELECT o_orderkey,
       CASE WHEN {knuth_hash_sql('o_orderkey')} % 10 < 7
            THEN 'train' ELSE 'test' END AS split
FROM orders
""")
def split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_session_conf(spark)
    bucket = knuth_hash(F.col("o_orderkey")) % F.lit(10)
    return (load(spark, sf_dir, "orders")
            .select("o_orderkey",
                    F.when(bucket < 7, "train").otherwise("test").alias("split")))


@register("sample_stratified", oracle=f"""
WITH gated AS (
    SELECT l_orderkey, l_linenumber, l_returnflag,
           {knuth_hash_sql('l_orderkey * 16 + l_linenumber')} % 1000
               AS bucket,
           CASE l_returnflag WHEN 'A' THEN 500 WHEN 'N' THEN 100
                             WHEN 'R' THEN 250 END AS cutoff
    FROM lineitem
)
SELECT l_orderkey, l_linenumber, l_returnflag FROM gated WHERE bucket < cutoff
""")
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 (SURVEY.md §2.7): stratified sampling with per-stratum
    fractions (A: 0.5, N: 0.1, R: 0.25), the engine twin of sampleBy
    (MLR.py uses randomSplit at :145; same Bernoulli-per-row shape).

    The gate is the Knuth multiplicative hash on the row's natural key
    -- per-row, no shuffle, no sort, exactly like sampleBy's XORShift
    gate -- but deterministic across engines AND across restarts /
    repartitioning, which sampleBy is not. At 100 TB restart-stable
    sampling is what you actually want (re-running a failed stage must
    not change the sample), and it makes the sample oracle-checkable."""
    pin_session_conf(spark)
    li = load(spark, sf_dir, "lineitem")
    bucket = knuth_hash(F.col("l_orderkey") * 16
                        + F.col("l_linenumber")) % F.lit(1000)
    cutoff = (F.when(F.col("l_returnflag") == "A", 500)
              .when(F.col("l_returnflag") == "N", 100)
              .when(F.col("l_returnflag") == "R", 250))
    return (li.select("l_orderkey", "l_linenumber", "l_returnflag")
            .filter(bucket < cutoff))


@register("set_except_all", oracle="""
SELECT o_custkey AS custkey FROM orders
EXCEPT ALL
SELECT c_custkey FROM customer
""")
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL: each order's custkey minus ONE occurrence
    per matching customer -- multiplicities survive, unlike the
    distinct EXCEPT (set_except). Implemented as a count-compare
    shuffle on the key, not a sort."""
    pin_session_conf(spark)
    return (load(spark, sf_dir, "orders")
            .select(F.col("o_custkey").alias("custkey"))
            .exceptAll(load(spark, sf_dir, "customer")
                       .select(F.col("c_custkey").alias("custkey"))))


@register("set_intersect_all", oracle="""
SELECT user_id FROM events
INTERSECT ALL
SELECT o_custkey AS user_id FROM orders
""")
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset INTERSECT ALL: min(multiplicity) per key across two
    fact-sized inputs -- one shuffle per side on the compare key."""
    pin_session_conf(spark)
    return (load(spark, sf_dir, "events").select("user_id")
            .intersectAll(load(spark, sf_dir, "orders")
                          .select(F.col("o_custkey").alias("user_id"))))


@register("stable_row_ids", oracle="""
SELECT o_orderkey,
       CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT)
           AS stable_id
FROM orders
""")
def stable_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense, order-preserving 0..N-1 row IDs, distributed -- the
    restart-stable replacement for monotonically_increasing_id (whose
    values depend on partition layout, so two runs of the same data
    disagree) and for zipWithIndex (an RDD detour). Two-phase:

    1. range-bucket the key (bucket = key div 1000), row_number within
       each bucket -- the global sort becomes many independent
       per-bucket sorts;
    2. per-bucket counts -> running offset over the tiny bucket table
       (a window over n_buckets rows, not n rows) -> broadcast the
       offsets back and add.

    At 100 TB the only global structure is the bucket-offset table
    (~key-range/1000 rows); everything row-sized stays partition-local.
    The oracle is the single-window definition: row_number() - 1 over
    the key order."""
    pin_session_conf(spark)
    orders = load(spark, sf_dir, "orders").select("o_orderkey")
    bucketed = orders.withColumn("bucket", (F.col("o_orderkey") / 1000).cast("long"))
    wb = Window.partitionBy("bucket").orderBy("o_orderkey")
    within = bucketed.withColumn("rn", F.row_number().over(wb))
    counts = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    woff = (Window.orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    offsets = (counts
               .withColumn("offset", F.sum("n").over(woff) - F.col("n"))
               .select("bucket", "offset"))
    return (within.join(F.broadcast(offsets), "bucket")
            .select("o_orderkey",
                    (F.col("offset") + F.col("rn") - 1).alias("stable_id")))


@register("scan_observed", oracle="""
SELECT l_returnflag,
       count(*) AS n_rows,
       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS price_cents
FROM lineitem GROUP BY 1
""")
def scan_observed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality observation riding the scan: `df.observe()` attaches
    named metrics (row count, null count, total cents) that Spark
    computes AS THE QUERY RUNS -- no second pass over the data, unlike
    a separate validation job. The observed totals must agree with the
    query's own aggregate, which is what the accompanying test asserts
    (tests/test_plans.py::test_observed_metrics_match_aggregate).

    At 100 TB this is how ingest validation is actually afforded: the
    metrics are accumulator-style map-side sums collected with the
    job's result, so 'rows read, nulls seen, checksum' costs nothing
    beyond the scan the pipeline already pays for."""
    pin_session_conf(spark)
    from pyspark.sql import Observation
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    obs = Observation("scan_qc")
    observed = (load(spark, sf_dir, "lineitem")
                .select("l_returnflag", cents.alias("cents"))
                .observe(obs,
                         F.count(F.lit(1)).alias("rows_seen"),
                         F.sum("cents").alias("cents_seen")))
    return (observed.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("cents").alias("price_cents")))


@register("sample_bottom_k", oracle="""
WITH keyed AS (
    SELECT event_type, event_id, value,
           row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
           ) AS sample_rank
    FROM events
)
SELECT event_type, event_id, value, CAST(sample_rank AS INTEGER) AS sample_rank
FROM keyed WHERE sample_rank <= 8
""")
def sample_bottom_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k sampling: a fixed-size uniform sample per group, taken
    as the k rows with the smallest hash of their key (Cohen &
    Kaplan's bottom-k sketch). Unlike reservoir sampling it is
    order-free, restart-stable, and MERGEABLE: the bottom-k of a union
    is the bottom-k of the concatenated bottom-k's, so map-side
    partial limits compose -- Catalyst's WindowGroupLimit pushes the
    rank<=k predicate below the shuffle, and each partition forwards
    at most k rows per group (plan-asserted in tests/test_plans.py).

    md5 of the decimal key string is the gate -- identical bytes in
    any engine, so the 'random' sample is hash-checkable, and at 100
    TB a re-run after a stage failure reproduces the exact sample
    (sampleBy/reservoir do not)."""
    pin_session_conf(spark)
    w = (Window.partitionBy("event_type")
         .orderBy(F.md5(F.col("event_id").cast("string")), "event_id"))
    return (load(spark, sf_dir, "events")
            .select("event_type", "event_id", "value")
            .withColumn("sample_rank", F.row_number().over(w))
            .where(F.col("sample_rank") <= 8))


_AES_K = 100  # weighted sample size


def _aes_hex_int_sql(expr: str) -> str:
    """First 6 hex nibbles of md5(expr) as an integer, in portable SQL
    (DuckDB has no conv(); strpos nibble arithmetic matches Spark's
    conv(substring(md5, 1, 6), 16, 10) exactly)."""
    terms = []
    for i in range(6):
        terms.append(
            f"(strpos('0123456789abcdef', "
            f"substr(md5({expr}), {i + 1}, 1)) - 1) * {16 ** (5 - i)}")
    return "(" + " + ".join(terms) + ")"


@register("sample_weighted_aes", oracle=f"""
WITH keyed AS (
    SELECT doc_id, n_chars,
           floor(ln(({_aes_hex_int_sql("CAST(doc_id AS VARCHAR)")} + 1)
                    / 16777216.0)
                 / n_chars * 100000000 + 0.5) / 100000000 AS aes_key
    FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars AS weight, aes_key
FROM keyed ORDER BY aes_key DESC, doc_id LIMIT {_AES_K}
""")
def sample_weighted_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, A-ES (Efraimidis &
    Spirakis 2006): each row draws u in (0,1] and the k rows with the
    largest u^(1/w) are the sample -- the one-pass, merge-friendly
    way to sample a training mixture by document weight (here
    w = n_chars: longer docs proportionally likelier). Ordering by
    u^(1/w) is equivalent to ordering by ln(u)/w (w > 0), which keeps
    the arithmetic in a single ln + divide.

    DETERMINISTIC u (the repo's no-rand() rule): u = (h+1)/2^24 with
    h the first 6 md5 hex nibbles of the doc id -- replayable on any
    engine, so the "random" sample itself is oracle-hashed (the same
    trick sample_bottom_k uses for uniform sampling, extended to
    weights). Spark derives h via conv(substring(md5, 1, 6), 16, 10);
    the DuckDB twin spells the same integer with strpos nibble
    arithmetic (no conv() there).

    Scale: the per-row key is one map-side expression; top-k by key
    plans TakeOrderedAndProject (per-partition heaps + driver merge
    of k x partitions rows), never a global sort -- A-ES keys are
    max-mergeable, which is exactly why the scheme distributes.
    Cross-engine float: ln of the same dyadic rational, one divide by
    an integer, floor-quantized to 8 before the (key, id) order."""
    pin_session_conf(spark)
    docs = (load(spark, sf_dir, "documents")
            .where(F.col("n_chars") > 0))
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6),
               16, 10).cast("long")
    key = (F.log((h + 1) / F.lit(16777216.0)) / F.col("n_chars"))
    keyq = F.floor(key * 100000000 + F.lit(0.5)) / 100000000
    return (docs.select("doc_id", F.col("n_chars").alias("weight"),
                        keyq.alias("aes_key"))
            .orderBy(F.col("aes_key").desc(), F.col("doc_id"))
            .limit(_AES_K))


TIME_SPLIT_TRAIN_FRAC = 0.8  # fraction of the time RANGE (not rows)


@register("split_time_based", oracle=f"""
WITH bounds AS (
    SELECT epoch_us(min(ts)) + CAST(floor(
               (epoch_us(max(ts)) - epoch_us(min(ts)))
               * {TIME_SPLIT_TRAIN_FRAC}) AS BIGINT) AS cut_us
    FROM events
)
SELECT CASE WHEN epoch_us(e.ts) < b.cut_us THEN 'train' ELSE 'test' END
           AS split,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
       min(e.ts) AS first_ts, max(e.ts) AS last_ts
FROM events e CROSS JOIN bounds b
GROUP BY 1
""")
def split_time_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split report: train on the first
    {frac:.0%} of the observed TIME RANGE, test on the rest -- the
    split discipline for anything with temporal drift (recommenders,
    forecasting, event models), where split_hash's random assignment
    would leak the future into training. Returns per-split event and
    user counts plus the actual time spans, so the cut is auditable.
    The cut is a fraction of the time RANGE, not of rows -- row
    quantiles would move the boundary whenever volume grows, making
    reruns non-reproducible.

    Shape: one min/max scan produces the 2-scalar bounds table
    (broadcast), then one pass assigns splits map-side and
    aggregates; the exact per-split distinct-user count is the only
    heavyweight (Expand-based multi-distinct), with the documented
    approx_count_distinct swap at extreme scale. Timestamp
    arithmetic is integer microseconds in both engines, so the cut
    and the hashes are exact."""
    pin_session_conf(spark)
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        F.unix_micros(F.min(F.col("ts").cast("timestamp"))).alias("e0"),
        F.unix_micros(F.max(F.col("ts").cast("timestamp"))).alias("e1")).select(
        (F.col("e0") + F.floor((F.col("e1") - F.col("e0"))
                               * TIME_SPLIT_TRAIN_FRAC).cast("long"))
        .alias("cut_us"))
    return (ev.crossJoin(F.broadcast(bounds))
            .select(F.when(F.unix_micros(F.col("ts").cast("timestamp")) < F.col("cut_us"), "train")
                    .otherwise("test").alias("split"), "user_id", "ts")
            .groupBy("split")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.countDistinct("user_id").cast("long").alias("n_users"),
                 F.min("ts").alias("first_ts"),
                 F.max("ts").alias("last_ts")))
