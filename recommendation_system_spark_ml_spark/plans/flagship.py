"""Flagship query: the reference's one real relational query, rebuilt.

The reference's M7 "cluster-average predictor"
(MovieLensRecommender.py:72-83) is: facts ⋈ dim -> groupBy(entity,
group).avg(measure) -> join the averages back to the facts -> per-row
deviation (which its RegressionEvaluator then RMSEs,
MovieLensRecommender.py:148-151,174). Translated to the harness star
schema: lineitem ⋈ orders ⋈ customer, group = (c_mktsegment,
year(o_orderdate)), measure = discounted revenue.

Scale notes (100 TB posture):
- lineitem ⋈ orders shuffles on the order key -- unavoidable for the
  biggest two tables; AQE picks partition counts and handles skew.
- customer is joined on o_custkey after the fact tables are reduced;
  at laptop scale Catalyst broadcasts it, at 100 TB it shuffles -- both
  are the right call and AQE decides, we don't hard-code.
- the group-average table is ~(segments x years) rows, provably tiny:
  joined back with an explicit broadcast() so the join-back never
  shuffles the fact stream again.
- the per-row deviation aggregate reuses the groupBy partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recommendation_system_spark_ml_spark.registry import register
from recommendation_system_spark_ml_spark.session import pin_session_conf
from recommendation_system_spark_ml_spark.sources.catalog import load

_ORACLE = """
WITH enriched AS (
    SELECT c.c_mktsegment,
           CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
           l.l_quantity,
           l.l_extendedprice * (1 - l.l_discount) AS rev
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
), grp AS (
    SELECT c_mktsegment, order_year,
           count(*) AS n_items,
           sum(l_quantity) AS sum_qty,
           sum(rev) AS sum_rev,
           avg(rev) AS avg_rev
    FROM enriched GROUP BY 1, 2
), dev AS (
    SELECT e.c_mktsegment, e.order_year,
           sqrt(avg((e.rev - g.avg_rev) * (e.rev - g.avg_rev))) AS rmse_dev
    FROM enriched e
    JOIN grp g USING (c_mktsegment, order_year)
    GROUP BY 1, 2
)
SELECT g.c_mktsegment, g.order_year, g.n_items, g.sum_qty,
       round(g.sum_rev, 4) AS sum_rev,
       round(g.avg_rev, 4) AS avg_rev,
       round(d.rmse_dev, 4) AS rmse_dev
FROM grp g JOIN dev d USING (c_mktsegment, order_year)
"""


@register("flagship_cluster_avg", oracle=_ORACLE, bench=True)
def flagship_cluster_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_session_conf(spark)
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.year("o_orderdate").alias("order_year"))
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")

    # materialize the 3-table join ONCE (guide §5): both the averages
    # pass and the deviation pass consume `enriched`; un-materialized,
    # each pass re-ran the full lineitem ⋈ orders ⋈ customer join
    # (measured: the two joins dominated the query). localCheckpoint
    # (lazy) computes it on first use, reuses the blocks for the
    # second pass, and lets the ContextCleaner reclaim them when the
    # returned plan is dropped.
    enriched = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
          .join(cust, orders.o_custkey == cust.c_custkey)
          .select("c_mktsegment", "order_year", "l_quantity", "rev")
          .localCheckpoint(eager=False))

    grp = enriched.groupBy("c_mktsegment", "order_year").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("l_quantity").alias("sum_qty"),
        F.sum("rev").alias("sum_rev"),
        F.avg("rev").alias("avg_rev"))

    # Join-back (the M7 shape): averages are provably tiny -> broadcast,
    # so the fact stream is never reshuffled for the deviation pass.
    dev = (
        enriched.join(F.broadcast(grp.select("c_mktsegment", "order_year", "avg_rev")),
                      on=["c_mktsegment", "order_year"])
        .groupBy("c_mktsegment", "order_year")
        .agg(F.sqrt(F.avg(F.pow(F.col("rev") - F.col("avg_rev"), F.lit(2))))
              .alias("rmse_dev")))

    return (
        grp.join(dev, on=["c_mktsegment", "order_year"])
           .select("c_mktsegment", "order_year", "n_items", "sum_qty",
                   F.round("sum_rev", 4).alias("sum_rev"),
                   F.round("avg_rev", 4).alias("avg_rev"),
                   F.round("rmse_dev", 4).alias("rmse_dev")))


@register("flagship_fused", oracle="""
WITH enriched AS (
    SELECT c.c_mktsegment,
           CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
           l.l_quantity,
           l.l_extendedprice * (1 - l.l_discount) AS rev
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT c_mktsegment, order_year,
       count(*) AS n_items,
       sum(l_quantity) AS sum_qty,
       round(sum(rev), 4) AS sum_rev,
       round(avg(rev), 4) AS avg_rev,
       round(stddev_pop(rev), 4) AS rmse_dev
FROM enriched GROUP BY 1, 2
""", bench=True)
def flagship_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship's algebraic fusion: per-group RMSE-deviation from
    the group mean IS the population stddev, so the join-back collapses
    into the first aggregation -- ONE fact scan and ONE shuffle instead
    of three scans and two shuffles (compare the two queries' Exchange
    counts in LEDGER.json). Same output as
    flagship_cluster_avg; at 100 TB this rewrite is the difference
    between touching the fact table once and three times. The unfused
    twin is kept because the join-back *shape* is the reference's M7
    operator (MovieLensRecommender.py:72-83) -- when the second pass
    computes something stddev can't express (e.g. per-row top-k), the
    broadcast join-back is still the right plan."""
    pin_session_conf(spark)
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("order_year"))
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = (li.join(orders, li.l_orderkey == orders.o_orderkey)
                .join(cust, orders.o_custkey == cust.c_custkey))
    return (enriched.groupBy("c_mktsegment", "order_year")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum("l_quantity").alias("sum_qty"),
                 F.round(F.sum("rev"), 4).alias("sum_rev"),
                 F.round(F.avg("rev"), 4).alias("avg_rev"),
                 F.round(F.stddev_pop("rev"), 4).alias("rmse_dev")))
