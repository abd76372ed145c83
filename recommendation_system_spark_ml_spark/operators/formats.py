"""Interchange formats & partition-pruned sinks (SURVEY.md §2.1 gaps).

The reference reads exactly one format: '::'-delimited text
(MovieLensRecommender.py:113-132; covered by scan_text). A complete
engine also ingests CSV and JSON-lines -- the two interchange formats
every data pipeline meets -- and writes partitioned parquet that later
scans can prune. Each query here round-trips through the format (write
a twin from parquet, read it back with an explicit schema) so the
oracle stays the original table: the check proves the round-trip is
lossless.

Scale notes: schemas are always explicit on read (schema inference
scans the data twice -- never at 100 TB). Partitioned writes use a
derived directory key so downstream readers prune at planning time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recommendation_system_spark_ml_spark.registry import register
from recommendation_system_spark_ml_spark.session import (
    local_frame, pin_session_conf, scratch_path as _scratch)
from recommendation_system_spark_ml_spark.sources.catalog import load


@register("scan_csv", oracle="""
SELECT c_custkey, c_name, c_nationkey, round(c_acctbal, 2) AS c_acctbal,
       c_mktsegment
FROM customer
""")
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip with an explicit schema (no inference pass).
    Doubles survive the text round-trip because Spark writes
    shortest-round-trip representations; the oracle-side round(2)
    pins the comparison either way."""
    pin_session_conf(spark)
    path = _scratch(sf_dir, "customer_csv")
    # write EXACTLY the read schema's columns in its order: with an
    # explicit schema Spark maps CSV fields POSITIONALLY (the header
    # row is only skipped, not matched by name), so writing the whole
    # table would silently mis-map if the source column order ever
    # differed (fuzz-caught: a segment string read as DOUBLE -> NULL)
    (load(spark, sf_dir, "customer")
     .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
             "c_mktsegment")
     .write.mode("overwrite").option("header", True).csv(path))
    schema = ("c_custkey BIGINT, c_name STRING, c_nationkey INT, "
              "c_acctbal DOUBLE, c_mktsegment STRING")
    return (spark.read.schema(schema).option("header", True).csv(path)
            .select("c_custkey", "c_name", "c_nationkey",
                    F.round("c_acctbal", 2).alias("c_acctbal"),
                    "c_mktsegment"))


@register("scan_json", oracle="""
SELECT n_nationkey, n_name, n_regionkey FROM nation
""")
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round-trip with an explicit schema. The JSON reader
    is the 100 TB landing-zone path (logs, event exports); explicit
    schema keeps it a single streaming pass with column pruning."""
    pin_session_conf(spark)
    path = _scratch(sf_dir, "nation_json")
    load(spark, sf_dir, "nation").write.mode("overwrite").json(path)
    schema = "n_nationkey INT, n_name STRING, n_regionkey INT"
    return (spark.read.schema(schema).json(path)
            .select("n_nationkey", "n_name", "n_regionkey"))


@register("sink_partition_prune", oracle="""
SELECT strftime(o_orderdate, '%Y-%m') AS ym,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price
FROM orders
WHERE year(o_orderdate) = 1996
GROUP BY 1
""")
def sink_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-partitioned parquet write + pruned read-back: the reader's
    o_year = 1996 predicate is a partition filter, so only one
    directory is listed and scanned (tests/test_plans.py asserts the
    pruned InMemoryFileIndex). This is the 100 TB table layout --
    time-partitioned, query-pruned."""
    pin_session_conf(spark)
    path = _scratch(sf_dir, "orders_by_year")
    (load(spark, sf_dir, "orders")
     .withColumn("o_year", F.year("o_orderdate"))
     .write.mode("overwrite").partitionBy("o_year").parquet(path))
    return (spark.read.parquet(path)
            .filter(F.col("o_year") == 1996)
            .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("ym"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 (F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")) / 100.0)
                 .alias("sum_price")))


@register("scan_orc", oracle="""
SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 2) AS s_acctbal
FROM supplier
""")
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip -- the other columnar interchange format Spark
    ships natively (Hive-ecosystem tables). Same pruning/pushdown
    machinery as parquet; the check proves lossless round-trip against
    the original table."""
    pin_session_conf(spark)
    path = _scratch(sf_dir, "supplier_orc")
    load(spark, sf_dir, "supplier").write.mode("overwrite").orc(path)
    return (spark.read.orc(path)
            .select("s_suppkey", "s_name", "s_nationkey",
                    F.round("s_acctbal", 2).alias("s_acctbal")))


@register("scan_binaryfile", oracle="""
WITH lines AS (
    SELECT c_custkey,
           c_custkey || '::' || coalesce(c_name, '') || '::'
               || coalesce(c_mktsegment, '') || chr(10) AS line
    FROM customer
), blob AS (
    SELECT string_agg(line, '' ORDER BY c_custkey) AS content FROM lines
)
SELECT CAST(strlen(content) AS BIGINT) AS n_bytes,
       sha256(content) AS digest
FROM blob
""")
def scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source -- the real multimodal ingest path: a
    directory of opaque files becomes (path, length, content) rows,
    ready for the mapInPandas decode stage (multimodal.py).

    To make the check byte-exact rather than rows-only, the query first
    materializes a deterministic payload (the customer table as
    '::'-delimited text, globally sorted into a single file), then
    binaryFile-reads it back and reports (size, sha256 of content). The
    DuckDB oracle rebuilds the identical byte stream with string_agg +
    sha256, so the digest proves binaryFile delivered the exact bytes
    written. Part-file names carry task UUIDs so they are excluded. At
    100 TB the same plumbing reads media crawls, with
    spark.sql.files.maxPartitionBytes sizing the per-task file batch
    and binaryFile's 2 GB/file cap on the content column."""
    pin_session_conf(spark)
    path = _scratch(sf_dir, "customer_bin")
    (load(spark, sf_dir, "customer")
     .select("c_custkey",
             F.concat(F.col("c_custkey").cast("string"), F.lit("::"),
                      F.coalesce(F.col("c_name"), F.lit("")), F.lit("::"),
                      F.coalesce(F.col("c_mktsegment"), F.lit("")))
             .alias("value"))
     .repartition(1).sortWithinPartitions("c_custkey").select("value")
     .write.mode("overwrite").text(path))
    return (spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.txt")
            .load(path)
            .select(F.col("length").cast("bigint").alias("n_bytes"),
                    F.sha2("content", 256).alias("digest")))


@register("scan_xml", oracle="""
SELECT n_nationkey, n_name, n_regionkey FROM nation
""")
def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round-trip (Spark 4 native XML source): the enterprise
    interchange format. Explicit schema on read, same single-pass
    pruning discipline as the CSV/JSON paths."""
    pin_session_conf(spark)
    path = _scratch(sf_dir, "nation_xml")
    (load(spark, sf_dir, "nation")
     .write.mode("overwrite").option("rootTag", "nations")
     .option("rowTag", "nation").format("xml").save(path))
    schema = "n_nationkey INT, n_name STRING, n_regionkey INT"
    return (spark.read.schema(schema).option("rowTag", "nation")
            .format("xml").load(path)
            .select("n_nationkey", "n_name", "n_regionkey"))


@register("scan_python_datasource", oracle="""
SELECT g AS sample_id,
       CASE g % 4 WHEN 0 THEN 'temp' WHEN 1 THEN 'hum'
                  WHEN 2 THEN 'pres' ELSE 'volt' END AS sensor,
       CAST((g * g) % 97 AS DOUBLE) AS reading
FROM (SELECT unnest(generate_series(0, 999)) AS g)
""")
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 API): a partitioned synthetic
    telemetry reader registered as a real format -- 8 parallel input
    partitions, Arrow-batched rows. The oracle reproduces the
    generator formula, proving partition planning loses/duplicates
    nothing. See sources/pysource.py for the scale notes."""
    pin_session_conf(spark)
    from recommendation_system_spark_ml_spark.sources.pysource import (
        SyntheticTelemetrySource)
    try:
        spark.dataSource.register(SyntheticTelemetrySource)
    except Exception:
        pass  # already registered in this session
    return spark.read.format("synthetic_telemetry").load()


@register("scan_merge_schema", oracle="""
SELECT n_nationkey, n_name, n_regionkey, region_name
FROM (
    SELECT n_nationkey, n_name, n_regionkey, NULL AS region_name
    FROM nation WHERE n_regionkey < 2
    UNION ALL
    SELECT n.n_nationkey, n.n_name, n.n_regionkey, r.r_name AS region_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE n.n_regionkey >= 2
)
""")
def scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the lake: an old batch written WITHOUT a
    column and a new batch written WITH it, read back as one dataset
    via mergeSchema -- the reader unions the footers' schemas and
    back-fills NULL for the column the old files lack. This is how a
    100 TB table grows a column without rewriting history; the oracle
    reproduces the same semantics with a UNION.

    Scale note: mergeSchema reconciles FOOTERS (one small read per
    file), not data; for tables with millions of files the production
    variant pins the merged schema from the catalog instead of
    re-deriving it per scan."""
    pin_session_conf(spark)
    path = _scratch(sf_dir, "nation_evolved")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    old = nation.where(F.col("n_regionkey") < 2)
    new = (nation.where(F.col("n_regionkey") >= 2)
           .join(F.broadcast(region),
                 nation.n_regionkey == region.r_regionkey)
           .select("n_nationkey", "n_name", "n_regionkey",
                   F.col("r_name").alias("region_name")))
    old.write.mode("overwrite").parquet(f"{path}/batch=old")
    new.write.mode("overwrite").parquet(f"{path}/batch=new")
    return (spark.read.option("mergeSchema", True)
            .option("recursiveFileLookup", True).parquet(path)
            .select("n_nationkey", "n_name", "n_regionkey", "region_name"))


@register("scan_csv_malformed", oracle="""
SELECT CAST(count(*) FILTER (WHERE n_nationkey IS NULL
                                OR n_nationkey % 7 <> 0) AS BIGINT)
           AS n_good,
       CAST(count(*) FILTER (WHERE n_nationkey % 7 = 0) AS BIGINT)
           AS n_corrupt
FROM nation
""")
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling on ingest: a CSV where every 7th row
    carries garbage in an integer column, read in PERMISSIVE mode with
    a `_corrupt_record` column -- bad rows become NULL-typed rows WITH
    their raw line captured, instead of killing the job (FAILFAST) or
    vanishing silently (DROPMALFORMED). Returns the good/corrupt
    counts; the corruption is doc_id-deterministic so the oracle knows
    the split exactly.

    At 100 TB this is the landing-zone contract: quarantine counts per
    batch come from the same single pass as the load, and the captured
    raw lines route to a dead-letter sink for replay."""
    pin_session_conf(spark)
    path = _scratch(sf_dir, "nation_malformed")
    nation = load(spark, sf_dir, "nation")
    # NULL-safe encode: every field rendered (coalesce ''), so the
    # ONLY corrupt rows are the deliberate garbage ones -- concat_ws
    # would SKIP a NULL field, shift the line left, and turn an
    # innocent NULL into a parse failure the oracle can't predict
    # (fuzz-caught); an empty CSV int field parses as NULL, not error.
    line = F.concat(
        F.coalesce(
            F.when(F.col("n_nationkey") % 7 == 0, F.lit("garbage"))
            .otherwise(F.col("n_nationkey").cast("string")), F.lit("")),
        F.lit(","), F.coalesce(F.col("n_name"), F.lit("")),
        F.lit(","), F.coalesce(F.col("n_regionkey").cast("string"),
                               F.lit("")))
    nation.select(line.alias("value")).write.mode("overwrite").text(path)
    schema = ("n_nationkey INT, n_name STRING, n_regionkey INT, "
              "_corrupt_record STRING")
    parsed = (spark.read.schema(schema)
              .option("mode", "PERMISSIVE")
              .option("columnNameOfCorruptRecord", "_corrupt_record")
              .csv(path)
              # Spark requires caching (or a checkpoint) before
              # filtering on the corrupt-record column alone; an eager
              # localCheckpoint lets the ContextCleaner reclaim the
              # blocks once the returned plan is dereferenced, where a
              # bare .cache() would pin them for the session's lifetime.
              .localCheckpoint(eager=True))
    return parsed.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1))
        .alias("n_good"),
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1))
        .alias("n_corrupt"))


@register("stream_python_datasource", oracle="""
SELECT CASE g % 4 WHEN 0 THEN 'temp' WHEN 1 THEN 'hum'
                  WHEN 2 THEN 'pres' ELSE 'volt' END AS sensor,
       count(*) AS n_samples,
       round(sum(CAST((g * g) % 97 AS DOUBLE)), 2) AS total_reading
FROM (SELECT unnest(generate_series(0, 999)) AS g)
GROUP BY 1
""")
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Python DataSource (Spark 4 SimpleDataSourceStreamReader):
    the same synthetic telemetry source exposed as a STREAM -- offset-
    tracked micro-batches of 250 rows, exact replay via
    readBetweenOffsets (the recovery contract). Registered here is the
    mode-agnostic aggregate (per-sensor count + reading total) on the
    batch read -- the oracle reproduces the generator formula; the REAL
    readStream path runs in tests/test_streaming.py, where the memory-
    sink result after processAllAvailable() must equal this batch
    answer exactly (4 micro-batches, offsets 0->250->...->1000, then a
    clean stall)."""
    pin_session_conf(spark)
    from recommendation_system_spark_ml_spark.sources.pysource import (
        SyntheticTelemetrySource)
    try:
        spark.dataSource.register(SyntheticTelemetrySource)
    except Exception:
        pass  # already registered in this session
    return (spark.read.format("synthetic_telemetry").load()
            .groupBy("sensor")
            .agg(F.count(F.lit(1)).alias("n_samples"),
                 F.round(F.sum("reading"), 2).alias("total_reading")))


_DPP_CAL = [(1992, "hist"), (1993, "hist"), (1994, "hist"), (1995, "hist"),
            (1996, "target"), (1997, "recent"), (1998, "recent")]
_DPP_CAL_SQL = ", ".join(f"({y}, '{e}')" for y, e in _DPP_CAL)


@register("join_dpp_partitioned", oracle=f"""
WITH cal(o_year, era) AS (VALUES {_DPP_CAL_SQL}),
f AS (
    SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
           o_orderdate, o_totalprice
    FROM orders
)
SELECT strftime(f.o_orderdate, '%Y-%m') AS ym,
       count(*) AS n_orders,
       CAST(sum(CAST(round(f.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           / 100.0 AS sum_price
FROM f JOIN cal ON f.o_year = cal.o_year
WHERE cal.era = 'target'
GROUP BY 1
""")
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning: the fact table is year-partitioned
    on disk, and the predicate that selects partitions lives on a
    DIMENSION attribute (era = 'target'), so no static filter on the
    partition column exists at plan time -- Catalyst must derive the
    partition set AT RUNTIME from the broadcast dimension and inject
    it into the fact scan (PartitionFilters shows
    dynamicpruningexpression; plan-asserted). The companion of
    sink_partition_prune, which shows the STATIC case: together they
    are the star-schema scan discipline at 100 TB -- a date-dim
    predicate must never cost a full fact scan.

    The calendar dimension is read back from parquet too: over a
    LocalTableScan, Catalyst would fold era = 'target' into the
    relation itself and plan no runtime filter at all.

    The oracle computes the same join unpartitioned, certifying that
    runtime pruning changes I/O, not answers."""
    pin_session_conf(spark)
    path = _scratch(sf_dir, "orders_by_year_dpp")
    cal_path = _scratch(sf_dir, "dpp_calendar")
    (load(spark, sf_dir, "orders")
     .withColumn("o_year", F.year("o_orderdate").cast("int"))
     .write.mode("overwrite").partitionBy("o_year").parquet(path))
    (local_frame(spark, _DPP_CAL, "o_year int, era string")
     .write.mode("overwrite").parquet(cal_path))
    cal = spark.read.parquet(cal_path)
    f = spark.read.parquet(path)
    return (f.join(F.broadcast(cal), "o_year")
            .where(F.col("era") == "target")
            .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("ym"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 (F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
                  / 100.0).alias("sum_price")))


def _morton_key(x, y, bits: int = 8):
    """Interleave the low `bits` of two integer columns into a Morton
    (Z-order) key: bit i of x lands at position 2i, bit i of y at
    2i + 1. Pure shift/mask expressions -- whole-stage codegen."""
    one = F.lit(1).cast("long")
    z = F.lit(0).cast("long")
    # disjoint bit positions, so + == bitwise OR (and Column `|` is
    # boolean OR in PySpark, not bitwise)
    for i in range(bits):
        z = (z
             + F.shiftleft(F.shiftright(x, i).bitwiseAND(one), 2 * i)
             + F.shiftleft(F.shiftright(y, i).bitwiseAND(one), 2 * i + 1))
    return z


@register("sink_zorder_prune", oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           / 100.0 AS sum_price
FROM orders
WHERE o_custkey <= 1000
  AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1996-03-31'
""")
def sink_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order-clustered parquet sink + 2-D-pruned read-back -- the
    OPTIMIZE ZORDER layout (Delta/Iceberg) built from Spark
    primitives: both filter dimensions are bucketed to 8-bit ranks
    (min/max from a broadcast 1-row aggregate, integer div), Morton-
    interleaved into a z-key by shift/mask expressions, and the write
    is repartitionByRange + sortWithinPartitions on z, so every file's
    (custkey, date) min/max box covers a LOCAL quadrant of the 2-D
    space instead of a full-width stripe. A single-column sort prunes
    scans filtered on that column only; the z-layout prunes scans
    filtered on EITHER or BOTH dimensions (tests/test_zorder.py
    measures row-group hit counts from the parquet footers against a
    custkey-sorted twin of the same data).

    At 100 TB this is how a fact table serves two access paths without
    duplicating storage; the z-key costs one narrow shuffle at write
    time and nothing at read time (file/row-group stats do the work).
    The result itself is layout-independent -- the oracle certifies the
    round-trip, the footer test certifies the clustering."""
    pin_session_conf(spark)
    orders = load(spark, sf_dir, "orders")
    rng = orders.agg(
        F.min("o_custkey").alias("mnc"), F.max("o_custkey").alias("mxc"),
        F.min("o_orderdate").alias("mnd"), F.max("o_orderdate").alias("mxd"))
    scaled = (orders.crossJoin(F.broadcast(rng))
              .withColumn("xr", F.expr(
                  "((o_custkey - mnc) * 256) div (mxc - mnc + 1)"))
              .withColumn("yr", F.expr(
                  "(datediff(o_orderdate, mnd) * 256)"
                  " div (datediff(mxd, mnd) + 1)"))
              .withColumn("z", _morton_key(F.col("xr"), F.col("yr")))
              .drop("mnc", "mxc", "mnd", "mxd", "xr", "yr"))
    path = _scratch(sf_dir, "orders_zorder")
    (scaled.repartitionByRange(16, "z").sortWithinPartitions("z")
     .write.mode("overwrite").parquet(path))
    return (spark.read.parquet(path)
            .where((F.col("o_custkey") <= 1000)
                   & F.col("o_orderdate").between("1996-01-01",
                                                  "1996-03-31"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.min("o_orderkey").alias("min_key"),
                 (F.sum(F.round(F.col("o_totalprice") * 100, 0)
                        .cast("long")) / 100.0).alias("sum_price")))
