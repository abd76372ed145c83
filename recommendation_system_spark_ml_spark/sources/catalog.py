"""Table catalog over the harness parquet layout.

One parquet file per table under an sf dir (TESTDATA.md). At 100 TB the
same layout generalizes to partitioned parquet directories; callers only
ever see DataFrames, so swapping the physical layout (partitioned dirs,
bucketed tables, Iceberg) is contained here.

The reference loads ``::``-delimited text with RDD lambdas and a
pandas round-trip (MovieLensRecommender.py:113-129); see
``sources/text.py`` for the DataFrame-native equivalent of that path.

Schema inference happens once per file version, not once per read.
``spark.read.parquet(path)`` with no schema reads the footer in a Spark
job of its own on every call, although the file has not changed.
``read_parquet`` keys a small bounded memo of inferred schemas on the
path, the file's version and the session's parquet-inference confs, and
on a hit reads with the stored schema, which starts no job. A file's
version is its Hadoop ``FileStatus`` length and modification time; a
directory's is the (name, length, mtime) of the entries of one
``listStatus``, so a table rewritten in place, on a local disk or an
object store, gets a new key through its leaf-file listing. Only the
schema is memoized, never the DataFrame: every call is a fresh relation
with fresh attribute ids and a fresh file listing, so self-joins stay
unambiguous and no read is stale. ``row_count`` memoizes a file's row
count under the same key.
"""

from __future__ import annotations

import functools
import os

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Dimension tables safely below any sane autoBroadcastJoinThreshold even
# at sf=100TB-ish scale factors (they grow sub-linearly or are fixed).
SMALL_DIMS = frozenset({"region", "nation", "supplier"})


def path_for(sf_dir: str, table: str) -> str:
    return os.path.join(sf_dir, f"{table}.parquet")


# Session confs that change what parquet schema inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
_MEMO_MAX = 256


def _version_key(spark: SparkSession, path: str):
    """(path, file version, inference confs), or None if the path cannot
    be stat'ed."""
    try:
        p = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        st = fs.getFileStatus(p)
        if st.isDirectory():
            version = tuple(sorted(
                (f.getPath().getName(), f.getLen(), f.getModificationTime())
                for f in fs.listStatus(p)))
        else:
            version = (st.getLen(), st.getModificationTime())
    except Py4JError:
        return None
    return (path, version,
            tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS))


@functools.lru_cache(maxsize=_MEMO_MAX)
def _schema(spark: SparkSession, key) -> StructType:
    return spark.read.parquet(key[0]).schema


@functools.lru_cache(maxsize=_MEMO_MAX)
def _row_count(spark: SparkSession, key) -> int:
    return spark.read.schema(_schema(spark, key)).parquet(key[0]).count()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only the first
    time this version of the file is read (see the module docstring).
    A path that cannot be stat'ed gets the plain read, so a missing one
    raises Spark's own ``PATH_NOT_FOUND``."""
    key = _version_key(spark, path)
    if key is None:
        return spark.read.parquet(path)
    return spark.read.schema(_schema(spark, key)).parquet(path)


def row_count(spark: SparkSession, path: str) -> int:
    """Row count of the parquet data at ``path``, counted once per file
    version."""
    key = _version_key(spark, path)
    if key is None:
        return spark.read.parquet(path).count()
    return _row_count(spark, key)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    if table not in TABLES:
        raise KeyError(f"unknown table {table!r}; have {TABLES}")
    df = read_parquet(spark, path_for(sf_dir, table))
    if table == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read via nanosAsLong (see session._DEFAULTS).
        # DuckDB truncates ns->us, so integer-DIV (not double division:
        # epoch-ns exceeds 2^53) keeps both engines bit-identical.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        df = df.select("event_id", "ts", "user_id", "event_type", "value", "props")
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
