"""SparkSession factory.

The reference runs ``SparkContext('local')`` -- a single-threaded local
executor with every Catalyst-era feature left at 3.0.1 defaults (AQE
off, 200 shuffle partitions for ~700k rows; MovieLensRecommender.py:109).
Here the session is tuned for the execution model we actually target:
many executors, AQE on, shuffle parallelism sized to the cluster, Arrow
for every Python<->JVM hop -- driver-built frames included
(``local_frame``).

On a real cluster only ``master`` changes; everything else is
scale-neutral (AQE coalesces / splits shuffle partitions at runtime).
"""

from __future__ import annotations

import atexit
import os
import shutil

from pyspark.sql import SparkSession

# Defaults chosen for the local[32] test harness; on a 1000-executor
# cluster spark.sql.shuffle.partitions should start at ~2-3x total
# cores and let AQE coalesce -- set via SPARK_GRAFT_SHUFFLE_PARTITIONS.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # parquet scans: vectorized reader + pushdown are on by default;
    # keep files splittable at ~128MB so 100 TB -> ~800k input tasks.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.filterPushdown": "true",
    # testdata events.parquet carries TIMESTAMP(NANOS) which the Spark
    # reader rejects; read as long + convert in sources/catalog.py.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
}


def default_driver_memory() -> str:
    """Half the host's physical memory, at most 48g: a heap cap above
    what the host has lets the local JVM grow until the OS kills it."""
    half_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 21
    return f"{min(48 << 10, half_mb)}m"


def get_spark(app_name: str = "recommendation_system_spark_ml_spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (harness contract) or 32;
    the driver heap to $SPARK_GRAFT_DRIVER_MEM or
    ``default_driver_memory()``.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8))))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", default_driver_memory()))
    )
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_session_conf(spark: SparkSession) -> SparkSession:
    """Pin the runtime-settable confs this engine's results depend on.

    Queries receive the *driver's* session, whose conf we don't control;
    UTC timezone + Arrow + AQE are all runtime-settable, so enforce them
    here so results (esp. timestamp columns) are oracle-comparable.
    """
    for k in ("spark.sql.session.timeZone",
              "spark.sql.execution.arrow.pyspark.enabled",
              "spark.sql.adaptive.enabled",
              "spark.sql.adaptive.coalescePartitions.enabled",
              "spark.sql.adaptive.skewJoin.enabled",
              "spark.sql.legacy.parquet.nanosAsLong"):
        spark.conf.set(k, _DEFAULTS[k] if k in _DEFAULTS else "true")
    # Size the shuffle fan-out to the machine, not Spark's default 200:
    # AQE coalesces DataFrame shuffles either way, but MLlib's RDD paths
    # (ALS, KMeans) and streaming state stores don't get AQE -- 200 tiny
    # partitions there is pure scheduling overhead. On a real cluster
    # set SPARK_GRAFT_SHUFFLE_PARTITIONS to ~2-3x total cores. The
    # default follows the session's own cores, as in ``get_spark``.
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS",
                       str(max(spark.sparkContext.defaultParallelism, 8))))
    return spark


def local_frame(spark: SparkSession, rows, ddl: str):
    """A driver-built frame: ``rows`` (tuples in ``ddl`` field order)
    typed by the DDL string ``ddl``, in row order.

    The rows become one Arrow table, column by column, and
    ``createDataFrame`` of a ``pa.Table`` plans a single
    ``LocalTableScan``: no Python-RDD scan, so executing it forks no
    ``pyspark.daemon`` or Python worker, and no per-value literal for
    Catalyst to fold. That branch does not consult
    ``spark.sql.execution.arrow.pyspark.enabled`` and needs no pandas.
    The rows travel inside the plan, so keep them driver-sized: the
    largest caller, the IVF centroids (nlist <= 4096 x 64 doubles), is
    about 2 MB."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(ddl)
    schema = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
        schema=schema)
    return spark.createDataFrame(table, struct)


_scratch_owner: int | None = None  # pid whose exit hook is registered


def _remove_scratch(pid: int, path: str) -> None:
    if os.getpid() == pid:  # not in a forked child that inherited the hook
        shutil.rmtree(path, ignore_errors=True)


def scratch_path(sf_dir: str, name: str) -> str:
    """Per-process scratch directory for round-trip queries.

    Namespaced by PID so two concurrent sessions on the same scale
    factor cannot overwrite each other's files mid-read (the fixed
    shared path used before made that race possible). Within one
    process, re-runs reuse the same path -- writes are mode=overwrite,
    so idempotent. The process's directory is removed when its
    interpreter exits (an ``atexit`` hook registered by the first
    call)."""
    global _scratch_owner
    pid = os.getpid()
    root = os.path.join("/tmp/rsml_scratch", f"pid{pid}")
    if _scratch_owner != pid:
        _scratch_owner = pid
        atexit.register(_remove_scratch, pid, root)
    return os.path.join(root, os.path.basename(os.path.normpath(sf_dir)), name)
