"""Workload definitions, metric names and the output fingerprint.

A workload is a fixed list of registry queries ("ops") run at one scale
factor in a closed loop by a single driver thread. Why each workload
exists is recorded in README.md and BENCHMARK.json.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
import random

PACKAGE = "recommendation_system_spark_ml_spark"

WORKLOADS = {
    "star_sql": {
        "sf": "0.01",
        "ops": ["tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q7",
                "tpch_q10", "tpch_q18", "join_multi_key", "agg_avg_groupby",
                "window_rank", "flagship_cluster_avg", "sink_partition_prune"],
        "setup": [],
    },
    "recsys": {
        "sf": "0.01",
        "ops": ["ml_cluster_predictor", "ml_als_rmse"],
        "setup": ["ratings_analog"],
    },
    "corpus_graph": {
        "sf": "0.001",
        "ops": ["dedup_jaccard_prefix_realistic",
                "sim_lsh_realistic", "graph_pagerank",
                "graph_triangle_count", "graph_label_propagation"],
        "setup": ["realistic"],
    },
}

# Layers are the package modules the ops live in.
MODULES = ["operators.analytics", "operators.joins", "operators.aggregates",
           "operators.windows", "plans.flagship", "operators.formats",
           "ml.parity", "operators.graph", "operators.dedup",
           "operators.similarity"]
MODULE_METRICS = {  # name -> unit
    "build_s": "s", "exec_s": "s", "driver_gap_s": "s", "jobs": "count",
    "stages": "count", "task_cpu_s": "s", "task_deser_s": "s",
    "task_gc_s": "s", "shuffle_write_mb": "MB", "shuffle_records": "count",
}
# Set-up spans (timed by the worker) -> per-layer metric name.
SETUP_SPANS = {"session.start": "session.start_s",
               "sources.catalog.load": "sources.catalog.load_s",
               "ml.parity.ratings_analog": "ml.parity.ratings_analog_s",
               "sources.realistic.docs": "sources.realistic.docs_s"}
EXTRA_METRICS = {
    **{m: "s" for m in SETUP_SPANS.values()},
    "operators.similarity.python_udf_s": "s",
    "operators.dedup.python_udf_s": "s",
    "operators.graph.spill_mb": "MB",
    "operators.dedup.spill_mb": "MB",
    "ops.storage_mb": "MB",
    "ops.failed_tasks": "count",
    "ops.wall_s": "s",
    "ops.job_attribution": "ratio",
}
END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s",
              "op_p90_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
              "pass_ratio": "ratio"}


def per_layer_units() -> dict[str, str]:
    units = {f"{m}.{k}": u for m in MODULES for k, u in MODULE_METRICS.items()}
    units.update(EXTRA_METRICS)
    return units


def op_order(ops: list[str], seed: int, pass_no: int) -> list[str]:
    """The seed's permutation of the op list for one pass (pass -1 is
    the untimed warm pass)."""
    order = list(ops)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def _norm(v) -> str:
    """One value as text, the same for Spark's and DuckDB's pandas
    output: floats rounded to 6 places, integral floats as integers,
    NULL/NaN as one sentinel, timestamps as naive UTC ISO text."""
    if v is None:
        return "<NULL>"
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()  # numpy scalar or array
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_norm(k)}:{_norm(x)}"
                              for k, x in sorted(v.items())) + "}"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "<NULL>"
        r = round(v, 6) + 0.0
        if r.is_integer() and abs(r) < 2 ** 53:
            return str(int(r))
        return repr(r)
    if hasattr(v, "tz_convert"):  # pandas Timestamp
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.isoformat()
    if isinstance(v, (_dt.datetime, _dt.date)):
        if isinstance(v, _dt.datetime) and v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    return str(v)


def fingerprint(pdf) -> dict:
    """Row count, sorted column names and an order-insensitive hash of
    the rounded values of a pandas DataFrame."""
    cols = sorted(pdf.columns)
    acc = 0
    for row in pdf[cols].itertuples(index=False, name=None):
        text = "\x1f".join(_norm(v) for v in row)
        acc = (acc + int.from_bytes(
            hashlib.sha1(text.encode()).digest()[:8], "big")) % (1 << 64)
    return {"rows": len(pdf), "columns": cols, "hash": f"{acc:016x}"}


