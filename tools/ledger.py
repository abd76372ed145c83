"""Per-query counter ledger: LEDGER.json, and PLANS.md rendered from it.

    python tools/ledger.py

Runs every registered query at sf0.001 in one local[2] JVM: one untimed
warm pass, then one counted pass. Each query runs under
``setJobGroup(<query name>)``; the package's thread pools inherit the
group (``inheritable_thread_target``). After each query the ledger reads,
from the JVM's status store, the query's jobs, the stages that ran
(skipped stages excluded) and the shuffle records they wrote, and, from
the query's final executed plan (AQE's final plan, subqueries and
cached plans included), the count of each node in ``NODES``.

A job that started while a query ran but carries no job group is
unattributed, and any unattributed job fails the run. The counts repeat
exactly on a warm pass, where wall clock on a shared host swings by tens
of percent; the few queries whose counts do not repeat are listed in
``NONDETERMINISTIC`` and marked in both files. ``tests/test_ledger.py``
holds the benchmark's ops to their rows. A change that moves a count on
purpose regenerates both files with this script.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import Counter

from py4j.protocol import Py4JJavaError

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.001"
CPUS = 2
# Executed-plan node names -> PLANS.md column labels.
NODES = {
    "Exchange": "Exch",
    "SortMergeJoin": "SMJ",
    "BroadcastHashJoin": "BHJ",
    "ShuffledHashJoin": "SHJ",
    "BroadcastExchange": "BcEx",
    "ReusedExchange": "Reused",
    "Window": "Window",
    "ArrowEvalPython": "Arrow",
    "BatchEvalPython": "Batch",
    "MapInPandas": "MapPd",
    "Scan ExistingRDD": "RDD",
    "LocalTableScan": "Local",
}
COUNTERS = ("jobs", "stages", "shuffle_records", *NODES, "unattributed")
# Queries whose counted pass does not repeat between JVMs, with the
# cause; their rows are kept and marked, and the gate never reads them.
NONDETERMINISTIC = {
    "tpch_q7": "its supplier side is empty at sf0.001; AQE drops the plan "
               "when that broadcast lands, and the orders-side shuffle "
               "runs only if the customer broadcast lands first",
    "ml_als_cv": "its CrossValidator fits 8 grid points at once from a "
                 "thread pool, and the interleaving moves a job",
    "ml_als_cv_full": "its ~900 jobs and ~2,800 stages overrun the status "
                      "store's retention (spark.ui.retainedJobs/Stages, "
                      "1,000), which drops some before they are read",
    "vec_matryoshka_agreement": "AQE re-plans as each of its concurrent "
                                "query stages finishes, and the finishing "
                                "order picks the join strategy",
}


def ledger_session():
    """The ledger's session: local[2], shuffle partitions from the
    session's own parallelism (the caller's override is dropped)."""
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    from recommendation_system_spark_ml_spark.session import get_spark

    spark = get_spark(app_name="ledger", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _plan_nodes(plan) -> Counter:
    """Node-name counts of an executed plan, through AQE's final plan,
    query stages, subqueries and cached plans."""
    counts: Counter = Counter()
    stack = [plan]
    while stack:
        p = stack.pop()
        kind = p.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(p.plan())
            continue
        counts[p.nodeName()] += 1
        stack += _seq(p.children()) + _seq(p.innerChildren())
    return counts


def _stage(store, stage_id: int):
    """A stage's last attempt, or None once the store has dropped it.
    Past ``spark.ui.retainedStages`` the store drops skipped stages
    first (they have no completion time), then the oldest completed
    ones, so a stage of the query just run that is gone was skipped."""
    try:
        return store.lastStageAttempt(stage_id)
    except Py4JJavaError as e:
        if not e.java_exception.getClass().getName().endswith("NoSuchElementException"):
            raise
        return None


def count_query(spark, name: str, fn) -> dict:
    """One query's counters: build it under its job group, collect it,
    and read its jobs, stages, shuffle records and plan nodes."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    store = jsc.statusStore()
    jobs = store.jobsList(None)  # newest first
    before = jobs.head().jobId() if jobs.size() else -1
    # Stage ids grow with each job, so the last job's stages bound every
    # stage made before this query; an older stage that a job of this
    # query lists is a reused shuffle, which the query did not run.
    first_stage = (max(_seq(store.job(before).stageIds())) + 1
                   if before >= 0 else 0)
    sc.setJobGroup(name, name)
    try:
        df = fn(spark, SF_DIR)
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # AQE can leave a stage's job running after the result is known
    tracker = sc.statusTracker()
    jsc.listenerBus().waitUntilEmpty()
    while tracker.getActiveJobsIds():
        time.sleep(0.01)
        jsc.listenerBus().waitUntilEmpty()
    jobs = [j for j in tracker.getJobIdsForGroup(name) if j > before]
    stages = {s for j in jobs for s in _seq(store.job(j).stageIds())
              if s >= first_stage}
    ran = [st for st in (_stage(store, s) for s in stages)
           if st is not None and st.status().toString() != "SKIPPED"]
    nodes = _plan_nodes(df._jdf.queryExecution().executedPlan())
    return {"jobs": len(jobs), "stages": len(ran),
            "shuffle_records": sum(st.shuffleWriteRecords() for st in ran),
            **{n: nodes[n] for n in NODES},
            "unattributed": sum(j > before for j in tracker.getJobIdsForGroup(None))}


def count_all(spark, fns: dict) -> dict[str, dict]:
    """Warm pass, then the counted pass, over ``fns`` (name -> query
    function) in order. Raises if any job went unattributed."""
    for name, fn in fns.items():
        count_query(spark, name, fn)
    rows = {name: count_query(spark, name, fn)
            for name, fn in fns.items()}
    stray = {n: r["unattributed"] for n, r in rows.items() if r["unattributed"]}
    if stray:
        raise RuntimeError(f"unattributed jobs per query: {stray}")
    return rows


def bench_ops() -> list[str]:
    """The benchmark's ops (perfbench/workloads.py), in workload order."""
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    from workloads import WORKLOADS

    return [op for wl in WORKLOADS.values() for op in wl["ops"]]


def header(spark) -> dict:
    import pyspark

    return {"master": spark.sparkContext.master,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "sf": float(os.path.basename(SF_DIR).removeprefix("sf")),
            "pyspark": pyspark.__version__}


def diff(old: dict[str, dict], new: dict[str, dict]) -> list[str]:
    """One line per counter that moved: query, counter, old -> new."""
    out = []
    for name, row in new.items():
        for c in COUNTERS:
            a, b = old.get(name, {}).get(c), row[c]
            if a != b:
                delta = f" ({b - a:+d})" if a is not None else ""
                out.append(f"{name}: {c} {a} -> {b}{delta}")
    return out


def _write_ledger(head: dict, rows: dict[str, dict]) -> None:
    lines = [f' "{k}": {json.dumps(v)},' for k, v in head.items()]
    body = []
    for name, row in rows.items():
        if name in NONDETERMINISTIC:
            row = {**row, "deterministic": False}
        body.append(f'  "{name}": {json.dumps(row)}')
    text = "{\n" + "\n".join(lines) + '\n "queries": {\n' + ",\n".join(body) + "\n }\n}\n"
    with open(os.path.join(ROOT, "LEDGER.json"), "w") as f:
        f.write(text)


def _write_plans(head: dict, rows: dict[str, dict]) -> None:
    cols = ["jobs", "stages", "shuffle_records", *NODES]
    labels = ["jobs", "stages", "shuf rec", *NODES.values()]
    out = ["# PLANS — per-query counter ledger", "",
           "Generated from `LEDGER.json` by `python tools/ledger.py`: every",
           f"registered query at sf{head['sf']} on `{head['master']}`, "
           f"{head['shuffle_partitions']} shuffle partitions,",
           f"pyspark {head['pyspark']}, counted on a warm pass. Columns: jobs,",
           "stages that ran, shuffle records written, then node counts of",
           "the final executed plan:", "",
           *(f"- {v} = `{k}`" for k, v in NODES.items()), "",
           "Rows marked * do not repeat between JVMs (`NONDETERMINISTIC` in",
           "`tools/ledger.py`).", "",
           "| query | " + " | ".join(labels) + " |",
           "|---|" + "---|" * len(cols)]
    for name, row in rows.items():
        mark = " *" if name in NONDETERMINISTIC else ""
        out.append(f"| {name}{mark} | " + " | ".join(str(row[c]) for c in cols) + " |")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")


def run(names: list[str] | None = None) -> tuple[dict, dict[str, dict]]:
    """The header and rows for ``names`` (default: every registered
    query), counted in a new ledger session."""
    from recommendation_system_spark_ml_spark.registry import all_specs

    t0 = time.perf_counter()
    spark = ledger_session()
    specs = all_specs()
    rows = count_all(spark, {n: specs[n].fn for n in names or specs})
    head = {**header(spark), "wall_s": round(time.perf_counter() - t0, 1)}
    spark.stop()
    return head, rows


def main() -> None:
    head, rows = run()
    _write_ledger(head, rows)
    _write_plans(head, rows)
    print(f"wrote LEDGER.json and PLANS.md: {len(rows)} queries, "
          f"{head['wall_s']} s")


if __name__ == "__main__":
    main()
