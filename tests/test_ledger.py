"""The per-query counter ledger (tools/ledger.py) as a gate.

The benchmark's ops, re-counted in a fresh local[2] JVM pinned like the
ledger's, must match their LEDGER.json rows exactly: jobs, stages,
shuffle records and executed-plan node counts. A change that moves a
count on purpose regenerates LEDGER.json with ``python tools/ledger.py``
and says so in CHANGES.md."""

import json
import os
import subprocess
import sys
import threading

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import ledger  # noqa: E402


def test_benchmark_ops_match_ledger():
    with open(os.path.join(ROOT, "LEDGER.json")) as f:
        committed = json.load(f)
    env = dict(os.environ, PYTHONPATH=os.path.join(ROOT, "tools"))
    code = "import json, ledger; print(json.dumps(ledger.run(ledger.bench_ops())))"
    out = subprocess.run([sys.executable, "-c", code], env=env, cwd=ROOT,
                         capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    head, rows = json.loads(out.stdout.strip().splitlines()[-1])
    for k in ("master", "shuffle_partitions", "sf", "pyspark"):
        assert head[k] == committed[k], (k, committed[k], head[k])
    old = committed["queries"]
    gated = {n: r for n, r in rows.items() if old.get(n, {}).get("deterministic", True)}
    moved = ledger.diff(old, gated)
    assert not moved, "counters moved against LEDGER.json:\n" + "\n".join(moved)


def test_job_from_a_bare_thread_is_unattributed(spark):
    """A job launched from a plain ``threading.Thread`` carries no job
    group: the ledger reports it and fails the run."""
    def bare_thread_query(spark, sf_dir):
        t = threading.Thread(target=lambda: spark.range(3).collect())
        t.start()
        t.join()
        return spark.range(1)

    row = ledger.count_query(spark, "bare_thread_query", bare_thread_query)
    assert row["unattributed"] == 1
    with pytest.raises(RuntimeError, match="bare_thread_query"):
        ledger.count_all(spark, {"bare_thread_query": bare_thread_query})


def test_gate_reports_an_added_count(spark):
    """One ``.count()`` more in a benchmark op moves its ``jobs`` by the
    count's two jobs under AQE (map stage and result), and the diff names
    the op, the counter and both values."""
    from recommendation_system_spark_ml_spark.registry import all_specs

    name = "tpch_q6"
    fn = all_specs()[name].fn

    def with_count(spark, sf_dir):
        df = fn(spark, sf_dir)
        df.count()
        return df

    base = ledger.count_all(spark, {name: fn})
    assert ledger.diff(base, ledger.count_all(spark, {name: fn})) == []
    moved = ledger.diff(base, ledger.count_all(spark, {name: with_count}))
    jobs = base[name]["jobs"]
    assert f"{name}: jobs {jobs} -> {jobs + 2} (+2)" in moved
