"""One benchmark run in a fresh Python process and JVM.

Started by run.py with one JSON argument (the run's config); writes its
result as JSON to ``config["result"]``. Set-up is everything up to and
including one untimed warm pass, in which every op's output is collected
and checked against its committed fingerprint. The timed passes then run
each op as build (the registry's query function) plus a noop write; each
pass records its wall time, process-tree CPU and the host's steal share.

The package writes scratch data under fixed /tmp paths; the run points
them into its own directory instead by rebinding ``session.scratch_path``
and ``realistic._SHARED_ROOT`` before any query module is imported.
The package's files are not changed.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
import traceback

T0 = time.perf_counter()

# A pass during which the hypervisor stole more than this share of the
# machine's CPU time is followed by one more, and the run reports its
# least-stolen pass (README.md, "Steal").
STEAL_MAX_SHARE = 0.04
STEAL_RETRY_PASSES = 2
NCPU = os.cpu_count()


class Spans:
    """(name, start, end) on the driver's wall clock, in epoch ms."""

    def __init__(self) -> None:
        self.items: list[list] = []

    @contextlib.contextmanager
    def __call__(self, name: str):
        start = time.time() * 1000
        try:
            yield
        finally:
            self.items.append([name, start, time.time() * 1000])


def _import_package(cfg: dict):
    sys.path.insert(0, cfg["root"])
    from recommendation_system_spark_ml_spark import session

    scratch_root = cfg["scratch"]

    def scratch_path(sf_dir: str, name: str) -> str:
        return os.path.join(scratch_root, f"pid{os.getpid()}",
                            os.path.basename(os.path.normpath(sf_dir)), name)

    session.scratch_path = scratch_path
    from recommendation_system_spark_ml_spark.sources import realistic
    realistic._SHARED_ROOT = cfg["shared"]
    from recommendation_system_spark_ml_spark.registry import all_specs
    return session, realistic, all_specs()


def _setup_sources(spark, cfg: dict, spans: Spans, realistic) -> None:
    from recommendation_system_spark_ml_spark.sources.catalog import (
        TABLES, load)

    sf_dir = cfg["sf_dir"]
    with spans("sources.catalog.load"):
        for t in TABLES:
            load(spark, sf_dir, t)
    if "ratings_analog" in cfg["setup"]:
        from recommendation_system_spark_ml_spark.ml.parity import (
            ratings_analog)
        with spans("ml.parity.ratings_analog"):
            ratings_analog(spark, sf_dir).count()
    if "realistic" in cfg["setup"]:
        with spans("sources.realistic.docs"):
            realistic.realistic_documents(spark, sf_dir).count()
            realistic.realistic_embeddings(spark, sf_dir).count()


def _storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2 ** 20


def run(cfg: dict) -> dict:
    import procfs
    from workloads import fingerprint, op_order

    spans = Spans()
    session, realistic, specs = _import_package(cfg)
    with spans("session.start"):
        spark = session.get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    _setup_sources(spark, cfg, spans, realistic)
    sf_dir, seed, ops = cfg["sf_dir"], cfg["seed"], cfg["ops"]

    # Warm pass: untimed, and the once-per-run output check.
    bad: dict[str, str] = {}
    for name in op_order(ops, seed, -1):
        with spans(f"warm:{name}"):
            try:
                got = fingerprint(specs[name].fn(spark, sf_dir).toPandas())
            except Exception:
                traceback.print_exc()
                bad[name] = "raised"
                continue
        want = cfg["expected"].get(name)
        if got != want:
            bad[name] = f"fingerprint {got} != expected {want}"
    setup_s = time.perf_counter() - T0

    me = os.getpid()
    start = time.perf_counter()
    timed, passes, storage_mb = [], [], []
    while True:
        p = len(passes)
        steal0, cpu0, t = procfs.steal_s(), procfs.tree_cpu_s(me), time.perf_counter()
        timed += _timed_pass(spark, specs, sf_dir, op_order(ops, seed, p), p, bad)
        wall = time.perf_counter() - t
        passes.append({"pass": p, "wall_s": wall,
                       "cpu_s": procfs.tree_cpu_s(me) - cpu0,
                       "steal_share": (procfs.steal_s() - steal0) / (wall * NCPU)})
        if cfg["trace"]:
            storage_mb.append(_storage_mb(spark))
        if time.perf_counter() - start < cfg["seconds"]:
            continue
        if passes[-1]["steal_share"] <= STEAL_MAX_SHARE or p + 1 >= STEAL_RETRY_PASSES:
            break
    spark.stop()
    used = [x for x in passes if x["steal_share"] <= STEAL_MAX_SHARE] or [
        min(passes, key=lambda x: x["steal_share"])]
    return {"setup_s": setup_s, "passes": passes,
            "used": [x["pass"] for x in used], "ops": timed,
            "spans": spans.items, "failed_checks": bad,
            "storage_mb": storage_mb,
            "modules": {n: specs[n].fn.__module__ for n in ops}}


def _timed_pass(spark, specs, sf_dir: str, order: list[str], p: int,
                bad: dict) -> list[dict]:
    """One closed-loop pass: each op is build plus noop write."""
    recs = []
    for name in order:
        rec = {"op": name, "pass": p, "ok": name not in bad,
               "start_ms": time.time() * 1000}
        a = time.perf_counter()
        try:
            df = specs[name].fn(spark, sf_dir)
            b = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            c = time.perf_counter()
            rec.update(build_s=b - a, exec_s=c - b, latency_s=c - a)
        except Exception:
            traceback.print_exc()
            rec["ok"] = False
            rec["latency_s"] = time.perf_counter() - a
        rec["end_ms"] = time.time() * 1000
        recs.append(rec)
    return recs


def prepare(cfg: dict) -> None:
    """Build the derived corpora the package caches under its shared
    root, so that no timed or set-up region pays for them."""
    session, realistic, _ = _import_package(cfg)
    spark = session.get_spark(app_name="perfbench-prepare")
    spark.sparkContext.setLogLevel("ERROR")
    realistic.realistic_documents(spark, cfg["sf_dir"]).count()
    realistic.realistic_embeddings(spark, cfg["sf_dir"]).count()
    spark.stop()


def main() -> None:
    cfg = json.loads(sys.argv[1])
    if cfg["mode"] == "prepare":
        prepare(cfg)
        return
    result = run(cfg)
    with open(cfg["result"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
