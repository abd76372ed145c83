"""Benchmark entry point.

    python3 perfbench/run.py --workload star_sql --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. One run:

1. prepares the host state, untimed: generates the workload's input
   tables (perfbench/datagen.py) and the package's derived corpora once
   per checkout under .perfbench_work/;
2. takes a CPU probe and the host's steal counter;
3. starts worker.py in a fresh Python process and JVM on local[nproc-1]
   with a pinned heap, samples the RSS of its process tree, and waits;
   the worker times whole passes until --seconds have passed, plus one
   more pass if the host stole more than 4% of the CPU during the last
   one, and the metrics come from its least-stolen passes;
4. takes the probe and the steal counter again, deletes the run's
   scratch, Spark local and event-log directories, and stops any process
   the run left behind;
5. prints one run record (host diagnostics) and, as the last line, the
   result: the end-to-end metrics with --trace 0, or with --trace 1 the
   per-layer metrics folded from Spark's event log (eventlog.py).

The seed permutes the op order of every pass; the inputs themselves are
fixed so that the committed output fingerprints (expected.json) hold.
Exits non-zero without a result when the package is missing or the
worker fails.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import eventlog  # noqa: E402
import procfs  # noqa: E402
from workloads import END_TO_END, PACKAGE, WORKLOADS, per_layer_units  # noqa: E402

# -Xms equal to -Xmx, every page touched at start: otherwise the heap's
# resident size follows GC timing, and with it the process-tree RSS
# (README.md, "Pinning").
HEAP = "2g"
WORKER_TIMEOUT_S = 160
PR_SET_CHILD_SUBREAPER = 36


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="timed passes run until this much time has passed "
                        "(at least one pass)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", help="override the workload's scale factor "
                                "(the smoke test uses 0.001)")
    return p.parse_args()


def cpu_probe_s() -> float:
    """Median time of a fixed pure-Python loop: a Spark-free reading of
    how fast this host runs one thread right now."""
    times = []
    for _ in range(7):
        t = time.perf_counter()
        x = 0
        for i in range(300_000):
            x += i * i
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _quantile(xs: list[float], q: float) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def _reap_leftovers() -> None:
    """Kill and reap every process the run left behind. run.py is a
    child subreaper, so orphans of the worker's tree are its children."""
    me = os.getpid()
    while True:
        for pid in procfs.tree(me)[1:]:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no children left
        time.sleep(0.05)


def _run_worker(cfg: dict, env: dict, cwd: str) -> tuple[int, float]:
    """Run worker.py to completion; return its exit code and the peak
    RSS of its process tree in MB."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
        env=env, cwd=cwd, stdout=sys.stderr)
    peak = [0.0]
    done = threading.Event()

    def sample() -> None:
        # Count only processes also seen one sample earlier: a child
        # caught between vfork and exec still shares its parent's memory
        # map, and counting it once more doubled one run's peak.
        prev: set[int] = set()
        while not done.wait(0.2):
            pids = set(procfs.tree(proc.pid))
            peak[0] = max(peak[0], procfs.rss_mb(pids & prev))
            prev = pids

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    try:
        rc = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
        rc = 1
    finally:
        done.set()
        sampler.join()
        _reap_leftovers()  # the worker too, if it is still running
    return rc, peak[0]


def _prepare(root: str, sf: str) -> tuple[str, str]:
    """Untimed, once per checkout: input tables and derived corpora."""
    work = os.path.join(root, ".perfbench_work")
    data = os.path.join(work, "data", f"sf{sf}")
    shared = os.path.join(work, "shared")
    if not os.path.isdir(data):
        os.makedirs(os.path.dirname(data), exist_ok=True)
        datagen.generate(data, float(sf))
    return data, shared


def _spark_env(dirs: dict, cpus: int, trace: bool) -> dict:
    """The worker's environment: cores, pinned heap, and every directory
    Spark, the JVM and Python write to inside the run directory."""
    submit = ["--driver-java-options",
              f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={dirs['tmp']}",
              "--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        for k, v in (("enabled", "true"), ("dir", f"file://{dirs['eventlog']}"),
                     ("compress", "false"), ("rolling.enabled", "false")):
            submit += ["--conf", f"spark.eventLog.{k}={v}"]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_GRAFT_DRIVER_MEM=HEAP, SPARK_LOCAL_DIRS=dirs["local"],
               TMPDIR=dirs["tmp"], PYSPARK_PYTHON=sys.executable,
               PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]))
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    return env


def main() -> int:
    args = _args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "registry.py")):
        print(f"run from the repository root: {PACKAGE}/ not found in {root}",
              file=sys.stderr)
        return 2
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    # SIGTERM unwinds through the finally blocks that stop the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    wl = WORKLOADS[args.workload]
    sf = args.sf or wl["sf"]
    sf_dir, shared = _prepare(root, sf)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f).get(f"sf{sf}", {})

    run_dir = os.path.join(root, ".perfbench_work", f"run{os.getpid()}")
    dirs = {k: os.path.join(run_dir, k)
            for k in ("tmp", "local", "scratch", "eventlog", "cwd")}
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in dirs.values():
        os.makedirs(d)
    cpus = max(1, len(os.sched_getaffinity(0)) - 1)
    env = _spark_env(dirs, cpus, trace=False)
    run_env = _spark_env(dirs, cpus, trace=bool(args.trace))
    cfg = {"root": root, "sf_dir": sf_dir, "shared": shared,
           "scratch": dirs["scratch"], "setup": wl["setup"], "ops": wl["ops"],
           "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
           "expected": expected, "result": os.path.join(run_dir, "result.json")}
    try:
        marker = os.path.join(shared, f"prepared_sf{sf}")
        if "realistic" in wl["setup"] and not os.path.exists(marker):
            rc, _ = _run_worker(dict(cfg, mode="prepare"), env, dirs["cwd"])
            if rc:
                return rc
            open(marker, "w").close()

        probe_before = cpu_probe_s()
        steal0 = procfs.steal_s()
        rc, peak_rss_mb = _run_worker(dict(cfg, mode="run"), run_env, dirs["cwd"])
        steal = procfs.steal_s() - steal0
        probe_after = cpu_probe_s()
        if rc:
            print(f"worker exited with {rc}", file=sys.stderr)
            return rc
        with open(cfg["result"]) as f:
            res = json.load(f)
        folded = eventlog.fold(dirs["eventlog"], res) if args.trace else None
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # every timed op counts towards pass_ratio; timings come only from
    # the passes the worker chose to report
    attempted = len(res["ops"])
    failed = sum(not r["ok"] for r in res["ops"])
    used = [x for x in res["passes"] if x["pass"] in res["used"]]
    lat = [r["latency_s"] for r in res["ops"] if r["pass"] in res["used"]]
    record = {"workload": args.workload, "seed": args.seed, "sf": sf,
              "trace": args.trace, "cpus": cpus, "heap": HEAP,
              "steal_s": round(steal, 3),
              "probe_before_s": round(probe_before, 5),
              "probe_after_s": round(probe_after, 5),
              "passes": [{k: round(v, 4) for k, v in x.items()}
                         for x in res["passes"]],
              "used_passes": res["used"],
              "failed_checks": res["failed_checks"]}
    if args.trace:
        units = per_layer_units()
        values = folded["metrics"]
        record.update(folded["record"])
    else:
        units = END_TO_END
        values = {"setup_s": res["setup_s"],
                  "wall_s": statistics.median(x["wall_s"] for x in used),
                  "op_p50_s": statistics.median(lat),
                  "op_p90_s": _quantile(lat, 0.9),
                  "cpu_s": statistics.mean(x["cpu_s"] for x in used),
                  "peak_rss_mb": peak_rss_mb,
                  "pass_ratio": (attempted - failed) / attempted}
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": failed == 0 and not res["failed_checks"],
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
