"""Regenerate expected.json, the committed output fingerprints.

    python3 perfbench/regen_expected.py

Run from the repository root. For every op of every workload, at the
workload's scale factor and at the smoke test's sf0.001, the expected
fingerprint comes from the registry's DuckDB oracle (``spec.oracle``)
over the generated tables; every op a workload runs must have one.
Spark's own output is
fingerprinted too, and every op where the two disagree is printed; a
disagreement means the benchmark would report the op as failed.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import _prepare  # noqa: E402
from worker import _import_package  # noqa: E402
from workloads import WORKLOADS, fingerprint  # noqa: E402

SMOKE_SF = "0.001"
# The oracles read the derived corpora through this fixed path.
PACKAGE_SHARED_ROOT = "/tmp/rsml_scratch/shared"


def main() -> int:
    root = os.getcwd()
    plan: dict[str, set[str]] = {}
    for wl in WORKLOADS.values():
        for sf in (wl["sf"], SMOKE_SF):
            plan.setdefault(sf, set()).update(wl["ops"])
    shared = os.path.join(root, ".perfbench_work", "shared")
    scratch = os.path.join(root, ".perfbench_work", "regen_scratch")
    session, _, specs = _import_package(
        {"root": root, "shared": shared, "scratch": scratch})
    from recommendation_system_spark_ml_spark.sources.catalog import (
        TABLES, path_for)

    spark = session.get_spark(app_name="perfbench-regen")
    spark.sparkContext.setLogLevel("ERROR")
    out, bad = {}, []
    for sf in sorted(plan):
        sf_dir, _ = _prepare(root, sf)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{path_for(sf_dir, t)}')")
        out[f"sf{sf}"] = {}
        for name in sorted(plan[sf]):
            spec = specs[name]
            got = fingerprint(spec.fn(spark, sf_dir).toPandas())
            sql = spec.oracle.replace(PACKAGE_SHARED_ROOT, shared)
            want = fingerprint(con.execute(sql).df())
            out[f"sf{sf}"][name] = want
            if got != want:
                bad.append(f"sf{sf} {name}: spark {got} oracle {want}")
            print(f"sf{sf} {name} {want}", flush=True)
        con.close()
    spark.stop()
    shutil.rmtree(scratch, ignore_errors=True)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    for line in bad:
        print("MISMATCH", line)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
