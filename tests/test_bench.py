"""bench.py is a driver deliverable: it must emit exactly one COMPACT
JSON line with the contract fields, at any scale factor. The driver
keeps only the last ~2000 chars of output (r8 lesson: inlining
per-sample pairs blew past that and the round's BENCH artifact
recorded parsed:null), so the line carries scalars and per-query
medians only."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_contract_smoke():
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
               SPARK_GRAFT_CPUS="8",
               SPARK_GRAFT_BENCH_REPEAT="1")
    out = subprocess.run(
        [sys.executable, "bench.py"], env=env, capture_output=True,
        text=True, timeout=600, cwd=ROOT)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")]
    assert len(lines) == 1, out.stdout
    # the compact-line budget: the driver's stdout tail is ~2000 chars
    # and Spark shutdown noise can follow the line -- keep headroom.
    assert len(lines[0]) < 1800, f"contract line too long: {len(lines[0])}"
    rec = json.loads(lines[0])
    assert set(rec) == {"metric", "value", "unit", "queries", "sf",
                        "repeat", "calib_sec", "ref_calib_sec",
                        "fixed_lat_sec", "norm_factor", "value_norm"}
    assert rec["unit"] == "sec"
    assert rec["value"] > 0
    assert rec["sf"] == 0.001
    assert rec["repeat"] == 1
    assert rec["calib_sec"] > 0  # machine-speed probe (r7: throttle
    # drift between artifact runs is attributable via this scalar)
    assert all(v >= 0 for v in rec["queries"].values())
    # Normalization contract (r9): ONE scalar norm_factor =
    # REF_CALIB / median(every bracketing probe in the run); per-query
    # norms are DERIVED, not shipped -- norm_time applies the affine
    # model norm = FIXED_LAT + (raw - FIXED_LAT) * norm_factor, which
    # rescales only the CPU-scaling component above the fixed
    # scheduler/sink latency (a pure linear factor over-corrected
    # sub-second queries, r8 ADVICE). The run-median factor -- NOT
    # per-sample division -- is deliberate: probe and query jitter are
    # nearly independent sample-to-sample (r8 paired A/B), so
    # per-sample calibration adds noise while the run median removes
    # run-level throttle shift.
    assert rec["norm_factor"] > 0
    assert rec["ref_calib_sec"] > 0
    assert rec["fixed_lat_sec"] > 0
    assert rec["value_norm"] > 0
    from bench import norm_time
    derived = sum(norm_time(t, rec["norm_factor"])
                  for t in rec["queries"].values())
    assert abs(derived - rec["value_norm"]) < 0.01


def test_bench_median_helper():
    from bench import _median
    assert _median([3.0, 1.0, 2.0]) == 2.0
    assert _median([4.0, 1.0]) == 2.5
    assert _median([7.0]) == 7.0


def test_norm_time_affine_model():
    from bench import FIXED_LAT, norm_time
    # below the fixed-latency floor: raw passes through
    assert norm_time(0.1, 0.5) == 0.1
    # above: only the CPU component rescales
    assert norm_time(FIXED_LAT + 2.0, 0.5) == round(FIXED_LAT + 1.0, 3)
    # factor 1 is the identity
    assert norm_time(5.0, 1.0) == 5.0
