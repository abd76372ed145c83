"""Headline benchmark (driver contract).

Runs the registry's bench-flagged queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric", "value", "unit", "queries", "sf"}.

Each query is forced through the noop sink (df.write.format("noop")):
full distributed materialization of every row, no driver collect --
the timing measures the Spark plan, not Py4J transfer.

`--repeat N` (or $SPARK_GRAFT_BENCH_REPEAT) runs every query N times
and reports the per-query MEDIAN -- this VM throttles unpredictably
(identical runs measured 3x apart), so medians make round-over-round
deltas attributable to code instead of noise. Default N=3; the JSON
line gains "repeat": N. N=1 preserves the old single-shot behavior.

Baseline context (BASELINE.md): the reference's relational phase fits
in ~8 min on a single 2015 laptop core for ~1M rows; per-query targets
at sf0.1 (~600k lineitem) are therefore single-digit seconds.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from recommendation_system_spark_ml_spark.registry import all_specs
from recommendation_system_spark_ml_spark.session import get_spark


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _repeat_arg() -> int:
    if "--repeat" in sys.argv:
        return max(1, int(sys.argv[sys.argv.index("--repeat") + 1]))
    return max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "3")))


def _median(xs: list[float]) -> float:
    xs = sorted(xs)
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeat = _repeat_arg()
    spark = get_spark(app_name="bench")
    # Tiered ordering (r5 verdict: sub-second queries drifted +25-30%
    # in-session vs PERF.md's isolated numbers once the heavy queries
    # were promoted into the headline set -- GC/memory pressure from a
    # heavy query's shuffle blocks lingers into the NEXT timed query in
    # a round-robin sweep). Tier 0: light relational queries, timed
    # first in a quiet JVM. Tier 1: heavy multi-stage queries (>5 s
    # isolated medians in PERF.md). Tier 2: ML-backed queries LAST --
    # MLlib's iterative fits are dominated by C2 JIT on a cold JVM
    # (measured 37 s cold vs 13.5 s warm for ml_movielens_report).
    # Each tier is swept round-robin separately, with a cache-clear +
    # GC barrier between tiers so no tier's garbage is timed in
    # another's samples.
    heavy = {"graph_pagerank", "dedup_minhash_checked",
             "split_leakage_safe", "dedup_canonical"}

    def tier(name: str) -> int:
        if name.startswith("ml_"):
            return 2
        return 1 if name in heavy else 0

    specs = dict(sorted(
        ((n, s) for n, s in all_specs().items() if s.bench),
        key=lambda kv: tier(kv[0])))

    # Full UNTIMED warmup sweep: every query once before any timing.
    # Each query's first execution pays one-off costs that are not the
    # plan -- whole-stage codegen compilation of that query's unique
    # generated class, parquet footer reads, and (for
    # ml_movielens_report) generating its cached MovieLens-shaped twin
    # dataset. With only the old single-query warmup those costs
    # landed in sweep 1's samples, so one throttled sweep out of three
    # could drag a query's median (r3 saw join_multi_key 1.58 -> 2.29
    # with no code change; warm re-measurement reproduced 1.58).
    _warm_mllib(spark)
    for spec in specs.values():
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Machine-speed calibration: a fixed CPU-bound probe whose cost is
    # data-independent. The VM throttles 2-4x between runs (r7:
    # two fresh-JVM bench runs 40 min apart disagreed ~25% uniformly,
    # every query the same direction); recording the probe makes that
    # drift attributable AND correctable (r7 verdict task 3): every
    # artifact also reports queries_norm = raw * REF_CALIB / calib --
    # per-query medians rescaled to the fixed reference machine speed
    # -- and cross-artifact comparisons (BENCH_rN vs PERF.md) are made
    # on the NORMALIZED numbers. The probe runs before AND after the
    # timed sweeps; the factor uses the median of all six samples so a
    # mid-run throttle shift is averaged rather than ignored.
    calib_start = _calib_probe(spark)
    calib = round(_median(calib_start), 3)

    # Round-robin repeats (full sweep x N, not N back-to-back runs of
    # one query) so a throttling window hits each query at most once
    # per round instead of eating all of one query's samples. Sweeps
    # run per TIER (see ordering note), and every timed sample gets
    # its own _quiesce() barrier (r6 verdict task 3: the per-tier
    # barrier left tpch_q7 +80% / graph_pagerank +34% vs PERF.md's
    # isolated medians -- a heavy neighbor's shuffle-block garbage was
    # still being collected inside the NEXT query's timed window; with
    # the barrier per sample, the GC debt is paid on the barrier).
    # Every timed sample is bracketed by its OWN probe run. The probes
    # are NOT used per-sample -- a paired A/B experiment (r8) showed
    # probe and query jitter are nearly independent sample-to-sample,
    # so per-sample division ADDS noise (median cross-run deviation
    # 15-16%) -- but their RUN-median is the best machine-speed scalar
    # available: queries_norm = per-query median(raw) * REF_CALIB /
    # median(ALL probes in the run) measured 6.4% median cross-run
    # deviation vs 17% for raw medians in the same experiment.
    samples: dict[str, list[tuple[float, float]]] = {n: [] for n in specs}

    def timed_sample(spec) -> tuple[float, float]:
        _quiesce(spark)
        p0 = time.perf_counter()
        spark.range(200_000_000).selectExpr("sum(id * 2 + 1)").collect()
        probe = time.perf_counter() - p0
        t0 = time.perf_counter()
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, probe

    tiers: dict[int, dict] = {}
    for name, spec in specs.items():
        tiers.setdefault(tier(name), {})[name] = spec
    for t in sorted(tiers):
        for _ in range(repeat):
            for name, spec in tiers[t].items():
                samples[name].append(timed_sample(spec))
    # Every query gets at least 5 samples when repeats are on (r7
    # verdict task 3 asked for 5 on >10s queries; the r8 A/B
    # experiment showed the worst cross-run deviations are actually on
    # SUB-SECOND queries, whose relative jitter is highest and whose
    # extra samples are nearly free -- so everyone gets the same
    # treatment, tier by tier to keep heavy-query garbage out of
    # light-query samples).
    min_samples = 5
    if repeat >= 3:
        for t in sorted(tiers):
            for name, spec in tiers[t].items():
                while len(samples[name]) < min_samples:
                    samples[name].append(timed_sample(spec))
    times = {name: round(_median([dt for dt, _ in ts]), 3)
             for name, ts in samples.items()}
    all_probes = calib_start + _calib_probe(spark)
    for ts in samples.values():
        all_probes += [p for _, p in ts]
    factor = round(REF_CALIB / _median(all_probes), 4)
    times_norm = {name: norm_time(t, factor) for name, t in times.items()}

    # Stdout contract: ONE COMPACT line. The driver keeps only the
    # last ~2000 chars of stdout (r8 lesson: inlining per-sample
    # pairs blew past that and BENCH_r08.json recorded parsed:null).
    # Scalars only beyond the per-query medians; queries_norm is
    # derivable (norm_time(raw, norm_factor)).
    print(json.dumps({
        "metric": "bench_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": _sf_of(sf_dir),
        "repeat": repeat,
        "calib_sec": calib,
        "ref_calib_sec": REF_CALIB,
        "fixed_lat_sec": FIXED_LAT,
        "norm_factor": factor,
        "value_norm": round(sum(times_norm.values()), 3),
    }))


# Reference machine speed: seconds for the fixed 200M-row CPU probe
# on the idle sandbox. Pinned 2026-08-16 (r9) as the MINIMUM of 20
# bracketed probes in a fresh quiesced JVM (0.119; the min, not the
# median, because throttle only ADDS time -- the min IS the hardware
# floor). Falsifiable: any run whose own min probe undercuts this by
# >10% falsifies the pin; re-measure and re-pin with a new date.
# (r8 ADVICE: the old 0.200 "observed floor" was a median under a
# throttled state and this round's probes ran 2x faster than it.)
REF_CALIB = 0.120

# Fixed per-query latency (seconds) that does NOT scale with CPU
# speed: scheduler/sink/Py4J overhead. Fitted r9 from the two-point
# r7/r8 evidence (probe 0.205 -> 0.10 across rounds; solving
# t = FIXED_LAT + c * probe for the unchanged sub-second headliners
# gives FIXED_LAT ~= 0.18 with the SAME c on both rounds for tpch_q6
# AND agg_avg_groupby; a measured 1-stage noop write costs ~0.07 s
# and each shuffle stage adds ~0.1-0.3 s of scheduling, consistent).
FIXED_LAT = 0.18


def norm_time(t: float, factor: float) -> float:
    """Machine-speed-normalized query time: the AFFINE model
    norm = FIXED_LAT + (raw - FIXED_LAT) * REF_CALIB / probe_median.
    Only the CPU-scaling component above the fixed scheduler/sink
    latency is rescaled (r8 ADVICE: a pure linear factor over-corrects
    sub-second queries -- the r8 probe ran 2x faster than r7's while
    unchanged TPC-H queries moved only 10-20%, so linear normalization
    manufactured phantom +57% regressions on untouched code; the
    affine offset reproduces both rounds' raw numbers with one
    per-query CPU coefficient)."""
    if t <= FIXED_LAT:
        return round(t, 3)
    return round(FIXED_LAT + (t - FIXED_LAT) * factor, 3)


def _calib_probe(spark) -> list[float]:
    """Three samples of the fixed data-independent CPU probe."""
    runs = []
    for _ in range(3):
        _quiesce(spark)
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr("sum(id * 2 + 1)").collect()
        runs.append(time.perf_counter() - t0)
    return runs


def _quiesce(spark) -> None:
    """Settle the JVM before a timed sample: drop cached blocks left
    by warmup/previous queries and request a full GC, so one query's
    heap garbage is collected on the barrier instead of inside the
    next query's timed window. Runs OUTSIDE every timed region; the
    short settle sleep lets the async parts of the collection land."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.3)


def _warm_mllib(spark) -> None:
    """Trigger JIT compilation of the KMeans/ALS hot loops on toy data
    (sub-second) so the timed ML queries measure execution, not the
    JVM's first-call compilation of MLlib internals."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.recommendation import ALS
    from pyspark.sql import functions as F

    toy = (spark.range(64)
           .select((F.col("id") % 8).alias("userId"),
                   (F.col("id") % 6).alias("movieId"),
                   (F.col("id") % 5 + 1.0).alias("rating"),
                   array_to_vector(F.array((F.col("id") % 3).cast("double"),
                                           (F.col("id") % 7).cast("double")))
                   .alias("features")))
    KMeans(k=2, seed=1, maxIter=2).fit(toy)
    ALS(rank=2, maxIter=2, seed=1, userCol="userId", itemCol="movieId",
        ratingCol="rating").fit(toy)


if __name__ == "__main__":
    main()
