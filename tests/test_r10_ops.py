"""Round-10 local gates: the adaptive-banding clamp edges, the
promoted realistic-trio contract booleans, and the ALS-eval contract
invariants (the hash-green driver rows are the primary gate; these pin
the fixture-conditional halves)."""

import pyspark.sql.functions as F

from tests.conftest import SF_SMOKE, _plan, _specs


def test_lsh_band_bits_clamp_edges():
    """b = clamp(ceil(log2 n) - 3, 6, 16): exact behavior at every
    crossing point (r9 verdict task 3 -- the upper clamp needs n >=
    2^19, far beyond any probe corpus, so the rule is pinned here)."""
    from recommendation_system_spark_ml_spark.operators.similarity import (
        lsh_band_bits)

    assert lsh_band_bits(0) == 6       # degenerate floors to n=2
    assert lsh_band_bits(1) == 6
    assert lsh_band_bits(512) == 6     # last n at the lower clamp
    assert lsh_band_bits(513) == 7     # first n above it
    assert lsh_band_bits(1 << 13) == 10
    assert lsh_band_bits((1 << 19) - 1) == 16  # reaches 16 just below 2^19
    assert lsh_band_bits(1 << 19) == 16        # exactly at the upper clamp
    assert lsh_band_bits((1 << 19) + 1) == 16  # clamped above it
    assert lsh_band_bits(1 << 30) == 16
    # 192-bit budget divides cleanly enough for >= 12 tables everywhere
    for n in (1, 512, 513, 1 << 19, 1 << 25):
        assert 192 // lsh_band_bits(n) >= 12


def test_realistic_trio_contracts_green(spark):
    """The r10-promoted contracts hold on the smoke corpus: every
    probe row's booleans are TRUE and the exact counts are sane."""
    mh = _specs()["dedup_minhash_realistic"].fn(spark, SF_SMOKE).collect()
    assert len(mh) > 0
    for r in mh:
        assert r.minhash_le_exact and r.dups_complete
        assert r.n_exact_dups <= r.n_exact_nd
    lsh = _specs()["sim_lsh_realistic"].fn(spark, SF_SMOKE).collect()
    assert len(lsh) > 0
    assert all(r.lsh_count_le_exact for r in lsh)


def test_als_eval_contract_invariants(spark):
    from recommendation_system_spark_ml_spark.operators.recsys_eval import (
        EVAL_USER_CAP)

    row = _specs()["ml_rec_eval_als"].fn(spark, SF_SMOKE).collect()[0]
    assert row.n_train > 0 and row.n_test > 0
    assert 0 < row.n_eval_users <= min(row.n_test, EVAL_USER_CAP)
    # ~80/20 Knuth split
    frac = row.n_train / (row.n_train + row.n_test)
    assert 0.7 < frac < 0.9
    assert row.scored_subset_of_pool
    assert row.metrics_in_unit_range and row.ndcg_in_band


def test_cms_fold_keeps_product_in_int64(spark):
    """The mod-2^31 fold bounds the Knuth product for ANY key (the
    r9-ADVICE overflow class) and is an identity at fixture scales.
    The kernel pair (hashing.py) agrees with an independent Python
    reference on both engines, negative keys included, and evaluates
    the keys on which the unfolded product overflows -- where both
    engines raise with the unfolded form."""
    import duckdb
    import pytest

    from recommendation_system_spark_ml_spark.hashing import (
        knuth_hash, knuth_hash_sql)
    from recommendation_system_spark_ml_spark.operators.aggregates import (
        CM_DEPTH, CM_SALT)
    from recommendation_system_spark_ml_spark.session import local_frame

    worst = (2 ** 31 - 1) * 2654435761
    assert worst < 2 ** 63 - 1
    # identity at fixture scale: folding changes nothing for small keys
    for k in (1, 200_000, 3_000_000):
        for r in range(CM_DEPTH):
            x = k + r * CM_SALT
            assert x % 2147483648 == x

    def tmod(a, m):  # C-style remainder: truncates toward zero
        return -(-a % m) if a < 0 else a % m

    def ref(k):  # (hash, hash % 10)
        h = tmod(tmod(k, 2 ** 31) * 2654435761, 2 ** 32)
        return h, tmod(h, 10)

    keys = [0, 1, 499, 2 ** 24, 2 ** 31 - 1, 2 ** 31, 3_500_000_000,
            4_000_000_000, 2 ** 62, -1, -12345]
    want = {k: ref(k) for k in keys}
    assert want[-12345][1] == -1  # a gate's % 10 truncates too
    keys_df = local_frame(spark, [(k,) for k in keys], "k bigint")
    h = knuth_hash(F.col("k"))
    got_spark = {r[0]: (r[1], r[2]) for r in keys_df.select(
        "k", h, h % 10).collect()}
    values = ", ".join(f"({k}::BIGINT)" for k in keys)
    # the failure arm: from ~3.47e9 up, key * 2654435761 leaves INT64
    big = [k for k in keys if k >= 3_470_000_000]
    assert len(big) == 3
    with duckdb.connect() as con:
        got_duck = {r[0]: (r[1], r[2]) for r in con.execute(
            f"SELECT k, {knuth_hash_sql('k')}, {knuth_hash_sql('k')} % 10 "
            f"FROM (VALUES {values}) t(k)").fetchall()}
        for k in big:
            with pytest.raises(duckdb.Error, match="Overflow"):
                con.execute(f"SELECT ({k}::BIGINT * 2654435761) % 4294967296")
    assert got_spark == want
    assert got_duck == want

    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        for k in big:
            one = keys_df.where(F.col("k") == k)
            with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
                one.select(F.col("k") * 2654435761 % 4294967296).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_knuth_constant_lives_only_in_the_kernel():
    """One definition: the Knuth multiplier appears once in the package
    source, in hashing.py, and no module defines its own *KNUTH* name."""
    import pathlib
    import re

    pkg = (pathlib.Path(__file__).resolve().parents[1]
           / "recommendation_system_spark_ml_spark")
    hits, defs = [], []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for line in path.read_text().splitlines():
            hits += [rel] * line.count("2654435761")
            if re.match(r"\s*\w*KNUTH\w*\s*=[^=]", line):
                defs.append(rel)
    assert hits == ["hashing.py"]
    assert defs == ["hashing.py"]


def test_driver_frames_have_one_builder():
    """One path for driver-built frames: createDataFrame is called only
    in session.py (local_frame), and neither the literal-struct builder
    it replaced (tiny_frame) nor its F.inline( is left in the package
    source."""
    import pathlib

    pkg = (pathlib.Path(__file__).resolve().parents[1]
           / "recommendation_system_spark_ml_spark")
    calls, stale = [], []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        text = path.read_text()
        calls += [rel] * text.count("createDataFrame(")
        stale += [rel] * (text.count("tiny_frame") + text.count("F.inline("))
    assert calls == ["session.py"]
    assert stale == []


def test_cms_merge_plans_bounded_and_partial(spark):
    """Both sketch passes must partial-aggregate (map-side combine to
    the <= 1,024-cell table BEFORE any exchange) and the shard merge
    must not shuffle anything row-sized."""
    df = _specs()["agg_cms_merge"].fn(spark, SF_SMOKE)
    plan = _plan(df)
    # partial + final HashAggregate pairs around exchanges
    assert plan.count("HashAggregate") >= 4
    assert "CartesianProduct" not in plan
    rows = df.collect()
    assert 0 < len(rows) <= 1024
    assert all(r.merge_exact for r in rows)
    # every cell row's count is positive and depth ids are in range
    assert all(r.cnt > 0 and 0 <= r.r <= 3 for r in rows)


def test_matryoshka_probe_is_broadcast_linear(spark):
    """The probe side must broadcast (BroadcastNestedLoopJoin with the
    bounded query slice as build side) -- never a data x data
    cartesian -- and the agreement must be perfect on self-similar
    geometry at smoke scale only when ranks genuinely agree."""
    df = _specs()["vec_matryoshka_agreement"].fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    rows = df.collect()
    from recommendation_system_spark_ml_spark.operators.similarity import (
        N_QUERIES, TOP_K)
    assert len(rows) == N_QUERIES
    for r in rows:
        assert 0 <= r.n_overlap <= TOP_K
        # rank-1 agreement implies the ids appear in both top lists
        if r.top1_full == r.top1_trunc:
            assert r.n_overlap >= 1
