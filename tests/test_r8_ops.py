"""Round-8 operator tests: audio frame windowing and temperature
mixture quotas (oracle parity is auto-covered by the parametrized
tests/test_oracle_parity.py; these assert the algebraic invariants
the hash cannot see)."""

import pyspark.sql.functions as F

from tests.conftest import SF_SMOKE, _specs


def test_audio_frames_window_arithmetic(spark):
    """librosa center=False semantics: every doc with n_bytes >= WIN
    emits exactly 1 + (n - WIN) // HOP frames, frame f starts at
    f * HOP, and the integer energy is bounded by the byte range."""
    from recommendation_system_spark_ml_spark.operators.multimodal import (
        AUDIO_HOP, AUDIO_WIN, media_table)

    frames = _specs()["multimodal_audio_frames"].fn(spark, SF_SMOKE).cache()
    try:
        sizes = {r.doc_id: r.n for r in
                 (media_table(spark, SF_SMOKE)
                  .where(F.col("payload").isNotNull())
                  .select("doc_id", F.length("payload").alias("n"))
                  .collect())}
        got = {r.doc_id: r.cnt for r in
               frames.groupBy("doc_id").agg(F.count(F.lit(1)).alias("cnt"))
               .collect()}
        want = {d: 1 + (n - AUDIO_WIN) // AUDIO_HOP
                for d, n in sizes.items() if n >= AUDIO_WIN}
        assert got == want, "frame counts disagree with the hop formula"
        bad = frames.where(
            (F.col("start_sample") != F.col("frame_idx") * AUDIO_HOP)
            | (F.col("energy") < 0)
            | (F.col("energy") > AUDIO_WIN * 128)
            | (F.col("frame_idx") >= F.col("n_frames"))).count()
        assert bad == 0
    finally:
        frames.unpersist()


def test_audio_frames_single_map_stage(spark):
    """The frame table is emitted map-side: no Exchange anywhere in
    the plan (scan -> ArrowEvalPython-class node -> output)."""
    df = _specs()["multimodal_audio_frames"].fn(spark, SF_SMOKE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_mixture_temperature_flattens_the_head(spark):
    """Temperature alpha < 1 must move weight from head to tail:
    for any two sources, the larger one's w/p ratio is <= the
    smaller one's; quotas sum to <= N and track w * N."""
    rows = (_specs()["pipeline_mixture_temperature"].fn(spark, SF_SMOKE)
            .collect())
    assert rows
    n = sum(r.n_docs for r in rows)
    assert sum(r.epoch_quota for r in rows) <= n
    for r in rows:
        assert abs(r.w_temp * n - r.epoch_quota) <= 1 + n * 1e-5
    by_size = sorted(rows, key=lambda r: r.n_docs)
    for small, big in zip(by_size, by_size[1:]):
        if small.n_docs < big.n_docs:
            assert (small.w_temp / max(small.p_raw, 1e-12)
                    >= big.w_temp / max(big.p_raw, 1e-12) - 1e-9)


def test_m4_envelope_invariants(spark):
    """M4 rows: min <= first/last <= max, n >= 1, first <= last in
    time, and bucket reconstruction: sum(n) == total input rows."""
    rows = _specs()["ts_downsample_m4"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n >= 1
        assert r.v_min <= r.v_first <= r.v_max + 1e-9
        assert r.v_min <= r.v_last <= r.v_max + 1e-9
        assert r.t_first <= r.t_last
    from recommendation_system_spark_ml_spark.sources.catalog import load
    total = (load(spark, SF_SMOKE, "events")
             .where(F.col("ts").isNotNull() & F.col("value").isNotNull()
                    & F.col("event_type").isNotNull()).count())
    assert sum(r.n for r in rows) == total


def test_sequence_pattern_span_bounds(spark):
    """Every 3-step match spans at most 2 * 24h (two bounded steps)
    and at least 0; fastest <= slowest per user."""
    from recommendation_system_spark_ml_spark.operators.windows import (
        SEQ_MAX_STEP_US)

    rows = _specs()["ts_sequence_pattern"].fn(spark, SF_SMOKE).collect()
    assert rows, "fixture should contain at least one 3-step match"
    for r in rows:
        assert r.n_matches >= 1
        assert 0 <= r.fastest_span_us <= r.slowest_span_us
        assert r.slowest_span_us <= 2 * SEQ_MAX_STEP_US


def test_winsorized_mean_is_between_thresholds(spark):
    row = _specs()["agg_winsorized_mean"].fn(spark, SF_SMOKE).collect()[0]
    assert row.lo_cents <= row.hi_cents
    assert row.lo_cents / 100.0 <= row.winsorized_mean <= row.hi_cents / 100.0
    assert row.n_clipped_lo + row.n_clipped_hi < row.n
    # clipping pulls the mean toward the center vs the raw mean only
    # when tails are asymmetric; always true: the winsorized mean is
    # within [lo, hi] while the raw mean may not be.


def test_padding_efficiency_bucket_accounting(spark):
    """Bucket invariants the hash cannot see: bucket ceilings are
    PAD_GRAIN-aligned, padded == n_docs * bucket_len exactly, the
    per-bucket waste is < PAD_GRAIN tokens per doc (every doc lands
    in the tightest ceiling), waste_frac matches the integer ratio,
    and the buckets partition the nonzero-token corpus."""
    from recommendation_system_spark_ml_spark.operators.textops import (
        PAD_GRAIN)
    from recommendation_system_spark_ml_spark.sources.catalog import load

    rows = (_specs()["pipeline_padding_efficiency"].fn(spark, SF_SMOKE)
            .collect())
    assert rows
    for r in rows:
        assert r.bucket_len % PAD_GRAIN == 0 and r.bucket_len > 0
        assert r.padded_tokens == r.n_docs * r.bucket_len
        assert 0 < r.real_tokens <= r.padded_tokens
        # tightest-ceiling: each doc pads by at most PAD_GRAIN - 1
        assert r.padded_tokens - r.real_tokens < r.n_docs * PAD_GRAIN
        want = 1.0 - r.real_tokens / r.padded_tokens
        assert abs(r.waste_frac - want) <= 1e-6
        assert 0.0 <= r.waste_frac < 1.0
    n_tok = F.size(F.filter(F.split(F.lower("text"), r"\s+"),
                            lambda w: w != ""))
    corpus_nz = (load(spark, SF_SMOKE, "documents")
                 .where(F.col("text").isNotNull())
                 .where(n_tok > 0).count())
    assert sum(r.n_docs for r in rows) == corpus_nz
