"""Round-9 operator tests: the algebraic invariants the oracle hash
cannot see (oracle parity is auto-covered by the parametrized
tests/test_oracle_parity.py)."""

import pyspark.sql.functions as F

from tests.conftest import SF_SMOKE, _specs


def test_count_min_exact_one_sided_error_and_bounded_cells(spark):
    """CMS defining guarantee: every estimate >= the true count (cells
    only ever ADD colliding keys), and the sketch itself is bounded at
    depth x width cells regardless of input size."""
    from recommendation_system_spark_ml_spark.operators.aggregates import (
        CM_DEPTH, CM_WIDTH)

    rows = _specs()["agg_count_min_exact"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.cm_estimate >= r.true_count > 0
        assert r.cm_overestimates
    # the overestimate slack is collision mass: bounded by the corpus
    # size but usually small at this width
    assert any(r.cm_estimate == r.true_count for r in rows) or \
        all(r.cm_estimate - r.true_count < 10_000 for r in rows)
    assert CM_DEPTH * CM_WIDTH == 1024


def test_hdr_histogram_partitions_the_corpus(spark):
    """Log2 buckets partition the positive-price orders exactly: counts
    telescope to the corpus size, sums sit inside each bucket's
    [n*lo, n*hi] band, fractions sum to ~1."""
    rows = _specs()["agg_hdr_histogram"].fn(spark, SF_SMOKE).collect()
    assert rows
    total = (_specs()["agg_hdr_histogram"].fn(spark, SF_SMOKE)
             .agg(F.sum("n")).first()[0])
    corpus = (spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
              .where(F.col("o_totalprice").isNotNull()
                     & (F.col("o_totalprice") > 0)).count())
    assert total == corpus
    assert abs(sum(r.frac for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert r.lo_cents == 2 ** r.bucket
        assert r.hi_cents == 2 ** (r.bucket + 1) - 1
        assert r.n * r.lo_cents <= r.total_cents <= r.n * r.hi_cents


def test_theil_sen_split_pairing_arithmetic(spark):
    """Split pairing: with T days and offset h = max(T // 2, 1) there
    are exactly T - h pairs; the median slope is finite and the row is
    unique."""
    rows = _specs()["ts_theil_sen"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 1
    r = rows[0]
    h = max(r.n_days // 2, 1)
    assert r.n_pairs == r.n_days - h
    assert abs(r.trend_cents_per_day) < 1e12


def test_sax_word_shape_and_symbol_bins(spark):
    """SAX invariants: segments partition the day table into at most
    SAX_SEGMENTS contiguous chunks of near-equal size, symbols are in
    the 8-letter alphabet and monotone in paa_z, and the z-scores
    average to ~0 (population normalization)."""
    from recommendation_system_spark_ml_spark.operators.timeseries import (
        SAX_BREAKS, SAX_SEGMENTS)

    rows = sorted(_specs()["ts_sax_symbolic"].fn(spark, SF_SMOKE).collect(),
                  key=lambda r: r.segment)
    assert 1 <= len(rows) <= SAX_SEGMENTS
    assert [r.segment for r in rows] == list(range(len(rows)))
    sizes = [r.n_days for r in rows]
    assert max(sizes) - min(sizes) <= 1  # i*W DIV t equal-width split
    total = sum(sizes)
    # population z-normalization: weighted PAA mean ~ 0
    assert abs(sum(r.paa_z * r.n_days for r in rows) / total) < 1e-3
    for r in rows:
        assert 0 <= r.symbol <= len(SAX_BREAKS)
        assert r.symbol == sum(1 for b in SAX_BREAKS if r.paa_z > b)
    by_z = sorted(rows, key=lambda r: r.paa_z)
    assert all(a.symbol <= b.symbol for a, b in zip(by_z, by_z[1:]))
