"""Semantic checks for the r6 operator wave, beyond the oracle-hash
gate in test_oracle_parity.py: closed-form identities, completeness
invariants, and boundary semantics that a hash match alone would not
explain if they ever broke."""

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_anisotropy_closed_form_matches_brute_force(spark):
    """(||sum(u)||^2 - n) / (n(n-1)) must equal the literal average
    over all pairs of normalized-vector cosines."""
    from recommendation_system_spark_ml_spark.operators.similarity import (
        vec_anisotropy_report)
    from recommendation_system_spark_ml_spark.sources.catalog import load

    row = vec_anisotropy_report(spark, SF_SMOKE).first()
    vecs = [r.embedding for r in
            load(spark, SF_SMOKE, "embeddings").collect()]
    unit = []
    for v in vecs:
        nrm = math.sqrt(sum(float(x) * float(x) for x in v))
        if nrm > 0:
            unit.append([float(x) / nrm for x in v])
    n = len(unit)
    assert row.n_vectors == n
    pair_sum = 0.0
    for i in range(n):
        for j in range(i + 1, n):
            pair_sum += sum(a * b for a, b in zip(unit[i], unit[j]))
    brute = pair_sum / (n * (n - 1) / 2)  # avg over n(n-1)/2 pairs
    assert row.avg_pairwise_cosine == pytest.approx(brute, abs=1e-4)
    assert 0.0 <= row.centroid_norm <= 1.0 + 1e-9


def test_cluster_size_dist_accounts_for_every_doc(spark):
    """The histogram must partition the corpus: sum(n_docs) equals the
    document count and n_docs = cluster_size * n_clusters per row."""
    from recommendation_system_spark_ml_spark.operators.dedup import (
        dedup_cluster_size_dist)
    from recommendation_system_spark_ml_spark.sources.catalog import load

    rows = dedup_cluster_size_dist(spark, SF_SMOKE).collect()
    total = load(spark, SF_SMOKE, "documents").count()
    assert sum(r.n_docs for r in rows) == total
    for r in rows:
        assert r.n_docs == r.cluster_size * r.n_clusters


def test_rfm_quintiles_rank_the_right_way(spark):
    """Quintile 1 is best on each axis: the highest spender carries
    m_q = 1, the most recent purchaser r_q = 1, and every quintile
    lands in 1..5 with balanced (ntile) sizes."""
    from recommendation_system_spark_ml_spark.operators.aggregates import (
        agg_rfm_scores)

    rows = agg_rfm_scores(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 1 <= r.r_q <= 5 and 1 <= r.f_q <= 5 and 1 <= r.m_q <= 5
        assert r.rfm_code == r.r_q * 100 + r.f_q * 10 + r.m_q
        assert r.recency_us >= 0
    top_spender = max(rows, key=lambda r: (r.monetary_cents, -r.user_id))
    assert top_spender.m_q == 1
    most_recent = min(rows, key=lambda r: (r.recency_us, r.user_id))
    assert most_recent.r_q == 1
    # ntile balance: sizes differ by at most one
    from collections import Counter
    sizes = Counter(r.r_q for r in rows)
    assert max(sizes.values()) - min(sizes.values()) <= 1


def test_calendar_profile_shape_and_peaks(spark):
    """Cells stay inside the 7x24 calendar, exactly one peak per
    day-of-week present, and event totals add back to the non-NULL-ts
    event count."""
    from recommendation_system_spark_ml_spark.operators.timeseries import (
        ts_calendar_profile)
    from recommendation_system_spark_ml_spark.sources.catalog import load

    rows = ts_calendar_profile(spark, SF_SMOKE).collect()
    assert rows
    assert all(0 <= r.dow <= 6 and 0 <= r.hour <= 23 for r in rows)
    dows = {r.dow for r in rows}
    peaks = [r for r in rows if r.is_dow_peak == 1]
    assert len(peaks) == len(dows)
    n_ts = (load(spark, SF_SMOKE, "events")
            .where(F.col("ts").isNotNull()).count())
    assert sum(r.n_events for r in rows) == n_ts


def test_basket_lift_brute_force_one_pair(spark):
    """Recompute support/confidence/lift for the top returned pair
    straight from the distinct (order, part) table."""
    from recommendation_system_spark_ml_spark.operators.aggregates import (
        agg_basket_lift)
    from recommendation_system_spark_ml_spark.sources.catalog import load

    rows = agg_basket_lift(spark, SF_SMOKE).collect()
    assert rows and all(0 < r.confidence <= 1 for r in rows)
    top = rows[0]
    oi = (load(spark, SF_SMOKE, "lineitem")
          .where(F.col("l_partkey").isNotNull())
          .select("l_orderkey", "l_partkey").distinct().collect())
    baskets = {}
    for r in oi:
        baskets.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    n_orders = len(baskets)
    cnt_a = sum(1 for b in baskets.values() if top.part_a in b)
    cnt_b = sum(1 for b in baskets.values() if top.part_b in b)
    pair = sum(1 for b in baskets.values()
               if top.part_a in b and top.part_b in b)
    assert (top.cnt_a, top.cnt_b, top.pair_cnt) == (cnt_a, cnt_b, pair)
    assert top.lift == pytest.approx(pair * n_orders / (cnt_a * cnt_b),
                                     abs=1e-5)


def test_readability_hand_computed_doc(spark):
    """Score one document by hand through the published formula."""
    import re

    from recommendation_system_spark_ml_spark.operators.textops import (
        text_readability)
    from recommendation_system_spark_ml_spark.sources.catalog import load

    doc = load(spark, SF_SMOKE, "documents").first()
    row = [r for r in text_readability(spark, SF_SMOKE).collect()
           if r.doc_id == doc.doc_id][0]
    sents = max(len(re.findall(r"[.!?]+", doc.text)), 1)
    words = len(re.findall(r"[a-z]+", doc.text.lower()))
    syls = len(re.findall(r"[aeiouy]+", doc.text.lower()))
    assert (row.n_sentences, row.n_words, row.n_syllables) == (
        sents, words, syls)
    if words:
        want = 206.835 - 1.015 * (words / sents) - 84.6 * (syls / words)
        assert row.flesch_score == pytest.approx(want, abs=1e-3)
        assert row.band == ("easy" if want >= 60
                            else "medium" if want >= 30 else "hard")


def test_fertility_totals_agree_with_text_tokens(spark):
    """Summing text_tokens' per-doc counts by (source, lang) must give
    fertility's group totals -- the two reports share tokenization."""
    from recommendation_system_spark_ml_spark.operators.textops import (
        pipeline_tokenizer_fertility, text_tokens)
    from recommendation_system_spark_ml_spark.sources.catalog import load

    docs = load(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "lang")
    per_doc = text_tokens(spark, SF_SMOKE).join(docs, "doc_id")
    want = {(r.source, r.lang): (r.ws, r.bpe) for r in
            (per_doc.groupBy("source", "lang")
             .agg(F.sum("n_ws_tokens").alias("ws"),
                  F.sum("n_bpe_tokens").alias("bpe")).collect())}
    got = {(r.source, r.lang): (r.ws_tokens, r.bpe_tokens)
           for r in pipeline_tokenizer_fertility(spark, SF_SMOKE).collect()}
    assert got == want


def test_top_pc_matches_numpy_power_iteration(spark):
    """Replicate the fixed 8-step power iteration in numpy from the
    raw embeddings: loadings must agree to ~1e-6 and the loading
    vector must be unit-norm; the eigenvalue must match the Rayleigh
    norm."""
    import numpy as np

    from recommendation_system_spark_ml_spark.operators.similarity import (
        N_PC_ITER, vec_top_pc)
    from recommendation_system_spark_ml_spark.sources.catalog import load

    X = np.array([r.embedding for r in
                  load(spark, SF_SMOKE, "embeddings").collect()],
                 dtype=np.float64)
    C = (X - X.mean(axis=0)).T @ (X - X.mean(axis=0)) / X.shape[0]
    v = np.full(X.shape[1], 1.0 / math.sqrt(X.shape[1]))
    nrm = None
    for _ in range(N_PC_ITER):
        w = C @ v
        nrm = math.sqrt(float(w @ w))
        v = w / nrm
    rows = sorted(vec_top_pc(spark, SF_SMOKE).collect(),
                  key=lambda r: r.dim)
    got = np.array([r.loading for r in rows])
    assert len(got) == X.shape[1]
    assert np.abs(got - v).max() < 1e-5
    assert abs(float(got @ got) - 1.0) < 1e-4
    assert rows[0].eigenvalue == pytest.approx(nrm, abs=1e-3)


def test_mmr_matches_pure_python_greedy(spark):
    """Replicate candidate pool + greedy selection in numpy/python:
    the selected ids, order, and scores must match; picks must be
    distinct and the first pick must be the most relevant candidate."""
    import numpy as np

    from recommendation_system_spark_ml_spark.operators.similarity import (
        MMR_K, MMR_POOL, _MMR_Q, sim_mmr_rerank)
    from recommendation_system_spark_ml_spark.sources.catalog import load

    rows = sorted(sim_mmr_rerank(spark, SF_SMOKE).collect(),
                  key=lambda r: r.rank)
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in
            load(spark, SF_SMOKE, "embeddings").collect()}
    unit = {i: v / np.linalg.norm(v) for i, v in vecs.items()
            if np.linalg.norm(v) > 0}
    q = unit[0]

    def q6(x):
        return math.floor(x * _MMR_Q + 0.5) / _MMR_Q

    rel = {i: q6(float(q @ u)) for i, u in unit.items() if i != 0}
    pool = sorted(rel, key=lambda i: (-rel[i], i))[:MMR_POOL]
    selected, want = [], []
    remaining = set(pool)
    for rank in range(1, MMR_K + 1):
        best, best_s = None, None
        for cid in sorted(remaining):
            red = max((q6(float(unit[cid] @ unit[s])) for s in selected),
                      default=0.0)
            s = 0.7 * rel[cid] - 0.3 * red
            if best_s is None or s > best_s:
                best, best_s = cid, s
        want.append((rank, best, rel[best], q6(best_s)))
        selected.append(best)
        remaining.discard(best)
    got = [(r.rank, r.vec_id, r.relevance, r.mmr_score) for r in rows]
    assert [g[:2] for g in got] == [w[:2] for w in want]
    for g, w in zip(got, want):
        assert g[2] == pytest.approx(w[2], abs=2e-6)
        assert g[3] == pytest.approx(w[3], abs=2e-6)
    assert len({g[1] for g in got}) == len(got)
    assert got[0][1] == max(rel, key=lambda i: (rel[i], -i))


def test_item_item_cf_brute_force_one_item(spark):
    """Recompute one item's neighbor list in pure Python (cosine over
    co-rating users with the same USER_CAP discipline): ids, co-counts
    and similarities must match."""
    from recommendation_system_spark_ml_spark.operators.recommend import (
        MIN_CO, N_NEIGHBORS, USER_CAP, _CF_Q, ml_item_item_cf)
    from recommendation_system_spark_ml_spark.ml.parity import ratings_analog

    ratings = [(r.userId, r.movieId, float(r.rating)) for r in
               ratings_analog(spark, SF_SMOKE).collect()
               if r.userId is not None and r.movieId is not None
               and r.rating is not None]
    by_user = {}
    for u, i, r in ratings:
        by_user.setdefault(u, []).append((i, r))
    capped = {}
    for u, items in by_user.items():
        for i, r in sorted(items)[:USER_CAP]:
            capped.setdefault(i, {})[u] = r
    rows = ml_item_item_cf(spark, SF_SMOKE).collect()
    assert rows
    probe_item = rows[0].item
    vecs = capped[probe_item]
    import math as m
    nrm = {i: m.sqrt(sum(r * r for r in d.values()))
           for i, d in capped.items()}
    cands = []
    for j, d in capped.items():
        if j == probe_item:
            continue
        shared = set(vecs) & set(d)
        if len(shared) < MIN_CO:
            continue
        dot = sum(vecs[u] * d[u] for u in sorted(shared))
        sim = m.floor(dot / (nrm[probe_item] * nrm[j]) * _CF_Q + 0.5) / _CF_Q
        cands.append((j, len(shared), sim))
    want = sorted(cands, key=lambda t: (-t[2], t[0]))[:N_NEIGHBORS]
    got = sorted(((r.neighbor, r.co_cnt, r.sim) for r in rows
                  if r.item == probe_item),
                 key=lambda t: (-t[2], t[0]))
    assert [w[0] for w in want] == [g[0] for g in got]
    for w, g in zip(want, got):
        assert w[1] == g[1]
        assert g[2] == pytest.approx(w[2], abs=2e-6)


def test_user_topn_recs_never_repeat_rated_items(spark):
    """Recommendations must exclude items the user already rated, rank
    1..N per user, and predictions stay within the global rating
    range (they are similarity-weighted averages of real ratings)."""
    from recommendation_system_spark_ml_spark.operators.recommend import (
        N_RECS, ml_user_topn_recs)
    from recommendation_system_spark_ml_spark.ml.parity import ratings_analog

    rated = {(r.userId, r.movieId) for r in
             ratings_analog(spark, SF_SMOKE).collect()}
    ratings_vals = [float(r.rating) for r in
                    ratings_analog(spark, SF_SMOKE).collect()]
    lo, hi = min(ratings_vals), max(ratings_vals)
    rows = ml_user_topn_recs(spark, SF_SMOKE).collect()
    assert rows
    per_user = {}
    for r in rows:
        assert (r.userId, r.movieId) not in rated
        assert lo - 1e-6 <= r.pred <= hi + 1e-6
        per_user.setdefault(r.userId, []).append(r.rank)
    for u, ranks in per_user.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= N_RECS


def test_dup_sample_estimate_ci_and_exactness(spark):
    """The sampled estimator must reproduce hand-computed sample/corpus
    counts from the same Knuth gate, its CI must contain p_hat, and
    its Wald width must match the formula."""
    from recommendation_system_spark_ml_spark.hashing import KNUTH
    from recommendation_system_spark_ml_spark.operators.dedup import (
        SAMPLE_BUCKETS, SAMPLE_KEEP, pipeline_dedup_sample_estimate)
    from recommendation_system_spark_ml_spark.sources.catalog import load

    row = pipeline_dedup_sample_estimate(spark, SF_SMOKE).first()
    docs = load(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    import hashlib
    samp = [d for d in docs
            if (d.doc_id * KNUTH) % 4294967296 % SAMPLE_BUCKETS
            < SAMPLE_KEEP]
    fp = lambda t: hashlib.sha256(t.encode()).hexdigest()  # noqa: E731
    m, dups = len(samp), len(samp) - len({fp(d.text) for d in samp})
    n, dups_c = len(docs), len(docs) - len({fp(d.text) for d in docs})
    assert (row.n_sample, row.n_dup_sample, row.n_corpus) == (m, dups, n)
    assert row.p_hat == pytest.approx(dups / m, abs=1e-5)
    assert row.exact_rate == pytest.approx(dups_c / n, abs=1e-5)
    assert row.ci_lo <= row.p_hat <= row.ci_hi
    want_half = 1.96 * math.sqrt(row.p_hat * (1 - row.p_hat) / m)
    assert (row.ci_hi - row.ci_lo) == pytest.approx(2 * want_half, abs=1e-4)


def test_named_parameters_bind_as_literals(spark):
    """Parameter binding must be semantically identical to literal
    inlining, and a string parameter must bind as a VALUE (no
    injection surface)."""
    from recommendation_system_spark_ml_spark.operators.sqlapi import (
        sql_named_parameters)
    from recommendation_system_spark_ml_spark.sources.catalog import (
        register_views)

    got = {r.o_orderpriority: (r.n_orders, r.total)
           for r in sql_named_parameters(spark, SF_SMOKE).collect()}
    register_views(spark, SF_SMOKE)
    want = {r.o_orderpriority: (r.n_orders, r.total) for r in spark.sql("""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        WHERE o_totalprice BETWEEN 50000 AND 150000
          AND o_orderstatus = 'O' GROUP BY 1""").collect()}
    assert got == want
    hostile = spark.sql(
        "SELECT count(*) AS n FROM orders WHERE o_orderstatus = :s",
        args={"s": "O' OR '1'='1"}).first()
    assert hostile.n == 0  # bound as a value, not parsed as SQL
