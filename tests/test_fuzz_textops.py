"""Property-based cross-engine fuzzing of the round-4 text operators:
random small corpora (duplicate docs, prefix docs, symbol words,
1-word docs, shingle-boundary lengths) written to a scratch parquet
must produce identical results from the Spark operator and its DuckDB
oracle. The fixture corpus is word-soup with fixed structure; this
widens the input space to the edge shapes it never exercises --
containment == 1.0 prefixes, docs below the 8-token shingle floor,
non-alpha words, domains with a single document."""

import os
import shutil
import tempfile

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import assert_df_matches

_VOCAB = ("a", "bb", "ccc", "the", "of", "and", "in", "to", "is",
          "zz", "qqq", "#", "wordword", "x9")
_LANGS = ("en", "de", "zh")

_FUZZED = ("text_gopher_rules", "dedup_containment",
           "pipeline_funnel_report", "pipeline_domain_mixture",
           "pipeline_dsir_importance", "text_ccnet_buckets",
           "dedup_canonical", "dedup_span_merge", "text_entropy",
           "text_bm25", "pipeline_epoch_mix",
           # r5: dedup_jaccard_prefix fuzzes the PPJoin positional
           # filter against the exhaustive-oracle ground truth on
           # exactly its adversarial shapes (equal docs, containment
           # prefixes, 1-token docs, repeated-token bags);
           # contamination + A-ES ride the same corpus
           "dedup_jaccard_prefix", "pipeline_contamination_matrix",
           "sample_weighted_aes", "dedup_minhash_incremental")


@st.composite
def corpora(draw):
    n = draw(st.integers(3, 12))
    docs = []
    for i in range(n):
        if docs and draw(st.booleans()) and draw(st.booleans()):
            # duplicate or prefix of an earlier doc: containment bait
            base = draw(st.sampled_from(docs))[1].split(" ")
            k = draw(st.integers(1, len(base)))
            words = base[:k]
        else:
            ln = draw(st.integers(1, 40))
            words = [draw(st.sampled_from(_VOCAB)) for _ in range(ln)]
        docs.append((i, " ".join(words)))
    return docs


def _write_corpus(docs) -> str:
    out = tempfile.mkdtemp(prefix="rsml_fuzz_docs_")
    table = pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": pa.array([d[1] for d in docs], pa.string()),
        "lang": pa.array([_LANGS[d[0] % len(_LANGS)] for d in docs],
                         pa.string()),
        "source": pa.array([f"src{d[0] % 2}" for d in docs], pa.string()),
        "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
    })
    pq.write_table(table, os.path.join(out, "documents.parquet"))
    return out


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=corpora())
def test_random_corpora_match_oracles(spark, docs):
    from recommendation_system_spark_ml_spark.registry import all_specs

    specs = all_specs()
    sf_dir = _write_corpus(docs)
    duck = duckdb.connect()
    try:
        duck.execute(
            "CREATE OR REPLACE VIEW documents AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, 'documents.parquet')}')")
        for name in _FUZZED:
            got = specs[name].fn(spark, sf_dir)
            want = duck.execute(specs[name].oracle).df()
            assert_df_matches(got, want)
    finally:
        duck.close()
        shutil.rmtree(sf_dir, ignore_errors=True)


@st.composite
def event_streams(draw):
    """Random (event_id, epoch_second) streams with real disorder:
    timestamps drift forward with occasional large jitter both ways,
    so the simulated watermark recurrence hits drops, late-accepts,
    and exact window_end == watermark boundary ties."""
    n = draw(st.integers(20, 300))
    base = 1_704_067_200  # 2024-01-01 UTC
    rows = []
    t = base
    for i in range(n):
        t += draw(st.integers(0, 240))
        jitter = draw(st.integers(-1800, 300))
        rows.append((i, max(base, t + jitter)))
    return rows


def _write_events(rows) -> str:
    out = tempfile.mkdtemp(prefix="rsml_fuzz_events_")
    n = len(rows)
    table = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] * 1_000_000 for r in rows],
                       pa.timestamp("us")),
        "user_id": pa.array([r[0] % 7 for r in rows], pa.int64()),
        "event_type": pa.array(["e" + str(r[0] % 3) for r in rows],
                               pa.string()),
        "value": pa.array([float(r[0] % 10) for r in rows], pa.float64()),
        "props": pa.array(["{}"] * n, pa.string()),
    })
    pq.write_table(table, os.path.join(out, "events.parquet"))
    return out


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=event_streams())
def test_random_event_streams_match_watermark_oracle(spark, rows):
    """stream_late_data's two-watermark recurrence must match its
    DuckDB oracle on arbitrarily disordered streams, not just the
    near-ordered fixture."""
    from recommendation_system_spark_ml_spark.registry import all_specs

    specs = all_specs()
    sf_dir = _write_events(rows)
    duck = duckdb.connect()
    try:
        duck.execute(
            "CREATE OR REPLACE VIEW events AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, 'events.parquet')}')")
        # ts_resample_ohlc rides along: its open/close total-order
        # contract ((ts, event_id) -- bare ts ties under the jitter
        # generator) is exactly what disordered streams stress.
        for name in ("stream_late_data", "ts_resample_ohlc"):
            got = specs[name].fn(spark, sf_dir)
            want = duck.execute(specs[name].oracle).df()
            assert_df_matches(got, want)
    finally:
        duck.close()
        shutil.rmtree(sf_dir, ignore_errors=True)
