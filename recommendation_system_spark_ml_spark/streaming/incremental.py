"""Streaming incremental dedup: continuous-ingest near-dup filtering.

The production shape of corpus ingestion at scale: documents ARRIVE
(readStream), each micro-batch is checked against a PERSISTED
fingerprint index (the already-accepted corpus), duplicates are routed
to a quarantine sink, and the batch's genuinely-new fingerprints are
appended to the index so the NEXT batch sees them -- dedup state that
outlives the stream, unlike an in-memory dropDuplicates watermark
(streaming/windows.py `stream_dedup`), and is shared with the batch
engine (operators/dedup.py `dedup_incremental` reads the same artifact
shape).

Replay safety (foreachBatch is at-least-once): the per-batch index
delta is written to `index/batch=<batchId>` with mode=overwrite --
replaying a batch rewrites the same delta identically instead of
appending duplicate index rows; the quarantine sink is likewise
batch-keyed. Probing reads the whole index directory, so a fingerprint
is found no matter which batch first recorded it.

Ordering caveat (documented, not hidden): dedup-against-history keeps
the FIRST-SEEN doc as keeper. The from-scratch SQL oracle expresses
"first" as min(doc_id), which equals first-seen here because the
single-file parquet source yields the corpus in one batch (and the
driver testdata is id-ordered). The two-batch property test exercises
the genuinely-incremental path and asserts first-seen-wins directly.

Scale: per batch the work is O(batch + index probe) -- the corpus
text is never re-read, the index rows are (md5, bigint) = 24 B per
DISTINCT accepted fingerprint, and the probe is an equi-join AQE can
broadcast while the index is small and shuffle-partition later.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recommendation_system_spark_ml_spark.hashing import (
    knuth_hash, knuth_hash_sql)
from recommendation_system_spark_ml_spark.registry import register
from recommendation_system_spark_ml_spark.session import pin_session_conf
from recommendation_system_spark_ml_spark.sources.catalog import load

# The corpus/batch gate shared with operators/dedup.py's incremental
# faces: the Knuth hash (hashing.py) of doc_id keeps ~90% of the docs
# in the existing corpus and routes the rest to the arriving batch.
IN_CORPUS_SQL = f"{knuth_hash_sql('doc_id')} % 10 < 9"


def in_corpus() -> F.Column:
    """TRUE for a corpus doc, FALSE for a batch doc (IN_CORPUS_SQL)."""
    return knuth_hash(F.col("doc_id")) % 10 < 9

DOCS_SCHEMA = ("doc_id bigint, text string, lang string, source string, "
               "n_chars bigint")


def _fingerprint() -> F.Column:
    """Order-insensitive bag fingerprint (dedup_fingerprint's md5 of
    the sorted distinct word set) -- shared with dedup_incremental."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(
        F.split(F.lower("text"), " "))), " "))


def stream_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents parquet, handling BOTH physical
    layouts: a directory-style table (every df.write.parquet output)
    streams from the table path itself, while a single-file table (the
    driver testdata) must stream from the parent dir with a leaf-name
    glob -- FileStreamSource requires basePath to be a directory. The
    naive sf_dir + pathGlobFilter form silently matches ZERO part-files
    on directory tables and turns the stream into a no-op; caught by
    the scale-curve harness on its derived directory-style tables."""
    pin_session_conf(spark)
    table = os.path.join(sf_dir, "documents.parquet")
    reader = (spark.readStream.schema(DOCS_SCHEMA)
              .option("maxFilesPerTrigger", 1))
    if os.path.isdir(table):
        return reader.parquet(table)
    return (reader.option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir))


def dedup_ingest_batch(batch_df: DataFrame, batch_id: int,
                       index_dir: str, quarantine_dir: str) -> None:
    """foreachBatch body (module-level so tests drive the identical
    code over hand-split batches): probe the persisted index, route
    duplicates to quarantine, append new fingerprints to the index.
    Both writes are batch-keyed overwrites -- deterministic under
    at-least-once replay."""
    spark = batch_df.sparkSession
    fp = (batch_df
          .where(~in_corpus())
          .select("doc_id", _fingerprint().alias("fingerprint")))
    first_in_batch = (fp.groupBy("fingerprint")
                      .agg(F.min("doc_id").alias("first_batch")))
    probe = fp.join(first_in_batch, "fingerprint")
    if os.path.isdir(index_dir):
        # localCheckpoint: the index-delta write below must not race a
        # plan that still reads the index directory
        idx = (spark.read.parquet(index_dir)
               .groupBy("fingerprint")
               .agg(F.min("keeper_doc_id").alias("keeper_doc_id"))
               .localCheckpoint(eager=True))
        probe = probe.join(idx, "fingerprint", "left")
    else:
        probe = probe.withColumn("keeper_doc_id",
                                 F.lit(None).cast("long"))
    keeper = F.coalesce(F.col("keeper_doc_id"), F.col("first_batch"))
    resolved = probe.select(
        F.col("doc_id").alias("batch_doc_id"),
        keeper.alias("keeper_doc_id"), "fingerprint").localCheckpoint(
        eager=True)
    (resolved.where(F.col("keeper_doc_id") != F.col("batch_doc_id"))
     .write.mode("overwrite")
     .parquet(os.path.join(quarantine_dir, f"batch={batch_id}")))
    # accepted (non-duplicate) docs extend the index for later batches
    (resolved.where(F.col("keeper_doc_id") == F.col("batch_doc_id"))
     .select("fingerprint", "keeper_doc_id")
     .write.mode("overwrite")
     .parquet(os.path.join(index_dir, f"batch={batch_id}")))


@register("stream_dedup_incremental", oracle=f"""
WITH fp AS (
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
               string_split(lower(text), ' '))), ' ')) AS fingerprint,
           {IN_CORPUS_SQL} AS in_corpus
    FROM documents
), idx AS (
    SELECT fingerprint, min(doc_id) AS keeper
    FROM fp WHERE in_corpus GROUP BY 1
), b AS (
    SELECT doc_id, fingerprint FROM fp WHERE NOT in_corpus
), firstb AS (
    SELECT fingerprint, min(doc_id) AS first_batch FROM b GROUP BY 1
)
SELECT b.doc_id AS batch_doc_id,
       CAST(coalesce(i.keeper, f.first_batch) AS BIGINT) AS keeper_doc_id,
       b.fingerprint
FROM b
JOIN firstb f USING (fingerprint)
LEFT JOIN idx i USING (fingerprint)
WHERE coalesce(i.keeper, f.first_batch) <> b.doc_id
""")
def stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the REAL ingest stream (readStream over documents ->
    foreachBatch probe/quarantine/index-append, availableNow trigger)
    with the corpus 90% pre-seeded into the index, then return the
    drained quarantine: every streamed doc whose fingerprint was
    already accepted (in the seeded corpus or earlier in the stream),
    with its keeper. Must equal the from-scratch SQL twin -- the same
    incremental-equals-batch invariant dedup_incremental certifies,
    now under the streaming engine with durable state."""
    pin_session_conf(spark)
    # PID-namespaced via scratch_path (like sim_ivf_persisted /
    # dedup_incremental): a bare tempdir/sf_name root let two
    # concurrent sessions on the same scale factor rmtree each
    # other's index/checkpoint mid-run (advice-caught race)
    from recommendation_system_spark_ml_spark.session import scratch_path
    root = scratch_path(sf_dir, "stream_dedup")
    index_dir = os.path.join(root, "index")
    quarantine = os.path.join(root, "quarantine")
    ckpt = os.path.join(root, "ckpt")
    shutil.rmtree(root, ignore_errors=True)  # deterministic re-runs

    # seed the index with the existing corpus (the one-time build
    # dedup_incremental also pays; batch=seed so stream deltas never
    # collide with it)
    (load(spark, sf_dir, "documents")
     .where(in_corpus())
     .select("doc_id", _fingerprint().alias("fingerprint"))
     .groupBy("fingerprint")
     .agg(F.min("doc_id").alias("keeper_doc_id"))
     .write.mode("overwrite")
     .parquet(os.path.join(index_dir, "batch=seed")))

    q = (stream_docs(spark, sf_dir)
         .writeStream
         .foreachBatch(lambda bdf, bid:
                       dedup_ingest_batch(bdf, bid, index_dir, quarantine))
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return (spark.read.parquet(quarantine)
            .select("batch_doc_id", "keeper_doc_id", "fingerprint"))
