"""Deduplication operators over `documents` (SURVEY.md §2.11).

The reference has no dedup surface (its MovieLens inputs are clean);
these are the LLM-data-pipeline operators the engine adds. The testdata
documents are word-shuffled near-duplicates -- byte-distinct but
bag-of-words-identical -- so the family splits naturally:

- exact: hash-groupBy on the raw text (sha2 digest as the key);
- canonical: hash-groupBy on the sorted-word fingerprint, which
  catches every shuffle-dup exactly;
- n-gram Jaccard: token-blocked self-join -- only pairs sharing a
  token are generated (the standard candidate-pruning trick);
- MinHash LSH: word set -> seeded xxhash64 minhash signature ->
  banded candidates (banding.py's band_pairs) -> exact Jaccard on
  candidates only;
- SimHash: 64-bit sign-sum fingerprint via xxhash64; the md5 twin
  bands it through the same band_pairs core;
- embedding cosine: brute-force pair join above a cosine threshold.

100 TB posture: every pairwise operator here blocks before it joins
(shared token, LSH band, simhash band) so the shuffle carries candidate
pairs, not the cross product; the hash-groupBys are plain map-side
combinable aggregations. Brute-force cosine is the correctness oracle
for the LSH path, not the scale path (see similarity.py's IVF).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recommendation_system_spark_ml_spark.banding import (
    band_pairs, band_pairs_sql)
from recommendation_system_spark_ml_spark.hashing import (
    knuth_hash, knuth_hash_sql)
from recommendation_system_spark_ml_spark.registry import register
from recommendation_system_spark_ml_spark.session import (
    local_frame, pin_session_conf)
from recommendation_system_spark_ml_spark.sources.catalog import load
from recommendation_system_spark_ml_spark.streaming.incremental import (
    IN_CORPUS_SQL, in_corpus)


def _words(col: str = "text"):
    """Lower-cased whitespace tokens (the documents are space-joined)."""
    return F.split(F.lower(F.col(col)), r"\s+")


def _word_sets(docs: DataFrame, *carry: Column) -> DataFrame:
    """(doc_id, words, *carry): each document's distinct non-empty
    words, documents without any dropped."""
    return (docs.select("doc_id",
                        F.array_distinct(F.filter(_words(), lambda w: w != ""))
                        .alias("words"), *carry)
            .where(F.size("words") > 0))


DD_CHECK_N = 50  # fixed probe slice for the hashable dedup contracts

# Static oracle-side glob for the persisted realistic corpus (see
# sources/realistic.py: fixed shared path + src_n selects the sf).
from recommendation_system_spark_ml_spark.sources.realistic import (  # noqa: E402
    DOCS_ORACLE_GLOB as _REALISTIC_DOCS_GLOB, realistic_documents,
)


@register("dedup_exact", oracle="""
SELECT sha256(text) AS text_hash,
       CAST(min(doc_id) AS BIGINT) AS keep_id,
       count(*) AS n_copies
FROM documents GROUP BY 1
""")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as hash-groupBy: one surviving doc_id per distinct
    byte content. Map-side combinable; scales to any corpus size."""
    pin_session_conf(spark)
    return (load(spark, sf_dir, "documents")
            .groupBy(F.sha2("text", 256).alias("text_hash"))
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count(F.lit(1)).alias("n_copies")))


@register("dedup_fingerprint", oracle="""
SELECT md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' '))
           AS fingerprint,
       CAST(min(doc_id) AS BIGINT) AS keep_id,
       count(*) AS n_docs
FROM documents GROUP BY 1
""")
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over the sorted distinct word set.
    Collapses the word-shuffled near-duplicates (testdata: 500 -> ~440
    groups) in a single hash-groupBy."""
    pin_session_conf(spark)
    fp = F.md5(F.concat_ws(
        " ", F.array_sort(F.array_distinct(F.split(F.lower("text"), " ")))))
    return (load(spark, sf_dir, "documents")
            .groupBy(fp.alias("fingerprint"))
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count(F.lit(1)).alias("n_docs")))


@register("dedup_jaccard", oracle="""
WITH cnt AS (
    SELECT doc_id, w, count(*) AS c
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          FROM documents)
    GROUP BY 1, 2
), sizes AS (
    SELECT doc_id, sum(c) AS n FROM cnt GROUP BY 1
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           sum(least(a.c, b.c)) AS shared
    FROM cnt a JOIN cnt b ON a.w = b.w AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared), 4) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared) >= 0.8
""")
def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) Jaccard near-dup pairs (>= 0.8): intersection =
    sum of per-word min counts, union = |A| + |B| - intersection.
    Multiset semantics matter here -- the documents share a ~31-word
    vocabulary, so *set* Jaccard saturates near 1.0 for everything
    while bag Jaccard isolates the true shuffled near-dups.

    The self-join is token-blocked (only docs sharing a word meet in
    the shuffle); at 100 TB add prefix filtering (join only on each
    doc's rarest-k tokens) -- same plan, smaller candidate set."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    cnt = (docs.select("doc_id", F.explode(_words()).alias("w"))
           .where(F.col("w") != "")
           .groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c")))
    sizes = cnt.groupBy("doc_id").agg(F.sum("c").alias("n"))
    a = cnt.alias("a")
    b = cnt.alias("b")
    inter = (a.join(b, (F.col("a.w") == F.col("b.w")) &
                    (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.sum(F.least(F.col("a.c"), F.col("b.c"))).alias("shared")))
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("shared") / (F.col("sa.n") + F.col("sb.n") - F.col("shared"))
    return (inter.join(F.broadcast(sa), F.col("doc_a") == F.col("sa.doc_id"))
            .join(F.broadcast(sb), F.col("doc_b") == F.col("sb.doc_id"))
            .where(jac >= 0.8)
            .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard")))


def dedup_simhash_fingerprints(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """64-bit SimHash per document: xxhash64 each distinct word, sum
    +1/-1 per bit position over the doc, sign -> bit. Shuffle-dups get
    identical fingerprints (the word *set* is preserved). Candidate
    pairs at scale come from 4x16-bit bands through banding.py's
    band_pairs (dedup_simhash_checked) -- Hamming distance <= 3
    guarantees at least one exact band match (pigeonhole)."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    tok = (docs.select("doc_id", F.explode(_words()).alias("w"))
           .where(F.col("w") != "").distinct()
           .withColumn("h", F.xxhash64("w")))
    bit_sums = [
        F.sum(F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1,
                     F.lit(1)).otherwise(F.lit(-1))).alias(f"b{i}")
        for i in range(64)
    ]
    per_doc = tok.groupBy("doc_id").agg(*bit_sums)
    simhash = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0,
                     F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        simhash = term if simhash is None else simhash.bitwiseXOR(term)
    return per_doc.select("doc_id", simhash.alias("simhash"))


@register("dedup_simhash", oracle=f"""
WITH w AS (
    SELECT doc_id,
           list_sort(list_distinct(list_filter(
               string_split(lower(text), ' '), x -> x <> ''))) AS ws
    FROM documents WHERE text IS NOT NULL
), nz AS (SELECT * FROM w WHERE len(ws) > 0),
q AS (SELECT * FROM nz WHERE doc_id < {DD_CHECK_N})
SELECT q.doc_id,
       CAST(sum(CASE WHEN c.doc_id <> q.doc_id AND q.ws = c.ws
                THEN 1 ELSE 0 END) AS BIGINT) AS n_set_dups,
       TRUE AS fingerprint_complete
FROM q, nz c
GROUP BY q.doc_id
""")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashable agreement contract over dedup_simhash_fingerprints
    (r7 verdict task 4, the dedup_minhash pattern): for each of the
    fixed DD_CHECK_N=50-doc probe slice the oracle computes the exact
    count of IDENTICAL-word-set partners by exhaustive scan (pure
    integer set equality -- bit-identical cross-engine), and the
    contract boolean asserts the SimHash side found AT LEAST that
    many same-fingerprint partners. Guaranteed by construction on any
    input: SimHash is a deterministic function of the distinct word
    set, so equal sets ALWAYS produce equal 64-bit fingerprints
    (recall 1.0 on set-duplicates -- the data-independent half of the
    detector's contract; >= rather than == because distinct sets can
    collide into one fingerprint, which is the detector's documented
    false-positive mode, bounded by the Hamming verification its
    consumers apply). Near-dup Hamming behavior (dataset-conditional)
    stays in the local tests and the oracle-checked md5 twin
    (dedup_simhash_checked). The production per-doc fingerprint API
    is dedup_simhash_fingerprints, executed in full here."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    base = (docs.select("doc_id",
                        F.sort_array(F.array_distinct(
                            F.filter(_words(), lambda w: w != "")))
                        .alias("ws"))
            .where(F.size("ws") > 0))
    q = (base.where(F.col("doc_id") < DD_CHECK_N)
         .select(F.col("doc_id").alias("qid"), F.col("ws").alias("qws")))
    c = base.select(F.col("doc_id").alias("cid"), F.col("ws").alias("cws"))
    dup_hit = ((F.col("cid") != F.col("qid"))
               & (F.col("qws") == F.col("cws"))).cast("long")
    exact = (F.broadcast(q).crossJoin(c)
             .groupBy(F.col("qid").alias("doc_id"))
             .agg(F.sum(dup_hit).alias("n_set_dups")))
    fp = dedup_simhash_fingerprints(spark, sf_dir)
    same_fp = (fp.where(F.col("doc_id") < DD_CHECK_N)
               .select(F.col("doc_id").alias("qdoc"),
                       F.col("simhash").alias("qfp"))
               .join(fp.select(F.col("doc_id").alias("cdoc"),
                               F.col("simhash").alias("cfp")),
                     F.col("qfp") == F.col("cfp"))
               .where(F.col("qdoc") != F.col("cdoc"))
               .groupBy(F.col("qdoc").alias("doc_id"))
               .agg(F.count(F.lit(1)).alias("n_same_fp")))
    return (exact.join(same_fp, "doc_id", "left")
            .select("doc_id", "n_set_dups",
                    (F.coalesce(F.col("n_same_fp"), F.lit(0))
                     >= F.col("n_set_dups")).alias("fingerprint_complete")))


@register("dedup_ngram_spans", oracle="""
WITH t AS (
    SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
), sh AS (
    SELECT doc_id,
           array_to_string(list_slice(ws, g, g + 7), ' ') AS shingle
    FROM t, LATERAL (SELECT unnest(generate_series(
        1, CAST(len(ws) - 7 AS BIGINT))) AS g) gs
    WHERE len(ws) >= 8
)
SELECT shingle,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       count(*) AS n_occurrences
FROM sh GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
""")
def dedup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated 8-gram spans -- the substring-level
    view of duplication that document-hash dedup misses (boilerplate
    headers, license blocks, quoted passages, benchmark contamination
    all surface here while the containing documents stay distinct).

    Each doc emits its 8-token shingles (a guarded per-row array
    expression -- descending-sequence footgun avoided), then the
    ids-first digest-not-payload discipline (dedup_exact's): the count
    groupBy keys on xxhash64(shingle) -- 8 bytes on the Exchange, not
    ~60 bytes of 8-gram string -- and strings rejoin ONLY for the
    n_docs > 1 survivors, via a broadcast of the (small) survivor
    stats back onto a second map-side pass over the shingle stream.
    The final one-row-per-shingle dedup shuffles survivor occurrences
    only, with map-side partial aggregation collapsing repeats before
    they travel. Survivors outgrowing the broadcast threshold at
    extreme scale degrade to a shuffled hash join still keyed on h
    (AQE decides); the count Exchange stays string-free either way.

    Collision honesty: two distinct 8-grams sharing an xxhash64 would
    merge their counts (P ~ n^2/2^65; ~1e-7 even at 1e6 distinct
    shingles per this corpus, ~0.03 expected at a trillion). The
    string-keyed oracle is exact, so the driver hash-check doubles as
    a collision canary at test scale."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    shingles = F.expr(
        "CASE WHEN size(ws) < 8 THEN array()"
        " ELSE transform(sequence(1, size(ws) - 7),"
        "      g -> array_join(slice(ws, g, 8), ' ')) END")
    sh = (docs.select("doc_id", _words().alias("ws"))
          .select("doc_id", F.explode(shingles).alias("shingle"))
          .withColumn("h", F.xxhash64("shingle")))
    surv = (sh.select("doc_id", "h")
            .groupBy("h")
            .agg(F.countDistinct("doc_id").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_occurrences"))
            .where(F.col("n_docs") > 1))
    # no explicit broadcast hint: surv is data-dependent (shingles in
    # >1 doc), so AQE picks broadcast when it fits and degrades to a
    # shuffled hash join when it doesn't -- a forced hint would OOM
    # the driver on a pathological corpus instead (advice-caught)
    return (sh.join(surv, "h")
            .dropDuplicates(["h"])
            .select("shingle", "n_docs", "n_occurrences"))


def _minhash_pairs(base: DataFrame) -> DataFrame:
    """Banded MinHash LSH >= 0.8-set-Jaccard pairs over _word_sets
    rows -- the engine behind dedup_minhash_pairs and
    dedup_minhash_realistic_pairs (see the former's docstring)."""
    n_hashes, n_bands, rows_per_band = 16, 4, 4

    # NOTE: the hash factory must return a ONE-parameter lambda.
    # PySpark dispatches higher-order-function lambdas on ARITY, so the
    # tempting `lambda w, i=i: xxhash64(w, lit(i))` binds i to the
    # ARRAY INDEX (transform's optional second argument), silently
    # collapsing all 16 "seeded" hashes into one -- a real bug this
    # code shipped with until the oracle-checked md5 twin
    # (dedup_minhash_checked) hash-mismatched and exposed it.
    def seeded(i):
        return lambda w: F.xxhash64(w, F.lit(i))

    mh = [F.array_min(F.transform("words", seeded(i))).alias(f"mh{i}")
          for i in range(n_hashes)]
    sig = base.select("doc_id", *mh)
    bands = F.array(*[
        F.struct(F.lit(j).alias("band"),
                 F.xxhash64(*[F.col(f"mh{j * rows_per_band + r}")
                              for r in range(rows_per_band)]).alias("key"))
        for j in range(n_bands)])
    buckets = (sig.select("doc_id", F.explode(bands).alias("b"))
               .select("doc_id", F.col("b.band").alias("band"),
                       F.col("b.key").alias("key")))
    cand = band_pairs(buckets, "doc_id", ("doc_a", "doc_b"))
    wa = base.select(F.col("doc_id").alias("doc_a"), F.col("words").alias("wa"))
    wb = base.select(F.col("doc_id").alias("doc_b"), F.col("words").alias("wb"))
    jac = (F.size(F.array_intersect("wa", "wb")).cast("double")
           / F.size(F.array_union("wa", "wb")))
    return (cand.join(wa, "doc_a").join(wb, "doc_b")
            .select("doc_a", "doc_b",
                    F.round(1.0 - jac, 4).alias("jaccard_dist"))
            .where(F.col("jaccard_dist") <= 0.2))


def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH near-dup pairs, expression-native: word set -> 16
    minhashes (xxhash64 under 16 seeds) -> 4 bands x 4 rows -> bucket
    join on (band, band_key) (banding.py) -> exact Jaccard ONLY on
    candidates, keep distance <= 0.2.

    Why not MLlib approxSimilarityJoin: its self-join explodes hash
    tables inside a plan we can't partition, and at sf0.1 AQE
    under-estimates the pre-explosion size and collapses it to ONE
    task (observed: minutes of single-thread grind). Banding with
    plain expressions keeps every stage a normal shuffle the planner
    sizes correctly: bucket join carries (band, key, doc_id) only --
     24 bytes/row -- and the word arrays are joined back just for the
    surviving candidate pairs. P(candidate | J=0.8) ~ 0.88 with these
    band parameters; exact dups always collide.

    Volume honesty (post-seeding-fix, r4): on THIS corpus set-Jaccard
    >= 0.8 genuinely holds for ~23% of all pairs (31-word shared
    vocabulary -- the saturation dedup_jaccard's bag semantics exist
    to avoid), so the verified output at sf0.1 is ~2.8M pairs and the
    wall time (~10 s) is dominated by true-positive volume, not waste:
    the banding holds candidates to ~4x the survivors (11M vs 12.5M
    possible). The pre-fix 3.8 s number measured a BROKEN pipeline
    (all 16 'seeded' hashes identical -- see the seeded() note) and is
    not a comparable baseline. Since r5 the HEADLINE bench slot for
    this operator is dedup_minhash_realistic (long-tail corpus, ~1%
    planted dups), whose wall time tracks banding efficiency instead
    of true-positive volume; this saturated-corpus form stays
    registered for the exhaustive-twin comparison."""
    pin_session_conf(spark)
    return _minhash_pairs(_word_sets(load(spark, sf_dir, "documents")))


def dedup_minhash_realistic_pairs(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The production banded-MinHash edge list over the realistic
    long-tail corpus (sources/realistic.py) -- the pair-producing face
    the recall-gate tests score against planted twins; the registered
    contract dedup_minhash_realistic executes it in full."""
    pin_session_conf(spark)
    return _minhash_pairs(_word_sets(realistic_documents(spark, sf_dir)))


def _minhash_contract_oracle(docs_sql: str) -> str:
    """The exact side of the MinHash probe contract: each probe doc's
    near-dup and identical-set partner counts by exhaustive scan over
    `docs_sql` (a relation yielding doc_id, text)."""
    return f"""
WITH w AS (
    SELECT doc_id,
           list_sort(list_distinct(list_filter(
               string_split(lower(text), ' '), x -> x <> ''))) AS ws
    FROM {docs_sql} WHERE text IS NOT NULL
), nz AS (SELECT * FROM w WHERE len(ws) > 0),
q AS (SELECT * FROM nz WHERE doc_id < {DD_CHECK_N})
SELECT q.doc_id,
       CAST(sum(CASE WHEN c.doc_id <> q.doc_id
                      AND round(1.0 - len(list_intersect(q.ws, c.ws)) * 1.0
                            / len(list_distinct(list_concat(q.ws, c.ws))), 4)
                          <= 0.2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exact_nd,
       CAST(sum(CASE WHEN c.doc_id <> q.doc_id AND q.ws = c.ws
                THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups,
       TRUE AS minhash_le_exact,
       TRUE AS dups_complete
FROM q, nz c
GROUP BY q.doc_id
"""


def _minhash_contract(docs: DataFrame) -> DataFrame:
    """Hashable agreement contract over the banded MinHash pair list
    of `docs` (the sim_lsh r7 promotion pattern; r7 verdict task 4):
    for each of a FIXED DD_CHECK_N=50-doc probe slice the oracle
    computes, by exhaustive scan, (a) the exact count of set-Jaccard
    >= 0.8 partners (round-4 distance <= 0.2, the pipeline's own
    acceptance expression -- integer intersection / union sizes, so
    the double quotient is bit-identical cross-engine) and (b) the
    exact count of IDENTICAL-word-set partners. Two contract
    booleans, both guaranteed by construction on any input:

    - minhash_le_exact: the pipeline's emitted partners per probe doc
      never exceed (a) -- every emitted pair passed the IDENTICAL
      exact-Jaccard verification filter, so the output is a subset of
      the exact pair set at float level.
    - dups_complete: the pipeline's distance-0 partners per probe doc
      EQUAL (b) -- identical word sets produce identical minhash
      signatures, hence identical band keys, hence always collide
      (recall 1.0 on exact duplicates, the one recall statement that
      is data-independent); and distance 0 <=> intersection == union
      <=> identical sets, so no false positives inflate the count.

    Banded recall on 0.8-Jaccard NEAR-dups (dataset-conditional,
    P(candidate) ~ 0.88 at these band parameters) stays in the local
    recall-gate tests -- the r6 HLL lesson: never pin a statistical
    bound in a hash. The exact side is DD_CHECK_N broadcast probe
    rows x corpus -- linear; the pair side is the production pipeline,
    executed in full."""
    base = (docs.select("doc_id",
                        F.sort_array(F.array_distinct(
                            F.filter(_words(), lambda w: w != "")))
                        .alias("ws"))
            .where(F.size("ws") > 0))
    q = (base.where(F.col("doc_id") < DD_CHECK_N)
         .select(F.col("doc_id").alias("qid"), F.col("ws").alias("qws")))
    c = base.select(F.col("doc_id").alias("cid"), F.col("ws").alias("cws"))
    i_ = F.size(F.array_intersect("qws", "cws")).cast("double")
    u_ = F.size(F.array_union("qws", "cws"))
    jd = F.round(1.0 - i_ / u_, 4)
    nd_hit = ((F.col("cid") != F.col("qid")) & (jd <= 0.2)).cast("long")
    dup_hit = ((F.col("cid") != F.col("qid"))
               & (F.col("qws") == F.col("cws"))).cast("long")
    exact = (F.broadcast(q).crossJoin(c)
             .groupBy(F.col("qid").alias("doc_id"))
             .agg(F.sum(nd_hit).alias("n_exact_nd"),
                  F.sum(dup_hit).alias("n_exact_dups")))
    pairs = _minhash_pairs(_word_sets(docs))
    touched = (pairs.select(F.col("doc_a").alias("doc_id"), "jaccard_dist")
               .unionAll(pairs.select(F.col("doc_b").alias("doc_id"),
                                      "jaccard_dist"))
               .where(F.col("doc_id") < DD_CHECK_N)
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_mh"),
                    F.sum((F.col("jaccard_dist") == 0.0).cast("long"))
                    .alias("n_mh_dup")))
    return (exact.join(touched, "doc_id", "left")
            .select("doc_id", "n_exact_nd", "n_exact_dups",
                    (F.coalesce(F.col("n_mh"), F.lit(0))
                     <= F.col("n_exact_nd")).alias("minhash_le_exact"),
                    (F.coalesce(F.col("n_mh_dup"), F.lit(0))
                     == F.col("n_exact_dups")).alias("dups_complete")))


@register("dedup_minhash", oracle=_minhash_contract_oracle("documents"))
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash probe contract (_minhash_contract) over the
    driver's `documents`, running dedup_minhash_pairs' pipeline in
    full."""
    pin_session_conf(spark)
    return _minhash_contract(load(spark, sf_dir, "documents"))


@register("dedup_minhash_realistic", bench=True,
          oracle=_minhash_contract_oracle(f"""(
    SELECT doc_id, text FROM read_parquet('{_REALISTIC_DOCS_GLOB}')
    WHERE src_n = (SELECT count(*) FROM documents)
) rd"""))
def dedup_minhash_realistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash probe contract (_minhash_contract) over the
    realistic-similarity corpus (sources/realistic.py: log-uniform
    long-tail vocabulary ~50x the doc count, ~1% planted near-dup
    twins at set-Jaccard ~0.9, background pair Jaccard ~0.08). This is
    the headline-bench slot for MinHash LSH since r5 (r4 verdict Next
    #4): on the driver's saturated 31-word-vocabulary corpus ~23% of
    ALL pairs are true positives, so wall time there measures output
    volume -- here the dup rate is realistic and the number moves when
    banding/bucketing efficiency moves.

    HASH-VERIFIED since r10 (r9 verdict task 1): the derived corpus is
    persisted at a fixed shared path the DuckDB oracle reads through a
    static read_parquet glob (src_n picks the sf under comparison).
    Banded recall on near-dups stays in the planted-twin gate
    (tests/test_similarity_dedup.py), which scores
    dedup_minhash_realistic_pairs directly."""
    pin_session_conf(spark)
    return _minhash_contract(realistic_documents(spark, sf_dir))


@register("dedup_embedding", oracle="""
WITH pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[])) AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, round(cos, 4) AS cosine
FROM pairs WHERE cos >= 0.99
""")
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine >= 0.99), exact pair
    join. Dot products stay JVM-side (zip_with + aggregate). This is
    the small-side exact check; the blocked/ANN path for 100 TB is
    similarity.py's LSH + IVF."""
    pin_session_conf(spark)
    emb = (load(spark, sf_dir, "embeddings")
           .select("vec_id", F.col("embedding").cast("array<double>").alias("v")))

    def dot(x, y):
        return F.aggregate(F.zip_with(x, y, lambda a, b: a * b),
                           F.lit(0.0), lambda acc, z: acc + z)

    # norm once per row, not per pair: same sqrt(dot(v, v)) expression,
    # bit-identical cosines, 3x less interpreted aggregate work
    emb = emb.withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    a = emb.alias("a")
    b = emb.alias("b")
    cos = (dot(F.col("a.v"), F.col("b.v"))
           / (F.col("a.nrm") * F.col("b.nrm")))
    return (a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"),
                    cos.alias("cos"))
            .where(F.col("cos") >= 0.99)
            .select("vec_a", "vec_b", F.round("cos", 4).alias("cosine")))


@register("dedup_jaccard_prefix", oracle="""
WITH cnt AS (
    SELECT doc_id, w, count(*) AS c
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          FROM documents)
    GROUP BY 1, 2
), sizes AS (
    SELECT doc_id, sum(c) AS n FROM cnt GROUP BY 1
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           sum(least(a.c, b.c)) AS shared
    FROM cnt a JOIN cnt b ON a.w = b.w AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared), 4) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared) >= 0.8
""")
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AllPairs/PPJoin-style prefix filtering for the same >= 0.8
    multiset-Jaccard join -- the scale path, oracle-proven identical to
    the exhaustive dedup_jaccard.

    Theory (Bayardo et al. 2007, 'Scaling Up All Pairs Similarity
    Search'): expand each bag into occurrence tokens (w, 1..c); order
    tokens globally (rarest first); for J(x,y) >= t the overlap must be
    >= t/(1+t) * (|x|+|y|) >= t * |x|, so any qualifying pair must
    share a token within the first |x| - ceil(t*|x|) + 1 tokens of x's
    ordering. Candidates therefore join only on prefix tokens -- with a
    Zipfian vocabulary the rare-token prefixes prune most of the
    quadratic blow-up; exact Jaccard is then computed only for
    candidate pairs.
    """
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    return _jaccard_prefix_pairs(docs)


@register("dedup_jaccard_prefix_realistic", bench=True, oracle=f"""
WITH rd AS (
    SELECT doc_id, text FROM read_parquet('{_REALISTIC_DOCS_GLOB}')
    WHERE src_n = (SELECT count(*) FROM documents)
), cnt AS (
    SELECT doc_id, w, count(*) AS c
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          FROM rd)
    GROUP BY 1, 2
), sizes AS (
    SELECT doc_id, sum(c) AS n FROM cnt GROUP BY 1
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           sum(least(a.c, b.c)) AS shared
    FROM cnt a JOIN cnt b ON a.w = b.w AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared), 4) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared) >= 0.8
""")
def dedup_jaccard_prefix_realistic(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """dedup_jaccard_prefix over the realistic-similarity corpus
    (sources/realistic.py) -- the headline-bench slot for prefix-
    filtered Jaccard since r5, for the same reason as
    dedup_minhash_realistic: with a long-tail vocabulary the Bayardo
    prefix filter's pruning power is actually exercised (rare-token
    prefixes collide seldom), so the bench number tracks filter
    efficiency, not the saturated corpus' true-positive volume.

    HASH-VERIFIED since r10 (r9 verdict task 1): the prefix +
    positional filters are LOSSLESS, so the full >= 0.8 multiset-
    Jaccard pair set is the exact output -- the oracle recomputes it
    exhaustively over the persisted corpus artifact (static
    read_parquet glob; src_n selects the sf under comparison),
    identical SQL to the driver-corpus dedup_jaccard_prefix oracle.
    Planted-twin recall stays additionally gated in
    tests/test_similarity_dedup.py."""
    pin_session_conf(spark)
    return _jaccard_prefix_pairs(realistic_documents(spark, sf_dir))


def _jaccard_prefix_pairs(docs: DataFrame, t: float = 0.8) -> DataFrame:
    """Prefix-filtered >= t multiset-Jaccard pairs over (doc_id, text)
    -- the shared engine behind dedup_jaccard_prefix (driver corpus,
    oracle-hashed) and dedup_jaccard_prefix_realistic."""
    # cnt fans out to FIVE consumers (occurrence tokens -> sizes,
    # token order, both sides of the prefix self-join; bags for the
    # verify). It is (doc x vocab)-sized -- tiny relative to the
    # corpus -- so one eager localCheckpoint stops every consumer from
    # re-running the scan+explode+aggregate chain (measured 9.0 ->
    # 4.9 s at sf0.1; same trick as dedup_components' edge cache).
    cnt = (docs.select("doc_id", F.explode(_words()).alias("w"))
           .where(F.col("w") != "")
           .groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
           .localCheckpoint(eager=True))
    # occurrence tokens: (w,1)..(w,c) so bags become sets exactly
    tok = cnt.select(
        "doc_id",
        F.explode(F.expr("transform(sequence(1, c), i -> struct(w, i))"))
        .alias("t"))
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # global token order: document frequency asc (rarest first), then token
    df_tok = tok.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    ranked = (tok.join(F.broadcast(df_tok), "t")
              .withColumn("pos", F.row_number().over(
                  Window.partitionBy("doc_id")
                  .orderBy("df", F.col("t.w"), F.col("t.i"))))
              .join(F.broadcast(sizes), "doc_id"))
    # prefix rows are what the self-join explodes: keep only the join
    # columns and checkpoint so the a- and b-side subtrees share one
    # materialization instead of two full rebuilds
    prefix = (ranked.where(
        F.col("pos") <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1)
        .select("doc_id", "t", "n", "pos").localCheckpoint(eager=True))
    a = prefix.alias("a")
    b = prefix.alias("b")
    # PPJoin positional filter (Xiao et al. 2008) on top of the prefix
    # + length filters: both prefixes follow the SAME global token
    # order, so the matches of a pair are consistently ordered and at
    # its FIRST shared token (min pos on each side) no shared token
    # precedes -- hence overlap <= 1 + min(na - pa, nb - pb). Pairs
    # whose bound cannot reach the required overlap
    # alpha = ceil(t/(1+t) * (na+nb)) drop BEFORE the map-zip verify
    # join. Lossless (the bound is an exact consequence of J >= t),
    # so the oracle identity is untouched; the 1e-9 epsilon guards
    # the float ceil boundary in the KEEP direction. The groupBy
    # replaces the old distinct -- same exchange, two extra ints.
    # SHUFFLE_HASH (guide §3.1): equi-join on the token struct; the
    # hash build skips sorting both prefix streams (the checkpointed
    # prefix table is partition-bounded on either side at any scale).
    # A/B in adjacent windows: 7.4 s hinted vs 9.3 s sort-merge.
    b = b.hint("shuffle_hash")
    cand = (a.join(b, (F.col("a.t") == F.col("b.t")) &
                   (F.col("a.doc_id") < F.col("b.doc_id")) &
                   # length filter: |y| in [t*|x|, |x|/t]
                   (F.col("b.n") >= F.ceil(F.lit(t) * F.col("a.n"))) &
                   (F.col("a.n") >= F.ceil(F.lit(t) * F.col("b.n"))))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.col("a.n").alias("na"), F.col("b.n").alias("nb"))
            .agg(F.min(F.col("a.pos")).alias("pa"),
                 F.min(F.col("b.pos")).alias("pb"))
            .where(1 + F.least(F.col("na") - F.col("pa"),
                               F.col("nb") - F.col("pb"))
                   >= F.ceil(F.lit(t / (1.0 + t))
                             * (F.col("na") + F.col("nb")) - F.lit(1e-9)))
            .select("doc_a", "doc_b"))
    # exact multiset Jaccard, candidates only. The verify attaches each
    # doc's word-count MAP (vocabulary is small, so maps are a few
    # hundred bytes) and computes the bag intersection as a JVM
    # map_zip_with expression per pair -- re-joining the per-word rows
    # would turn |candidates| into |candidates| x |vocab| shuffle rows
    # (measured 3x slower at sf0.1).
    bags = (cnt.groupBy("doc_id")
            .agg(F.map_from_entries(F.collect_list(F.struct("w", "c"))).alias("m"),
                 F.sum("c").alias("n")))
    ba = bags.select(F.col("doc_id").alias("doc_a"), F.col("m").alias("ma"),
                     F.col("n").alias("na"))
    bb = bags.select(F.col("doc_id").alias("doc_b"), F.col("m").alias("mb"),
                     F.col("n").alias("nb"))
    shared = F.aggregate(
        F.map_values(F.map_zip_with(
            "ma", "mb", lambda k, x, y: F.least(F.coalesce(x, F.lit(0)),
                                                F.coalesce(y, F.lit(0))))),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    # r11 NOTE: a SHUFFLE_HASH hint on the two bag-verify joins was
    # tried and REVERTED. Unlike the prefix join's hint (which the
    # planner only honors once broadcast is off -- see the
    # *_nobroadcast.txt dumps), hinting ba/bb preempted the size-based
    # broadcast that wins at bench SF: the r11 PERF sweep measured
    # 4.4 -> 7.7 s (calib-identical windows). The planner's own
    # size-based choice (broadcast when the bag table fits, sort-merge
    # above) is the scale-honest default here.
    return (cand.join(ba, "doc_a").join(bb, "doc_b")
            .withColumn("shared", shared)
            .where(jac >= t)
            .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard")))


def _jaccard_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (multiset Jaccard >= 0.8) as an undirected edge
    list -- the input graph for duplicate clustering. Uses the
    prefix-filtered join (oracle-proven identical to the exhaustive
    dedup_jaccard, ~7x faster at sf0.1 because the shared ~31-word
    vocabulary makes plain token blocking nearly quadratic)."""
    return dedup_jaccard_prefix(spark, sf_dir).select("doc_a", "doc_b")


_COMPONENTS_ORACLE = """
WITH RECURSIVE
edges AS (
    WITH cnt AS (
        SELECT doc_id, w, count(*) AS c
        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
              FROM documents)
        GROUP BY 1, 2
    ), sizes AS (
        SELECT doc_id, sum(c) AS n FROM cnt GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               sum(least(a.c, b.c)) AS shared
        FROM cnt a JOIN cnt b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared) >= 0.8
),
undirected AS (
    SELECT doc_a AS src, doc_b AS dst FROM edges
    UNION ALL SELECT doc_b, doc_a FROM edges
),
reach(doc, comp) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT u.src, r.comp FROM reach r JOIN undirected u ON u.dst = r.doc
)
SELECT doc AS doc_id, CAST(min(comp) AS BIGINT) AS component,
       CAST(count(*) OVER (PARTITION BY min(comp)) AS BIGINT) AS component_size
FROM reach GROUP BY doc
"""


@register("dedup_components", oracle=_COMPONENTS_ORACLE)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clustering: connected components over the near-dup
    graph, component id = min reachable doc_id. Pregel-style min-label
    propagation as a DataFrame loop -- each iteration is one join + one
    aggregate, converging in O(graph diameter) rounds; the driver only
    inspects a scalar per round (the change count), never row data.
    The DuckDB oracle computes the same fixpoint with a recursive CTE.

    At 100 TB: iteration count is bounded by the diameter of near-dup
    clusters (tiny in practice); each round shuffles the frontier only,
    and the edge list comes pre-blocked from the Jaccard join. This is
    the canonical 'keep one per duplicate group' semantics that pair
    lists alone can't express."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents").select("doc_id")
    # Materialize the edge list ONCE, eagerly, with lineage cut.
    # cache() alone is not enough: the loop's first job consumes the
    # edge list through several branches (the two union sides, the
    # node-distinct seed) and cold cache blocks race per partition --
    # measured as the 40 s prefix join executing 2-3x concurrently
    # inside round 1. After the checkpoint every consumer reads
    # materialized blocks; the ContextCleaner reclaims them when the
    # DataFrame goes out of scope.
    edges = _jaccard_edges(spark, sf_dir).localCheckpoint(eager=True)
    return min_label_components(docs, edges)


def min_label_components(docs: DataFrame, edges: DataFrame,
                         max_rounds: int = 50) -> DataFrame:
    """Pregel-style min-label propagation over (doc_a, doc_b) edges.
    Returns (doc_id, component, component_size); component = min
    reachable doc_id. Factored out of dedup_components so tests can
    drive it with adversarial graph shapes (e.g. a chain, the worst
    diameter per edge count).

    The iteration runs ONLY over nodes that appear in the edge list:
    a doc with no near-dup edge is its own component by definition and
    can never receive a smaller label, so carrying it through every
    round is pure shuffle waste. At 100 TB this is the difference
    between looping over the whole corpus and looping over the dup
    graph (typically orders of magnitude smaller); the isolated docs
    are joined back once at the end, label = own id, size = 1."""
    undirected = (edges.selectExpr("doc_a AS src", "doc_b AS dst")
                  .union(edges.selectExpr("doc_b AS src", "doc_a AS dst"))
                  .cache())
    comp = (undirected.select(F.col("src").alias("doc_id")).distinct()
            .select("doc_id", F.col("doc_id").alias("comp")).cache())
    # broadcast-vector gate (r10, guide §3.1 -- the graph.py recipe):
    # the label table is bounded by the dup-graph node count; under
    # the gate each round's message join broadcasts it, so the edge
    # list is never re-shuffled round over round. Imported here, not at
    # module level: importing graph first would change the order in
    # which the registry sees the two modules' queries.
    from recommendation_system_spark_ml_spark.operators.graph import _vec
    n_comp = comp.count()  # driver scalar; also materializes the cache
    prev_sum = None
    # Iteration cap: min-label propagation converges in O(diameter)
    # rounds; the cap turns a pathological input (or a future bug) into
    # a loud error instead of an unbounded job.
    for round_no in range(1, max_rounds + 1):
        msgs = (undirected.join(_vec(comp, n_comp),
                                undirected.dst == comp.doc_id)
                .select(F.col("src").alias("doc_id"), "comp"))
        new_comp = (comp.union(msgs)
                    .groupBy("doc_id").agg(F.min("comp").alias("comp")))
        # cache() alone leaves the logical plan growing one join+agg
        # per round; every 5th round localCheckpoint truncates lineage
        # so a large-diameter graph can't blow up planning time or the
        # driver stack. The checkpoint's blocks are reclaimed by the
        # ContextCleaner once the superseded DataFrame goes out of
        # scope; intermediate rounds use cache(), freed explicitly.
        if round_no % 5 == 0:
            new_comp = new_comp.localCheckpoint(eager=True)
        else:
            new_comp = new_comp.cache()
        # Convergence check as one scalar aggregate: labels only ever
        # DECREASE, so sum(comp) is strictly monotone until fixpoint --
        # equal sums mean no label moved. Replaces a per-round
        # join+filter+count (an extra shuffle per round) with a
        # map-side-combinable sum; the same jobs also materialize
        # new_comp's cache/checkpoint.
        cur_sum = new_comp.agg(F.sum("comp")).first()[0]
        comp.unpersist()
        comp = new_comp
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"min_label_components did not converge in {max_rounds} rounds")
    undirected.unpersist()
    w = Window.partitionBy("comp")
    connected = comp.select(F.col("doc_id"),
                            F.col("comp").alias("component"),
                            F.count(F.lit(1)).over(w).alias("component_size"))
    # isolated docs: never touched an edge -> singleton components.
    isolated = (docs.join(comp.select("doc_id"), "doc_id", "left_anti")
                .select(F.col("doc_id"),
                        F.col("doc_id").alias("component"),
                        F.lit(1).cast("long").alias("component_size")))
    return connected.unionByName(isolated)


@register("dedup_latest_by_key", oracle="""
SELECT event_id, user_id, event_type, round(value, 6) AS value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) = 1
""")
def dedup_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style compaction: keep each key's latest record (latest
    event per user, ties broken by event_id). One shuffle on the key;
    the rank filter streams per-partition, so state is O(1) per key --
    this is the upsert-log -> current-snapshot pattern that a 100 TB
    change stream compaction runs daily."""
    pin_session_conf(spark)
    from pyspark.sql import Window as W
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (load(spark, sf_dir, "events")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("event_id", "user_id", "event_type",
                    F.round("value", 6).alias("value")))


@register("scd2_history", oracle="""
SELECT event_id, user_id, event_type,
       ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
           AS valid_to,
       CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
            IS NULL AS INTEGER) AS is_current
FROM events
""")
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history table from a change log: each record gets a
    validity interval [valid_from, valid_to) whose end is the NEXT
    change for the same key (NULL = current row). The warehouse-side
    complement of dedup_latest_by_key: latest-compaction keeps the head
    of each chain, this keeps the whole chain queryable as-of any time
    ('what did this user look like last March'). One shuffle on the
    key; lead() streams per partition, so a 100 TB change log builds
    its history in a single pass."""
    pin_session_conf(spark)
    # oracle pins NULLS FIRST (Spark's asc default) so change records
    # with no timestamp chain deterministically on both engines
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return (load(spark, sf_dir, "events")
            .select("event_id", "user_id", "event_type",
                    F.col("ts").alias("valid_from"),
                    nxt.alias("valid_to"),
                    nxt.isNull().cast("int").alias("is_current")))


@register("dedup_symspell", oracle="""
SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
""")
def dedup_symspell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record-linkage join (SymSpell blocking): all customer-name
    pairs within edit distance 1, WITHOUT the O(n^2) levenshtein the
    oracle runs. Each name emits its 1-DELETION NEIGHBORHOOD (itself
    plus every string with one char removed); two names within edit
    distance 1 -- substitution, insertion, or deletion -- necessarily
    share a neighborhood entry, so candidates come from an equi-join
    on the variant string and the exact levenshtein verify runs on
    candidates only.

    At 100 TB: the neighborhood factor is len(name)+1 (~19 here), so
    the join input is ~19n rows of short strings shuffled by variant
    hash -- linear in the data -- versus the quadratic all-pairs the
    oracle certifies against. The same pattern extends to distance 2
    (delete 2 chars) at factor ~len^2/2. Unlike the token-set dedups
    (Jaccard/MinHash), this catches TYPO-class duplicates where tokens
    never match exactly."""
    pin_session_conf(spark)
    names = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    variants = names.select(
        "c_custkey", "c_name",
        F.explode(F.concat(
            F.array("c_name"),
            F.expr("transform(sequence(1, length(c_name)),"
                   " i -> concat(substring(c_name, 1, i - 1),"
                   "             substring(c_name, i + 1, length(c_name))))")))
        .alias("variant"))
    va = variants.select(F.col("c_custkey").alias("key_a"),
                         F.col("c_name").alias("name_a"), "variant")
    vb = variants.select(F.col("c_custkey").alias("key_b"),
                         F.col("c_name").alias("name_b"), "variant")
    # SHUFFLE_HASH (guide §3.1): the variant self-join is equi on a
    # short string; sort-merge sorted both ~19n-row sides -- a hash
    # build of the (per-partition) variant map skips both sorts, and
    # the build side stays partition-bounded at any scale.
    cand = (va.join(vb.hint("shuffle_hash"), ["variant"])
            .where(F.col("key_a") < F.col("key_b"))
            .select("key_a", "key_b", "name_a", "name_b").distinct())
    dist = F.levenshtein("name_a", "name_b")
    return (cand.where(dist <= 1)
            .select("key_a", "key_b", dist.cast("int").alias("dist")))


def dedup_semantic_removals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    dedup over EMBEDDINGS -- cluster the corpus with KMeans, compare
    pairs only WITHIN each cluster, and drop every vector that has a
    lower-id neighbor above the cosine threshold (keep-lowest-id is
    the paper's keep-one policy made deterministic). Catches
    paraphrase-class duplicates that token-level dedup (Jaccard /
    MinHash / SimHash) can never see, at cluster-bounded cost.

    Spark shape: the k=16 coarse quantizer is the same broadcast-
    centroid assignment sim_ivf uses; within-cell pairs come from an
    equi-join ON THE CELL ID (shuffle carries (cell, vec_id, vector)),
    so pair generation is sum over cells of |cell|^2 instead of n^2 --
    with balanced cells a k-fold cut, and the cell id is a plain join
    key AQE can split if one cell skews. Cross-cell near-dups are
    missed by design (the paper's tradeoff); recall vs the exact
    all-pairs set is measured in tests (>= 0.5 gate, observed ~0.7 on
    this near-uniform worst case).

    Returns (removed_id, keeper_id, cosine): one row per dropped
    vector, keeper = its lowest-id near-duplicate, cosine exact."""
    pin_session_conf(spark)
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    nassign, threshold = 2, 0.35
    corpus = (load(spark, sf_dir, "embeddings")
              .select("vec_id",
                      F.col("embedding").cast("array<double>").alias("v")))
    # k grows with the corpus (the paper's prescription): cells hold
    # ~TARGET_CELL vectors regardless of n, so within-cell pair cost
    # stays ~n * TARGET_CELL instead of n^2/k with fixed k -- the
    # scale_curve harness measured the fixed-k version going
    # super-linear (slope 1.5, 10 s -> 328 s at 10x corpus). The
    # count() is one bounded driver scalar; KMeans reads the data
    # anyway.
    target_cell = 300
    n = corpus.count()
    nlist = max(16, min(4096, n // target_cell))
    feats = corpus.select("vec_id", array_to_vector("v").alias("features"))
    km = KMeans(k=nlist, seed=823).fit(feats)
    # soft assignment: each vector lands in its nassign=2 nearest cells
    # (multi-probe, the standard boundary-pair recall fix: a near-dup
    # pair split by a Voronoi boundary still shares the runner-up
    # cell). Cost factor is nassign^2 on the within-cell join, pairs
    # deduped afterwards.
    #
    # The top-2 cells are computed ENTIRELY MAP-SIDE by an Arrow-
    # batched pandas_udf: one NumPy matmul per batch against the
    # broadcast (nlist x dim) centroid matrix, exact top-2 via
    # argpartition + a (d2, cell) tiebreak sort of the 3 finalists.
    # Two rejected alternatives, both MEASURED at the nlist=4096 cap
    # (dim 64, /tmp isolation harness, this round):
    #  - crossJoin(centroids) + row_number() over partitionBy(vec_id)
    #    (the r1-r3 implementation): the window forces an Exchange of
    #    corpus x nlist rows WITH their vectors -- a 4096x shuffle
    #    amplification, the repo's one genuine 100 TB scale-killer
    #    (VERDICT r3 "What's wrong" #1).
    #  - a centroid array literal + transform/array_sort/slice higher-
    #    order expression: shuffle-free but INTERPRETED per element
    #    (HOFs never enter codegen) -- 61.6 s for just 2,000 vectors
    #    at the cap vs 0.8 s for the matmul (~75x), because nlist*dim
    #    lambda evals per row swamp the saved exchange.
    # The UDF plans as ArrowEvalPython (the only Python node class the
    # plan suite allows); the first Exchange in the whole query is the
    # within-cell join's hash partitioning on `cell`, carrying the
    # already-sliced nassign * n rows (plan-asserted: no Window node,
    # no Exchange on vec_id).
    from recommendation_system_spark_ml_spark.operators.similarity import (
        topk_cells_udf)

    cmat = np.array([[float(x) for x in c] for c in km.clusterCenters()])
    topk_cells = topk_cells_udf(spark, cmat, nassign)
    # Candidate generation + dedup on ID PAIRS ONLY: a pair sharing
    # both probe cells would otherwise be deduplicated while two
    # 520-byte vectors ride the exchange (~1 KB/candidate -- the
    # sim_knn_graph scale-curve lesson, slope 1.83 before the same
    # fix there). Ids-first, the dedup shuffles 16 B/candidate with
    # map-side combine; the vectors (and the once-per-vector L2 norm,
    # so scoring pays ONE dot product per pair) join back after.
    cell_ids = corpus.select("vec_id",
                             F.explode(topk_cells("v")).alias("cell"))
    pair_ids = (cell_ids.select("cell", F.col("vec_id").alias("vec_a"))
                .join(cell_ids.select("cell",
                                      F.col("vec_id").alias("vec_b")),
                      "cell")
                .where(F.col("vec_a") < F.col("vec_b"))
                .dropDuplicates(["vec_a", "vec_b"])
                .select("vec_a", "vec_b"))
    norm = F.sqrt(F.aggregate(
        F.zip_with("v", "v", lambda x, y: x * y), F.lit(0.0),
        lambda acc, z: acc + z))
    vecs = corpus.select("vec_id", "v", norm.alias("nrm"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, z: acc + z)
    pairs = (pair_ids
             .join(vecs.select(F.col("vec_id").alias("vec_a"),
                               F.col("v").alias("va"),
                               F.col("nrm").alias("na")), "vec_a")
             .join(vecs.select(F.col("vec_id").alias("vec_b"),
                               F.col("v").alias("vb"),
                               F.col("nrm").alias("nb")), "vec_b")
             .select("vec_a", "vec_b",
                     (dot / (F.col("na") * F.col("nb"))).alias("cos"))
             .where(F.col("cos") >= threshold))
    return (pairs.groupBy(F.col("vec_b").alias("removed_id"))
            .agg(F.min_by("vec_a", "vec_a").alias("keeper_id"),
                 F.round(F.min_by("cos", "vec_a"), 4).alias("cosine")))


SEM_CHECK_N = 50  # fixed probe slice for the semantic-dedup contract


@register("dedup_semantic", oracle=f"""
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x,
           sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                        e -> e * e))) AS nrm
    FROM embeddings WHERE embedding IS NOT NULL
), q AS (SELECT * FROM v WHERE vec_id < {SEM_CHECK_N} AND nrm > 0)
SELECT q.vec_id,
       CAST(max(CASE WHEN c.vec_id < q.vec_id AND c.nrm > 0
                      AND round(list_sum(list_transform(
                              range(1, CAST(len(q.x) AS BIGINT) + 1),
                              i -> q.x[i] * c.x[i])) / (q.nrm * c.nrm), 4)
                          >= 0.35
                 THEN 1 ELSE 0 END) AS BIGINT) AS has_lower_exact_nd,
       TRUE AS removed_implies_exact
FROM q, v c
GROUP BY q.vec_id
""")
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashable agreement contract over dedup_semantic_removals (r7
    verdict task 4, the sim_lsh pattern): for each of a FIXED
    SEM_CHECK_N=50-vector probe slice the oracle computes, by
    exhaustive scan, whether an exact LOWER-ID neighbor at round-4
    cosine >= 0.35 exists (the genuine cross-engine value -- Spark's
    zip_with/aggregate fold vs DuckDB's list_sum fold, the proven
    sim_lsh expression pair), and the contract boolean asserts that
    whenever SemDeDup REMOVED a probe vector, that exact witness
    exists. Guaranteed by construction on any input: a removal means
    some within-cell lower-id pair passed the UNROUNDED >= 0.35
    filter, and round-4 is monotone, so the exact indicator is 1.
    The converse (recall on cross-cell near-dups) is the paper's
    documented tradeoff, dataset-conditional, and stays in the local
    recall-gate tests (>= 0.5 observed ~0.7). The production removal
    list is dedup_semantic_removals, executed in full here."""
    pin_session_conf(spark)
    corpus = (load(spark, sf_dir, "embeddings")
              .select("vec_id",
                      F.col("embedding").cast("array<double>").alias("v")))
    norm = F.sqrt(F.aggregate(
        F.zip_with("v", "v", lambda x, y: x * y), F.lit(0.0),
        lambda acc, z: acc + z))
    withn = (corpus.where(F.col("v").isNotNull())
             .select("vec_id", "v", norm.alias("nrm")))
    q = (withn.where((F.col("vec_id") < SEM_CHECK_N) & (F.col("nrm") > 0))
         .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
                 F.col("nrm").alias("qnrm")))
    c = withn.select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"),
                     F.col("nrm").alias("cnrm"))
    dot = F.aggregate(F.zip_with("qv", "cv", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, z: acc + z)
    cos4 = F.round(dot / (F.col("qnrm") * F.col("cnrm")), 4)
    hit = ((F.col("cid") < F.col("qid")) & (F.col("cnrm") > 0)
           & (cos4 >= 0.35)).cast("long")
    exact = (F.broadcast(q).crossJoin(c)
             .groupBy(F.col("qid").alias("vec_id"))
             .agg(F.max(hit).alias("has_lower_exact_nd")))
    removed = (dedup_semantic_removals(spark, sf_dir)
               .select(F.col("removed_id").alias("vec_id"),
                       F.lit(1).alias("was_removed")))
    return (exact.join(removed, "vec_id", "left")
            .select("vec_id", "has_lower_exact_nd",
                    (F.col("was_removed").isNull()
                     | (F.col("has_lower_exact_nd") == 1))
                    .alias("removed_implies_exact")))


@register("dedup_incremental", oracle=f"""
WITH fp AS (
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
               string_split(lower(text), ' '))), ' ')) AS fingerprint,
           {IN_CORPUS_SQL} AS in_corpus
    FROM documents
), idx AS (
    SELECT fingerprint, min(doc_id) AS corpus_doc_id
    FROM fp WHERE in_corpus GROUP BY 1
)
SELECT b.doc_id AS batch_doc_id, i.corpus_doc_id, b.fingerprint
FROM fp b JOIN idx i ON b.fingerprint = i.fingerprint
WHERE NOT b.in_corpus
""")
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup -- the shape production actually runs: a NEW
    batch (the Knuth-gated 10%) is checked against a PERSISTED
    fingerprint index of the existing corpus (the other 90%), instead
    of re-deduplicating the whole corpus per arrival. The index is
    written to parquet once (fingerprint, keeper id -- 16 B + 8 B per
    distinct doc, not the text) and the batch equi-joins it; at 100 TB
    the per-batch cost is O(batch + index-probe), the corpus text is
    never re-read, and the same parquet artifact serves every future
    batch (append new batch keepers to it and the loop closes).

    The oracle recomputes both sides from scratch in SQL -- certifying
    that the incremental answer equals the from-scratch answer, which
    is the invariant that makes incremental maintenance trustworthy."""
    pin_session_conf(spark)
    from recommendation_system_spark_ml_spark.session import scratch_path

    docs = load(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(
            F.split(F.lower("text"), " "))), " ")).alias("fingerprint"),
        in_corpus().alias("in_corpus"))
    index_path = scratch_path(sf_dir, "dedup_fp_index")
    (fp.where("in_corpus")
     .groupBy("fingerprint")
     .agg(F.min("doc_id").alias("corpus_doc_id"))
     .write.mode("overwrite").parquet(index_path))
    idx = spark.read.parquet(index_path)
    batch = fp.where(~F.col("in_corpus")).select("doc_id", "fingerprint")
    return (batch.join(idx, "fingerprint")
            .select(F.col("doc_id").alias("batch_doc_id"),
                    "corpus_doc_id", "fingerprint"))


# Stop-shingle guard for containment: shingles appearing in more than
# this many documents are dropped from the INTERSECTION counts (the
# denominator keeps the full set). Bounds the inverted-index join
# fan-out to df^2 per shingle -- the standard boilerplate/stop-gram
# defense every production containment join ships. At this corpus the
# max df is 4, so the guard is semantically inert here and the oracle
# (which applies the same guard) stays exact.
CONTAIN_MAX_DF = 128


@register("dedup_containment", oracle=f"""
WITH t AS (
    SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
), sh AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
        generate_series(1, CAST(len(ws) - 7 AS BIGINT)),
        g -> array_to_string(list_slice(ws, g, g + 7), ' ')))) AS shingle
    FROM t WHERE len(ws) >= 8
), keep AS (
    SELECT shingle FROM sh GROUP BY 1
    HAVING count(*) BETWEEN 2 AND {CONTAIN_MAX_DF}
), shk AS (
    SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)
), cand AS (
    SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
    FROM shk a JOIN shk b
      ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
    GROUP BY 1, 2
), sz AS (
    SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1
)
SELECT c.da AS doc_id, c.db AS container_id, c.shared,
       CAST(s.n_shingles AS BIGINT) AS n_shingles,
       floor(c.shared * 10000.0 / s.n_shingles + 0.5) / 10000 AS containment
FROM cand c JOIN sz s ON s.doc_id = c.da
WHERE 2 * c.shared >= s.n_shingles
""")
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT dedup: C(A,B) = |S(A) n S(B)| / |S(A)| over
    distinct 8-gram shingle sets -- the asymmetric twin of Jaccard
    that catches near-SUPERSET duplication (a document quoted or
    embedded inside a longer one scores containment ~1.0 while its
    Jaccard stays low). Broder's original resemblance paper defines
    both; most pipelines ship only Jaccard and miss quote-inclusion.
    Emits (doc_id, container_id, shared, n_shingles, containment) for
    every directed pair with containment >= 0.5 -- the threshold is
    the INTEGER comparison 2*shared >= n_shingles, so no float tie can
    flip a row across engines; the reported score is floor-quantized
    to 4 decimals identically on both sides.

    Scale shape (ids-first convention, SCALE.md): the inverted-index
    join carries (shingle, doc_id) pairs only -- text never rides any
    Exchange -- and the document-frequency gate (2 <= df <=
    {CONTAIN_MAX_DF}) bounds per-shingle fan-out before the self-join,
    the same stop-gram defense as dedup_jaccard_prefix's prefix
    filter. Pair counts are map-side-combinable aggregates on 16-byte
    id pairs. At 100 TB the shingle join key becomes xxhash64(shingle)
    (digest-not-payload, the dedup_exact discipline)."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    shingle_arr = F.expr(
        "CASE WHEN size(ws) < 8 THEN array()"
        " ELSE array_distinct(transform(sequence(1, size(ws) - 7),"
        "      g -> array_join(slice(ws, g, 8), ' '))) END")
    sh = (docs.select("doc_id", _words().alias("ws"))
          .select("doc_id", F.explode(shingle_arr).alias("shingle")))
    keep = (sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df").between(2, CONTAIN_MAX_DF))
            .select("shingle"))
    shk = sh.join(keep, "shingle")
    cand = (shk.alias("a")
            .join(shk.alias("b"),
                  (F.col("a.shingle") == F.col("b.shingle"))
                  & (F.col("a.doc_id") != F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("da"),
                     F.col("b.doc_id").alias("db"))
            .agg(F.count(F.lit(1)).alias("shared")))
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    return (cand.join(sz, cand.da == sz.doc_id)
            .where(2 * F.col("shared") >= F.col("n_shingles"))
            .select(F.col("da").alias("doc_id"),
                    F.col("db").alias("container_id"),
                    "shared", F.col("n_shingles").cast("long").alias("n_shingles"),
                    (F.floor(F.col("shared") * 10000.0 / F.col("n_shingles")
                             + 0.5) / 10000).alias("containment")))


MHC_HASHES, MHC_BANDS, MHC_ROWS = 16, 4, 4


def _md5_band_rows(base: DataFrame) -> DataFrame:
    """(doc_id, band, key) rows of the md5-seeded MinHash signature of
    _word_sets rows: mh_i = min over words of md5('i:' || word), band j
    keyed by md5 of its MHC_ROWS concatenated minhashes. Shared by
    dedup_minhash_checked and dedup_minhash_incremental; the DuckDB
    twin is _md5_band_rows_sql."""
    # one-parameter lambda via factory: a two-parameter form would bind
    # the seed to transform's array-index argument (see _minhash_pairs)
    def seeded(i):
        return lambda w: F.md5(F.concat(F.lit(f"{i}:"), w))

    mh = [F.array_min(F.transform("words", seeded(i))).alias(f"mh{i}")
          for i in range(MHC_HASHES)]
    sig = base.select("doc_id", *mh)
    bands = F.array(*[
        F.struct(F.lit(j).alias("band"),
                 F.md5(F.concat(*[F.col(f"mh{j * MHC_ROWS + r}")
                                  for r in range(MHC_ROWS)])).alias("key"))
        for j in range(MHC_BANDS)])
    return (sig.select("doc_id", F.explode(bands).alias("b"))
            .select("doc_id", F.col("b.band").alias("band"),
                    F.col("b.key").alias("key")))


def _md5_band_rows_sql(*carry: str) -> str:
    """_md5_band_rows as DuckDB CTEs `sig` and `buckets` over a `base`
    CTE of (doc_id, words, *carry); buckets keep the carry columns."""
    keep = "".join(f"{c}, " for c in carry)
    mh_cols = ",\n           ".join(
        f"list_min(list_transform(words, w -> md5('{i}:' || w))) AS mh{i}"
        for i in range(MHC_HASHES))
    band_rows = "\n    UNION ALL ".join(
        "SELECT doc_id, {keep}{j} AS band, md5({cat}) AS key FROM sig"
        .format(keep=keep, j=j, cat=" || ".join(
            f"mh{j * MHC_ROWS + r}" for r in range(MHC_ROWS)))
        for j in range(MHC_BANDS))
    return f"""sig AS (
    SELECT doc_id, {keep}
           {mh_cols}
    FROM base
), buckets AS (
    {band_rows}
)"""


def _jaccard_verified(cand: DataFrame, base: DataFrame) -> DataFrame:
    """Exact set-Jaccard >= 0.8 verify of the (id_a, id_b) pairs in
    `cand` against _word_sets rows: the INTEGER keep 5*|intersect| >=
    4*|union| (no float-tie surface) and a floor-quantized 4-decimal
    distance, identical to _jaccard_verified_sql."""
    ca, cb = cand.columns
    wa = base.select(F.col("doc_id").alias(ca), F.col("words").alias("wa"))
    wb = base.select(F.col("doc_id").alias(cb), F.col("words").alias("wb"))
    i_ = F.size(F.array_intersect("wa", "wb"))
    u_ = F.size(F.array_union("wa", "wb"))
    return (cand.join(wa, ca).join(wb, cb)
            .where(5 * i_ >= 4 * u_)
            .select(ca, cb,
                    (F.floor((1.0 - i_ * 1.0 / u_) * 10000 + 0.5) / 10000)
                    .alias("jaccard_dist")))


def _jaccard_verified_sql(ca: str, cb: str) -> str:
    """_jaccard_verified as DuckDB: a `verified` CTE over the `cand`
    (ca, cb) and `base` CTEs, then the final SELECT."""
    return f"""verified AS (
    SELECT c.{ca}, c.{cb},
           len(list_intersect(wa.words, wb.words)) AS i,
           len(list_distinct(wa.words || wb.words)) AS u
    FROM cand c
    JOIN base wa ON wa.doc_id = c.{ca}
    JOIN base wb ON wb.doc_id = c.{cb}
)
SELECT {ca}, {cb},
       floor((1.0 - i * 1.0 / u) * 10000 + 0.5) / 10000 AS jaccard_dist
FROM verified WHERE 5 * i >= 4 * u
"""


def _minhash_checked_oracle() -> str:
    """The ENTIRE LSH pipeline -- seeded minhash signatures, banded
    bucket keys, candidate generation, exact verification -- unrolled
    as DuckDB SQL, so every stage is hash-checked value-for-value."""
    return f"""
WITH base AS (
    SELECT doc_id,
           list_distinct(list_filter(string_split(lower(text), ' '),
                                     w -> w <> '')) AS words
    FROM documents
    WHERE len(list_filter(string_split(lower(text), ' '), w -> w <> '')) > 0
), {_md5_band_rows_sql()}, cand AS (
    {band_pairs_sql("buckets", "doc_id", ("doc_a", "doc_b"))}
), {_jaccard_verified_sql("doc_a", "doc_b")}"""


@register("dedup_minhash_checked", oracle=_minhash_checked_oracle())
# NOT bench-flagged (r7 verdict task 2): on the saturated fixture corpus
# the true near-dup pair set is Theta(n^2), so this row's wall time
# measures output volume, not banding efficiency -- the headline bench
# slots for MinHash are the _realistic twins (slope 0.22/0.51 at real
# 10x). This saturated twin stays the exhaustive CORRECTNESS check.
def dedup_minhash_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_minhash's ORACLE-CHECKED twin: the identical 16-hash /
    4-band LSH pipeline with the seeded hash swapped from xxhash64 to
    md5(seed:word) -- a deterministic function both engines compute
    byte-for-byte, so signatures, band keys, the candidate set, AND
    the verified output all hash-match the DuckDB oracle (the same
    move that made agg_kmv_jaccard's sketch checkable). The xxhash64
    variant stays the production/bench path -- JVM-side 64-bit mixing
    beats hex-string md5 -- but the candidate stage is the same
    banding.py core, so this query certifies the LSH logic the fast
    path runs. The verify is _jaccard_verified's integer keep."""
    pin_session_conf(spark)
    base = _word_sets(load(spark, sf_dir, "documents"))
    cand = band_pairs(_md5_band_rows(base), "doc_id", ("doc_a", "doc_b"))
    return _jaccard_verified(cand, base)


def _simhash_checked_oracle() -> str:
    """SimHash unrolled portably: 64 bits are extracted from each
    word's md5 HEX STRING via nibble arithmetic (strpos on the hex
    alphabet, integer div/mod) -- no engine-specific 64-bit hash, so
    signatures, band keys, candidates, and Hamming distances are all
    byte-identical across engines."""
    return f"""
WITH base AS (
    SELECT doc_id,
           list_distinct(list_filter(string_split(lower(text), ' '),
                                     w -> w <> '')) AS words
    FROM documents
    WHERE len(list_filter(string_split(lower(text), ' '),
                          w -> w <> '')) > 0
), hashed AS (
    SELECT doc_id, list_transform(words, w -> md5(w)) AS hs FROM base
), fp AS (
    SELECT doc_id,
           array_to_string(list_transform(range(0, 64), b ->
               CASE WHEN list_sum(list_transform(hs, h ->
                   2 * (((strpos('0123456789abcdef',
                                 substr(h, 1 + b // 4, 1)) - 1)
                         // (CASE b % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                                        WHEN 2 THEN 2 ELSE 1 END)) % 2)
                   - 1)) > 0
               THEN '1' ELSE '0' END), '') AS fp
    FROM hashed
), buckets AS (
    SELECT doc_id, b AS band, substr(fp, 1 + 16 * b, 16) AS key, fp
    FROM fp, LATERAL (SELECT unnest(range(0, 4)) AS b) t
), cand AS (
    {band_pairs_sql("buckets", "doc_id", ("doc_a", "doc_b"))}
), ham AS (
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_filter(range(1, 65), p ->
               substr(fa.fp, p, 1) <> substr(fb.fp, p, 1))) AS INTEGER)
               AS hamming
    FROM cand c JOIN fp fa ON fa.doc_id = c.doc_a
                JOIN fp fb ON fb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3
"""


@register("dedup_simhash_checked", oracle=_simhash_checked_oracle())
def dedup_simhash_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_simhash's ORACLE-CHECKED twin (the dedup_minhash_checked
    move applied to SimHash): each distinct word hashes once with md5,
    its 64 sign bits come from NIBBLE ARITHMETIC on the hex string
    (strpos + integer div/mod -- both engines byte-identical), the
    per-bit +/-1 sums sign into a 64-char bit-string fingerprint,
    4x16-bit bands generate candidates (pigeonhole: Hamming <= 3
    guarantees a matching band), and exact Hamming distance verifies.
    Everything -- signatures, band keys, the candidate set, distances
    -- hash-matches the DuckDB oracle; the xxhash64 variant
    (dedup_simhash) stays the fast path.

    Scale shape: the fingerprint build is the explode + 64-partial-sum
    aggregate of dedup_simhash -- md5 and the nibble extraction run
    ONCE per (doc, word) inside whole-stage codegen, and the per-bit
    +/-1 sums are map-side-combinable aggregates (the first version
    computed the same bits as a triple-nested HOF lambda: interpreted,
    measured 33 s at sf0.1 vs ~4 s for this shape -- SCALE.md's
    Catalyst-HOFs-never-codegen pitfall). The band join is banding.py's
    band_pairs over (doc_id, k0..k3, band, 16-bit key) rows: the four
    band ints ride along as payload, so the exact Hamming verify is its
    keep predicate and the distance its extra column -- no fingerprint
    join-back."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    tok = (docs.select("doc_id", F.explode(_words()).alias("w"))
           .where(F.col("w") != "").distinct()
           .withColumn("h", F.md5("w")))
    # nibble k = decimal value of hex char k (codegen conv, not a HOF)
    nibs = tok.select("doc_id", *[
        F.conv(F.substring("h", k + 1, 1), 16, 10).cast("int")
        .alias(f"n{k}") for k in range(16)])
    bit_sums = []
    for b in range(64):
        bit = (F.shiftright(F.col(f"n{b // 4}"), 3 - b % 4)
               .bitwiseAND(F.lit(1)))
        bit_sums.append(
            F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"s{b}"))
    per_doc = nibs.groupBy("doc_id").agg(*bit_sums)
    # each band as a 16-bit INTEGER (bit r of band j = sign of
    # s_{16j+r}, MSB-first so it equals the oracle's 16-char
    # substring read as binary); the bucket join keys on the int and
    # the Hamming verify is bit_count(xor) -- whole-stage codegen,
    # where a per-character string comparison would be an interpreted
    # 64-op HOF per candidate pair (measured 33 s vs ~4 s at sf0.1).
    def band_int(j):
        bits = [F.when(F.col(f"s{16 * j + r}") > 0,
                       F.lit(1 << (15 - r))).otherwise(F.lit(0))
                for r in range(16)]
        acc = bits[0]
        for x in bits[1:]:
            acc = acc + x
        return acc.cast("long")

    ks = [f"k{j}" for j in range(4)]
    fp = per_doc.select("doc_id",
                        *[band_int(j).alias(k) for j, k in enumerate(ks)])
    bands = F.array(*[
        F.struct(F.lit(j).alias("band"), F.col(k).alias("key"))
        for j, k in enumerate(ks)])
    buckets = (fp.select("doc_id", *ks, F.explode(bands).alias("b"))
               .select("doc_id", *ks, F.col("b.band").alias("band"),
                       F.col("b.key").alias("key")))

    def hamming(a, b):
        return sum((F.bit_count(a(k).bitwiseXOR(b(k))) for k in ks),
                   F.lit(0)).cast("int")

    return band_pairs(buckets, "doc_id", ("doc_a", "doc_b"),
                      keep=lambda a, b: hamming(a, b) <= 3,
                      extra=[("hamming", hamming)])


@register("dedup_canonical", bench=True, oracle="""
WITH RECURSIVE
edges AS (
    WITH cnt AS (
        SELECT doc_id, w, count(*) AS c
        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
              FROM documents)
        GROUP BY 1, 2
    ), sizes AS (
        SELECT doc_id, sum(c) AS n FROM cnt GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               sum(least(a.c, b.c)) AS shared
        FROM cnt a JOIN cnt b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared) >= 0.8
),
undirected AS (
    SELECT doc_a AS src, doc_b AS dst FROM edges
    UNION ALL SELECT doc_b, doc_a FROM edges
),
reach(doc, comp) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT u.src, r.comp FROM reach r JOIN undirected u ON u.dst = r.doc
),
comp AS (
    SELECT doc AS doc_id, min(comp) AS component FROM reach GROUP BY doc
),
ntok AS (
    SELECT doc_id,
           CAST(len(list_filter(string_split(lower(text), ' '),
                                w -> w <> '')) AS BIGINT) AS n_tokens
    FROM documents
),
ranked AS (
    SELECT c.component, c.doc_id, n.n_tokens,
           row_number() OVER (PARTITION BY c.component
                              ORDER BY n.n_tokens DESC, c.doc_id ASC) AS rn,
           count(*) OVER (PARTITION BY c.component) AS n_members
    FROM comp c JOIN ntok n USING (doc_id)
)
SELECT CAST(component AS BIGINT) AS component,
       CAST(doc_id AS BIGINT) AS kept_doc_id,
       CAST(n_tokens AS BIGINT) AS kept_tokens,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
""")
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: within every near-duplicate
    cluster keep exactly one representative -- the longest document
    (most tokens), ties broken by lowest doc_id. This is the step the
    public pipelines run AFTER clustering (SlimPajama keeps the first
    by order, Lee et al. 2022 keep one per cluster; keeping the
    longest preserves the superset copy when near-dups are
    truncations). Composes dedup_components' min-label clusters with a
    single arg-max aggregate.

    Deterministic by construction: the selection key is the integer
    pair (n_tokens, -doc_id) under one max(struct(...)) -- a map-side
    combinable aggregate, no window, no float surface.

    At 100 TB: rides the PERSISTED components artifact
    (build_components_artifact), like split_leakage_safe and
    dedup_cluster_size_dist -- canonical selection is a downstream
    READ of the clustering, so recomputing the min-label fixpoint per
    run was pure waste (r8: the only headline raw regression, 7.3 ->
    8.5 s; riding the artifact measures the actual operator -- one
    token-count scan + one map-side-combinable aggregate over 32-byte
    rows). The fixpoint builds once per corpus version; the full text
    never moves."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    comp = spark.read.parquet(build_components_artifact(spark, sf_dir))
    ntok = docs.select(
        "doc_id",
        F.size(F.filter(_words(), lambda w: w != ""))
        .cast("long").alias("n_tokens"))
    best = F.max(F.struct(F.col("n_tokens").alias("n_tokens"),
                          (-F.col("doc_id")).alias("neg_id")))
    return (comp.select("doc_id", "component").join(ntok, "doc_id")
            .groupBy("component")
            .agg(best.alias("best"),
                 F.count(F.lit(1)).alias("n_members"))
            .select("component",
                    (-F.col("best.neg_id")).alias("kept_doc_id"),
                    F.col("best.n_tokens").alias("kept_tokens"),
                    "n_members"))


@register("dedup_span_merge", oracle="""
WITH words AS (
    SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
), sh AS (
    SELECT doc_id, g,
           array_to_string(list_slice(ws, g, g + 7), ' ') AS shingle
    FROM (SELECT doc_id, ws,
                 unnest(generate_series(1, len(ws) - 7)) AS g
          FROM words)
), dup AS (
    SELECT shingle FROM sh GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
), pos AS (
    SELECT DISTINCT s.doc_id, s.g FROM sh s JOIN dup USING (shingle)
), brk AS (
    SELECT doc_id, g,
           CASE WHEN g - lag(g) OVER (PARTITION BY doc_id ORDER BY g) > 8
                THEN 1 ELSE 0 END AS b
    FROM pos
), isl AS (
    SELECT doc_id, g,
           sum(b) OVER (PARTITION BY doc_id ORDER BY g) AS island
    FROM brk
)
SELECT doc_id,
       CAST(min(g) AS BIGINT) AS span_start,
       CAST(max(g) + 7 AS BIGINT) AS span_end,
       CAST(max(g) + 8 - min(g) AS BIGINT) AS span_tokens
FROM isl GROUP BY doc_id, island
""")
def dedup_span_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document duplicated spans (the ExactSubstr view
    of Lee et al. 2022, 'Deduplicating Training Data Makes Language
    Models Better'): dedup_ngram_spans tells you WHICH 8-grams repeat
    across documents; this merges each document's duplicated 8-gram
    positions into maximal token spans -- the intervals an ExactSubstr
    pass would cut out. Two overlapping-or-adjacent duplicated
    8-grams (start gap <= 8) fuse into one span, so a copied license
    block reports as ONE (start, end) interval, not 40 shingle hits.

    Shape: the shingle string dies at the map side -- each occurrence
    is hashed to (doc_id, g, xxhash64(shingle)) BEFORE anything
    shuffles, the duplicated-shingle count groups on the 8-byte hash,
    and the survivor semi-join is hash-against-hash, so NO Exchange in
    the whole plan carries an 8-gram string (vs ~60 bytes/occurrence
    on two Exchanges in the string-keyed form -- the plan its own
    docstring used to promise only "at 100 TB"; now it IS the plan,
    asserted by tests/test_plans.py). Positions are (doc_id, g)
    integers throughout; the merge is a classic gaps-islands over a
    per-document window (per-entity partitions, never global);
    everything after the count is integer arithmetic: zero float
    surface, fully oracle-hashed. A hash collision could only ADD a
    false duplicated position (P ~ n^2/2^65 -- see dedup_ngram_spans;
    the exact string-keyed oracle is the canary at test scale).
    Suffix automata are unnecessary: 8-gram resolution bounds span
    starts to within 7 tokens of the true cut, the tradeoff the paper
    itself makes for the distributed pass."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    shingles = F.expr(
        "CASE WHEN size(ws) < 8 THEN array()"
        " ELSE transform(sequence(1, size(ws) - 7),"
        "      g -> array_join(slice(ws, g, 8), ' ')) END")
    sh = (docs.select("doc_id", _words().alias("ws"))
          .select("doc_id", F.posexplode(shingles).alias("p0", "shingle"))
          .select("doc_id", (F.col("p0") + 1).alias("g"),
                  F.xxhash64("shingle").alias("h")))
    dup = (sh.groupBy("h")
           .agg(F.countDistinct("doc_id").alias("n_docs"))
           .where(F.col("n_docs") > 1)
           .select("h"))
    pos = (sh.join(dup, "h", "left_semi")
           .select("doc_id", "g").dropDuplicates(["doc_id", "g"]))
    w = Window.partitionBy("doc_id").orderBy("g")
    isl = (pos.withColumn(
               "b", F.when(F.col("g") - F.lag("g").over(w) > 8, 1)
                     .otherwise(0))
           .withColumn("island",
                       F.sum("b").over(
                           w.rowsBetween(Window.unboundedPreceding, 0))))
    return (isl.groupBy("doc_id", "island")
            .agg(F.min("g").alias("mn"), F.max("g").alias("mx"))
            .select("doc_id",
                    F.col("mn").cast("long").alias("span_start"),
                    (F.col("mx") + 7).cast("long").alias("span_end"),
                    (F.col("mx") + 8 - F.col("mn")).cast("long")
                    .alias("span_tokens")))


@register("split_leakage_safe", bench=True, oracle=f"""
WITH RECURSIVE
edges AS (
    WITH cnt AS (
        SELECT doc_id, w, count(*) AS c
        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
              FROM documents)
        GROUP BY 1, 2
    ), sizes AS (
        SELECT doc_id, sum(c) AS n FROM cnt GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               sum(least(a.c, b.c)) AS shared
        FROM cnt a JOIN cnt b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared) >= 0.8
),
undirected AS (
    SELECT doc_a AS src, doc_b AS dst FROM edges
    UNION ALL SELECT doc_b, doc_a FROM edges
),
reach(doc, comp) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT u.src, r.comp FROM reach r JOIN undirected u ON u.dst = r.doc
),
comp AS (
    SELECT doc AS doc_id, min(comp) AS component FROM reach GROUP BY doc
)
SELECT doc_id, CAST(component AS BIGINT) AS component,
       CASE WHEN {knuth_hash_sql('component')} % 10 < 8 THEN 'train'
            WHEN {knuth_hash_sql('component')} % 10 < 9 THEN 'valid'
            ELSE 'test' END AS split
FROM comp
""")
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-safe train/valid/test split (80/10/10): the split key
    is the document's near-duplicate COMPONENT, not the document, so
    two near-duplicates can never land on opposite sides of the
    train/test fence -- the contamination path a plain per-doc hash
    split (split_hash) leaves wide open and the public pipelines
    close this way (Lee et al. 2022 dedup train against test;
    Gao et al. The Pile split after clustering).

    Same Knuth hash gate (hashing.py) as split_hash -- deterministic,
    restart-stable, oracle-reproducible, overflow-free at any
    component id.

    At 100 TB: rides the PERSISTED components artifact
    (build_components_artifact -- the dedup_cluster_size_dist
    decoupling pattern): the near-dup fixpoint runs once per corpus
    version, and the split itself is a map-side hash gate over one
    row per doc. Recomputing the component build per split request
    (the pre-r8 shape) measured sf1 slope 1.42 / 199 s on the
    saturated fixture corpus; reading the artifact makes the split a
    scan. The gate is a pure function of the component id, so the
    assignment is reproducible from the artifact on any re-run or
    late-arriving shard."""
    pin_session_conf(spark)
    comp = spark.read.parquet(
        build_components_artifact(spark, sf_dir))
    bucket = knuth_hash(F.col("component")) % 10
    split = (F.when(bucket < 8, "train")
             .when(bucket < 9, "valid")
             .otherwise("test"))
    return comp.select("doc_id", "component", split.alias("split"))


@register("pipeline_contamination_matrix", oracle="""
WITH t AS (
    SELECT doc_id, source, string_split(lower(text), ' ') AS ws
    FROM documents
), sh AS (
    SELECT DISTINCT source,
           array_to_string(list_slice(ws, g, g + 7), ' ') AS shingle
    FROM t, LATERAL (SELECT unnest(generate_series(
        1, CAST(len(ws) - 7 AS BIGINT))) AS g) gs
    WHERE len(ws) >= 8
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS shared_shingles
FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
GROUP BY 1, 2
""")
def pipeline_contamination_matrix(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every ordered source
    pair, how many DISTINCT 8-gram shingles appear in BOTH sources --
    the corpus-curation report that tells you which ingest streams
    leak into each other (mirrored crawls, quoted aggregators,
    benchmark text syndicated across sites) BEFORE you decide dedup
    scope or mixture weights; the pairwise generalization of
    pipeline_decontaminate's one-benchmark check.

    Ids-first (the dedup_span_merge r5 discipline): shingles hash to
    xxhash64 map-side, the per-source distinct and the source<source
    self-join shuffle (source, 8-byte hash) rows only -- no Exchange
    carries an 8-gram string. The matrix itself is |sources|^2 rows
    (tiny); the self-join fan-out per shingle is bounded by the
    source count, not the corpus. Hash-collision odds as in
    dedup_ngram_spans (the string-keyed oracle is the canary at test
    scale)."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    shingles = F.expr(
        "CASE WHEN size(ws) < 8 THEN array()"
        " ELSE transform(sequence(1, size(ws) - 7),"
        "      g -> array_join(slice(ws, g, 8), ' ')) END")
    sh = (docs.select("source", _words().alias("ws"))
          .select("source", F.explode(shingles).alias("shingle"))
          .select("source", F.xxhash64("shingle").alias("h"))
          .distinct())
    a = sh.select(F.col("source").alias("source_a"), "h")
    b = sh.select(F.col("source").alias("source_b"), "h")
    return (a.join(b, "h")
            .where(F.col("source_a") < F.col("source_b"))
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).cast("long").alias("shared_shingles")))


MHI_MAX_BUCKET = 256  # stop-bucket cap: corpus band buckets larger than
                      # this are excluded from probing (recall tradeoff;
                      # exact-dup floods belong to dedup_exact upstream)


def _minhash_incremental_oracle() -> str:
    """From-scratch SQL twin of the index-probing incremental near-dup:
    md5-seeded minhash signatures for ALL docs, banded keys, candidates
    restricted to batch x corpus (Knuth split), exact set-Jaccard
    verify -- certifying that probing the persisted band index equals
    recomputing everything, the invariant that lets the index be
    trusted across arrivals."""
    return f"""
WITH base AS (
    SELECT doc_id,
           list_distinct(list_filter(string_split(lower(text), ' '),
                                     w -> w <> '')) AS words,
           {IN_CORPUS_SQL} AS in_corpus
    FROM documents
    WHERE len(list_filter(string_split(lower(text), ' '), w -> w <> '')) > 0
), {_md5_band_rows_sql("in_corpus")}, hot AS (
    SELECT band, key FROM buckets WHERE in_corpus
    GROUP BY 1, 2 HAVING count(*) > {MHI_MAX_BUCKET}
), cand AS (
    SELECT DISTINCT b.doc_id AS batch_doc_id, c.doc_id AS corpus_doc_id
    FROM buckets b JOIN buckets c
      ON b.band = c.band AND b.key = c.key
     AND NOT b.in_corpus AND c.in_corpus
    WHERE NOT EXISTS (SELECT 1 FROM hot h
                      WHERE h.band = b.band AND h.key = b.key)
), {_jaccard_verified_sql("batch_doc_id", "corpus_doc_id")}"""


@register("dedup_minhash_incremental", oracle=_minhash_incremental_oracle())
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup: the new batch (Knuth-gated 10%) is
    checked against a PERSISTED MinHash band index of the accepted
    corpus (the other 90%) -- dedup_incremental's index pattern lifted
    from exact fingerprints to LSH. The index stores (band, key,
    doc_id) = 24 B + 16 B hex per corpus doc x 4 bands, built ONCE
    (idempotent _SUCCESS gate); each arrival then pays
    O(batch-signatures + band probe + verify-on-candidates): corpus
    text is re-read only for the candidate verify join, never
    re-hashed. md5 seeding (the dedup_minhash_checked family) keeps
    every stage byte-identical cross-engine, so the WHOLE incremental
    path -- index contents, probe hits, exact set-Jaccard verdicts --
    hash-matches the from-scratch SQL twin: incremental == recompute,
    the invariant that makes a persisted LSH index trustworthy.

    At 100 TB: the band index is the artifact a continuous-ingest
    near-dedup service maintains (append accepted batch signatures,
    the stream_dedup_incremental move); probing shuffles the batch's
    (band, key, id) rows against an index bucketed on the same key."""
    pin_session_conf(spark)
    import os as _os

    from recommendation_system_spark_ml_spark.session import scratch_path

    base = _word_sets(load(spark, sf_dir, "documents"),
                      in_corpus().alias("in_corpus"))
    index_path = scratch_path(sf_dir, "minhash_band_index")
    if not _os.path.exists(_os.path.join(index_path, "_SUCCESS")):
        (_md5_band_rows(base.where("in_corpus"))
         .write.mode("overwrite").parquet(index_path))
    idx = (spark.read.parquet(index_path)
           .select(F.col("doc_id").alias("corpus_doc_id"), "band", "key"))
    # stop-bucket guard (the dedup_containment CONTAIN_MAX_DF move, and
    # the reason the 10x scale curve no longer goes quadratic on the
    # saturated fixture): a corpus band bucket larger than
    # MHI_MAX_BUCKET is boilerplate/exact-dup flood -- probing it costs
    # |batch-hits| x |bucket| pairs for near-zero marginal recall
    # (those dup groups belong to exact dedup upstream). The oracle
    # applies the IDENTICAL cap, so parity is exact.
    hot = (idx.groupBy("band", "key")
           .agg(F.count(F.lit(1)).alias("n"))
           .where(F.col("n") > MHI_MAX_BUCKET)
           .select("band", "key"))
    cand = (_md5_band_rows(base.where(~F.col("in_corpus")))
            .withColumnRenamed("doc_id", "batch_doc_id")
            .join(hot, ["band", "key"], "left_anti")
            .join(idx, ["band", "key"])
            .select("batch_doc_id", "corpus_doc_id")
            .dropDuplicates(["batch_doc_id", "corpus_doc_id"]))
    return _jaccard_verified(cand, base)


@register("dedup_cluster_size_dist", oracle="""
WITH RECURSIVE
edges AS (
    WITH cnt AS (
        SELECT doc_id, w, count(*) AS c
        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
              FROM documents)
        GROUP BY 1, 2
    ), sizes AS (
        SELECT doc_id, sum(c) AS n FROM cnt GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               sum(least(a.c, b.c)) AS shared
        FROM cnt a JOIN cnt b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared) >= 0.8
),
undirected AS (
    SELECT doc_a AS src, doc_b AS dst FROM edges
    UNION ALL SELECT doc_b, doc_a FROM edges
),
reach(doc, comp) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT u.src, r.comp FROM reach r JOIN undirected u ON u.dst = r.doc
),
comp AS (
    SELECT doc AS doc_id, min(comp) AS component FROM reach GROUP BY doc
),
csize AS (
    SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(cluster_size) AS BIGINT) AS n_docs
FROM csize GROUP BY 1
""")
def dedup_cluster_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram: how much of the corpus sits in
    duplicate clusters of each size -- the observability read between
    pair detection and canonical selection (a fat tail says one
    template is flooding the corpus and quota caps are needed BEFORE
    dedup; mostly size-1 says dedup pressure is low). Reads the
    PERSISTED components artifact (build_components_artifact --
    Jaccard >= 0.8 edges -> min-label propagation, singletons
    included, built once per corpus version; r6 verdict task 4: an
    observability read must not re-run the fixpoint), then two
    bounded rollups: the
    distinct (component, size) table is one row per CLUSTER, the
    histogram keyspace is |distinct sizes| -- both orders of magnitude
    below row count at any scale. n_docs sums back to the corpus size,
    a built-in completeness check the tests assert."""
    pin_session_conf(spark)
    comp = spark.read.parquet(build_components_artifact(spark, sf_dir))
    per_cluster = (comp.select("component", "component_size").distinct())
    return (per_cluster
            .groupBy(F.col("component_size").cast("long")
                     .alias("cluster_size"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"),
                 F.sum("component_size").cast("long").alias("n_docs")))


def build_components_artifact(spark: SparkSession, sf_dir: str,
                              force: bool = False) -> str:
    """Persist dedup_components' output once per corpus (the
    build_ivf_index artifact pattern; r6 verdict task 4): the
    connected-components fixpoint is the expensive stage, and every
    OBSERVABILITY read downstream (cluster-size histogram, dup-rate
    dashboards) is a bounded rollup of the finished labeling -- at
    100 TB you run the propagation once per corpus version and point
    every report at the artifact, never re-running the loop per read
    (measured: the histogram recomputing the pipeline showed slope
    1.30 at 30x; reading the artifact is a scan of one row per doc).
    Idempotent per process via _SUCCESS, like build_ivf_index."""
    import os

    from recommendation_system_spark_ml_spark.session import scratch_path

    path = scratch_path(sf_dir, "dedup_components")
    if not force and os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    (dedup_components(spark, sf_dir)
     .write.mode("overwrite").parquet(path))
    return path


@register("dedup_components_persisted", oracle=_COMPONENTS_ORACLE)
def dedup_components_persisted(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The build-once/probe-often face of duplicate clustering
    (r8 verdict task 4, the dedup_incremental shape made a REGISTERED
    contract instead of prose): the query is an artifact SCAN -- one
    row per document of the persisted min-label fixpoint
    (build_components_artifact) -- hash-verified against the full
    recursive-CTE oracle, so the artifact is proven to BE the exact
    connected-components labeling, not a stale or partial copy.

    This is the row that carries the family's scale curve: the
    propagation loop itself is Theta(sum of cluster perimeters) per
    round on the SATURATED fixture corpus (measured-object growth,
    slope 1.24 at real 10x -- dedup_components tracks that object as
    the from-scratch correctness twin), while every production read
    (canonical selection, leakage-safe splits, size histograms,
    dup-rate dashboards) costs exactly this scan. Invariants of the
    labeling (component <= doc_id, the label is a member of its own
    cluster, sizes telescope) are asserted locally in
    tests/test_similarity_dedup.py."""
    pin_session_conf(spark)
    comp = spark.read.parquet(build_components_artifact(spark, sf_dir))
    return comp.select("doc_id", "component", "component_size")


@register("dedup_threshold_sweep", oracle="""
WITH cnt AS (
    SELECT doc_id, w, count(*) AS c
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          FROM documents)
    GROUP BY 1, 2
), sizes AS (
    SELECT doc_id, sum(c) AS n FROM cnt GROUP BY 1
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           sum(least(a.c, b.c)) AS shared
    FROM cnt a JOIN cnt b ON a.w = b.w AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), pairs AS (
    SELECT i.doc_a, i.doc_b, i.shared,
           sa.n + sb.n - i.shared AS uni
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
), th AS (
    SELECT unnest([50, 60, 70, 80, 90]) AS pct
), qual AS (
    SELECT th.pct, p.doc_a, p.doc_b
    FROM pairs p JOIN th ON p.shared * 100 >= th.pct * p.uni
), members AS (
    SELECT pct, doc_a AS d FROM qual UNION ALL SELECT pct, doc_b FROM qual
)
SELECT CAST(q.pct AS INTEGER) AS threshold_pct,
       CAST(q.n_pairs AS BIGINT) AS n_pairs,
       CAST(m.n_docs AS BIGINT) AS n_docs
FROM (SELECT pct, count(*) AS n_pairs FROM qual GROUP BY 1) q
JOIN (SELECT pct, count(DISTINCT d) AS n_docs FROM members GROUP BY 1) m
  ON q.pct = m.pct
""")
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-threshold sensitivity report: how many near-dup pairs
    (and how many documents) each candidate threshold 0.5..0.9 would
    flag -- the calibration read BEFORE committing a dedup threshold
    (a cliff between 0.7 and 0.8 says the corpus has a distinct
    near-dup mode; a smooth ramp says the threshold is arbitrary and
    recall/precision should be measured on planted twins instead).

    Shape: ONE token-blocked pair table (dedup_jaccard's exact shape)
    serves all five thresholds -- the sweep is a 5-row broadcast
    joined on the CROSS-MULTIPLIED INTEGER comparison shared*100 >=
    pct*union, so no float exists anywhere and a threshold with zero
    qualifying pairs is absent from both engines identically. Counts
    partial-combine; the distinct-doc rollup runs over qualifying
    pairs only.

    Cost class: EXHAUSTIVE like its sibling dedup_jaccard (the
    lowest swept threshold defeats prefix pruning by construction) --
    at scale this calibration runs on a corpus SAMPLE; tools/
    perf_sweep.py accordingly measures it at the check SF, same as
    the other exhaustive oracles."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    cnt = (docs.select("doc_id", F.explode(_words()).alias("w"))
           .where(F.col("w") != "")
           .groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c")))
    sizes = cnt.groupBy("doc_id").agg(F.sum("c").alias("n"))
    a, b = cnt.alias("a"), cnt.alias("b")
    inter = (a.join(b, (F.col("a.w") == F.col("b.w")) &
                    (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.sum(F.least(F.col("a.c"), F.col("b.c"))).alias("shared")))
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    pairs = (inter.join(F.broadcast(sa), F.col("doc_a") == F.col("sa.doc_id"))
             .join(F.broadcast(sb), F.col("doc_b") == F.col("sb.doc_id"))
             .select("doc_a", "doc_b", "shared",
                     (F.col("sa.n") + F.col("sb.n") - F.col("shared"))
                     .alias("uni")))
    th = local_frame(spark, [(p,) for p in (50, 60, 70, 80, 90)], "pct int")
    qual = (pairs.join(F.broadcast(th),
                       F.col("shared") * 100 >= F.col("pct") * F.col("uni"))
            .select("pct", "doc_a", "doc_b"))
    npairs = qual.groupBy("pct").agg(F.count(F.lit(1)).cast("long")
                                     .alias("n_pairs"))
    members = (qual.select("pct", F.col("doc_a").alias("d"))
               .union(qual.select("pct", F.col("doc_b").alias("d"))))
    ndocs = members.groupBy("pct").agg(
        F.countDistinct("d").cast("long").alias("n_docs"))
    return (npairs.join(ndocs, "pct")
            .select(F.col("pct").cast("int").alias("threshold_pct"),
                    "n_pairs", "n_docs"))


SAMPLE_BUCKETS = 10
SAMPLE_KEEP = 3  # deterministic 30% doc sample


@register("pipeline_dedup_sample_estimate", oracle=f"""
WITH s AS (
    SELECT doc_id, sha256(text) AS fp
    FROM documents
    WHERE {knuth_hash_sql('doc_id')} % {SAMPLE_BUCKETS} < {SAMPLE_KEEP}
), samp AS (
    SELECT CAST(count(*) AS BIGINT) AS m,
           CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS dups
    FROM s
), corpus AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) - count(DISTINCT sha256(text)) AS BIGINT) AS dups
    FROM documents
)
SELECT samp.m AS n_sample, samp.dups AS n_dup_sample, corpus.n AS n_corpus,
       round(CAST(samp.dups AS DOUBLE) / nullif(samp.m, 0), 6) AS p_hat,
       round(CAST(samp.dups AS DOUBLE) / nullif(samp.m, 0)
             - CAST(1.96 AS DOUBLE)
               * sqrt(CAST(samp.dups AS DOUBLE) / nullif(samp.m, 0)
                      * (1 - CAST(samp.dups AS DOUBLE) / nullif(samp.m, 0))
                      / samp.m), 6) AS ci_lo,
       round(CAST(samp.dups AS DOUBLE) / nullif(samp.m, 0)
             + CAST(1.96 AS DOUBLE)
               * sqrt(CAST(samp.dups AS DOUBLE) / nullif(samp.m, 0)
                      * (1 - CAST(samp.dups AS DOUBLE) / nullif(samp.m, 0))
                      / samp.m), 6) AS ci_hi,
       round(CAST(corpus.dups AS DOUBLE) / nullif(corpus.n, 0), 6)
           AS exact_rate
FROM samp, corpus
""")
def pipeline_dedup_sample_estimate(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Sample-based duplicate-rate estimation: exact-dup rate (1 -
    distinct fingerprints / docs) measured on a deterministic 30%
    Knuth-gated document sample, extrapolated with a Wald 95% CI, the
    exact corpus rate riding along for calibration -- the cheap first
    read that decides whether the corpus needs the full dedup pass at
    all, and the sample-based form the exhaustive calibration
    diagnostics (dedup_threshold_sweep) take at 100 TB. The gate is
    the repo's integer Knuth hash (restart-stable, engine-identical);
    fingerprints are sha256, so sample and corpus counts are exact
    distinct-aggregates -- at extreme scale both swap to the
    documented HLL form (analyze_table_stats' trade).

    One scan serves both the sampled and corpus-wide counts; floats
    appear only in the final Wald formula, written as the identical
    double tree in both engines."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    gate = knuth_hash(F.col("doc_id")) % F.lit(SAMPLE_BUCKETS)
    fp = F.sha2("text", 256)
    samp = (docs.where(gate < SAMPLE_KEEP)
            .agg(F.count(F.lit(1)).cast("long").alias("m"),
                 (F.count(F.lit(1)) - F.countDistinct(fp)).cast("long")
                 .alias("dups_s")))
    corpus = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.count(F.lit(1)) - F.countDistinct(fp)).cast("long")
        .alias("dups_c"))
    j = samp.crossJoin(F.broadcast(corpus))
    p = F.col("dups_s").cast("double") / F.nullif(F.col("m"), F.lit(0))
    half = F.lit(1.96) * F.sqrt(p * (1 - p) / F.col("m"))
    return j.select(
        F.col("m").alias("n_sample"),
        F.col("dups_s").alias("n_dup_sample"),
        F.col("n").alias("n_corpus"),
        F.round(p, 6).alias("p_hat"),
        F.round(p - half, 6).alias("ci_lo"),
        F.round(p + half, 6).alias("ci_hi"),
        F.round(F.col("dups_c").cast("double")
                / F.nullif(F.col("n"), F.lit(0)), 6).alias("exact_rate"))
