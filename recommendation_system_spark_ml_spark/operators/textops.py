"""Text analysis over `documents` (SURVEY.md §2.11).

Large-scale training-data pipeline operators: token counting, quality
scoring, language-ID, TF-IDF, n-gram mining, document fingerprinting
(the latter lives in dedup.py). Everything is built-in-function only --
no Python in the hot path -- and each formula is written identically in
the DuckDB oracle so the checks are exact.

100 TB posture: all per-document ops are embarrassingly parallel map
work inside whole-stage codegen; TF-IDF's document-frequency table and
the n-gram top-k are the only shuffles, both map-side combinable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recommendation_system_spark_ml_spark.hashing import (
    knuth_hash, knuth_hash_sql)
from recommendation_system_spark_ml_spark.registry import register
from recommendation_system_spark_ml_spark.session import pin_session_conf
from recommendation_system_spark_ml_spark.sources.catalog import load

# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation.
_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

# Tiny function-word list used by both quality scoring and lang-id.
_STOPWORDS = ("the", "a", "of", "and", "in", "to", "is")


@register("text_tokens", oracle=f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS INTEGER)
           AS n_bpe_tokens,
       CAST(length(text) AS INTEGER) AS n_chars
FROM documents
""")
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    pre-tokenization (letter runs / digit runs / punctuation)."""
    pin_session_conf(spark)
    return (load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(_BPE_RE), F.lit(0)))
        .alias("n_bpe_tokens"),
        F.length("text").cast("int").alias("n_chars")))


_SW_SQL = "', '".join(_STOPWORDS)


@register("text_quality", oracle=f"""
WITH tok AS (
    SELECT doc_id, text, string_split(lower(text), ' ') AS ws
    FROM documents
), m AS (
    SELECT doc_id,
           length(text) AS n_chars,
           len(ws) AS n_tokens,
           len(list_filter(ws, w -> w IN ('{_SW_SQL}'))) AS n_stop,
           length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
               AS n_punct
    FROM tok
)
SELECT doc_id,
       round(CAST(n_stop AS DOUBLE) / n_tokens, 4) AS stopword_ratio,
       round(CAST(n_punct AS DOUBLE) / n_chars, 4) AS punct_ratio,
       round(CAST(n_chars AS DOUBLE) / n_tokens, 4) AS avg_token_len,
       CAST(n_tokens BETWEEN 10 AND 1000
            AND CAST(n_punct AS DOUBLE) / n_chars < 0.1 AS INTEGER)
           AS quality_pass
FROM m
""")
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio, punctuation density, average
    token length, and a boolean gate (the C4-style length+punct
    filter). All ratios are per-document map work."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    ws = F.split(F.lower("text"), " ")
    n_tokens = F.size(ws)
    n_chars = F.length("text")
    n_stop = F.size(F.filter(ws, lambda w: w.isin(*_STOPWORDS)))
    n_punct = n_chars - F.length(F.regexp_replace("text", "[^a-z0-9 ]", ""))
    punct_ratio = n_punct.cast("double") / n_chars
    return docs.select(
        "doc_id",
        F.round(n_stop.cast("double") / n_tokens, 4).alias("stopword_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(n_chars.cast("double") / n_tokens, 4).alias("avg_token_len"),
        (n_tokens.between(10, 1000) & (punct_ratio < 0.1))
        .cast("int").alias("quality_pass"))


@register("text_langid", oracle="""
WITH scores AS (
    SELECT doc_id, lang,
           len(list_filter(string_split(lower(text), ' '),
                           w -> w IN ('the', 'a', 'and', 'of'))) AS s_en,
           len(list_filter(string_split(lower(text), ' '),
                           w -> w IN ('el', 'la', 'de', 'y'))) AS s_es,
           len(list_filter(string_split(lower(text), ' '),
                           w -> w IN ('le', 'la', 'de', 'et'))) AS s_fr
    FROM documents
)
SELECT doc_id,
       CASE WHEN s_es > s_en AND s_es >= s_fr THEN 'es'
            WHEN s_fr > s_en AND s_fr > s_es THEN 'fr'
            ELSE 'en' END AS predicted_lang,
       CAST(CASE WHEN s_es > s_en AND s_es >= s_fr THEN 'es'
                 WHEN s_fr > s_en AND s_fr > s_es THEN 'fr'
                 ELSE 'en' END = lang AS INTEGER) AS is_correct
FROM scores
""")
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID: score per-language function-word hits,
    argmax with a deterministic tie order (en > es > fr). The testdata
    text is synthetic English-ish regardless of its lang label, so
    is_correct measures label agreement, not model quality -- the
    operator shape (vectorized scoring + argmax) is what a real
    n-gram profile model uses."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    ws = F.split(F.lower("text"), " ")

    def hits(words):
        return F.size(F.filter(ws, lambda w: w.isin(*words)))

    s_en, s_es, s_fr = (hits(("the", "a", "and", "of")),
                        hits(("el", "la", "de", "y")),
                        hits(("le", "la", "de", "et")))
    pred = (F.when((s_es > s_en) & (s_es >= s_fr), "es")
            .when((s_fr > s_en) & (s_fr > s_es), "fr")
            .otherwise("en"))
    return docs.select(
        "doc_id", pred.alias("predicted_lang"),
        (pred == F.col("lang")).cast("int").alias("is_correct"))


@register("text_tfidf", oracle="""
WITH cnt AS (
    SELECT doc_id, w, count(*) AS tf
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          FROM documents)
    WHERE w <> ''
    GROUP BY 1, 2
), df AS (
    SELECT w, count(*) AS df FROM cnt GROUP BY 1
), n AS (SELECT count(*) AS n_docs FROM documents)
SELECT c.doc_id, c.w AS term, CAST(c.tf AS BIGINT) AS tf,
       round(c.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 4) AS tfidf
FROM cnt c JOIN df d ON c.w = d.w CROSS JOIN n
""")
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact TF-IDF (tf * ln(N/df)) as three map-side-combinable
    aggregations; df and N are tiny (vocab-sized / scalar) and
    broadcast back. MLlib HashingTF+IDF computes the same quantity
    with feature hashing when the vocabulary is unbounded."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    cnt = (docs.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w"))
           .where(F.col("w") != "")
           .groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf")))
    df = cnt.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    return (cnt.join(F.broadcast(df), "w").crossJoin(F.broadcast(n_docs))
            .select("doc_id", F.col("w").alias("term"), "tf",
                    F.round(F.col("tf") *
                            F.log(F.col("n_docs").cast("double") / F.col("df")),
                            4).alias("tfidf")))


@register("text_ngrams", oracle="""
WITH ws AS (
    SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
), bg AS (
    SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                                 i -> w[i] || ' ' || w[i + 1])) AS bigram
    FROM ws
)
SELECT bigram, count(*) AS n
FROM bg GROUP BY 1
ORDER BY n DESC, bigram ASC LIMIT 20
""")
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 word bigrams: per-doc n-gram expansion is
    map work (array transform, no shuffle); the count + top-k is one
    aggregation. Deterministic tie-break on the bigram string."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    # project the word array first -- a split() inside the transform
    # lambda would re-tokenize the document once per bigram index.
    # Drop sub-bigram docs BEFORE the expansion (fuzz-caught): on a
    # 1-word doc sequence(0, -1) steps BACKWARDS in Spark ([0, -1]),
    # so ws[i + 1] indexes out of bounds under ANSI -- DuckDB's
    # generate_series(1, 0) is simply empty.
    with_ws = (docs.select(F.split(F.lower("text"), " ").alias("ws"))
               .where(F.size("ws") >= 2))
    bigrams = F.expr(
        "transform(sequence(0, size(ws) - 2), "
        "i -> concat(ws[i], ' ', ws[i + 1]))")
    return (with_ws.select(F.explode(bigrams).alias("bigram"))
            .groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("bigram").asc())
            .limit(20))


@register("text_pipeline_mllib")  # rows-only: hashed features
def text_pipeline_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MLlib text stack (SURVEY.md §2.11): RegexTokenizer ->
    StopWordsRemover -> NGram -> HashingTF -> IDF. Feature hashing is
    what scales past a bounded vocabulary (no global dictionary, no
    second pass); the exact-TF-IDF twin (text_tfidf) is the oracle
    for the un-hashed semantics. Returns per-doc token/bigram counts
    and the L2 norm of the hashed TF-IDF vector (a stable scalar
    summary of the feature vector)."""
    pin_session_conf(spark)
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import (HashingTF, IDF, NGram, RegexTokenizer,
                                    StopWordsRemover)

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # r11 (guide §5): every stage up to HashingTF is a deterministic
    # transformer -- only IDF actually FITS. Pipeline.fit(docs) +
    # .transform(docs) tokenized and hashed the corpus TWICE (once
    # under the IDF fit's aggregate, once for the output transform);
    # materializing the TF frame once halves the corpus passes, and
    # the IDF model then maps over the checkpointed rows. Identical
    # arithmetic -- the same stages run on the same rows, once.
    tf_stage = Pipeline(stages=[
        RegexTokenizer(inputCol="text", outputCol="tokens",
                       pattern=r"\s+", toLowercase=True),
        StopWordsRemover(inputCol="tokens", outputCol="content_tokens",
                         stopWords=list(_STOPWORDS)),
        NGram(n=2, inputCol="content_tokens", outputCol="bigrams"),
        HashingTF(inputCol="content_tokens", outputCol="tf",
                  numFeatures=1 << 14),
    ]).fit(docs)  # transformer-only stages: "fit" is a no-op wiring
    tf_df = (tf_stage.transform(docs)
             .select("doc_id", "tokens", "content_tokens", "bigrams", "tf")
             .localCheckpoint(eager=True))
    out = IDF(inputCol="tf", outputCol="tfidf").fit(tf_df).transform(tf_df)
    # fold the SPARSE values only (r10, guide §1.2 per-task work):
    # vector_to_array densified every 16,384-dim hashed vector and ran
    # the interpreted fold over all 16k slots per doc (~80M lambda
    # evaluations at sf0.1); unwrap_udt exposes the UDT's values array
    # (nonzeros only, ~doc-length). Adding 0.0 terms is an exact
    # no-op in IEEE doubles, so the L2 value is bit-identical.
    l2 = F.sqrt(F.aggregate(
        F.unwrap_udt("tfidf").getField("values"), F.lit(0.0),
        lambda acc, x: acc + x * x))
    return out.select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.size("content_tokens").alias("n_content_tokens"),
        F.size("bigrams").alias("n_bigrams"),
        F.round(l2, 4).alias("tfidf_l2"))


@register("text_corpus_report", oracle="""
SELECT lang, source, count(*) AS n_docs,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
       round(avg(n_chars), 4) AS avg_chars,
       CAST(sum(CASE WHEN length(text) >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_long
FROM documents GROUP BY 1, 2
""")
def text_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus health report: per (lang, source) doc counts, exact-dup
    rate via content digest, length stats. This is the monitoring
    query a 100 TB ingest runs per batch -- one scan, one shuffle on
    the low-cardinality group keys; the distinct-digest count is the
    only memory-heavy aggregate and would swap to approx_count_distinct
    at full scale (agg_approx shows the sketch twin)."""
    pin_session_conf(spark)
    return (load(spark, sf_dir, "documents")
            .groupBy("lang", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct(F.md5("text")).alias("n_unique"),
                 F.round(F.avg("n_chars"), 4).alias("avg_chars"),
                 F.sum(F.when(F.length("text") >= 100, 1).otherwise(0))
                 .alias("n_long")))


@register("pipeline_docs", oracle=f"""
WITH kept AS (
    SELECT doc_id, lang, source, text
    FROM documents
    WHERE lang IN ('en', 'de', 'fr') AND length(text) >= 50
    QUALIFY row_number() OVER (PARTITION BY md5(text)
                               ORDER BY doc_id) = 1
)
SELECT doc_id, lang, source,
       CAST(len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS INTEGER)
           AS n_tokens,
       round(CAST(len(string_split(text, ' ')) AS DOUBLE)
             / length(text), 6) AS ws_token_density
FROM kept
""", bench=True)
def pipeline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data prep pipeline in ONE Catalyst plan:
    language allowlist + minimum-length gate (predicate pushdown ->
    the parquet scan skips short/foreign docs), exact dedup keeping
    the lowest doc_id per content digest, then tokenize + density
    features on the survivors only. Filter BEFORE dedup before
    featurize is the 100 TB ordering: each stage shrinks the data the
    next one shuffles; tokenization (the expensive step) runs on
    deduped survivors, never on the raw corpus.

    Dedup is keeper-ids + join-back, NOT a window over md5(text): the
    window form shuffles AND sorts the full text column on the digest;
    here the digest shuffle carries (16-byte hash, doc_id) only and
    the surviving ids join back to the scan (broadcast when the
    survivor set is small, a doc_id co-partitioned join otherwise).
    Measured at sf0.1: 0.47 s vs 0.56 s for the window form -- the
    1.51 s in BENCH_r02 was VM throttle noise, but the join-back shape
    is what survives a 100x scale-up."""
    pin_session_conf(spark)
    filtered = (load(spark, sf_dir, "documents")
                .filter(F.col("lang").isin("en", "de", "fr")
                        & (F.length("text") >= 50)))
    keepers = (filtered.select(F.md5("text").alias("h"), "doc_id")
               .groupBy("h").agg(F.min("doc_id").alias("doc_id")))
    kept = filtered.join(keepers.select("doc_id"), "doc_id")
    return kept.select(
        "doc_id", "lang", "source",
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(_BPE_RE), F.lit(0)))
        .alias("n_tokens"),
        F.round(F.size(F.split("text", " ")).cast("double") / F.length("text"), 6)
        .alias("ws_token_density"))


@register("pipeline_pack_sequences", oracle=f"""
WITH tok AS (
    SELECT doc_id, g AS pos,
           regexp_extract_all(lower(text), '{_BPE_RE}')[CAST(g AS BIGINT) + 1] AS token
    FROM (SELECT doc_id, text FROM documents),
         LATERAL (SELECT unnest(generate_series(
             0, len(regexp_extract_all(lower(text), '{_BPE_RE}')) - 1)) AS g) gs
), cnts AS (
    SELECT doc_id, count(*) AS n FROM tok GROUP BY 1
), offs AS (
    SELECT doc_id,
           coalesce(sum(n) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS off
    FROM cnts
)
SELECT CAST((o.off + t.pos) // 512 AS BIGINT) AS chunk_id,
       count(*) AS n_tokens,
       CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
       min(t.token) AS min_token
FROM tok t JOIN offs o ON t.doc_id = o.doc_id
GROUP BY 1
""")
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate every document's token stream in
    doc_id order and cut it into fixed 512-token training chunks --
    the step that turns a deduped corpus into dense LM batches.

    Offsets are TWO-LEVEL so no global ordered window exists at ANY
    granularity (same recipe as stable_row_ids, relational.py):

    1. per-doc token counts (one aggregate over the token stream);
    2. docs range-shard on doc_id (shard = doc_id div 1000); the
       prefix sum within each shard is an ordinary partitioned window
       -- parallel across shards;
    3. per-shard token totals -> running shard offsets, a window over
       the ~n_docs/1000-row shard table only -- broadcast back;
    4. each token's global index = shard offset + in-shard doc offset
       + in-doc position, all expression-level.

    At 100 TB nothing row- OR doc-sized ever funnels through one
    reducer: the single-partition step touches only the shard table
    (thousands of rows for billions of docs). Chunks report token
    count (512 except the tail), docs spanned, and a content witness
    for the oracle."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower("text"), F.lit(_BPE_RE), F.lit(0))
    tok = (docs.select("doc_id", F.posexplode(toks).alias("pos", "token")))
    cnts = (tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
            .withColumn("shard", (F.col("doc_id") / 1000).cast("long")))
    from pyspark.sql import Window as W
    wdoc = (W.partitionBy("shard").orderBy("doc_id")
            .rowsBetween(W.unboundedPreceding, -1))
    within = cnts.withColumn(
        "local_off", F.coalesce(F.sum("n").over(wdoc), F.lit(0)))
    shard_tot = cnts.groupBy("shard").agg(F.sum("n").alias("sn"))
    wsh = W.orderBy("shard").rowsBetween(W.unboundedPreceding, -1)
    shard_off = shard_tot.select(
        "shard", F.coalesce(F.sum("sn").over(wsh), F.lit(0)).alias("soff"))
    offs = (within.join(F.broadcast(shard_off), "shard")
            .select("doc_id",
                    (F.col("soff") + F.col("local_off")).alias("off")))
    return (tok.join(offs, "doc_id")
            .groupBy(((F.col("off") + F.col("pos")) / 512).cast("long")
                     .alias("chunk_id"))
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.countDistinct("doc_id").alias("n_docs"),
                 F.min("token").alias("min_token")))


@register("text_repetition", oracle="""
WITH t AS (
    SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
), m AS (
    SELECT doc_id, len(ws) AS n,
           list_max(list_transform(list_distinct(ws),
                                   w -> len(list_filter(ws, x -> x = w))))
               AS mx,
           len(list_distinct(ws)) AS n_types,
           CASE WHEN len(ws) < 2 THEN []
                ELSE list_transform(generate_series(1, len(ws) - 1),
                                    i -> ws[i] || ' ' || ws[i + 1]) END AS big
    FROM t
)
SELECT doc_id,
       round(CAST(mx AS DOUBLE) / n, 4) AS top_unigram_frac,
       round(CAST(n_types AS DOUBLE) / n, 4) AS type_token_ratio,
       CASE WHEN len(big) = 0 THEN 0.0
            ELSE round(CAST(len(big) - len(list_distinct(big)) AS DOUBLE)
                       / len(big), 4) END AS dup_bigram_frac
FROM m
""")
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher/MassiveText rule
    family): fraction of tokens taken by the single most frequent
    token, type-token ratio, and the fraction of duplicated bigrams.
    Looping/boilerplate/SEO-spam documents light these up long before
    any LM sees them.

    All three are PER-ROW array expressions -- distinct/filter/
    zip-free counting inside the row, zero shuffles, embarrassingly
    parallel at any corpus size. The nested-lambda occurrence count is
    O(types x tokens) per document, bounded by document length -- the
    per-row constant a scan pipeline amortizes, not a join."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    ws = F.split(F.lower("text"), " ")
    m = docs.select(
        "doc_id", ws.alias("ws"),
        F.expr("array_max(transform(array_distinct(ws)"
               ", w -> size(filter(ws, x -> x = w))))").alias("mx"),
        F.size(F.array_distinct(ws)).alias("n_types"),
        F.size(ws).alias("n"),
        F.expr("CASE WHEN size(ws) < 2 THEN array()"
               " ELSE transform(sequence(1, size(ws) - 1),"
               "      i -> concat(element_at(ws, i), ' ',"
               "                  element_at(ws, i + 1))) END").alias("big"))
    n_big = F.size("big")
    return m.select(
        "doc_id",
        F.round(F.col("mx").cast("double") / F.col("n"), 4)
        .alias("top_unigram_frac"),
        F.round(F.col("n_types").cast("double") / F.col("n"), 4)
        .alias("type_token_ratio"),
        F.when(n_big == 0, F.lit(0.0))
        .otherwise(F.round((n_big - F.size(F.array_distinct("big")))
                           .cast("double") / n_big, 4))
        .alias("dup_bigram_frac"))


# Training-mix weights: per-source keep rates out of 1000. Sources not
# listed fall back to the default. Mirrored literally in the oracle.
_MIX_RATES = {"src0": 1000, "src1": 600, "src2": 300, "src3": 150}
_MIX_DEFAULT = 50


@register("pipeline_interleave", oracle=f"""
WITH gated AS (
    SELECT doc_id, source, lang,
           {knuth_hash_sql('doc_id')} % 1000 AS bucket,
           CASE source
                WHEN 'src0' THEN {_MIX_RATES['src0']}
                WHEN 'src1' THEN {_MIX_RATES['src1']}
                WHEN 'src2' THEN {_MIX_RATES['src2']}
                WHEN 'src3' THEN {_MIX_RATES['src3']}
                ELSE {_MIX_DEFAULT} END AS rate
    FROM documents
)
SELECT doc_id, source, lang,
       CAST({knuth_hash_sql('doc_id')} % 8 AS BIGINT) AS mix_shard
FROM gated WHERE bucket < rate
""")
def pipeline_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted source mixture -- the training-mix
    construction step: each source keeps a configured fraction of its
    documents (src0 100%, src1 60%, src2 30%, src3 15%, long tail 5%)
    and survivors get a stable mix_shard for round-robin interleaved
    reading downstream.

    The gate is the Knuth hash (hashing.py) of doc_id: per-row, no
    shuffle, no RNG state -- so the mix is restart-stable (a re-run of
    a failed stage keeps the same sample), oracle-checkable, and
    adjusting one source's weight leaves every other source's kept set
    untouched (unlike global random sampling). At 100 TB this runs as
    pure scan-side filtering; the mix_shard keeps downstream readers
    balanced without a repartition."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    hashed = knuth_hash(F.col("doc_id"))
    rate = F.when(F.col("source") == "src0", _MIX_RATES["src0"])
    for s in ("src1", "src2", "src3"):
        rate = rate.when(F.col("source") == s, _MIX_RATES[s])
    rate = rate.otherwise(_MIX_DEFAULT)
    return (docs.filter(hashed % 1000 < rate)
            .select("doc_id", "source", "lang",
                    (hashed % 8).alias("mix_shard")))


@register("text_winnow_fingerprint", oracle="""
WITH t AS (
    SELECT doc_id, substr(text, 1, 2048) AS s FROM documents
), kg AS (
    SELECT doc_id, g AS pos, md5(substr(s, CAST(g AS BIGINT), 8)) AS h,
           length(s) - 8 + 1 AS n_kg
    FROM t, LATERAL (SELECT unnest(generate_series(
        1, CAST(length(s) - 8 + 1 AS BIGINT))) AS g) gs
    WHERE length(s) >= 8
), mins AS (
    SELECT doc_id,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS mh
    FROM kg WHERE pos <= n_kg - 16 + 1
)
SELECT doc_id,
       CAST(count(DISTINCT mh) AS INTEGER) AS n_fp,
       md5(array_to_string(list_sort(list_distinct(list(mh))), '')) AS fp_digest
FROM mins GROUP BY doc_id
""")
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprint (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every 8-char k-gram (the rolling-hash result,
    computed portably as md5 so the oracle can reproduce it), slide a
    16-gram window, keep each window's minimum hash, and the distinct
    minima are the document's fingerprint set -- robust to insertions
    because any shared substring of length >= k+w-1 guarantees a shared
    fingerprint. Text is sampled to its first 2048 chars to bound
    fan-out. At 100 TB the per-doc fan-out is fixed (~2k rows/doc), the
    window is per-doc (no global shuffle), and the fingerprint SET --
    not the text -- is what any downstream copy-detection join touches."""
    pin_session_conf(spark)
    # r10 rewrite (guide §2.4 + §4.2): the k-gram stream is generated
    # per document IN ORDER, so the 16-gram sliding min never needed a
    # window -- the old posexplode + Window(doc_id) exchanged and
    # sorted ~2k rows/doc (tens of millions of 50-byte md5 rows at
    # sf0.1) to compute something each row already had locally. The
    # whole fingerprint now derives inside one Arrow batch pass:
    # hashlib md5 per k-gram (same UTF-8-bytes md5 as the SQL
    # function), numpy sliding-window min over the hex strings
    # (lexicographic on ASCII hex = the SQL min's byte order), sorted
    # distinct minima, digest. Zero shuffles, one output row per doc,
    # map-side. Docs with fewer than 16 k-grams (len < 23) produced no
    # window rows before and are filtered identically here. (A pure
    # expression form -- array_min over slice(transform(...)) -- was
    # rejected: nested higher-order lambdas re-evaluate the invariant
    # k-gram array per window position, a 2000x blowup.)
    docs = (load(spark, sf_dir, "documents")
            .select("doc_id", F.substring("text", 1, 2048).alias("s"))
            .filter(F.length("s") >= 8 + 16 - 1))
    # guide §2.5 (input skew): the fixture tables are single-row-group
    # parquet, so the scan is ONE task and the ~2k md5/doc Python
    # stage would run single-threaded. When the scan has fewer
    # partitions than cores, one cheap shuffle of (id, 2KB text)
    # spreads the hashing; at scale (many files) the condition is
    # false and no exchange is added.
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)

    def _winnow(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        win = np.lib.stride_tricks.sliding_window_view
        u64max = np.uint64(0xFFFFFFFFFFFFFFFF)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, nfps, digs = [], [], []
            for doc_id, s in zip(pdf["doc_id"], pdf["s"]):
                # md5 digests as (hi, lo) uint64 pairs: big-endian
                # 128-bit order IS the hex-string order, and numpy can
                # reduce integers where it cannot reduce strings.
                # contract quirk, kept bit-for-bit: the registered
                # shape filters k-gram starts to the first n_kg-15
                # BEFORE the window, so trailing windows TRUNCATE at
                # that boundary (the last 15 k-grams never contribute)
                # -- replicate by hashing only the first n_kg-15
                # k-grams and padding with a max sentinel the min
                # ignores.
                m = len(s) - 7 - 15
                raw = b"".join(
                    hashlib.md5(s[i:i + 8].encode("utf-8")).digest()
                    for i in range(m))
                v = np.frombuffer(raw, dtype=">u8").reshape(-1, 2)
                pad = np.full(15, u64max)
                hi = np.concatenate([v[:, 0].astype(np.uint64), pad])
                lo = np.concatenate([v[:, 1].astype(np.uint64), pad])
                hw, lw = win(hi, 16), win(lo, 16)
                mh = hw.min(axis=1)
                ml = np.where(hw == mh[:, None], lw, u64max).min(axis=1)
                u = np.unique(np.stack([mh, ml], axis=1), axis=0)
                # unique(axis=0) dedupes by raw row bytes (endian-
                # dependent order); re-sort numerically = hex order
                u = u[np.lexsort((u[:, 1], u[:, 0]))]
                fps = [f"{int(a):016x}{int(b):016x}" for a, b in u]
                ids.append(doc_id)
                nfps.append(len(fps))
                digs.append(hashlib.md5("".join(fps).encode("utf-8"))
                            .hexdigest())
            yield pd.DataFrame({"doc_id": ids, "n_fp": nfps,
                                "fp_digest": digs})

    return docs.mapInPandas(
        _winnow, "doc_id bigint, n_fp int, fp_digest string")


@register("text_pii_redact", oracle="""
WITH injected AS (
    SELECT doc_id,
           text || ' Contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com or call 555-'
                || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.' AS s
    FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(s,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER)
           AS n_emails,
       CAST(len(regexp_extract_all(s, '\\d{3}-\\d{3}-\\d{4}')) AS INTEGER)
           AS n_phones,
       md5(regexp_replace(regexp_replace(s,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\\d{3}-\\d{3}-\\d{4}', '<PHONE>', 'g')) AS redacted_md5
FROM injected
""")
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training data: find-and-mask emails and phone
    numbers, returning per-doc redaction counts and an md5 of the
    redacted text (so the oracle certifies the masking byte-for-byte,
    not just the counts). The synthetic corpus carries no organic PII,
    so a deterministic doc_id-derived email+phone suffix is appended
    first -- the SAME injection in Spark and DuckDB -- making the
    redaction path actually exercise matches at every scale factor.

    Both regex dialects (Java here, RE2 in the oracle) are backtracking-
    free on these patterns, so matches agree. At 100 TB this is a pure
    map op inside whole-stage codegen: no shuffle, no UDF; the regexes
    are the only cost and scale linearly with bytes scanned."""
    pin_session_conf(spark)
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\d{3}-\d{3}-\d{4}"
    s = F.concat(
        F.col("text"), F.lit(" Contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"), F.lit("."))
    redacted = F.regexp_replace(
        F.regexp_replace(s, email, "<EMAIL>"), phone, "<PHONE>")
    return (load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.regexp_extract_all(s, F.lit(email), F.lit(0)))
        .alias("n_emails"),
        F.size(F.regexp_extract_all(s, F.lit(phone), F.lit(0)))
        .alias("n_phones"),
        F.md5(redacted).alias("redacted_md5")))


@register("pipeline_decontaminate", bench=True, oracle="""
WITH w AS (
    SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
), sh AS (
    SELECT doc_id, array_to_string(list_slice(ws, g, g + 7), ' ') AS g8
    FROM w, LATERAL (SELECT unnest(generate_series(
        1, CAST(len(ws) - 7 AS BIGINT))) AS g) gs
    WHERE len(ws) >= 8
), bench AS (
    SELECT DISTINCT g8 FROM sh WHERE doc_id % 20 = 0
), hits AS (
    SELECT s.doc_id, count(DISTINCT s.g8) AS n_overlap
    FROM sh s JOIN bench b ON s.g8 = b.g8
    WHERE s.doc_id % 20 <> 0
    GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(h.n_overlap, 0) AS INTEGER) AS n_overlap,
       coalesce(h.n_overlap, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % 20 <> 0
""")
def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: flag training documents sharing any
    8-word shingle with the held-out benchmark set (docs with
    doc_id % 20 == 0 stand in for the benchmark). This is the standard
    LLM-corpus hygiene step -- exact n-gram collision against the eval
    suites -- expressed as shingle explode + semi-join.

    Scale shape: the benchmark side is tiny (eval suites are MBs, the
    corpus is TBs), so its distinct shingle set is BROADCAST -- the
    corpus-side shingles stream past it map-side with no shuffle of
    corpus data at all; only the per-doc overlap count aggregates.
    Joining the raw shingle strings keeps the count exact; at 100 TB
    the join key would be xxhash64(shingle) with the string kept only
    for collision re-check."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    # Materialize the word array in its own projection BEFORE the
    # shingle lambda: an expression inside transform()'s lambda is
    # re-evaluated per index, so an inline split(lower(text)) would
    # tokenize every document ~n_words times (measured 3x slower).
    with_ws = (docs.select("doc_id", F.split(F.lower("text"), " ").alias("ws"))
               .where(F.size("ws") >= 8))
    sh = (with_ws.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(1, size(ws) - 7),"
            " i -> concat_ws(' ', slice(ws, i, 8)))")).alias("g8")))
    bench = (sh.where(F.col("doc_id") % 20 == 0).select("g8").distinct())
    hits = (sh.where(F.col("doc_id") % 20 != 0)
            .join(F.broadcast(bench), "g8")
            .groupBy("doc_id")
            .agg(F.countDistinct("g8").alias("n_overlap")))
    return (docs.where(F.col("doc_id") % 20 != 0).select("doc_id")
            .join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_overlap", F.lit(0)).cast("int")
                    .alias("n_overlap"),
                    (F.coalesce("n_overlap", F.lit(0)) > 0)
                    .alias("contaminated")))


@register("text_unigram_logprob", oracle="""
WITH words AS (
    SELECT doc_id, w
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          FROM documents)
    WHERE w <> ''
), vocab AS (
    SELECT w, count(*) AS c FROM words GROUP BY 1
), tot AS (
    SELECT sum(c) AS t FROM vocab
)
SELECT doc_id,
       CAST(count(*) AS INTEGER) AS n_tokens,
       round(avg(-ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))), 4) AS avg_nll
FROM words JOIN vocab USING (w) CROSS JOIN tot
GROUP BY doc_id
""")
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-model quality scoring: train a unigram LM on the corpus
    itself (word -> count / total) and score each document by its
    average negative log-likelihood -- the cheap 'perplexity-ish'
    filter every training-data pipeline runs to catch gibberish (high
    NLL) and boilerplate (abnormally low NLL).

    Scale shape: the vocabulary aggregate is map-side combinable and
    its result (distinct words) is orders of magnitude smaller than
    the corpus -- it is BROADCAST back, so the scoring join never
    shuffles corpus rows; the only corpus-sized shuffle is the per-doc
    re-aggregation. The total-count scalar rides along as a broadcast
    single-row cross join, not a driver round-trip."""
    pin_session_conf(spark)
    words = (load(spark, sf_dir, "documents")
             .select("doc_id", F.explode(F.split(F.lower("text"), " "))
                     .alias("w"))
             .where(F.col("w") != ""))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = vocab.agg(F.sum("c").alias("t"))
    nll = -F.log(F.col("c").cast("double") / F.col("t").cast("double"))
    return (words.join(F.broadcast(vocab), "w")
            .crossJoin(F.broadcast(tot))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("int").alias("n_tokens"),
                 F.round(F.avg(nll), 4).alias("avg_nll")))


@register("pipeline_chunk_documents", oracle="""
WITH w AS (
    SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), chunks AS (
    SELECT doc_id,
           CAST((g - 1) / 24 AS INTEGER) AS chunk_idx,
           array_to_string(list_slice(ws, g, g + 31), ' ') AS chunk_text,
           CAST(least(len(ws) - g + 1, 32) AS INTEGER) AS n_tokens
    FROM w, LATERAL (SELECT unnest(generate_series(
        1, CAST(len(ws) AS BIGINT), 24)) AS g) gs
)
SELECT doc_id, chunk_idx, chunk_text, n_tokens FROM chunks
""")
def pipeline_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking for embedding pipelines: 32
    whitespace tokens per chunk with an 8-token overlap (stride 24),
    each chunk carrying (doc_id, chunk_idx, token count) so downstream
    similarity hits map back to their source span. The trailing chunk
    is kept even when short -- dropping it would silently lose up to a
    stride of every document's tail.

    Scale shape: pure per-document map fan-out inside codegen (the
    word array is projected ONCE before the window lambda); no
    shuffle at all -- chunking 100 TB is embarrassingly parallel and
    the output lands partition-aligned with its input for the
    embedding stage that follows."""
    pin_session_conf(spark)
    stride, width = 24, 32
    with_ws = (load(spark, sf_dir, "documents")
               .select("doc_id", F.split("text", " ").alias("ws")))
    chunk = F.explode(F.expr(
        f"transform(sequence(1, size(ws), {stride}),"
        f" g -> struct(cast((g - 1) div {stride} as int) as chunk_idx,"
        f"            concat_ws(' ', slice(ws, g, {width})) as chunk_text,"
        f"            cast(least(size(ws) - g + 1, {width}) as int)"
        f"                as n_tokens))"))
    return (with_ws.select("doc_id", chunk.alias("c"))
            .select("doc_id", "c.chunk_idx", "c.chunk_text", "c.n_tokens"))


@register("pipeline_end_to_end", oracle="""
WITH scored AS (
    SELECT doc_id, text,
           len(string_split(lower(text), ' ')) AS n_q,
           length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
               AS n_punct,
           length(text) AS n_chars
    FROM documents
), kept AS (
    SELECT doc_id, text FROM scored
    WHERE n_q BETWEEN 10 AND 1000
      AND CAST(n_punct AS DOUBLE) / n_chars < 0.1
), uniq AS (
    SELECT min(doc_id) AS doc_id,
           max(len(string_split(text, ' '))) AS n_tokens
    FROM kept GROUP BY md5(text)
)
SELECT doc_id,
       CAST(n_tokens AS INTEGER) AS n_tokens,
       CAST(1 + (n_tokens - 1) // 24 AS INTEGER) AS n_chunks
FROM uniq
""")
def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data pipeline composed end to end: C4-style quality
    gate -> exact dedup (min doc_id per content hash) -> 32/24
    sliding-window chunk plan, reported as (survivor doc, token count,
    chunk count). One registered query certifying the STAGES COMPOSE --
    each stage is also oracle-checked alone (text_quality, dedup_exact,
    pipeline_chunk_documents).

    Scale shape: the gate is a map filter (pushed to the scan for
    stored columns), dedup shuffles a 16-byte digest + doc_id + one
    int (the token count, computed BEFORE the shuffle -- the text
    itself never moves), and the chunk count is arithmetic on that
    count, so the composition adds exactly ONE shuffle to the scan."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    q_ws = F.split(F.lower("text"), " ")
    n_chars = F.length("text")
    n_punct = n_chars - F.length(F.regexp_replace("text", "[^a-z0-9 ]", ""))
    kept = docs.where(F.size(q_ws).between(10, 1000)
                      & (n_punct.cast("double") / n_chars < 0.1))
    uniq = (kept.select(F.md5("text").alias("h"), "doc_id",
                        F.size(F.split("text", " ")).alias("n_tokens"))
            .groupBy("h")
            .agg(F.min("doc_id").alias("doc_id"),
                 F.max("n_tokens").alias("n_tokens")))
    return uniq.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        (F.lit(1) + F.floor((F.col("n_tokens") - 1) / 24)).cast("int")
        .alias("n_chunks"))


_QM_AUC_BAND = 0.6  # contract band; the local test gates 0.8


def text_quality_model_scores(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Learned quality scorer (the CCNet/DCLM pattern): distill a
    heuristic gate into a fast classifier so the expensive rule -- in
    real pipelines an LM-perplexity or human-label signal -- is paid
    on a TRAINING SAMPLE only, and the whole corpus is scored by one
    hashed-features model pass. Here the teacher signal is the
    stopword-density rule (docs above the corpus-median stopword ratio
    = positive): deterministic, so the experiment reproduces bit-wise.

    Spark shape: RegexTokenizer -> HashingTF(4096) -> binary logistic
    regression, trained on the Knuth-hash 70% split (restart-stable,
    §2.7) and scored over ALL docs map-side (the model is a broadcast
    weight vector; scoring shuffles nothing). The corpus-median
    teacher threshold rides a broadcast 1-row cross join inside the
    same lazy plan (no driver round-trip). At 100 TB
    the fit sees a bounded sample while scoring stays a linear scan --
    exactly how fastText-style quality filters run over Common Crawl.
    Tests gate held-out AUC >= 0.8 (observed ~0.99 at sf0.001)."""
    pin_session_conf(spark)
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, RegexTokenizer
    from pyspark.ml.functions import vector_to_array

    docs = (load(spark, sf_dir, "documents")
            .where(F.col("text").isNotNull()).select("doc_id", "text"))
    ws = F.split(F.lower("text"), " ")
    ratio = (F.size(F.filter(ws, lambda w: w.isin(*_STOPWORDS)))
             .cast("double") / F.size(ws))
    with_r = docs.withColumn("sw_ratio", ratio)
    # corpus-median teacher threshold as a broadcast 1-row cross join,
    # NOT a driver collect: the label stays one lazy plan, so the
    # threshold job folds into whatever action consumes `labeled`
    # (previously this was the repo's third bounded collect site).
    # The threshold quantizes at 1e-8 (the text_ccnet_buckets recipe)
    # so Spark's percentile() and DuckDB's quantile_cont() agree on
    # every label the text_quality_model contract counts.
    # r11 (guide §5): labeled is consumed by BOTH the pipeline fit and
    # the scoring transform, so an un-materialized threshold re-ran
    # the whole ratio scan + percentile once per consumer; the eager
    # checkpoint pins the 1-row threshold after a single pass.
    thr_df = with_r.agg(
        (F.floor(F.expr("percentile(sw_ratio, 0.5)") * 1e8 + F.lit(0.5))
         / 1e8).alias("_thr")).localCheckpoint(eager=True)
    labeled = with_r.crossJoin(F.broadcast(thr_df)).select(
        "doc_id", "text",
        (F.col("sw_ratio") > F.col("_thr")).cast("double").alias("label"),
        F.when(knuth_hash(F.col("doc_id")) % 10 < 7,
               "train").otherwise("test").alias("split"))
    pipe = Pipeline(stages=[
        RegexTokenizer(inputCol="text", outputCol="tokens",
                       pattern=r"\s+", toLowercase=True),
        HashingTF(inputCol="tokens", outputCol="features",
                  numFeatures=1 << 12),
        LogisticRegression(maxIter=30, regParam=1e-3,
                           featuresCol="features", labelCol="label"),
    ])
    fitted = pipe.fit(labeled.where(F.col("split") == "train"))
    # Persist + reload before scoring (the production shape: models are
    # artifacts, not driver objects). Also load-bearing here: a fitted
    # LogisticRegressionModel carries a trainingSummary that references
    # the live SparkSession (whose ObservationManager is not Java-
    # serializable once observe() queries have registered), so scoring
    # with the in-memory model can fail task serialization in a shared
    # session; the reloaded model has no summary and no session ref.
    from recommendation_system_spark_ml_spark.session import scratch_path
    model_path = scratch_path(sf_dir, "quality_model")
    fitted.write().overwrite().save(model_path)
    from pyspark.ml import PipelineModel
    model = PipelineModel.load(model_path)
    scored = model.transform(labeled)
    return scored.select(
        "doc_id", "split", F.col("label").cast("int").alias("label"),
        F.round(vector_to_array("probability")[1], 4).alias("quality_score"))


@register("text_quality_model", oracle=f"""
WITH d AS (
    SELECT doc_id,
           len(list_filter(string_split(lower(text), ' '),
                           w -> w IN ('{_SW_SQL}'))) * 1.0
               / len(string_split(lower(text), ' ')) AS sw_ratio
    FROM documents WHERE text IS NOT NULL
),
thr AS (SELECT floor(quantile_cont(sw_ratio, 0.5) * 1e8 + 0.5) / 1e8 AS t
        FROM d),
lab AS (
    SELECT doc_id,
           CASE WHEN sw_ratio > t THEN 1 ELSE 0 END AS label,
           CASE WHEN {knuth_hash_sql('doc_id')} % 10 < 7
                THEN 'train' ELSE 'test' END AS split
    FROM d, thr
)
SELECT CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_train,
       CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_test,
       CAST(sum(CASE WHEN split = 'train' AND label = 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_train_pos,
       CAST(sum(CASE WHEN split = 'test' AND label = 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_test_pos,
       TRUE AS test_auc_acceptable
FROM lab
""")
def text_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashable contract over text_quality_model_scores (r7 verdict
    task 4): the oracle recomputes the ENTIRE deterministic half of
    the experiment -- stopword-ratio teacher, 1e-8-quantized corpus
    median, Knuth 70/30 split -- and pins the four split/label counts
    as exact cross-engine integers, so the teacher labeling and the
    split gate are hash-verified end to end. The one thing SQL cannot
    replay (hashed-features logistic regression weights) enters as a
    held-out-AUC band boolean: test AUC >= _QM_AUC_BAND = 0.6 (observed
    ~0.99 at every SF; the local test gates the tighter 0.8). The
    band is wide enough that crossing it means the PIPELINE broke
    (labels shuffled, split leaked, scores inverted), not that the
    data got unlucky -- the r6 HLL-bound lesson applied to a learned
    metric; degenerate corpora where the test split has a single
    class short-circuit to TRUE because AUC is undefined there.
    The production per-doc score table is text_quality_model_scores,
    trained and scored in full here."""
    pin_session_conf(spark)
    scores = text_quality_model_scores(spark, sf_dir).cache()
    counts = scores.agg(
        F.sum((F.col("split") == "train").cast("long")).alias("n_train"),
        F.sum((F.col("split") == "test").cast("long")).alias("n_test"),
        F.sum(((F.col("split") == "train") & (F.col("label") == 1))
              .cast("long")).alias("n_train_pos"),
        F.sum(((F.col("split") == "test") & (F.col("label") == 1))
              .cast("long")).alias("n_test_pos"))
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    test = scores.where(F.col("split") == "test").select(
        F.col("quality_score").alias("raw"),
        F.col("label").cast("double").alias("label"))
    n_test, n_pos = test.agg(
        F.count(F.lit(1)), F.sum("label")).first()
    if n_pos is None or n_pos == 0 or n_pos == n_test:
        auc_ok = True  # AUC undefined on a single-class test split
    else:
        auc = BinaryClassificationEvaluator(
            rawPredictionCol="raw", labelCol="label",
            metricName="areaUnderROC").evaluate(test)
        auc_ok = auc >= _QM_AUC_BAND
    scores.unpersist()
    return counts.select(
        "n_train", "n_test", "n_train_pos", "n_test_pos",
        F.lit(bool(auc_ok)).alias("test_auc_acceptable"))


N_CURRICULUM_SHARDS = 8


@register("pipeline_curriculum", oracle=f"""
WITH m AS (
    SELECT doc_id,
           len(list_filter(string_split(lower(text), ' '),
                           w -> w IN ('{_SW_SQL}'))) * 1.0
               / len(string_split(lower(text), ' ')) AS score
    FROM documents
), r AS (
    SELECT doc_id, score,
           row_number() OVER (ORDER BY score DESC, doc_id) AS rn
    FROM m
)
SELECT doc_id,
       floor(score * 10000 + 0.5) / 10000 AS quality,
       CAST(rn AS BIGINT) AS curriculum_rank,
       CAST((rn - 1) % {N_CURRICULUM_SHARDS} AS BIGINT) AS shard
FROM r
""")
def pipeline_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum sharding: the LAST stage of a training-data pipeline
    -- order the corpus by a quality signal (here the deterministic
    stopword-density score; a deployment plugs in text_quality_model's
    learned score) and deal rows round-robin into training shards, so
    (a) the global order IS the curriculum and (b) every shard gets
    the same quality mixture -- the stratification data loaders want
    when they read shards in parallel.

    The global ORDER BY never runs as a single-reducer sort: the
    two-level recipe (window_ntile / stable_row_ids) range-buckets the
    score, ranks inside buckets in parallel, and lifts to global ranks
    with a broadcast per-bucket offset table -- at 100 TB the only
    global object is the ~30-row bucket table. The oracle is the
    single-window definition, certifying the distributed rank is
    IDENTICAL to the naive global sort's."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    ws = F.split(F.lower("text"), " ")
    score = (F.size(F.filter(ws, lambda w: w.isin(*_STOPWORDS)))
             .cast("double") / F.size(ws))
    scored = docs.select("doc_id", score.alias("score"))
    # descending curriculum: bucket by -score so bucket ASC == global
    # DESC order; ~35 buckets over the observed [0, 0.35] score range.
    from recommendation_system_spark_ml_spark.operators.scale import (
        two_level_global_rank)
    ranked = two_level_global_rank(
        scored, F.floor(-F.col("score") * 100).cast("long"),
        [F.col("score").desc(), F.col("doc_id").asc()], out="rn")
    rn = F.col("rn")
    return ranked.select(
        "doc_id",
        (F.floor(F.col("score") * 10000 + F.lit(0.5)) / 10000.0)
        .alias("quality"),
        rn.alias("curriculum_rank"),
        ((rn - 1) % N_CURRICULUM_SHARDS).cast("long").alias("shard"))


TOKEN_BUDGET = 10_000  # absolute token budget for the selection


@register("pipeline_token_budget", oracle=f"""
WITH m AS (
    SELECT doc_id,
           len(list_filter(string_split(lower(text), ' '),
                           w -> w IN ('{_SW_SQL}'))) * 1.0
               / len(string_split(lower(text), ' ')) AS score,
           len(string_split(lower(text), ' ')) AS ntokens
    FROM documents
), r AS (
    SELECT doc_id, score, ntokens,
           sum(ntokens) OVER (ORDER BY score DESC, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum
    FROM m
)
SELECT doc_id,
       CAST(ntokens AS BIGINT) AS ntokens,
       CAST(cum AS BIGINT) AS cum_tokens,
       floor(score * 10000 + 0.5) / 10000 AS quality
FROM r WHERE cum <= {TOKEN_BUDGET}
""")
def pipeline_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: every pretraining run starts
    from "we can afford B tokens" -- keep the highest-quality
    documents, in quality order, until the cumulative token count
    reaches the budget (here B={TOKEN_BUDGET:,}; the score is the
    deterministic stopword-density signal shared with
    pipeline_curriculum, a deployment plugs in text_quality_model's
    learned score).

    The global cumulative sum never runs as a single-reducer sort:
    two_level_running_sum (operators/scale.py) range-buckets the
    score, running-sums inside buckets in parallel, and lifts to
    global totals with a broadcast per-bucket offset table -- the
    cumulative-sum sibling of the curriculum's two-level rank; at
    100 TB the only global object is the ~35-row bucket-total table.
    The budget filter is applied AFTER the lift, map-side. The oracle
    is the naive single-window definition, certifying the distributed
    cumsum is identical. Token counts are integers, so the running
    sum is exact on both engines (no float-order noise)."""
    pin_session_conf(spark)
    from recommendation_system_spark_ml_spark.operators.scale import (
        two_level_running_sum)

    docs = load(spark, sf_dir, "documents")
    ws = F.split(F.lower("text"), " ")
    score = (F.size(F.filter(ws, lambda w: w.isin(*_STOPWORDS)))
             .cast("double") / F.size(ws))
    scored = docs.select("doc_id", score.alias("score"),
                         F.size(ws).cast("long").alias("ntokens"))
    cum = two_level_running_sum(
        scored, F.floor(-F.col("score") * 100).cast("long"),
        [F.col("score").desc(), F.col("doc_id").asc()],
        F.col("ntokens"), out="cum")
    return (cum.where(F.col("cum") <= TOKEN_BUDGET)
            .select("doc_id", "ntokens",
                    F.col("cum").cast("long").alias("cum_tokens"),
                    (F.floor(F.col("score") * 10000 + F.lit(0.5)) / 10000.0)
                    .alias("quality")))


pipeline_token_budget.__doc__ = pipeline_token_budget.__doc__.replace(
    "{TOKEN_BUDGET:,}", f"{TOKEN_BUDGET:,}")


# Gopher rule thresholds (Rae et al. 2021, §A1.1 -- public paper).
# Bounds are integers so every rule below evaluates in exact integer
# arithmetic on both engines (no float-tie risk). The paper's English
# stop list (the/be/to/of/and/that/have/with) is swapped for the
# corpus function-word list _STOPWORDS -- the synthetic vocabulary
# contains almost none of the paper's words, which would make the
# >= 2-distinct rule constant-false; the rule SHAPE is unchanged.
_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS = 50, 100_000
_GOPHER_STOPWORDS = _STOPWORDS
_GOPHER_SW_SQL = "', '".join(_GOPHER_STOPWORDS)


@register("text_gopher_rules", oracle=f"""
WITH t AS (
    SELECT doc_id, text, string_split(lower(text), ' ') AS ws
    FROM documents
), m AS (
    SELECT doc_id,
           len(ws) AS n_words,
           length(text) - (len(ws) - 1) AS sum_len,
           len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_sym,
           len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
               AS n_alpha,
           len(list_distinct(list_filter(
               ws, w -> w IN ('{_GOPHER_SW_SQL}')))) AS n_stop
    FROM t
)
SELECT doc_id,
       CAST(n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
            AS INTEGER) AS r_word_count,
       CAST(3 * n_words <= sum_len AND sum_len <= 10 * n_words
            AS INTEGER) AS r_mean_word_len,
       CAST(10 * n_sym <= n_words AS INTEGER) AS r_symbol_ratio,
       CAST(5 * n_alpha >= 4 * n_words AS INTEGER) AS r_alpha_words,
       CAST(n_stop >= 2 AS INTEGER) AS r_stopwords,
       CAST(n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
            AND 3 * n_words <= sum_len AND sum_len <= 10 * n_words
            AND 10 * n_sym <= n_words
            AND 5 * n_alpha >= 4 * n_words
            AND n_stop >= 2 AS INTEGER) AS gopher_pass
FROM m
""")
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher/MassiveText document-quality rule set (Rae et al.
    2021, public paper) as per-rule flags plus the conjunction gate:
    word count in [50, 100k], mean word length in [3, 10], symbol
    ('#'/'...')-to-word ratio <= 0.1, >= 80% of words containing an
    alphabetic character, and >= 2 distinct stop words present.
    Complements text_repetition (the same paper's repetition family)
    and text_quality (the C4 gate).

    Every threshold is evaluated in EXACT integer arithmetic -- ratios
    are stated as cross-multiplications (10 * n_sym <= n_words, not
    n_sym / n_words <= 0.1) so the oracle comparison has zero float
    surface. Mean word length uses sum_len = length(text) - (n_words
    - 1): exact for the single-space tokenization this corpus has, and
    one subtraction instead of a per-word length reduction. All rules
    are per-row map work inside one scan projection -- zero shuffles,
    embarrassingly parallel at 100 TB."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    ws = F.split(F.lower("text"), " ")
    n_words = F.size(ws)
    sum_len = F.length("text") - (n_words - 1)
    n_sym = F.size(F.regexp_extract_all("text", F.lit(r"#|\.\.\."), F.lit(0)))
    n_alpha = F.size(F.filter(ws, lambda w: w.rlike("[a-z]")))
    n_stop = F.size(F.array_distinct(
        F.filter(ws, lambda w: w.isin(*_GOPHER_STOPWORDS))))
    r1 = n_words.between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
    r2 = (3 * n_words <= sum_len) & (sum_len <= 10 * n_words)
    r3 = 10 * n_sym <= n_words
    r4 = 5 * n_alpha >= 4 * n_words
    r5 = n_stop >= 2
    return docs.select(
        "doc_id",
        r1.cast("int").alias("r_word_count"),
        r2.cast("int").alias("r_mean_word_len"),
        r3.cast("int").alias("r_symbol_ratio"),
        r4.cast("int").alias("r_alpha_words"),
        r5.cast("int").alias("r_stopwords"),
        (r1 & r2 & r3 & r4 & r5).cast("int").alias("gopher_pass"))


@register("pipeline_domain_mixture", oracle=f"""
WITH c AS (
    SELECT lang, count(*) AS cnt FROM documents GROUP BY lang
), k AS (
    SELECT lang, cnt,
           CAST(floor(1000 * sqrt(CAST((SELECT min(cnt) FROM c) AS DOUBLE))
                      / sqrt(CAST(cnt AS DOUBLE))) AS BIGINT) AS cutoff
    FROM c
)
SELECT d.doc_id, d.lang, k.cutoff AS keep_per_mille
FROM documents d JOIN k ON d.lang = k.lang
WHERE {knuth_hash_sql('d.doc_id')} % 1000 < k.cutoff
""")
def pipeline_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain rebalancing (the mT5/XLM-R multi-
    lingual sampling rule, public papers): target share per domain
    proportional to count^alpha with alpha = 0.5, realized as a
    deterministic per-row keep rate. rate_d = sqrt(min_cnt / cnt_d),
    so the SMALLEST domain keeps everything and each larger domain is
    downsampled toward the flattened mixture. Unlike
    pipeline_interleave (hand-specified per-source rates), the rates
    here are DERIVED from corpus statistics -- the two compose:
    measure, rebalance, interleave.

    Cross-engine float discipline: the only float is the single
    expression floor(1000 * sqrt(min) / sqrt(cnt)) -- two correctly-
    rounded IEEE sqrts and one division, written with identical
    association on both engines, then floored to an integer cutoff;
    the keep gate itself is the integer Knuth hash (hashing.py).

    Scale shape: the domain-count table is a map-side-combinable agg
    over a low-cardinality key (5 langs here; domains are bounded in
    practice), the cutoff table is broadcast back, and the gate is a
    map filter -- one tiny shuffle for the counts, zero for the data
    path. At 100 TB the gate never materializes a shuffled copy of
    the corpus."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    mn = c.agg(F.min("cnt").alias("min_cnt"))
    k = (c.crossJoin(F.broadcast(mn))
         .select("lang",
                 F.floor(F.lit(1000)
                         * F.sqrt(F.col("min_cnt").cast("double"))
                         / F.sqrt(F.col("cnt").cast("double")))
                 .alias("keep_per_mille")))
    gate = knuth_hash(F.col("doc_id")) % F.lit(1000)
    return (docs.join(F.broadcast(k), "lang")
            .where(gate < F.col("keep_per_mille"))
            .select("doc_id", "lang", "keep_per_mille"))


@register("pipeline_funnel_report", oracle=f"""
WITH raw AS (
    SELECT doc_id, text,
           len(string_split(text, ' ')) AS nt,
           len(string_split(lower(text), ' ')) AS n_q,
           length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
               AS n_punct,
           length(text) AS n_chars
    FROM documents
), q AS (
    SELECT doc_id, text, nt, n_q FROM raw
    WHERE n_q BETWEEN 10 AND 1000
      AND CAST(n_punct AS DOUBLE) / n_chars < 0.1
), g AS (
    SELECT doc_id, text, nt FROM q
    WHERE n_q BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
      AND len(list_distinct(list_filter(
              string_split(lower(text), ' '),
              w -> w IN ('{_GOPHER_SW_SQL}')))) >= 2
), u AS (
    SELECT min(doc_id) AS doc_id, max(nt) AS nt
    FROM g GROUP BY md5(text)
)
SELECT CAST(0 AS INTEGER) AS stage_ord, 'raw' AS stage,
       count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens FROM raw
UNION ALL
SELECT 1, 'quality_gate', count(*), CAST(sum(nt) AS BIGINT) FROM q
UNION ALL
SELECT 2, 'gopher_gate', count(*), CAST(sum(nt) AS BIGINT) FROM g
UNION ALL
SELECT 3, 'exact_dedup', count(*), CAST(sum(nt) AS BIGINT) FROM u
""")
def pipeline_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-funnel accounting: docs and tokens surviving each pipeline
    stage (raw -> C4 quality gate -> Gopher gate -> exact dedup), the
    per-batch observability table every production training-data
    pipeline publishes (and the number the 'how many tokens did we
    keep' audit asks for). Stage definitions are shared verbatim with
    text_quality / text_gopher_rules / dedup_exact, so the funnel
    certifies the COMPOSITION'S bookkeeping, not new semantics.

    Scale shape: one scan feeds all four stage aggregates; the raw and
    gated counts are map-side-combinable global aggs (a few bytes per
    partition over the wire), and the dedup stage shuffles the 16-byte
    digest + two ints -- text never moves (pipeline_docs convention).
    The four 1-row aggregates union into a 4-row result: driver-safe
    at any corpus size."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    q_ws = F.split(F.lower("text"), " ")
    n_chars = F.length("text")
    n_punct = n_chars - F.length(F.regexp_replace("text", "[^a-z0-9 ]", ""))
    raw = docs.select(
        "doc_id", "text", F.size(F.split("text", " ")).alias("nt"),
        F.size(q_ws).alias("n_q"), n_punct.alias("n_punct"),
        n_chars.alias("n_chars"))
    q = raw.where(F.col("n_q").between(10, 1000)
                  & (F.col("n_punct").cast("double") / F.col("n_chars")
                     < 0.1)).select("doc_id", "text", "nt", "n_q")
    n_stop = F.size(F.array_distinct(
        F.filter(q_ws, lambda w: w.isin(*_GOPHER_STOPWORDS))))
    g = q.where(F.col("n_q").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
                & (n_stop >= 2)).select("doc_id", "text", "nt")
    u = (g.select(F.md5("text").alias("h"), "doc_id", "nt")
         .groupBy("h")
         .agg(F.min("doc_id").alias("doc_id"), F.max("nt").alias("nt")))

    def stage(df, ord_, name):
        return df.agg(
            F.lit(ord_).cast("int").alias("stage_ord"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"))

    return (stage(raw, 0, "raw")
            .unionByName(stage(q, 1, "quality_gate"))
            .unionByName(stage(g, 2, "gopher_gate"))
            .unionByName(stage(u, 3, "exact_dedup")))


@register("pipeline_dsir_importance", oracle=f"""
WITH words AS (
    SELECT doc_id, w
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          FROM documents)
    WHERE w <> ''
), tgt_docs AS (
    SELECT doc_id FROM (
        SELECT doc_id,
               len(string_split(lower(text), ' ')) AS n_q,
               len(list_distinct(list_filter(
                   string_split(lower(text), ' '),
                   x -> x IN ('{_GOPHER_SW_SQL}')))) AS n_stop
        FROM documents)
    WHERE n_q BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
      AND n_stop >= 2
), tw AS (
    SELECT w, count(*) AS c
    FROM words JOIN tgt_docs USING (doc_id) GROUP BY 1
), vocab AS (
    SELECT w, count(*) AS c FROM words GROUP BY 1
), vv AS (
    SELECT count(*) AS v FROM vocab
), tt AS (
    SELECT COALESCE(sum(c), 0) AS t FROM tw
), ts AS (
    SELECT sum(c) AS t FROM vocab
), scored AS (
    SELECT words.doc_id,
           ln((COALESCE(tw.c, 0) + 1) * 1.0 / (tt.t + vv.v))
           - ln((vocab.c + 1) * 1.0 / (ts.t + vv.v)) AS lr
    FROM words
    JOIN vocab USING (w)
    LEFT JOIN tw USING (w)
    CROSS JOIN vv CROSS JOIN tt CROSS JOIN ts
)
SELECT doc_id,
       CAST(count(*) AS INTEGER) AS n_tokens,
       round(sum(lr), 4) AS log_importance,
       CAST(sum(lr) > 0 AS INTEGER) AS selected
FROM scored GROUP BY doc_id
""")
def pipeline_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023, public
    paper): score every document by how much more likely it is under a
    TARGET unigram model than under the SOURCE (whole-corpus) model,
    log w(x) = sum_tokens [ln p_t(w) - ln p_s(w)], and select the
    documents the target distribution up-weights (w > 1). The target
    here is the corpus subset passing the shared Gopher word-count +
    stop-word gate (a deployment plugs in a Wikipedia-like reference
    corpus); both models are Laplace-smoothed over the shared
    vocabulary, so absent-from-target words are defined and an
    empty-target corpus degrades gracefully instead of dividing by
    zero.

    The selected flag thresholds the raw log-sum at 0: each term is
    the log of a rational ratio (irrational except exactly 1.0, where
    both engines produce literal 0.0), so the comparison cannot sit on
    a cross-engine 1-ulp boundary; the reported score is rounded to 4
    decimals, coarse vs summation-order noise (the unigram_logprob
    convention).

    Scale shape: both vocab aggregates are map-side combinable and
    their results broadcast back (distinct words << corpus tokens);
    the three scalars ride broadcast single-row cross joins; the only
    corpus-sized shuffle is the per-doc re-aggregation -- identical to
    text_unigram_logprob's plan with one extra broadcast."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    words = (docs.select("doc_id",
                         F.explode(F.split(F.lower("text"), " ")).alias("w"))
             .where(F.col("w") != ""))
    ws = F.split(F.lower("text"), " ")
    n_stop = F.size(F.array_distinct(
        F.filter(ws, lambda w: w.isin(*_GOPHER_STOPWORDS))))
    tgt_docs = (docs
                .where(F.size(ws).between(_GOPHER_MIN_WORDS,
                                          _GOPHER_MAX_WORDS)
                       & (n_stop >= 2))
                .select("doc_id"))
    tw = (words.join(tgt_docs, "doc_id")
          .groupBy("w").agg(F.count(F.lit(1)).alias("tc")))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("sc"))
    vv = vocab.agg(F.count(F.lit(1)).alias("v"))
    tt = tw.agg(F.coalesce(F.sum("tc"), F.lit(0)).alias("tt"))
    ts = vocab.agg(F.sum("sc").alias("ts"))
    lr = (F.log((F.coalesce(F.col("tc"), F.lit(0)) + 1) * 1.0
                / (F.col("tt") + F.col("v")))
          - F.log((F.col("sc") + 1) * 1.0 / (F.col("ts") + F.col("v"))))
    scored = (words
              .join(F.broadcast(vocab), "w")
              .join(F.broadcast(tw), "w", "left")
              .crossJoin(F.broadcast(vv))
              .crossJoin(F.broadcast(tt))
              .crossJoin(F.broadcast(ts))
              .select("doc_id", lr.alias("lr")))
    return (scored.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("int").alias("n_tokens"),
                 F.round(F.sum("lr"), 4).alias("log_importance"),
                 (F.sum("lr") > 0).cast("int").alias("selected")))


@register("text_ccnet_buckets", oracle="""
WITH words AS (
    SELECT doc_id, w
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          FROM documents)
    WHERE w <> ''
), vocab AS (
    SELECT w, count(*) AS c FROM words GROUP BY 1
), tot AS (
    SELECT sum(c) AS t FROM vocab
), nll AS (
    SELECT doc_id,
           floor(avg(-ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)))
                 * 1e8 + 0.5) / 1e8 AS nll8
    FROM words JOIN vocab USING (w) CROSS JOIN tot
    GROUP BY doc_id
), thr AS (
    SELECT floor(quantile_cont(nll8, CAST(1 AS DOUBLE)/3) * 1e8 + 0.5)
           / 1e8 AS t1,
           floor(quantile_cont(nll8, CAST(2 AS DOUBLE)/3) * 1e8 + 0.5)
           / 1e8 AS t2
    FROM nll
)
SELECT n.doc_id,
       floor(n.nll8 * 1e4 + 0.5) / 1e4 AS avg_nll,
       CASE WHEN n.nll8 <= thr.t1 THEN 'head'
            WHEN n.nll8 <= thr.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM nll n CROSS JOIN thr
""")
def text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020, public
    paper): bucket documents into perplexity terciles under a
    reference LM -- head (lowest perplexity, cleanest) feeds
    pretraining first, tail is usually dropped. The reference model
    here is the corpus unigram LM (text_unigram_logprob's score); a
    deployment swaps in a wiki-trained KenLM, the bucketing machinery
    is identical.

    Cross-engine float discipline (the ts_anomaly_mad recipe): per-doc
    NLL is floor-quantized to 8 decimals BEFORE the percentile, the
    two tercile thresholds are floor-quantized after interpolation,
    and bucket assignment compares only quantized values -- the 1-ulp
    interpolation difference between Spark's percentile() and DuckDB's
    quantile_cont() cannot flip a document across a tercile edge.

    Scale shape: the vocabulary broadcasts (unigram_logprob's plan);
    the threshold row is a 1-row aggregate riding a broadcast cross
    join, never a driver round-trip; assignment is a map compare. At
    100 TB the exact percentile becomes approx_percentile with the
    same quantize-then-compare guard (agg_approx_percentile shows the
    sketch swap)."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    words = (docs.select("doc_id",
                         F.explode(F.split(F.lower("text"), " ")).alias("w"))
             .where(F.col("w") != ""))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = vocab.agg(F.sum("c").alias("t"))
    raw = -F.log(F.col("c").cast("double") / F.col("t").cast("double"))
    nll = (words.join(F.broadcast(vocab), "w")
           .crossJoin(F.broadcast(tot))
           .groupBy("doc_id")
           .agg((F.floor(F.avg(raw) * 1e8 + F.lit(0.5)) / 1e8)
                .alias("nll8")))
    # CAST(…AS DOUBLE)/3, NOT 1.0/3: Spark SQL parses 1.0 as DECIMAL(2,1)
    # and decimal division truncates the percentile to ~6 digits — a 1e-6
    # threshold error that blows straight through the 1e-8 quantization
    # guard (fuzz-caught: 4-doc corpus flipped a whole tercile).
    thr = nll.agg(
        (F.floor(F.expr("percentile(nll8, CAST(1 AS DOUBLE)/3)") * 1e8
                 + F.lit(0.5)) / 1e8).alias("t1"),
        (F.floor(F.expr("percentile(nll8, CAST(2 AS DOUBLE)/3)") * 1e8
                 + F.lit(0.5)) / 1e8).alias("t2"))
    bucket = (F.when(F.col("nll8") <= F.col("t1"), "head")
              .when(F.col("nll8") <= F.col("t2"), "middle")
              .otherwise("tail"))
    return (nll.crossJoin(F.broadcast(thr))
            .select("doc_id",
                    (F.floor(F.col("nll8") * 1e4 + F.lit(0.5)) / 1e4)
                    .alias("avg_nll"),
                    bucket.alias("bucket")))


@register("text_entropy", oracle="""
WITH words AS (
    SELECT doc_id, w
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          FROM documents)
    WHERE w <> ''
), cnt AS (
    SELECT doc_id, w, count(*) AS c FROM words GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       floor((ln(CAST(sum(c) AS DOUBLE))
              - sum(c * ln(CAST(c AS DOUBLE))) / sum(c))
             * 10000 + 0.5) / 10000 AS entropy,
       floor(CAST(count(*) AS DOUBLE) / sum(c) * 10000 + 0.5) / 10000
           AS type_token_ratio
FROM cnt GROUP BY doc_id
""")
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram entropy and type-token ratio -- the two
    lexical-diversity gates quality filters run alongside the Gopher
    rules: near-zero entropy flags keyword-stuffed or looping
    machine text, low TTR flags boilerplate repetition. Entropy is
    computed in the count domain, H = ln(n) - sum(c*ln(c))/n, so both
    engines evaluate ln() only on INTEGERS -- the same expression tree
    written identically on both sides, then floor-quantized to 4
    decimals (the shared discipline; a raw -sum(p*ln p) form would
    differ in associativity).

    Shape: one explode + one (doc_id, word) count + one per-doc
    aggregate -- both map-side combinable, no window, no join. At
    100 TB this rides the same shuffle as text_tokens' count; the
    entropy is a pure aggregate expression over it."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    cnt = (docs.select("doc_id",
                       F.explode(F.split(F.lower("text"), " ")).alias("w"))
           .where(F.col("w") != "")
           .groupBy("doc_id", "w")
           .agg(F.count(F.lit(1)).alias("c")))
    n = F.sum("c")
    entropy = (F.log(n.cast("double"))
               - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / n)
    ttr = F.count(F.lit(1)).cast("double") / n
    q4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000
    return (cnt.groupBy("doc_id")
            .agg(n.cast("long").alias("n_tokens"),
                 F.count(F.lit(1)).cast("long").alias("n_types"),
                 q4(entropy).alias("entropy"),
                 q4(ttr).alias("type_token_ratio")))


# BM25 constants (Robertson et al.; the Lucene defaults)
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ("hash", "join", "vector")


@register("text_bm25", oracle=f"""
WITH words AS (
    SELECT doc_id, w
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          FROM documents)
    WHERE w <> ''
), dl AS (
    SELECT doc_id, count(*) AS dl FROM words GROUP BY 1
), corpus AS (
    SELECT count(*) AS n_docs, sum(dl) AS total_len FROM dl
), tf AS (
    SELECT doc_id, w, count(*) AS f FROM words
    WHERE w IN ('hash', 'join', 'vector') GROUP BY 1, 2
), df AS (
    SELECT w, count(*) AS nt FROM tf GROUP BY 1
), scored AS (
    SELECT tf.doc_id, tf.w,
           ln((n_docs - nt + 0.5) / (nt + 0.5) + 1)
           * (f * ({_BM25_K1} + 1))
           / (f + {_BM25_K1}
                  * (1 - {_BM25_B}
                     + {_BM25_B} * (dl / (CAST(total_len AS DOUBLE)
                                          / n_docs)))) AS s
    FROM tf
    JOIN dl USING (doc_id)
    CROSS JOIN corpus
    JOIN df USING (w)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_terms_matched,
       floor(sum(s) * 10000 + 0.5) / 10000 AS bm25
FROM scored GROUP BY doc_id
""")
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (Robertson/Sparck-Jones probabilistic
    relevance, Lucene k1=1.2 b=0.75 defaults) of every document
    against a fixed 3-term query -- the lexical-retrieval half of a
    RAG / hard-negative-mining pipeline next to sim_topk's dense half.

    Shape: term frequencies filter to the query terms BEFORE any
    shuffle (a 3-term IN list -- the inverted-index probe), document
    lengths are one map-side-combinable count, and the corpus stats
    (N, avgdl) and per-term document frequencies are tiny broadcast
    sides. Per-doc scoring is a map expression; one final per-doc sum.
    At 100 TB with a real query WORKLOAD the tf table becomes the
    posting-list join keyed on term -- same plan, query terms as a
    broadcast dim instead of a literal IN.

    Cross-engine float: idf and the length normalization are written
    as the IDENTICAL expression tree both sides (ln only on
    (integer + 0.5) ratios), summed over <= 3 terms, floor-quantized
    to 4 decimals."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    words = (docs.select("doc_id",
                         F.explode(F.split(F.lower("text"), " ")).alias("w"))
             .where(F.col("w") != ""))
    dl = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum("dl").alias("total_len"))
    tf = (words.where(F.col("w").isin(*_BM25_TERMS))
          .groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("f")))
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("nt"))
    idf = F.log((F.col("n_docs") - F.col("nt") + 0.5)
                / (F.col("nt") + 0.5) + 1)
    norm = (F.col("f") + _BM25_K1
            * (1 - _BM25_B
               + _BM25_B * (F.col("dl")
                            / (F.col("total_len").cast("double")
                               / F.col("n_docs")))))
    s = idf * (F.col("f") * (_BM25_K1 + 1)) / norm
    return (tf.join(dl, "doc_id")
            .crossJoin(F.broadcast(corpus))
            .join(F.broadcast(df), "w")
            .select("doc_id", s.alias("s"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
                 (F.floor(F.sum("s") * 10000 + F.lit(0.5)) / 10000)
                 .alias("bm25")))


@register("pipeline_epoch_mix", oracle=f"""
WITH w AS (
    SELECT doc_id, source,
           1 + (CAST(substr(source, 4) AS INTEGER) % 4) // 2 AS whole,
           (CAST(substr(source, 4) AS INTEGER) % 4) % 2 = 1 AS has_frac
    FROM documents
), n AS (
    SELECT doc_id, source,
           whole + CASE WHEN has_frac
                        AND {knuth_hash_sql('doc_id')} % 10 < 5
                        THEN 1 ELSE 0 END AS n_epochs
    FROM w
)
SELECT doc_id, source, CAST(unnest(generate_series(1, n_epochs)) AS INTEGER) AS epoch
FROM n
""")
def pipeline_epoch_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source epoch oversampling -- the 'N epochs of wiki, 1 of
    crawl' training-mix recipe (GPT-3 Table 2.2, Llama: high-quality
    sources repeat for multiple epochs within one training run).
    Each source gets a weight 1.0/1.5/2.0/2.5 derived from its id;
    a document is emitted floor(w) times plus one extra epoch for
    the fractional part, gated per-document by the Knuth hash
    (hashing.py) -- so a 1.5-epoch source repeats exactly half its
    docs, deterministically, restart-stable (the pipeline_interleave
    property), with NO float in the gate: the fraction is handled
    in integer halves.

    Scale: the expansion is a per-row sequence() explode (output x
    weight <= 3), zero joins, zero shuffles -- a pure map stage that
    composes in front of pipeline_pack_sequences. The weights table
    would broadcast in a deployment; here the weight derives from
    the source id so the oracle is self-contained."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    whole = 1 + F.floor((src_num % 4) / 2).cast("int")
    has_frac = (src_num % 4) % 2 == F.lit(1)
    gate = knuth_hash(F.col("doc_id")) % 10 < 5
    n_epochs = whole + F.when(has_frac & gate, 1).otherwise(0)
    return (docs.select("doc_id", "source", n_epochs.alias("n_epochs"))
            .select("doc_id", "source",
                    F.explode(F.sequence(F.lit(1), F.col("n_epochs")))
                    .alias("epoch")))


_RRF_K = 60        # Cormack et al. 2009 reciprocal-rank-fusion constant
_RRF_TOPN = 50     # per-system candidate depth
_RRF_OUT = 20      # fused result depth
_RRF_QVEC = 0      # query = embedding of vec_id 0 (paired with the BM25 terms)


@register("sim_hybrid_rrf", oracle=f"""
WITH words AS (
    SELECT doc_id, w
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          FROM documents)
    WHERE w <> ''
), dl AS (
    SELECT doc_id, count(*) AS dl FROM words GROUP BY 1
), corpus AS (
    SELECT count(*) AS n_docs, sum(dl) AS total_len FROM dl
), tf AS (
    SELECT doc_id, w, count(*) AS f FROM words
    WHERE w IN ('hash', 'join', 'vector') GROUP BY 1, 2
), df AS (
    SELECT w, count(*) AS nt FROM tf GROUP BY 1
), scored AS (
    SELECT tf.doc_id,
           ln((n_docs - nt + 0.5) / (nt + 0.5) + 1)
           * (f * ({_BM25_K1} + 1))
           / (f + {_BM25_K1}
                  * (1 - {_BM25_B}
                     + {_BM25_B} * (dl / (CAST(total_len AS DOUBLE)
                                          / n_docs)))) AS s
    FROM tf
    JOIN dl USING (doc_id)
    CROSS JOIN corpus
    JOIN df USING (w)
), lex AS (
    SELECT doc_id, floor(sum(s) * 10000 + 0.5) / 10000 AS bm25
    FROM scored GROUP BY doc_id
), lexr AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                AS BIGINT) AS r_lex
    FROM (SELECT * FROM lex ORDER BY bm25 DESC, doc_id
          LIMIT {_RRF_TOPN})
), dcos AS (
    SELECT e.vec_id AS doc_id,
           floor(list_cosine_similarity(
                     CAST(e.embedding AS DOUBLE[]),
                     (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                      WHERE vec_id = {_RRF_QVEC}))
                 * 10000 + 0.5) / 10000 AS cos
    FROM embeddings e WHERE e.vec_id <> {_RRF_QVEC}
), denser AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
                AS BIGINT) AS r_dense
    FROM (SELECT * FROM dcos ORDER BY cos DESC, doc_id
          LIMIT {_RRF_TOPN})
), fused AS (
    SELECT coalesce(l.doc_id, d.doc_id) AS doc_id, l.r_lex, d.r_dense,
           floor((coalesce(CAST(1.0 AS DOUBLE) / ({_RRF_K} + l.r_lex),
                           CAST(0 AS DOUBLE))
                  + coalesce(CAST(1.0 AS DOUBLE) / ({_RRF_K} + d.r_dense),
                             CAST(0 AS DOUBLE)))
                 * 100000000 + 0.5) / 100000000 AS rrf
    FROM lexr l FULL OUTER JOIN denser d USING (doc_id)
)
SELECT doc_id, r_lex, r_dense, rrf
FROM fused ORDER BY rrf DESC, doc_id LIMIT {_RRF_OUT}
""")
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval fusion: the BM25 lexical ranking (text_bm25's
    exact scoring, same fixed 3-term query) and a dense cosine ranking
    (embeddings vs the vec_id-0 query vector, 1:1 doc_id<->vec_id in
    this corpus) merged by reciprocal-rank fusion
    rrf = sum 1/(60 + rank) (Cormack et al. 2009) -- the standard
    first stage of RAG / hard-negative mining, combining the two
    retrieval halves this repo already ships (text_bm25, sim_topk).

    Scale shape: each system's candidate list is a top-50 via
    orderBy().limit() -- Spark plans TakeOrderedAndProject
    (per-partition heaps + driver merge of 50 x partitions rows),
    NEVER a global sort shuffle; the within-list row_number windows
    and the full-outer fusion join then run on two bounded 50-row
    sets. At 100 TB with a query WORKLOAD, both lists come from the
    engines' indexed paths (BM25 posting lists, IVF probes) and the
    fusion join stays per-query-bounded.

    Cross-engine float: BM25 and cosine are the repo's proven
    expression trees, floor-quantized to 4 decimals BEFORE ranking
    (ties then break on doc_id identically both engines); the rrf
    terms are 1/(60+rank) on integer ranks -- identical division
    trees -- floor-quantized to 8."""
    pin_session_conf(spark)
    lex = text_bm25(spark, sf_dir).select("doc_id", "bm25")
    top_lex = (lex.orderBy(F.col("bm25").desc(), F.col("doc_id"))
               .limit(_RRF_TOPN))
    wl = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    lexr = top_lex.select(
        "doc_id", F.row_number().over(wl).cast("long").alias("r_lex"))

    emb = (load(spark, sf_dir, "embeddings")
           .select("vec_id",
                   F.col("embedding").cast("array<double>").alias("v")))

    def dot(x, y):
        return F.aggregate(F.zip_with(x, y, lambda a, b: a * b),
                           F.lit(0.0), lambda acc, z: acc + z)

    qv = (emb.where(F.col("vec_id") == _RRF_QVEC)
          .select(F.col("v").alias("qv"),
                  F.sqrt(dot(F.col("v"), F.col("v"))).alias("qn")))
    cos = dot(F.col("v"), F.col("qv")) \
        / (F.sqrt(dot(F.col("v"), F.col("v"))) * F.col("qn"))
    dcos = (emb.where(F.col("vec_id") != _RRF_QVEC)
            .crossJoin(F.broadcast(qv))
            .select(F.col("vec_id").alias("doc_id"),
                    (F.floor(cos * 10000 + F.lit(0.5)) / 10000)
                    .alias("cos")))
    top_dense = (dcos.orderBy(F.col("cos").desc(), F.col("doc_id"))
                 .limit(_RRF_TOPN))
    wd = Window.orderBy(F.col("cos").desc(), F.col("doc_id"))
    denser = top_dense.select(
        "doc_id", F.row_number().over(wd).cast("long").alias("r_dense"))

    rrf = (F.coalesce(1.0 / (_RRF_K + F.col("r_lex")), F.lit(0.0))
           + F.coalesce(1.0 / (_RRF_K + F.col("r_dense")), F.lit(0.0)))
    return (lexr.join(denser, "doc_id", "full_outer")
            .select("doc_id", "r_lex", "r_dense",
                    (F.floor(rrf * 100000000 + F.lit(0.5)) / 100000000)
                    .alias("rrf"))
            .orderBy(F.col("rrf").desc(), F.col("doc_id"))
            .limit(_RRF_OUT))


@register("pipeline_dedup_report", oracle="""
WITH fp AS (
    SELECT source, doc_id,
           md5(array_to_string(list_sort(list_distinct(
               string_split(lower(text), ' '))), ' ')) AS fp,
           n_chars
    FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct,
       CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_dup_docs,
       floor(CAST(count(*) - count(DISTINCT fp) AS DOUBLE) / count(*)
             * 10000 + 0.5) / 10000 AS dup_rate,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM fp GROUP BY source
""")
def pipeline_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup accounting -- the curation dashboard row that
    decides WHERE dedup budget goes (which ingest stream is paying for
    its duplicates) before any pair-level work runs: docs, distinct
    bag-fingerprints, duplicate count and rate, total chars, per
    source. Complements pipeline_funnel_report (stage survival) and
    pipeline_contamination_matrix (cross-source leakage) with the
    within-source view.

    Shape: one scan, md5 bag fingerprints map-side, a single
    (source, distinct fp) aggregate -- count(DISTINCT) plans the
    two-level partial/final Expand; only 16-byte digests shuffle.
    Exact integers everywhere except the one floor-quantized rate."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(F.array_sort(F.array_distinct(
        F.split(F.lower("text"), " "))), " "))
    n, nd = F.count(F.lit(1)), F.countDistinct("fp")
    return (docs.select("source", fp.alias("fp"), "n_chars")
            .groupBy("source")
            .agg(n.cast("long").alias("n_docs"),
                 nd.cast("long").alias("n_distinct"),
                 (n - nd).cast("long").alias("n_dup_docs"),
                 (F.floor((n - nd).cast("double") / n * 10000
                          + F.lit(0.5)) / 10000).alias("dup_rate"),
                 F.sum("n_chars").cast("long").alias("total_chars")))


DOMAIN_QUOTA = 10  # max docs kept per source (RefinedWeb-style cap)


@register("pipeline_domain_quota", oracle=f"""
SELECT source, doc_id, n_chars, CAST(rn AS BIGINT) AS rank_in_source
FROM (
    SELECT source, doc_id, n_chars,
           row_number() OVER (PARTITION BY source
                              ORDER BY n_chars DESC, doc_id) AS rn
    FROM documents
)
WHERE rn <= {DOMAIN_QUOTA}
""")
def pipeline_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota (RefinedWeb-style): keep at most
    DOMAIN_QUOTA documents per source, best-first, so no single
    domain dominates the training mix -- the containment twin of
    pipeline_domain_mixture's proportional sampling (that one hits
    target FRACTIONS; this one hits hard CAPS). Ranking is the
    deterministic (n_chars DESC, doc_id) proxy; a deployment plugs in
    text_quality_model's learned score.

    Scale shape: rank-then-filter compiles to WindowGroupLimit
    (asserted in tests/test_plans.py) -- Spark pushes the <= K limit
    BELOW the window's Exchange, so each map task forwards at most K
    rows per source it sees, and the per-source partitions only ever
    materialize K candidates per upstream partition, never a hot
    domain's full row set. That makes the cap safe exactly where it
    matters: the mega-domain whose millions of pages would otherwise
    funnel into one window partition."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    w = (Window.partitionBy("source")
         .orderBy(F.col("n_chars").desc(), F.col("doc_id")))
    return (docs.select("source", "doc_id", "n_chars",
                        F.row_number().over(w).alias("rank_in_source"))
            .where(F.col("rank_in_source") <= DOMAIN_QUOTA)
            .select("source", "doc_id", "n_chars",
                    F.col("rank_in_source").cast("long")
                    .alias("rank_in_source")))


SHARD_TARGET_CHARS = 10_000  # target payload bytes per output shard


@register("pipeline_shard_manifest", oracle=f"""
WITH c AS (
    SELECT doc_id, n_chars,
           sum(n_chars) OVER (ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) - n_chars AS start_off
    FROM documents
)
SELECT CAST(floor(start_off / {SHARD_TARGET_CHARS}) AS BIGINT) AS shard_id,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS shard_chars,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM c GROUP BY 1
""")
def pipeline_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-planning manifest: assign documents to fixed-size output
    shards (~SHARD_TARGET_CHARS payload each, doc_id order preserved)
    and report each shard's document count, byte total, and id span
    -- the planning step before a size-balanced parquet/WebDataset
    export, where "one giant file" and "a million tiny files" are
    both failure modes. A document belongs to the shard its STARTING
    byte offset falls in, so shard boundaries never split a document
    and every engine computing the same prefix sums agrees on the
    assignment.

    The global running sum is two_level_running_sum over doc_id range
    buckets (same no-single-reducer recipe as pipeline_token_budget;
    integer bytes, so the distributed sum is exact and the oracle's
    naive single-window definition certifies it). The manifest agg is
    an ordinary partial-aggregated groupBy on shard_id. At 100 TB the
    only global object is the broadcast per-bucket offset table."""
    pin_session_conf(spark)
    from recommendation_system_spark_ml_spark.operators.scale import (
        two_level_running_sum)

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    cum = two_level_running_sum(
        docs, F.floor(F.col("doc_id") / 1000).cast("long"),
        [F.col("doc_id").asc()], F.col("n_chars"), out="cum")
    shard = F.floor((F.col("cum") - F.col("n_chars"))
                    / SHARD_TARGET_CHARS).cast("long")
    return (cum.select(shard.alias("shard_id"), "doc_id", "n_chars")
            .groupBy("shard_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("shard_chars"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc")))


TOP_TERMS_K = 3  # TF-IDF keywords kept per document


@register("text_top_terms", oracle=f"""
WITH cnt AS (
    SELECT doc_id, w, count(*) AS tf
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          FROM documents)
    WHERE w <> '' GROUP BY 1, 2
), df AS (
    SELECT w, count(*) AS df FROM cnt GROUP BY 1
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT c.doc_id, c.w AS term,
           c.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df) AS score
    FROM cnt c JOIN df d ON c.w = d.w CROSS JOIN n
)
SELECT doc_id, term, round(score, 4) AS tfidf, CAST(rn AS BIGINT) AS rank
FROM (SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rn
      FROM scored)
WHERE rn <= {TOP_TERMS_K}
""")
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_TERMS_K} TF-IDF keywords per document -- text_tfidf's
    scores fed through a per-doc rank-filter, the keyword-extraction
    step a labeling or retrieval pipeline runs after scoring. Ties
    break on the term string, so equal-scored keywords (same tf, same
    df -- common in small vocabularies) rank identically everywhere.

    Shape: text_tfidf's aggregation plan (map-side-combinable counts;
    vocabulary-sized df table and the N scalar broadcast back)
    followed by row_number() <= K, which compiles to WindowGroupLimit
    (plan-asserted): each map task forwards at most K candidate terms
    per document it sees BELOW the per-doc Exchange, so long
    documents never materialize their full term list on the reduce
    side. Cross-engine float ordering: scores are tf * ln(N/df) with
    both engines computing the identical expression; distinct
    (tf, df) pairs separate by far more than a ulp, and equal pairs
    are bit-equal then term-tiebroken."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    cnt = (docs.select("doc_id",
                       F.explode(F.split(F.lower("text"), " ")).alias("w"))
           .where(F.col("w") != "")
           .groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf")))
    df = cnt.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (cnt.join(F.broadcast(df), "w").crossJoin(F.broadcast(n_docs))
              .select("doc_id", F.col("w").alias("term"),
                      (F.col("tf") * F.log(F.col("n_docs").cast("double")
                                           / F.col("df"))).alias("score")))
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (scored.select("doc_id", "term", "score",
                          F.row_number().over(w).alias("rank"))
            .where(F.col("rank") <= TOP_TERMS_K)
            .select("doc_id", "term", F.round("score", 4).alias("tfidf"),
                    F.col("rank").cast("long").alias("rank")))


@register("text_lang_confusion", oracle="""
WITH scores AS (
    SELECT doc_id, lang,
           len(list_filter(string_split(lower(text), ' '),
                           w -> w IN ('the', 'a', 'and', 'of'))) AS s_en,
           len(list_filter(string_split(lower(text), ' '),
                           w -> w IN ('el', 'la', 'de', 'y'))) AS s_es,
           len(list_filter(string_split(lower(text), ' '),
                           w -> w IN ('le', 'la', 'de', 'et'))) AS s_fr
    FROM documents
), pred AS (
    SELECT lang AS labeled_lang,
           CASE WHEN s_es > s_en AND s_es >= s_fr THEN 'es'
                WHEN s_fr > s_en AND s_fr > s_es THEN 'fr'
                ELSE 'en' END AS predicted_lang
    FROM scores
)
SELECT labeled_lang, predicted_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(count(*) AS DOUBLE)
             / sum(count(*)) OVER (PARTITION BY labeled_lang), 6)
           AS row_frac
FROM pred GROUP BY 1, 2
""")
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of text_langid's marker-word classifier
    against the corpus's lang labels: per (labeled, predicted) cell,
    document count and row-normalized fraction -- the evaluation
    report a curation pipeline reads before trusting a language
    filter (off-diagonal mass = mislabeled or misclassified streams
    feeding the wrong training mixture).

    Shape: the scorer is text_langid's map-side expression verbatim
    (size(filter(...)) hits + deterministic argmax -- no UDF); the
    matrix is one groupBy on the (label, prediction) pair whose
    keyspace is |langs|^2 (25 cells), and the row normalization is a
    window over the 25 finished cells, not over documents. At 100 TB
    the only row-data stage is the map-side scoring scan; everything
    past the partial agg is bounded by the label vocabulary."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    ws = F.split(F.lower("text"), " ")

    def hits(words):
        return F.size(F.filter(ws, lambda w: w.isin(*words)))

    s_en, s_es, s_fr = (hits(("the", "a", "and", "of")),
                        hits(("el", "la", "de", "y")),
                        hits(("le", "la", "de", "et")))
    pred = (F.when((s_es > s_en) & (s_es >= s_fr), "es")
            .when((s_fr > s_en) & (s_fr > s_es), "fr")
            .otherwise("en"))
    cells = (docs.select(F.col("lang").alias("labeled_lang"),
                         pred.alias("predicted_lang"))
             .groupBy("labeled_lang", "predicted_lang")
             .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
    w = Window.partitionBy("labeled_lang")
    return cells.select(
        "labeled_lang", "predicted_lang", "n_docs",
        F.round(F.col("n_docs").cast("double") / F.sum("n_docs").over(w), 6)
        .alias("row_frac"))


@register("text_zipf_slope", oracle="""
WITH tf AS (
    SELECT w, count(*) AS freq
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
          FROM documents)
    WHERE w <> '' GROUP BY 1
), ranked AS (
    SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, w) AS DOUBLE))
               AS lr,
           ln(CAST(freq AS DOUBLE)) AS lf
    FROM tf
), m AS (
    SELECT count(*) AS n, avg(lr) AS mlr, avg(lf) AS mlf FROM ranked
)
SELECT CAST(m.n AS BIGINT) AS n_terms,
       round(CASE WHEN sum((r.lr - m.mlr) * (r.lr - m.mlr)) > 0
                  THEN sum((r.lr - m.mlr) * (r.lf - m.mlf))
                       / sum((r.lr - m.mlr) * (r.lr - m.mlr)) END, 6)
           AS zipf_slope
FROM ranked r CROSS JOIN m
GROUP BY m.n
""")
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent of the corpus: least-squares slope of
    ln(frequency) against ln(rank) over the term-frequency table --
    natural language sits near -1, and a corpus that drifts far from
    it (flat: template/boilerplate floods; steep: degenerate
    repetition) fails the smell test before any model sees it. The
    companion corpus-level statistic to text_entropy's per-doc view.

    Shape: the only row-data stage is the term-count groupBy
    (map-side combinable); everything after lives on the vocabulary
    table -- bounded by |vocab|, not corpus size. The rank window
    over the vocab table orders by (freq DESC, w), a total order, so
    ranks are cross-engine identical. The slope is the centered
    two-pass form with a guarded division (the ts_autocorrelation
    ANSI discipline: built-in regr_slope throws DIVIDE_BY_ZERO on a
    single-term vocabulary where DuckDB returns NULL); ln only sees
    integer counts and integer ranks."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    tf = (docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
          .where(F.col("w") != "")
          .groupBy("w").agg(F.count(F.lit(1)).alias("freq")))
    w = Window.orderBy(F.col("freq").desc(), "w")
    ranked = tf.select(
        F.log(F.row_number().over(w).cast("double")).alias("lr"),
        F.log(F.col("freq").cast("double")).alias("lf"))
    m = ranked.agg(F.count(F.lit(1)).alias("n"),
                   F.avg("lr").alias("mlr"), F.avg("lf").alias("mlf"))
    dr, df_ = F.col("lr") - F.col("mlr"), F.col("lf") - F.col("mlf")
    return (ranked.crossJoin(F.broadcast(m))
            .groupBy("n")
            .agg(F.sum(dr * df_).alias("sxy"), F.sum(dr * dr).alias("sxx"))
            .select(F.col("n").cast("long").alias("n_terms"),
                    F.round(F.when(F.col("sxx") > 0,
                                   F.col("sxy") / F.col("sxx")), 6)
                    .alias("zipf_slope")))


@register("pipeline_tokenizer_fertility", oracle=f"""
WITH t AS (
    SELECT source, lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
           CAST(len(regexp_extract_all(lower(text), '{_BPE_RE}'))
                AS BIGINT) AS bpe,
           CAST(length(text) AS BIGINT) AS chars,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS bytes
    FROM documents WHERE text IS NOT NULL
)
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ws) AS BIGINT) AS ws_tokens,
       CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
       round(CAST(sum(bpe) AS DOUBLE) / nullif(sum(ws), 0), 6)
           AS fertility,
       round(CAST(sum(chars) AS DOUBLE) / nullif(sum(bpe), 0), 6)
           AS chars_per_token,
       round(CAST(sum(bytes) AS DOUBLE) / nullif(sum(bpe), 0), 6)
           AS bytes_per_token
FROM t GROUP BY 1, 2
""")
def pipeline_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per (source, lang): subword (BPE-ish)
    tokens per whitespace word, chars and UTF-8 bytes per token -- the
    table that prices a training mix in compute terms (a source with
    fertility 3 costs 3x the sequence length per word; bytes/token is
    the storage-to-context exchange rate) and flags tokenizer-hostile
    sources before they burn budget. Shares text_tokens' exact
    tokenization expressions so the two reports can never disagree.

    Shape: per-doc counts are map-side regexp/length expressions; ONE
    partial-combined groupBy over the (source, lang) keyspace --
    bounded by the catalog, not the corpus; ratios divide the integer
    totals only after aggregation (identical division trees both
    engines, round 6). Zero-token groups yield NULL via nullif on
    both sides."""
    pin_session_conf(spark)
    t = (load(spark, sf_dir, "documents")
         .where(F.col("text").isNotNull())
         .select("source", "lang",
                 F.size(F.split("text", " ")).cast("long").alias("ws"),
                 F.size(F.regexp_extract_all(
                     F.lower("text"), F.lit(_BPE_RE), F.lit(0)))
                 .cast("long").alias("bpe"),
                 F.length("text").cast("long").alias("chars"),
                 F.octet_length(F.encode("text", "UTF-8"))
                 .cast("long").alias("bytes")))
    g = (t.groupBy("source", "lang")
         .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
              F.sum("ws").alias("ws_tokens"),
              F.sum("bpe").alias("bpe_tokens"),
              F.sum("chars").alias("chars_sum"),
              F.sum("bytes").alias("bytes_sum")))
    return g.select(
        "source", "lang", "n_docs", "ws_tokens", "bpe_tokens",
        F.round(F.col("bpe_tokens").cast("double")
                / F.nullif(F.col("ws_tokens"), F.lit(0)), 6)
        .alias("fertility"),
        F.round(F.col("chars_sum").cast("double")
                / F.nullif(F.col("bpe_tokens"), F.lit(0)), 6)
        .alias("chars_per_token"),
        F.round(F.col("bytes_sum").cast("double")
                / F.nullif(F.col("bpe_tokens"), F.lit(0)), 6)
        .alias("bytes_per_token"))


@register("text_readability", oracle="""
WITH c AS (
    SELECT doc_id,
           greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sents,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+'))
                AS BIGINT) AS words,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                AS BIGINT) AS syls
    FROM documents WHERE text IS NOT NULL
), s AS (
    SELECT doc_id, CAST(sents AS BIGINT) AS n_sentences, words AS n_words,
           syls AS n_syllables,
           CAST(206.835 AS DOUBLE)
           - CAST(1.015 AS DOUBLE)
             * (CAST(words AS DOUBLE) / CAST(sents AS DOUBLE))
           - CAST(84.6 AS DOUBLE)
             * (CAST(syls AS DOUBLE) / CAST(nullif(words, 0) AS DOUBLE))
               AS score
    FROM c
)
SELECT doc_id, n_sentences, n_words, n_syllables,
       round(score, 4) AS flesch_score,
       CASE WHEN score IS NULL THEN NULL
            WHEN score >= 60 THEN 'easy'
            WHEN score >= 30 THEN 'medium'
            ELSE 'hard' END AS band
FROM s
""")
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring (Flesch 1948; the readability gate
    CC-style corpora run next to Gopher rules): words = letter runs,
    sentences = terminator runs (min 1), syllables approximated as
    vowel-group runs -- the standard dictionary-free proxy. The score
    arithmetic is the published 206.835 - 1.015*(W/S) - 84.6*(SY/W)
    with every literal cast to DOUBLE on the oracle side (DuckDB
    parses bare decimals as DECIMAL, whose division tree differs) and
    the identical association order in both engines; round(4) absorbs
    nothing structural -- the trees are bit-identical -- it just fixes
    display width. Banding compares the same computed double, so the
    band can never disagree with the score. Zero-word docs score NULL
    (nullif both sides); sentence count is floored at 1 (headline-only
    docs are one sentence, and the formula needs S >= 1).

    Shape: pure map-side regexp counting -- no shuffle at all; the
    counts are integers and the only float surface is the final
    published formula."""
    pin_session_conf(spark)
    lt = F.lower("text")
    sents = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"),
                                    F.lit(0))), F.lit(1))
    words = F.size(F.regexp_extract_all(lt, F.lit("[a-z]+"), F.lit(0))) \
        .cast("long")
    syls = F.size(F.regexp_extract_all(lt, F.lit("[aeiouy]+"), F.lit(0))) \
        .cast("long")
    c = (load(spark, sf_dir, "documents")
         .where(F.col("text").isNotNull())
         .select("doc_id", sents.alias("sents"), words.alias("words"),
                 syls.alias("syls")))
    score = (F.lit(206.835)
             - F.lit(1.015) * (F.col("words").cast("double")
                               / F.col("sents").cast("double"))
             - F.lit(84.6) * (F.col("syls").cast("double")
                              / F.nullif(F.col("words"), F.lit(0))
                              .cast("double")))
    s = c.select("doc_id", F.col("sents").cast("long").alias("n_sentences"),
                 F.col("words").alias("n_words"),
                 F.col("syls").alias("n_syllables"), score.alias("score"))
    return s.select(
        "doc_id", "n_sentences", "n_words", "n_syllables",
        F.round("score", 4).alias("flesch_score"),
        F.when(F.col("score").isNull(), F.lit(None).cast("string"))
        .when(F.col("score") >= 60, F.lit("easy"))
        .when(F.col("score") >= 30, F.lit("medium"))
        .otherwise(F.lit("hard")).alias("band"))


# Quality-filter overlap matrix: the four cheap reject predicates,
# written as ONE shared condition text so Spark and the oracle can
# never disagree on what a filter means.
_FILTER_SHORT_LO = 150    # n_chars below this -> 'short'
_FILTER_LONG_HI = 450     # n_chars above this -> 'long'
_FILTER_ALPHA_MIN = 0.6   # alpha-char ratio below this -> 'low_alpha'


@register("pipeline_filter_overlap", oracle=f"""
WITH flags AS (
    SELECT CASE WHEN n_chars IS NULL OR n_chars < {_FILTER_SHORT_LO}
                THEN 1 ELSE 0 END AS f_short,
           CASE WHEN n_chars > {_FILTER_LONG_HI} THEN 1 ELSE 0 END AS f_long,
           CASE WHEN text IS NULL OR length(text) = 0
                     OR length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                        * 1.0 / length(text) < {_FILTER_ALPHA_MIN}
                THEN 1 ELSE 0 END AS f_alpha,
           CASE WHEN lang IS NULL OR lang <> 'en' THEN 1 ELSE 0 END AS f_lang
    FROM documents
),
s AS (
    SELECT sum(f_short) AS a1, sum(f_long) AS a2,
           sum(f_alpha) AS a3, sum(f_lang) AS a4,
           sum(f_short * f_long) AS b12, sum(f_short * f_alpha) AS b13,
           sum(f_short * f_lang) AS b14, sum(f_long * f_alpha) AS b23,
           sum(f_long * f_lang) AS b24, sum(f_alpha * f_lang) AS b34
    FROM flags
),
m AS (
    SELECT 'short' AS filter_a, 'long' AS filter_b,
           a1 AS n_a, a2 AS n_b, b12 AS n_both FROM s
    UNION ALL SELECT 'short', 'low_alpha', a1, a3, b13 FROM s
    UNION ALL SELECT 'short', 'non_en', a1, a4, b14 FROM s
    UNION ALL SELECT 'long', 'low_alpha', a2, a3, b23 FROM s
    UNION ALL SELECT 'long', 'non_en', a2, a4, b24 FROM s
    UNION ALL SELECT 'low_alpha', 'non_en', a3, a4, b34 FROM s
)
SELECT filter_a, filter_b,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(n_both AS BIGINT) AS n_both,
       CAST(n_a + n_b - n_both AS BIGINT) AS n_either,
       CASE WHEN n_a + n_b - n_both > 0
            THEN round(n_both * 1.0 / (n_a + n_b - n_both), 6)
            ELSE NULL END AS jaccard
FROM m
""")
def pipeline_filter_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter overlap matrix: for every pair of reject
    predicates (too-short, too-long, low alpha ratio, non-English),
    how many documents each rejects and the Jaccard of the reject
    sets -- the redundancy audit a curation team runs before adding a
    filter to a 100 TB pipeline (a filter whose rejects are 95%
    contained in an existing one buys nothing and costs a full pass;
    Gopher/RefinedWeb-style cascades are tuned from exactly this
    matrix).

    Shape: ONE scan computes all four flags map-side (the alpha ratio
    is a regexp strip + length, JVM-side), ONE partial-combined
    aggregate produces all ten sums (pairwise intersections are just
    sums of flag products -- no self-join, no explode), and the 6-row
    matrix is a literal unpivot of that single row. Cost at any scale
    = one pass over documents."""
    pin_session_conf(spark)
    docs = load(spark, sf_dir, "documents")
    alpha_len = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
    f_short = F.when(F.col("n_chars").isNull()
                     | (F.col("n_chars") < _FILTER_SHORT_LO), 1).otherwise(0)
    f_long = F.when(F.col("n_chars") > _FILTER_LONG_HI, 1).otherwise(0)
    f_alpha = F.when(F.col("text").isNull()
                     | (F.length("text") == 0)
                     | (alpha_len.cast("double") / F.length("text")
                        < _FILTER_ALPHA_MIN), 1).otherwise(0)
    f_lang = F.when(F.col("lang").isNull()
                    | (F.col("lang") != "en"), 1).otherwise(0)
    flags = docs.select(f_short.alias("f1"), f_long.alias("f2"),
                        f_alpha.alias("f3"), f_lang.alias("f4"))
    s = flags.agg(
        F.sum("f1").alias("a1"), F.sum("f2").alias("a2"),
        F.sum("f3").alias("a3"), F.sum("f4").alias("a4"),
        F.sum(F.col("f1") * F.col("f2")).alias("b12"),
        F.sum(F.col("f1") * F.col("f3")).alias("b13"),
        F.sum(F.col("f1") * F.col("f4")).alias("b14"),
        F.sum(F.col("f2") * F.col("f3")).alias("b23"),
        F.sum(F.col("f2") * F.col("f4")).alias("b24"),
        F.sum(F.col("f3") * F.col("f4")).alias("b34"))
    names = {"1": "short", "2": "long", "3": "low_alpha", "4": "non_en"}
    stack_args = []
    for i, j in ("12", "13", "14", "23", "24", "34"):
        stack_args.append(
            f"'{names[i]}', '{names[j]}', a{i}, a{j}, b{i}{j}")
    m = s.select(F.expr(
        "stack(6, " + ", ".join(stack_args)
        + ") AS (filter_a, filter_b, n_a, n_b, n_both)"))
    n_either = F.col("n_a") + F.col("n_b") - F.col("n_both")
    return m.select(
        "filter_a", "filter_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("n_both").cast("long").alias("n_both"),
        n_either.cast("long").alias("n_either"),
        F.when(n_either > 0,
               F.round(F.col("n_both").cast("double") / n_either, 6))
        .otherwise(F.lit(None).cast("double")).alias("jaccard"))


# Multinomial Naive Bayes language classifier: everything is counts +
# one Laplace division + a log-sum, so the full train/predict/evaluate
# loop is DuckDB-hash-verified -- a LEARNED classifier next to
# text_langid's fixed heuristic and text_quality_model's rows-only
# MLlib pipeline.
_NB_Q = 1_000_000


@register("ml_naive_bayes_lang", oracle=f"""
WITH docs AS (
    SELECT doc_id, lower(text) AS t, lang,
           {knuth_hash_sql('doc_id')} % 10 AS bucket
    FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
),
train AS (SELECT * FROM docs WHERE bucket < 8),
test AS (SELECT * FROM docs WHERE bucket >= 8),
tr_tok AS (
    SELECT lang, unnest(string_split(t, ' ')) AS tok FROM train
),
tr_tok2 AS (SELECT lang, tok FROM tr_tok WHERE tok <> ''),
tok_counts AS (
    SELECT lang, tok, count(*) AS c FROM tr_tok2 GROUP BY 1, 2
),
lang_tot AS (
    SELECT lang, count(*) AS cl FROM tr_tok2 GROUP BY 1
),
vocab AS (SELECT count(DISTINCT tok) AS v FROM tr_tok2),
priors AS (
    SELECT lang, count(*) AS nd FROM train GROUP BY 1
),
ntr AS (SELECT count(*) AS n FROM train),
te_tok AS (
    SELECT doc_id, lang AS true_lang, unnest(string_split(t, ' ')) AS tok
    FROM test
),
te_tok2 AS (SELECT * FROM te_tok WHERE tok <> ''),
pairs AS (
    SELECT tt.doc_id, tt.true_lang, lt.lang AS cand, tt.tok,
           ln((coalesce(tc.c, 0) + 1.0) / (lt.cl + vocab.v)) AS lp
    FROM te_tok2 tt
    CROSS JOIN lang_tot lt CROSS JOIN vocab
    LEFT JOIN tok_counts tc ON tc.lang = lt.lang AND tc.tok = tt.tok
),
scores AS (
    SELECT p.doc_id, p.true_lang, p.cand,
           floor((min(ln(pr.nd * 1.0 / ntr.n)) + sum(p.lp))
                 * {_NB_Q} + 0.5) / {_NB_Q} AS score
    FROM pairs p JOIN priors pr ON p.cand = pr.lang CROSS JOIN ntr
    GROUP BY 1, 2, 3
),
pred AS (
    SELECT doc_id, true_lang, cand AS pred_lang FROM (
        SELECT doc_id, true_lang, cand,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cand ASC) AS rk
        FROM scores) WHERE rk = 1
)
SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
FROM pred GROUP BY 1, 2
""")
def ml_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language identification, trained and
    evaluated entirely in relational algebra: Knuth-hash 80/20 doc
    split, Laplace-smoothed token likelihoods from the train split,
    log-space scoring of every test document against every language,
    argmax prediction, and the confusion matrix as output -- the
    LEARNED classifier next to text_langid's fixed stopword heuristic,
    and (with ml_logistic_irls_exact and ml_kmeans_lloyd_exact) the
    third MLlib-shaped algorithm this engine hash-verifies end to end
    where the MLlib twin (text_quality_model) can only be rows-checked.
    (On the SYNTHETIC fixture corpus the lang label is independent of
    token content -- every language samples one shared vocabulary --
    so measured accuracy sits at the majority-class floor by
    construction; the hash check certifies the train/score/argmax
    mechanics, which is what transfers to a real corpus.)

    Determinism: training is pure counting; the only floats are
    ln((c+1)/(cl+V)) terms summed per (doc, lang) and floor-quantized
    at 1e-6 BEFORE the argmax (ties -> language asc), so the predicted
    label sequence is cross-engine exact.

    Scale shape: token explode is map-side; the likelihood join is a
    shuffle hash join keyed on token (the probs table is vocab x
    |langs|, data-derived -- NOT broadcast, it grows with the corpus);
    scoring is one partial-combined groupBy(doc, lang); the argmax is
    a |langs|-row window per doc. One scan of train, one of test."""
    pin_session_conf(spark)
    docs = (load(spark, sf_dir, "documents")
            .where(F.col("text").isNotNull() & F.col("lang").isNotNull())
            .select("doc_id", F.lower("text").alias("t"), "lang",
                    (knuth_hash(F.col("doc_id")) % 10).alias("bucket")))
    train = docs.where(F.col("bucket") < 8)
    test = docs.where(F.col("bucket") >= 8)
    tr_tok = (train.select("lang", F.explode(F.split("t", " ")).alias("tok"))
              .where(F.col("tok") != ""))
    tok_counts = tr_tok.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).alias("c"))
    lang_tot = tr_tok.groupBy("lang").agg(F.count(F.lit(1)).alias("cl"))
    vocab = tr_tok.agg(F.countDistinct("tok").alias("v"))
    priors = train.groupBy("lang").agg(F.count(F.lit(1)).alias("nd"))
    ntr = train.agg(F.count(F.lit(1)).alias("n"))

    te_tok = (test.select("doc_id", F.col("lang").alias("true_lang"),
                          F.explode(F.split("t", " ")).alias("tok"))
              .where(F.col("tok") != ""))
    cand = (te_tok.crossJoin(F.broadcast(
        lang_tot.select(F.col("lang").alias("cand"), "cl")))
        .crossJoin(F.broadcast(vocab)))
    pairs = (cand.join(tok_counts.select(F.col("lang").alias("cand"),
                                         "tok", "c"),
                       ["cand", "tok"], "left")
             .select("doc_id", "true_lang", "cand",
                     F.log((F.coalesce("c", F.lit(0)) + 1.0)
                           / (F.col("cl") + F.col("v"))).alias("lp")))
    pr = priors.select(F.col("lang").alias("cand"), "nd")
    scores = (pairs.join(F.broadcast(pr), "cand")
              .crossJoin(F.broadcast(ntr))
              .groupBy("doc_id", "true_lang", "cand")
              .agg((F.floor((F.min(F.log(F.col("nd").cast("double")
                                         / F.col("n"))) + F.sum("lp"))
                            * _NB_Q + F.lit(0.5)) / _NB_Q).alias("score")))
    wd = Window.partitionBy("doc_id").orderBy(F.col("score").desc(),
                                              F.col("cand").asc())
    pred = (scores.withColumn("rk", F.row_number().over(wd))
            .where(F.col("rk") == 1))
    return (pred.groupBy("true_lang",
                         F.col("cand").alias("pred_lang"))
            .agg(F.count(F.lit(1)).cast("long").alias("n")))


_TEMP_Q = 1_000_000  # micro-unit quantization for the sqrt weights


@register("pipeline_mixture_temperature", oracle=f"""
WITH c AS (
    SELECT source, count(*) AS n_docs FROM documents
    WHERE source IS NOT NULL GROUP BY source
), s AS (
    SELECT source, n_docs,
           CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * {_TEMP_Q} + 0.5)
                AS BIGINT) AS su
    FROM c
), t AS (
    SELECT sum(su) AS stot, sum(n_docs) AS n FROM s
)
SELECT s.source, CAST(s.n_docs AS BIGINT) AS n_docs,
       floor(CAST(s.n_docs AS DOUBLE) / t.n * {_TEMP_Q} + 0.5) / {_TEMP_Q}
           AS p_raw,
       floor(CAST(s.su AS DOUBLE) / t.stot * {_TEMP_Q} + 0.5) / {_TEMP_Q}
           AS w_temp,
       CAST((s.su * t.n) // t.stot AS BIGINT) AS epoch_quota
FROM s, t
""")
def pipeline_mixture_temperature(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling weights -- the multilingual
    mixing rule of mBERT / XLM-R (Conneau et al. 2020): sample source
    s with probability q_s proportional to p_s^alpha, alpha < 1, so
    head sources are downweighted and tail sources upsampled WITHOUT
    the hard inverse-sqrt gate of pipeline_domain_mixture (which
    drops rows; this emits the per-source QUOTA table an epoch
    sampler consumes). Ships the alpha = 1/2 instance because sqrt is
    IEEE-correctly-rounded -- bit-identical cross-engine where a
    fractional pow() is libm-dependent; the alpha knob generalizes by
    swapping the sqrt.

    Determinism shape (the agg_mann_whitney integer discipline): the
    per-source sqrt quantizes to INTEGER micro-units BEFORE the
    normalizing sum, so the denominator is an exact BIGINT in any
    summation order -- a raw double sum would carry partition-order
    ulp noise into every weight and the floor'd quota could flip at
    an integer boundary (the fixture's uniform 25-docs-per-source
    corpus lands w * N EXACTLY on integers, making this a certainty
    not an edge case). epoch_quota = su * N DIV stot is pure integer
    arithmetic end to end.

    Scale: one groupBy(source) collapse (bounded keyspace), one
    broadcast 1-row total -- the weight table is |sources| rows at
    any corpus size."""
    pin_session_conf(spark)
    c = (load(spark, sf_dir, "documents")
         .where(F.col("source").isNotNull())
         .groupBy("source").agg(F.count(F.lit(1)).alias("n_docs")))
    s = c.select(
        "source", "n_docs",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * _TEMP_Q
                + F.lit(0.5)).cast("long").alias("su"))
    t = s.agg(F.sum("su").alias("stot"), F.sum("n_docs").alias("n"))
    q6 = lambda col: F.floor(col * _TEMP_Q + F.lit(0.5)) / _TEMP_Q
    return (s.crossJoin(F.broadcast(t))
            .select("source",
                    F.col("n_docs").cast("long").alias("n_docs"),
                    q6(F.col("n_docs").cast("double") / F.col("n"))
                    .alias("p_raw"),
                    q6(F.col("su").cast("double") / F.col("stot"))
                    .alias("w_temp"),
                    F.expr("(su * n) DIV stot").cast("long")
                    .alias("epoch_quota")))


PAD_GRAIN = 64  # length-bucket granularity (tokens)


@register("pipeline_padding_efficiency", oracle=f"""
WITH t AS (
    SELECT doc_id,
           len(list_filter(string_split(lower(text), ' '),
                           w -> w <> '')) AS n_tok
    FROM documents WHERE text IS NOT NULL
), nz AS (SELECT * FROM t WHERE n_tok > 0),
b AS (
    SELECT ((n_tok + {PAD_GRAIN} - 1) // {PAD_GRAIN}) * {PAD_GRAIN}
               AS bucket_len,
           n_tok
    FROM nz
)
SELECT CAST(bucket_len AS BIGINT) AS bucket_len,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS real_tokens,
       CAST(count(*) * bucket_len AS BIGINT) AS padded_tokens,
       floor((1.0 - CAST(sum(n_tok) AS DOUBLE)
                    / (count(*) * bucket_len)) * 1000000 + 0.5) / 1000000
           AS waste_frac
FROM b GROUP BY bucket_len
""")
def pipeline_padding_efficiency(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Padding-waste report for length-bucketed batching -- the
    trainer-side twin of pipeline_pack_sequences: when batches pad
    every sequence to its bucket's ceiling (the standard bucketed
    collator), the wasted-compute fraction per bucket is
    1 - real/padded. Buckets are {PAD_GRAIN}-token ceilings (the
    usual power-of-two-ish grain); a fat waste_frac on a populous
    bucket is the signal to re-grain or switch that range to packing.

    Pure integer arithmetic until the final fraction (token counts
    and padded counts are exact BIGINTs on both engines), one
    groupBy over a bounded bucket keyspace -- the report is
    |buckets| rows at any corpus size, map-side combinable."""
    pin_session_conf(spark)
    n_tok = F.size(F.filter(F.split(F.lower("text"), r"\s+"),
                            lambda w: w != ""))
    nz = (load(spark, sf_dir, "documents")
          .where(F.col("text").isNotNull())
          .select(n_tok.alias("n_tok"))
          .where(F.col("n_tok") > 0))
    bucket = (F.floor((F.col("n_tok") + PAD_GRAIN - 1) / PAD_GRAIN)
              * PAD_GRAIN).cast("long")
    b = nz.select(bucket.alias("bucket_len"), "n_tok")
    return (b.groupBy("bucket_len")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_tok").cast("long").alias("real_tokens"))
            .select("bucket_len", "n_docs", "real_tokens",
                    (F.col("n_docs") * F.col("bucket_len")).cast("long")
                    .alias("padded_tokens"),
                    (F.floor((1.0 - F.col("real_tokens").cast("double")
                              / (F.col("n_docs") * F.col("bucket_len")))
                             * 1000000 + F.lit(0.5)) / 1000000)
                    .alias("waste_frac")))
