"""Text-analysis / dedup queries over the documents table (north-star
LLM-data-pipeline operators; SURVEY §7 Phase 5).

All built-in expressions — no Python in the hot path.  Each Spark
helper in functions/text.py documents its DuckDB equivalent; the
oracles here spell the identical logic in SQL so the value hashes must
match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shopify_youtube_etl_spark.functions.text import (
    LANG_STOPWORDS,
    fingerprint,
    normalize_text,
    predicted_lang,
    quality_score,
    shingles_from_words as _shingles,
    token_count_bpe_estimate,
    token_count_whitespace,
    words,
)
from shopify_youtube_etl_spark.functions.similarity import (
    double_literal as _double_literal,
    jaccard as _jaccard,
    lsh_bands as _lsh_bands,
    lsh_candidate_pairs as _lsh_pairs,
    minhash_signature as _minhash,
)
from shopify_youtube_etl_spark.operators.components import connected_components
from shopify_youtube_etl_spark.plans.common import StateStore, spread, t, table_col_max
from shopify_youtube_etl_spark.plans.registry import query

# DuckDB fragments mirroring functions/text.py helpers.
_D_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_D_WORDS = "string_split_regex(trim(text), '\\s+')"


@query(
    "dedup_exact",
    ref="A4/A5 generalization → exact content dedup (hash-groupBy)",
    doc="Exact duplicate groups by content hash; keeper = min doc_id.",
    oracle=f"""
SELECT md5({_D_NORM})                    AS content_hash,
       CAST(min(doc_id) AS BIGINT)      AS keeper_id,
       CAST(count(*) AS BIGINT)         AS n_copies
FROM documents
GROUP BY 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup at scale = one hash-groupBy shuffle on the 16-byte
    digest (never on the full text).  Keeper choice (min id) mirrors the
    reference's keep-first (A5) made deterministic."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy(fingerprint(F.col("text")).alias("content_hash")).agg(
        F.min("doc_id").alias("keeper_id"),
        F.count("*").alias("n_copies"),
    )


@query(
    "doc_fingerprint",
    ref="document fingerprinting (north star); F9-style hashing",
    doc="Per-document stable fingerprint + basic size stats.",
    oracle=f"""
SELECT doc_id,
       md5({_D_NORM})                                   AS fingerprint,
       CAST(strlen(text) AS BIGINT)                     AS n_bytes,
       CAST(len({_D_WORDS}) AS BIGINT)                  AS n_tokens
FROM documents
""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fingerprint"),
        F.octet_length("text").cast("long").alias("n_bytes"),
        token_count_whitespace(F.col("text")).cast("long").alias("n_tokens"),
    )


@query(
    "token_stats",
    ref="token counting (whitespace + BPE-ish estimate)",
    doc="Per-document token counts, distinct tokens, type-token ratio.",
    oracle=f"""
SELECT doc_id,
       CAST(len({_D_WORDS}) AS BIGINT)                   AS n_tokens,
       CAST(len(list_distinct({_D_WORDS})) AS BIGINT)    AS n_distinct,
       CAST(ceil(strlen(text) / 4.0) AS BIGINT)          AS bpe_estimate,
       round(len(list_distinct({_D_WORDS})) * 1.0
             / greatest(len({_D_WORDS}), 1), 6)          AS ttr
FROM documents
""",
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    ws = words(F.col("text"))
    return d.select(
        "doc_id",
        token_count_whitespace(F.col("text")).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(ws)).cast("long").alias("n_distinct"),
        token_count_bpe_estimate(F.col("text")).alias("bpe_estimate"),
        F.round(
            F.size(F.array_distinct(ws)) / F.greatest(F.size(ws), F.lit(1)), 6
        ).alias("ttr"),
    )


def _lang_score_sql(lang: str) -> str:
    sws = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return f"len(list_filter({_D_WORDS}, t -> list_contains([{sws}], t)))"


_SCORES = {lang: _lang_score_sql(lang) for lang in LANG_STOPWORDS}
_BEST = "greatest(" + ", ".join(_SCORES.values()) + ")"
_PRED_CASE = (
    "CASE WHEN " + _BEST + " = 0 THEN 'und' "
    + " ".join(
        f"WHEN {score} = {_BEST} THEN '{lang}'" for lang, score in _SCORES.items()
    )
    + " END"
)


@query(
    "lang_id_confusion",
    ref="language-ID heuristic (stopword vote) vs labeled lang",
    doc="Confusion matrix: labeled lang × predicted lang.",
    oracle=f"""
SELECT lang, {_PRED_CASE} AS predicted, CAST(count(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY 1, 2
""",
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID; first language in inventory order wins
    ties (the oracle's CASE chain evaluates in the same order)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select("lang", predicted_lang(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "quality_scores",
    ref="quality scoring (length/diversity/alpha ratios)",
    doc="Per-document composite quality score + per-source profile.",
    oracle=f"""
WITH scored AS (
    SELECT source,
           round(0.4 * least(length(text) / 500.0, 1.0)
               + 0.3 * (len(list_distinct({_D_WORDS})) * 1.0 / greatest(len({_D_WORDS}), 1))
               + 0.3 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
                        / greatest(length(text), 1)), 6) AS q
    FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(q), 6)         AS avg_quality,
       round(min(q), 6)         AS min_quality,
       round(max(q), 6)         AS max_quality
FROM scored
GROUP BY source
""",
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    scored = d.select("source", quality_score(F.col("text")).alias("q"))
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("q"), 6).alias("avg_quality"),
        F.round(F.min("q"), 6).alias("min_quality"),
        F.round(F.max("q"), 6).alias("max_quality"),
    )


@query(
    "stable_sample_split",
    ref="training-data staple — deterministic content-hash sampling (stable train/val/test split)",
    doc="Split assignment by md5(text) bucket: reproducible across runs, engines, and partitionings.",
    oracle="""
SELECT split,
       CAST(count(*) AS BIGINT)        AS n_docs,
       CAST(sum(n_chars) AS BIGINT)    AS total_chars
FROM (
    SELECT CASE
             WHEN bucket < 204 THEN 'train'
             WHEN bucket < 230 THEN 'val'
             ELSE 'test'
           END AS split,
           n_chars
    FROM (
        SELECT n_chars,
               CAST(('0x' || substr(md5(text), 1, 2)) AS INTEGER) AS bucket
        FROM documents
    )
)
GROUP BY split
""",
)
def stable_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling that survives reprocessing: the split key is a hash of
    the CONTENT, not row position or rand() — identical rows land in
    the same split on any engine, partitioning, or run (rand()/
    TABLESAMPLE give neither).  Buckets 0-255 from the first md5 byte:
    ~80% train / ~10% val / ~10% test.  Map-side only; one tiny
    aggregate shuffle."""
    d = t(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.encode("text", "UTF-8")), 1, 2), 16, 10).cast("int")
    split = (
        F.when(bucket < 204, "train").when(bucket < 230, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


@query(
    "doc_chunking",
    ref="training-data staple — overlapping token-window chunking (long-doc splitting)",
    doc="Split documents into 5-token chunks with stride 3 (2-token overlap), positions preserved.",
    oracle="""
WITH base AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
    FROM documents WHERE doc_id % 25 = 0
)
SELECT doc_id,
       CAST(s AS BIGINT)                                     AS chunk_start,
       array_to_string(list_slice(ws, s, s + 4), ' ')        AS chunk_text,
       CAST(len(list_slice(ws, s, s + 4)) AS BIGINT)         AS n_tokens
FROM base, unnest(generate_series(1, len(ws), 3)) AS g(s)
""",
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-document splitting for context-bounded training: stride <
    width gives overlapping windows so no boundary context is lost.
    sequence+explode+slice is all map-side (one fan-out, no shuffle);
    width/stride are the 5/3 miniature of the production 2048/1536."""
    d = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 25 == 0)
        .select("doc_id", words(F.col("text")).alias("ws"))
    )
    chunks = d.select(
        "doc_id",
        "ws",
        F.explode(F.sequence(F.lit(1), F.size("ws"), F.lit(3))).alias("chunk_start"),
    )
    sliced = F.slice(F.col("ws"), F.col("chunk_start"), 5)
    return chunks.select(
        "doc_id",
        F.col("chunk_start").cast("long"),
        F.array_join(sliced, " ").alias("chunk_text"),
        F.size(sliced).cast("long").alias("n_tokens"),
    )


@query(
    "tfidf_top_terms",
    ref="training-data staple — TF-IDF top terms per document (corpus-wide IDF)",
    doc="Top-3 TF-IDF terms per sampled doc; IDF computed over the FULL corpus.",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest({_D_WORDS}) AS token FROM documents
),
df AS (
    SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY token
),
n AS (SELECT count(*) AS n_docs FROM documents),
tf AS (
    SELECT doc_id, token, count(*) AS tfc
    FROM toks WHERE doc_id % 25 = 0 GROUP BY doc_id, token
),
lens AS (
    SELECT doc_id, len({_D_WORDS}) AS n_tokens
    FROM documents WHERE doc_id % 25 = 0
),
scored AS (
    SELECT tf.doc_id, tf.token,
           round((tfc * 1.0 / n_tokens) * ln(n_docs * 1.0 / df.df), 6) AS tfidf
    FROM tf
    JOIN df USING (token)
    JOIN lens USING (doc_id)
    CROSS JOIN n
),
r AS (
    SELECT doc_id, token, tfidf,
           row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rank
    FROM scored
)
SELECT doc_id, token, tfidf, rank FROM r WHERE rank <= 3
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF at scale: document frequency aggregates over the FULL
    corpus (one explode + token groupBy — partial aggregation ships one
    row per distinct token per partition), the per-doc TF side is
    restricted to the probe slice.  The tf⋈df join shuffles on token;
    at 100 TB the df table is vocab-sized (Zipf: far smaller than the
    corpus) and the join benefits from AQE's build-side election.
    Rounding to 6 dp BEFORE ranking makes the top-3 cut hash-stable
    across engines (same discipline as ann_cosine_topk)."""
    from pyspark.sql.window import Window

    from shopify_youtube_etl_spark.plans.common import table_row_count

    # n_docs is the raw table's row count — exact from the parquet
    # footer, no Spark job.
    d = t(spark, sf_dir, "documents")
    n_docs = table_row_count(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(words(F.col("text"))).alias("token"))
    df_tbl = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    tf = (
        toks.where(F.col("doc_id") % 25 == 0)
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tfc"))
    )
    lens = d.where(F.col("doc_id") % 25 == 0).select(
        "doc_id", F.size(words(F.col("text"))).alias("n_tokens")
    )
    scored = (
        tf.join(df_tbl, "token")
        .join(lens, "doc_id")
        .select(
            "doc_id",
            "token",
            F.round(
                (F.col("tfc") / F.col("n_tokens")) * F.log(F.lit(float(n_docs)) / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "token", "tfidf", "rank")
    )


# PII patterns shared by the Spark query and its oracle (RE2-safe: the
# same syntax means the same matches in Java regex and DuckDB).
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
_PHONE_RE = "\\+1-555-[0-9][0-9][0-9][0-9]"


@query(
    "pii_redaction",
    ref="training-data staple — PII scrubbing (email/phone redaction) before training",
    doc="Redact planted emails/phones via regexp_replace; oracle value-checks the redacted bytes (md5) and match counts.",
    oracle=(
        """
WITH aug AS (
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com or +1-555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug_text
    FROM documents
)
SELECT doc_id,
       md5(regexp_replace(regexp_replace(aug_text, '"""
        + _EMAIL_RE
        + """', '[EMAIL]', 'g'), '"""
        + _PHONE_RE
        + """', '[PHONE]', 'g')) AS redacted_md5,
       CAST(len(regexp_extract_all(aug_text, '"""
        + _EMAIL_RE
        + """')) + len(regexp_extract_all(aug_text, '"""
        + _PHONE_RE
        + """')) AS BIGINT) AS n_pii
FROM aug
"""
    ),
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing as a pure JVM expression chain (regexp_replace —
    codegen'd, no Python, embarrassingly parallel: the 100 TB shape is
    a map-only stage with zero shuffle).  Deterministic emails/phones
    are planted per doc so the testdata actually exercises both
    patterns; the oracle md5s the redacted text, so every replaced byte
    is value-checked, and counts matches via the same non-overlapping
    regexp_extract_all semantics both engines share."""
    d = t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(aug, _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    n_pii = (
        F.size(F.regexp_extract_all(aug, F.lit(_EMAIL_RE), 0))
        + F.size(F.regexp_extract_all(aug, F.lit(_PHONE_RE), 0))
    ).cast("long")
    return d.select(
        "doc_id",
        F.md5(F.encode(redacted, "UTF-8")).alias("redacted_md5"),
        n_pii.alias("n_pii"),
    )


@query(
    "stratified_sample_by_lang",
    ref="training-data staple — per-stratum deterministic downsampling (language rebalancing)",
    doc="Content-hash sampling with per-language rates (en 10%, others 50%); per-lang achieved counts.",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN bucket < threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM (
    SELECT lang,
           CAST(('0x' || substr(md5(text), 1, 2)) AS INTEGER) AS bucket,
           CASE WHEN lang = 'en' THEN 26 ELSE 128 END AS threshold
    FROM documents
)
GROUP BY lang
""",
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing: the dominant language is downsampled (~10%)
    while the rest keep ~50% — per-stratum rates over a CONTENT-hash
    bucket, so the sample is reproducible across engines, runs, and
    partitionings (rand()/sampleBy give neither).  Map-side except one
    tiny per-lang aggregate."""
    d = t(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.encode("text", "UTF-8")), 1, 2), 16, 10).cast("int")
    threshold = F.when(F.col("lang") == "en", F.lit(26)).otherwise(F.lit(128))
    return (
        d.select("lang", bucket.alias("bucket"), threshold.alias("threshold"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("bucket") < F.col("threshold"), 1).otherwise(0)).alias(
                "n_sampled"
            ),
        )
    )


_D_QUALITY = f"""round(0.4 * least(length(text) / 500.0, 1.0)
               + 0.3 * (len(list_distinct({_D_WORDS})) * 1.0 / greatest(len({_D_WORDS}), 1))
               + 0.3 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
                        / greatest(length(text), 1)), 6)"""


@query(
    "groupwise_quality_zscore",
    ref="§2.11 grouped-map surface — applyInPandas per-group normalization",
    doc="Per-language z-score of the quality score via applyInPandas; oracle uses window functions.",
    oracle=f"""
WITH scored AS (
    SELECT doc_id, lang, {_D_QUALITY} AS q FROM documents
)
SELECT doc_id, lang,
       CASE WHEN stddev_samp(q) OVER (PARTITION BY lang) IS NULL
              OR stddev_samp(q) OVER (PARTITION BY lang) = 0
            THEN NULL
            ELSE round((q - avg(q) OVER (PARTITION BY lang))
                       / stddev_samp(q) OVER (PARTITION BY lang), 6)
       END AS z
FROM scored
""",
)
def groupwise_quality_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grouped-map Pandas API (``applyInPandas``) — the remaining
    Arrow surface after mapInPandas and applyInPandasWithState: each
    language group arrives as ONE pandas DataFrame and is normalized
    in-group (z = (q - mean)/stddev, sample stddev to match DuckDB's
    stddev_samp).  At 100 TB the shuffle is one exchange on the group
    key and each group must fit one executor's memory — for
    high-cardinality keys this is the right tool; for a handful of
    giant groups prefer the window-function form the oracle uses
    (identical result, no per-group materialization)."""
    import pandas as pd

    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", quality_score(F.col("text")).alias("q")
    )

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        mu = pdf["q"].mean()
        sd = pdf["q"].std(ddof=1)  # sample stddev == stddev_samp
        out = pdf[["doc_id", "lang"]].copy()
        if pd.isna(sd) or sd == 0:
            # Degenerate stratum (single doc / constant quality): emit
            # SQL NULL, matching the oracle's CASE — pandas would give
            # NaN here and NaN is a VALUE to Arrow, not a null.
            out["z"] = pd.array([pd.NA] * len(pdf), dtype="Float64")
        else:
            out["z"] = pd.array(
                np.round((pdf["q"] - mu) / sd, 6), dtype="Float64"
            )
        return out

    return d.groupBy("lang").applyInPandas(zscore, "doc_id long, lang string, z double")


@query(
    "sequence_packing",
    ref="training-data staple — sequence packing (concat-and-chunk into fixed token budgets)",
    doc="Docs packed into 2048-token bins per shard (exclusive prefix-sum binning); per-bin doc/token stats.",
    oracle=f"""
WITH toks AS (
    SELECT doc_id,
           doc_id % 8 AS shard,
           CAST(len({_D_WORDS}) AS BIGINT) AS n_tok
    FROM documents
),
pref AS (
    SELECT doc_id, shard, n_tok,
           COALESCE(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
    FROM toks
)
SELECT shard,
       CAST(prefix // 2048 AS BIGINT)  AS bin,
       CAST(count(*) AS BIGINT)        AS n_docs,
       CAST(sum(n_tok) AS BIGINT)      AS total_tokens,
       CAST(min(doc_id) AS BIGINT)     AS first_doc,
       CAST(max(doc_id) AS BIGINT)     AS last_doc
FROM pref
GROUP BY shard, bin
""",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How pretraining corpora become fixed-length training sequences:
    concatenate docs in a deterministic order, chunk every 2048 tokens
    (a doc whose exclusive prefix crosses a boundary starts the next
    bin).  A single global order would serialize the cumsum at 100 TB,
    so packing is SHARDED — docs hash to shards, the prefix-sum window
    runs per shard (parallel across shards, ordered within), exactly
    how production packers shard by file.  Window is one shuffle on the
    shard key; integer arithmetic end-to-end so the binning is
    hash-exact across engines."""
    from pyspark.sql.window import Window

    toks = t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        F.size(words(F.col("text"))).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pref = toks.withColumn("prefix", F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
    return (
        # `div` keeps the binning in exact integer arithmetic (double
        # division would round above 2^53 accumulated tokens).
        pref.withColumn("bin", F.expr("prefix div 2048"))
        .groupBy("shard", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "mixture_rebalance",
    ref="training-data staple — data-mixture rebalancing (equalize source proportions)",
    doc="Per-source downsampling rate derived FROM the data (smallest source sets the target); deterministic hash sampling.",
    oracle="""
WITH counts AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_total FROM documents GROUP BY source
),
rates AS (
    SELECT source, n_total,
           CAST((256 * min(n_total) OVER ()) // n_total AS BIGINT) AS threshold
    FROM counts
),
sampled AS (
    SELECT d.source,
           CASE WHEN CAST(('0x' || substr(md5(d.text), 1, 2)) AS INTEGER) < r.threshold
                THEN 1 ELSE 0 END AS keep
    FROM documents d JOIN rates r ON d.source = r.source
)
SELECT r.source, r.n_total, r.threshold,
       CAST(sum(s.keep) AS BIGINT) AS n_sampled
FROM rates r JOIN sampled s ON r.source = s.source
GROUP BY r.source, r.n_total, r.threshold
""",
)
def mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unlike stratified_sample_by_lang (fixed rates), the rates here
    are COMPUTED from the data: every source is downsampled toward the
    smallest source's row count (threshold = 256·min/n in exact integer
    arithmetic — no float rate can disagree between engines).  The
    counts table is tiny (one row per source) so the rate join
    broadcasts; sampling itself stays the deterministic content-hash
    bucket filter.  This is the mixture-weights step of corpus
    assembly, where rebalancing runs before tokenization."""
    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n_total"))
    from pyspark.sql.window import Window

    rates = counts.withColumn(
        "threshold",
        F.expr("256 * min(n_total) OVER () div n_total"),
    )
    bucket = F.conv(F.substring(F.md5(F.encode("text", "UTF-8")), 1, 2), 16, 10).cast("int")
    sampled = d.select("source", bucket.alias("bucket")).join(
        F.broadcast(rates), "source"
    )
    return (
        sampled.withColumn(
            "keep", F.when(F.col("bucket") < F.col("threshold"), 1).otherwise(0)
        )
        .groupBy("source", "n_total", "threshold")
        .agg(F.sum("keep").alias("n_sampled"))
        .select("source", "n_total", "threshold", "n_sampled")
    )


@query(
    "source_lang_entropy",
    ref="corpus diagnostics — per-source language-distribution entropy (mixture health check)",
    doc="Shannon entropy of the language mix within each source, plus dominant-language share.",
    oracle="""
WITH c AS (
    SELECT source, lang, CAST(count(*) AS DOUBLE) AS n
    FROM documents GROUP BY source, lang
),
tot AS (
    SELECT source, sum(n) AS nt, max(n) AS nmax FROM c GROUP BY source
)
SELECT c.source,
       CAST(count(*) AS BIGINT)                       AS n_langs,
       CAST(sum(c.n) AS BIGINT)                       AS n_docs,
       round(-sum((c.n / t.nt) * ln(c.n / t.nt)), 6)  AS lang_entropy,
       round(max(t.nmax) / max(t.nt), 6)              AS dominant_share
FROM c JOIN tot t ON c.source = t.source
GROUP BY c.source
""",
)
def source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture health diagnostics: a source whose language entropy
    collapses (or whose dominant share spikes) between corpus snapshots
    signals a scraper or filter regression upstream.  Two tiny
    aggregations over (source, lang) — the heavy scan is one pass, the
    entropy math runs on a table with one row per (source, lang)."""
    d = t(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(F.count("*").cast("double").alias("n"))
    tot = c.groupBy("source").agg(F.sum("n").alias("nt"), F.max("n").alias("nmax"))
    p = F.col("n") / F.col("nt")
    return (
        c.join(tot, "source")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_langs"),
            F.sum("n").cast("long").alias("n_docs"),
            F.round(-F.sum(p * F.log(p)), 6).alias("lang_entropy"),
            F.round(F.max("nmax") / F.max("nt"), 6).alias("dominant_share"),
        )
    )


@query(
    "vocab_top_tokens",
    ref="training-data staple — corpus vocabulary statistics (token frequency top-k)",
    doc="Top-20 tokens by corpus frequency with document frequency, deterministic tie-break.",
    oracle="""
SELECT token, n_occurrences, n_docs, rank
FROM (
    SELECT token,
           CAST(count(*) AS BIGINT)                 AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT)   AS n_docs,
           row_number() OVER (ORDER BY count(*) DESC, token) AS rank
    FROM (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
        FROM documents
    )
    GROUP BY token
)
WHERE rank <= 20
""",
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profile: explode is map-side; the groupBy
    shuffles (token, partial counts) — Catalyst's partial aggregation
    means each partition ships one row per distinct token it saw, not
    one per occurrence.  Top-k via row_number with a token tie-break
    so the cut is deterministic."""
    from pyspark.sql.window import Window

    tokens = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(words(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )
    # Cut the top-20 with orderBy+limit (TakeOrderedAndProject:
    # per-partition heaps, 20-row merge) BEFORE ranking — the rank
    # window then runs over the 20-row cut, never the whole vocab
    # census through one task.
    top = tokens.orderBy(F.col("n_occurrences").desc(), F.col("token")).limit(20)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("token"))
    return top.select(
        "token", "n_occurrences", "n_docs", F.row_number().over(w).alias("rank")
    )


@query(
    "bigram_top_terms",
    ref="training-data staple — corpus n-gram frequency (bigrams)",
    doc="Top-20 word bigrams by corpus frequency with document frequency.",
    oracle=f"""
SELECT bigram, n_occurrences, n_docs, rank
FROM (
    SELECT bigram,
           CAST(count(*) AS BIGINT)                 AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT)   AS n_docs,
           row_number() OVER (ORDER BY count(*) DESC, bigram) AS rank
    FROM (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len({_D_WORDS}) - 1),
                   i -> {_D_WORDS}[i] || ' ' || {_D_WORDS}[i+1])) AS bigram
        FROM documents
        WHERE len({_D_WORDS}) >= 2
    )
    GROUP BY bigram
)
WHERE rank <= 20
""",
)
def bigram_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same two-level aggregation shape as ``vocab_top_tokens`` (partial
    map-side counts, one shuffle on the bigram, O(k) final window) but
    over adjacent word pairs — the building block for n-gram LM stats
    and boilerplate detection.  Bigrams are built in ONE pass over the
    materialized word array with a 0-based index transform (no
    self-join of consecutive tokens, which would shuffle the exploded
    token table twice)."""
    from pyspark.sql.window import Window

    bigrams = (
        t(spark, sf_dir, "documents")
        .select("doc_id", words(F.col("text")).alias("ws"))
        .where(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr("transform(sequence(0, size(ws) - 2), i -> concat(ws[i], ' ', ws[i+1]))")
            ).alias("bigram"),
        )
        .groupBy("bigram")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )
    # Same TakeOrderedAndProject cut as vocab_top_tokens: rank only
    # the 20-row frame, not the bigram census through one task.
    top = bigrams.orderBy(F.col("n_occurrences").desc(), F.col("bigram")).limit(20)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("bigram"))
    return top.select(
        "bigram", "n_occurrences", "n_docs", F.row_number().over(w).alias("rank")
    )


@query(
    "token_length_histogram",
    ref="training-data staple — sequence-length distribution (packing/truncation planning)",
    doc="Histogram of per-document token counts in buckets of 50, with share of corpus.",
    oracle=f"""
WITH n AS (
    SELECT CAST(least(floor(len({_D_WORDS}) / 50), 10) AS BIGINT) AS bucket,
           len({_D_WORDS}) AS n_tokens
    FROM documents
)
SELECT bucket,
       CAST(bucket * 50 AS BIGINT)                            AS bucket_lo,
       CAST(count(*) AS BIGINT)                               AS n_docs,
       round(avg(n_tokens), 6)                                AS avg_tokens,
       round(count(*) * 1.0 / (SELECT count(*) FROM n), 6)    AS share
FROM n
GROUP BY bucket
""",
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distribution every packing/truncation decision starts from.
    Bucketing is a map-side integer expression; the agg is one shuffle
    on ≤11 keys with partial aggregation, and the corpus-total share
    divisor arrives via a 1-row cross-joined subtotal (broadcast), so
    nothing driver-side touches the data."""
    d = t(spark, sf_dir, "documents").select(F.size(words(F.col("text"))).alias("n_tokens"))
    hist = (
        d.select(
            F.least(F.floor(F.col("n_tokens") / 50), F.lit(10)).cast("long").alias("bucket"),
            "n_tokens",
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"), F.round(F.avg("n_tokens"), 6).alias("avg_tokens"))
    )
    total = d.agg(F.count("*").alias("n_total"))
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            "bucket",
            (F.col("bucket") * 50).cast("long").alias("bucket_lo"),
            "n_docs",
            "avg_tokens",
            F.round(F.col("n_docs") / F.col("n_total"), 6).alias("share"),
        )
    )


@query(
    "temperature_resample_weights",
    ref="multilingual pretraining staple — temperature-based language mixture (mC4/XLM-R style)",
    doc="Per language: raw share p, temperature-resampled share p^a/Z (a=0.3), and the sampling boost it implies.",
    oracle="""
WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
p AS (
    SELECT lang, n_docs,
           n_docs * 1.0 / sum(n_docs) OVER () AS p_raw,
           pow(n_docs * 1.0 / sum(n_docs) OVER (), 0.3) AS pw
    FROM c
)
SELECT lang,
       CAST(n_docs AS BIGINT)                 AS n_docs,
       round(p_raw, 6)                        AS p_raw,
       round(pw / sum(pw) OVER (), 6)         AS p_resampled,
       round(pw / sum(pw) OVER () / p_raw, 6) AS boost
FROM p
""",
)
def temperature_resample_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature sampling flattens the language distribution before
    pretraining: resampled share ∝ p^α (α=0.3 here, the mC4 setting),
    so low-resource languages are up-sampled (boost > 1) and the head
    language is down-sampled.  Scale: the heavy work is ONE count
    aggregation over the corpus; the unpartitioned windows then run on
    the tiny per-language frame (|langs| rows — single partition is
    the POINT, not a skew bug).  The boost column is what a weighted
    sampler (e.g. ``stratified_sample_by_lang``) consumes."""
    from pyspark.sql.window import Window

    c = t(spark, sf_dir, "documents").groupBy("lang").agg(
        F.count("*").alias("n_docs")
    )
    everything = Window.partitionBy()
    p_raw = F.col("n_docs") / F.sum("n_docs").over(everything)
    p = c.select("lang", "n_docs", p_raw.alias("p_raw")).withColumn(
        "pw", F.pow("p_raw", F.lit(0.3))
    )
    z = F.sum("pw").over(everything)
    return p.select(
        "lang",
        "n_docs",
        F.round("p_raw", 6).alias("p_raw"),
        F.round(F.col("pw") / z, 6).alias("p_resampled"),
        F.round(F.col("pw") / z / F.col("p_raw"), 6).alias("boost"),
    )


# Cross-engine deterministic uniform for the weighted sampler: a
# golden-ratio Weyl hash (Knuth multiplicative hashing) composed of
# NOTHING but IEEE-754 double multiply/add/floor, which Spark and DuckDB
# evaluate bit-identically — unlike xxhash64, which only Spark has.
# Two mixing rounds decorrelate consecutive doc_ids; the GREATEST guard
# keeps u strictly positive so -ln(u) is finite.
_WS_PHI = "0.6180339887498949"
_WS_SEED = "0.1370000000000000"


def _weyl_uniform_spark(idcol: Column) -> Column:
    x = idcol.cast("double") * F.lit(float(_WS_PHI))
    f1 = x - F.floor(x)
    y = f1 * F.lit(30269.0) + F.lit(float(_WS_SEED))
    return F.greatest(y - F.floor(y), F.lit(1e-12))


_WS_ORACLE = f"""
WITH d AS (
    SELECT doc_id, lang, n_chars,
           CAST(doc_id AS DOUBLE) * {_WS_PHI} AS x
    FROM documents
    WHERE n_chars > 0 AND doc_id IS NOT NULL
),
m AS (
    SELECT doc_id, lang, n_chars,
           (x - floor(x)) * 30269.0 + {_WS_SEED} AS y
    FROM d
),
pri AS (
    SELECT lang, doc_id, n_chars,
           -ln(greatest(y - floor(y), 1e-12)) / CAST(n_chars AS DOUBLE) AS p
    FROM m
),
rk AS (
    SELECT lang, doc_id, n_chars,
           row_number() OVER (PARTITION BY lang ORDER BY p ASC, doc_id ASC) AS rank
    FROM pri
)
SELECT lang, CAST(rank AS INT) AS rank, doc_id, n_chars
FROM rk WHERE rank <= 5
"""


@query(
    "weighted_sample_per_group",
    ref="extension — Efraimidis-Spirakis weighted sampling, the seeded per-group draw a mixture builder uses; oracle-checked (r7 verdict #5): the hash-uniform is pure IEEE double arithmetic both engines reproduce bit-identically",
    doc="Deterministic weighted k=5 sample per lang, priority -ln(u)/w with u from a golden-ratio Weyl hash of doc_id; DuckDB recomputes the identical sample.",
    oracle=_WS_ORACLE,
)
def weighted_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, distributed and
    REPRODUCIBLE: each doc draws priority ``-ln(u) / w`` — the
    Efraimidis-Spirakis exponential trick — and the k smallest
    priorities per group win.  ``u`` is content-addressed from doc_id
    via multiplicative (golden-ratio Weyl) hashing built from plain
    IEEE double ops, so the sample is identical across runs,
    partitionings, cluster sizes, AND engines — which upgrades this
    from a rows-only check to a full value-hash oracle (r7 verdict
    #5) and pins the sampler's distribution contract externally.
    One window shuffle on (lang); at 100 TB the rank-k cutoff per
    group can instead be a two-pass quantile probe, but the window
    form is exact and the partition count per lang is the corpus's
    lang cardinality, not row count."""
    # Efraimidis-Spirakis requires strictly positive weights: zero- or
    # null-weight docs are unsampleable by definition (and -ln(u)/0 is
    # an ANSI divide-by-zero), so they are excluded up front.
    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .where((F.col("n_chars") > 0) & F.col("doc_id").isNotNull())
    )
    pri = -F.log(_weyl_uniform_spark(F.col("doc_id"))) / F.col("n_chars").cast(
        "double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.col("__pri").asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("__pri", pri)
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= 5)
        .select("lang", F.col("__rk").alias("rank"), "doc_id", "n_chars")
    )


@query(
    "bigram_pmi_top",
    ref="training-data staple — collocation mining via pointwise mutual information (phrase/boilerplate detection; frequency sibling of bigram_top_terms)",
    doc="Top-20 collocations by PMI among bigrams seen ≥5 times: pair count, component counts, PMI.",
    oracle=f"""
WITH uni AS (
    SELECT w, CAST(count(*) AS BIGINT) AS c
    FROM (SELECT unnest({_D_WORDS}) AS w FROM documents)
    GROUP BY w
),
nu AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uni),
big AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
    FROM (
        SELECT {_D_WORDS}[i]     AS w1,
               {_D_WORDS}[i + 1] AS w2
        FROM documents, unnest(generate_series(1, len({_D_WORDS}) - 1)) AS g(i)
        WHERE len({_D_WORDS}) >= 2
    )
    GROUP BY w1, w2
),
nb AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM big),
scored AS (
    SELECT b.w1 || ' ' || b.w2 AS bigram,
           b.c                 AS n_pairs,
           u1.c                AS n_w1,
           u2.c                AS n_w2,
           round(ln((b.c / (SELECT n FROM nb))
                    / ((u1.c / (SELECT n FROM nu)) * (u2.c / (SELECT n FROM nu)))), 6) AS pmi
    FROM big b JOIN uni u1 ON b.w1 = u1.w JOIN uni u2 ON b.w2 = u2.w
    WHERE b.c >= 5
)
SELECT bigram, n_pairs, n_w1, n_w2, pmi,
       CAST(row_number() OVER (ORDER BY pmi DESC, bigram) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= 20
""",
)
def bigram_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocations: ln(p(w1,w2) / (p(w1)·p(w2))) over corpus
    counts — high-PMI pairs are multiword units (named entities,
    boilerplate) that tokenizer and dedup stages treat as one unit.
    Three aggregations total: unigram counts, bigram counts (both
    partial-agg shuffles on the term), and two one-row totals
    BROADCAST back (never a driver collect).  The unigram side joins
    to the bigram table twice on the component word — at 100 TB both
    joins shuffle on the word key and the ≥5 support filter prunes the
    bigram side before either join, so the pair table entering the
    joins is already the interesting tail, not the raw fan-out.  PMI
    is rounded to 6dp BEFORE the rank window (repo parity rule) with
    a bigram tie-break so the top-20 cut is deterministic on both
    engines."""
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents").select(words(F.col("text")).alias("ws"))
    uni = (
        docs.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    nu = uni.agg(F.sum("c").cast("double").alias("nu"))
    big = (
        docs.where(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i+1] AS w2))")
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= 5)
    )
    nb = (
        docs.where(F.size("ws") >= 2)
        .agg(F.sum(F.size("ws") - 1).cast("double").alias("nb"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("n_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("n_w2"))
    scored = (
        big.join(u1, "w1")
        .join(u2, "w2")
        .join(F.broadcast(nu))
        .join(F.broadcast(nb))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("c").alias("n_pairs"),
            "n_w1",
            "n_w2",
            F.round(
                F.log(
                    (F.col("c") / F.col("nb"))
                    / ((F.col("n_w1") / F.col("nu")) * (F.col("n_w2") / F.col("nu")))
                ),
                6,
            ).alias("pmi"),
        )
    )
    # TakeOrderedAndProject cut on (rounded) PMI before ranking — the
    # rank window touches 20 rows, not the scored-pair census.
    top = scored.orderBy(F.col("pmi").desc(), F.col("bigram")).limit(20)
    w = Window.orderBy(F.col("pmi").desc(), F.col("bigram"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


@query(
    "bpe_sequence_packing",
    ref="training-data staple — packing under a BPE-piece budget (VERDICT r3 #8: whitespace counts misprice the budget real tokenizers spend)",
    doc="Docs packed into 2048-BPE-piece bins per shard; per-bin piece/word totals and the ws→BPE inflation ratio.",
    oracle=f"""
WITH toks AS (
    SELECT doc_id,
           doc_id % 8 AS shard,
           CAST(len({_D_WORDS}) AS BIGINT) AS n_ws,
           CAST(COALESCE(list_sum(list_transform({_D_WORDS},
                w -> greatest(1, (length(w)+3)//4
                     + length(regexp_replace(w, '[A-Za-z0-9]', '', 'g'))))), 0)
                AS BIGINT) AS n_bpe
    FROM documents
),
pref AS (
    SELECT doc_id, shard, n_ws, n_bpe,
           COALESCE(sum(n_bpe) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
    FROM toks
)
SELECT shard,
       CAST(prefix // 2048 AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT)       AS n_docs,
       CAST(sum(n_bpe) AS BIGINT)     AS total_pieces,
       CAST(sum(n_ws) AS BIGINT)      AS total_ws_tokens,
       round(CAST(sum(n_bpe) AS DOUBLE) / sum(n_ws), 4) AS inflation
FROM pref
GROUP BY shard, bin
""",
)
def bpe_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sequence_packing`` with the budget denominated in estimated
    BPE pieces instead of whitespace tokens — the unit a real trainer
    spends.  The estimator is a deterministic pure expression (no vocab
    file in this container): per word, ceil(len/4) subword pieces —
    the ~4-chars-per-piece ratio BPE vocabularies land on for English —
    plus one piece per non-alphanumeric character (punctuation rarely
    merges), floor one piece per word.  Both engines compute the
    identical integer formula, so the packing is hash-exact.  Same
    scale shape as sequence_packing: the fold over the words array is
    map-side JVM (one array materialization, no O(len²) re-split), and
    the prefix-sum window shuffles once on the shard key."""
    from pyspark.sql.window import Window

    pieces = F.expr(
        "aggregate(__words, CAST(0 AS BIGINT), (acc, w) -> acc"
        " + greatest(CAST(1 AS BIGINT),"
        "   CAST((length(w)+3) div 4 AS BIGINT)"
        "   + CAST(length(regexp_replace(w, '[A-Za-z0-9]', '')) AS BIGINT)))"
    )
    toks = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            (F.col("doc_id") % 8).alias("shard"),
            words(F.col("text")).alias("__words"),
        )
        .select(
            "doc_id",
            "shard",
            F.size("__words").cast("long").alias("n_ws"),
            pieces.alias("n_bpe"),
        )
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pref = toks.withColumn("prefix", F.coalesce(F.sum("n_bpe").over(w), F.lit(0)))
    return (
        pref.withColumn("bin", F.expr("prefix div 2048"))
        .groupBy("shard", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bpe").alias("total_pieces"),
            F.sum("n_ws").alias("total_ws_tokens"),
            F.round(F.sum("n_bpe") / F.sum("n_ws"), 4).alias("inflation"),
        )
    )


@query(
    "quality_quantile_filter",
    ref="training-data staple — quantile-based quality filtering (keep the best half per source)",
    doc="Top-50% documents per source by quality score (deterministic percent_rank cut); per-source kept count and quality floor.",
    oracle=f"""
WITH scored AS (
    SELECT doc_id, source, {_D_QUALITY} AS q FROM documents
),
r AS (
    SELECT source, q,
           percent_rank() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS pr
    FROM scored
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_kept,
       round(avg(q), 6)         AS avg_kept_q,
       round(min(q), 6)         AS min_kept_q
FROM r WHERE pr <= 0.5
GROUP BY source
""",
)
def quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filter step that follows quality scoring in a pretraining
    pipeline: keep each source's best half, where "half" is a
    percent_rank cut (relative, so a uniformly-bad source still keeps
    its top 50% rather than being emptied by a global threshold).  The
    rank window shuffles once on source; ties in the rounded score are
    broken by doc_id so the cut — and the driver's value hash — is
    deterministic on both engines."""
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", quality_score(F.col("text")).alias("q")
    )
    w = Window.partitionBy("source").orderBy(F.col("q").desc(), F.col("doc_id"))
    kept = d.withColumn("pr", F.percent_rank().over(w)).where(F.col("pr") <= 0.5)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.round(F.avg("q"), 6).alias("avg_kept_q"),
        F.round(F.min("q"), 6).alias("min_kept_q"),
    )


@query(
    "cross_source_dup_matrix",
    ref="dedup diagnostics — which source pairs share identical content (the overlap matrix a corpus audit starts with)",
    doc="For every source pair, the number of distinct normalized contents present in both.",
    oracle=f"""
WITH h AS (
    SELECT DISTINCT md5({_D_NORM}) AS h, source FROM documents
),
pairs AS (
    SELECT a.h, a.source AS src_a, b.source AS src_b
    FROM h a JOIN h b ON a.h = b.h AND a.source < b.source
)
SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_shared_contents
FROM pairs GROUP BY src_a, src_b
""",
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination audit: exact-content groups that span
    two sources, counted per unordered source pair.  Scale shape: one
    hash-groupBy collecting each content's distinct source set (the
    dedup-cluster shuffle, on the 16-byte digest), then the pair
    expansion is a map-side array transform over the few-element source
    list — no self-join of the corpus, which the oracle's formulation
    would cost at 100 TB."""
    d = t(spark, sf_dir, "documents").select(
        fingerprint(F.col("text")).alias("h"), "source"
    )
    # NULL-text docs hash to NULL: groupBy would pool them into one
    # phantom "content" and manufacture shared-source pairs the
    # oracle's h-equality join can never produce (NULL=NULL is not a
    # match in SQL) — exclude them, as dedup semantics require anyway.
    by_content = (
        d.where(F.col("h").isNotNull())
        .groupBy("h")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
    )
    pairs = by_content.select(
        F.explode(
            F.expr(
                "flatten(transform(srcs, (x, i) ->"
                " transform(slice(srcs, i + 2, size(srcs)),"
                " y -> struct(x AS src_a, y AS src_b))))"
            )
        ).alias("p")
    )
    return (
        pairs.select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_shared_contents"))
    )


@query(
    "source_token_kl",
    ref="mixture diagnostics — per-source unigram KL divergence from the corpus distribution (which sources skew the token mix)",
    doc="Per source: vocabulary size, token count, and KL(source ‖ corpus) over the unigram distribution.",
    oracle=f"""
WITH tok AS (
    SELECT source, unnest({_D_WORDS}) AS token FROM documents
),
st AS (
    SELECT source, token, CAST(count(*) AS BIGINT) AS n
    FROM tok GROUP BY source, token
),
stot AS (SELECT source, CAST(sum(n) AS BIGINT) AS s_n FROM st GROUP BY source),
ct AS (SELECT token, CAST(sum(n) AS BIGINT) AS c_n FROM st GROUP BY token),
ctot AS (SELECT CAST(sum(n) AS BIGINT) AS t_n FROM st)
SELECT st.source,
       CAST(count(*) AS BIGINT) AS vocab_size,
       CAST(min(stot.s_n) AS BIGINT) AS n_tokens,
       round(sum((st.n * 1.0 / stot.s_n)
             * ln((st.n * 1.0 / stot.s_n) / (ct.c_n * 1.0 / (SELECT t_n FROM ctot)))), 6)
           AS kl_vs_corpus
FROM st
JOIN stot ON st.source = stot.source
JOIN ct   ON st.token = ct.token
GROUP BY st.source
""",
)
def source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources drag the token mixture: KL(p_source ‖ p_corpus)
    over unigrams.  Support is guaranteed (every source token is in the
    corpus), so no smoothing term.  Scale shape: ONE explode pass
    aggregated to (source, token) counts — corpus totals derive from
    that same reduced frame (never a second corpus scan), the per-source
    totals broadcast back, and the KL sum is a partial-agg shuffle on
    source."""
    st = (
        t(spark, sf_dir, "documents")
        .select("source", F.explode(words(F.col("text"))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("n"))
        # Materialize the reduced (source, token) frame ONCE: four
        # downstream branches (self, per-source totals, per-token
        # totals, grand total) would each rebuild the explode+agg —
        # AQE's ReusedExchange recovers only some of that at runtime
        # (measured: 6 Generates, 4 reuses).  The checkpoint is
        # vocab-sized, not corpus-sized, so this is cheap at any scale
        # and the plan gate can assert zero re-explodes structurally.
        .localCheckpoint(eager=True)
    )
    stot = st.groupBy("source").agg(F.sum("n").alias("s_n"))
    ct = st.groupBy("token").agg(F.sum("n").alias("c_n"))
    ctot = stot.agg(F.sum("s_n").alias("t_n"))
    p_s = F.col("n") / F.col("s_n")
    p_c = F.col("c_n") / F.col("t_n")
    return (
        st.join(F.broadcast(stot), "source")
        .join(ct, "token")
        .join(F.broadcast(ctot))
        .groupBy("source")
        .agg(
            F.count("*").alias("vocab_size"),
            F.min("s_n").alias("n_tokens"),
            F.round(F.sum(p_s * F.log(p_s / p_c)), 6).alias("kl_vs_corpus"),
        )
    )


@query(
    "incremental_dedup_report",
    ref="pipeline staple — dedup of an incoming batch against the historical corpus (the incremental form of dedup_exact; S2's watermark scan applied to content)",
    doc="Newest 20% of docs as the incoming batch: how many are exact dupes of history, dupes within the batch, or novel.",
    oracle=f"""
WITH hist AS (
    SELECT DISTINCT md5({_D_NORM}) AS h FROM documents WHERE doc_id < 400
),
batch AS (
    SELECT doc_id, md5({_D_NORM}) AS h FROM documents WHERE doc_id >= 400
),
flagged AS (
    SELECT b.doc_id, b.h,
           CASE WHEN hist.h IS NOT NULL THEN 1 ELSE 0 END AS dup_vs_history,
           CASE WHEN row_number() OVER (PARTITION BY b.h ORDER BY b.doc_id) > 1
                THEN 1 ELSE 0 END AS dup_in_batch
    FROM batch b LEFT JOIN hist ON b.h = hist.h
)
SELECT CAST(count(*) AS BIGINT)                                   AS n_batch,
       CAST(sum(dup_vs_history) AS BIGINT)                        AS n_dup_vs_history,
       CAST(sum(CASE WHEN dup_vs_history = 0 THEN dup_in_batch ELSE 0 END)
            AS BIGINT)                                            AS n_dup_in_batch,
       CAST(sum(CASE WHEN dup_vs_history = 0 AND dup_in_batch = 0 THEN 1 ELSE 0 END)
            AS BIGINT)                                            AS n_novel
FROM flagged
""",
)
def incremental_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state ingestion never re-dedups the corpus: each incoming
    batch checks its content hashes against the historical hash set
    (here docs 0-399 as history, ≥400 as the batch) and within itself.
    Scale shape: history is ONLY its 16-byte digests — at 100 TB that
    hash set lives as its own compact table and the probe is a hash
    join on digests, never a text scan of history; within-batch dupes
    are one window over the (small) batch.  Precedence matters for the
    counts: a batch row matching history counts there, not as an
    in-batch dupe — the oracle encodes the same precedence."""
    from pyspark.sql.window import Window

    hist = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 400)
        .select(fingerprint(F.col("text")).alias("h"))
        .distinct()
        .withColumn("in_hist", F.lit(1))
    )
    batch = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id") >= 400)
        .select("doc_id", fingerprint(F.col("text")).alias("h"))
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    flagged = (
        batch.join(hist, "h", "left")
        .withColumn("dup_vs_history", F.when(F.col("in_hist").isNotNull(), 1).otherwise(0))
        .withColumn("dup_in_batch", F.when(F.row_number().over(w) > 1, 1).otherwise(0))
    )
    return flagged.agg(
        F.count("*").alias("n_batch"),
        F.sum("dup_vs_history").alias("n_dup_vs_history"),
        F.sum(
            F.when(F.col("dup_vs_history") == 0, F.col("dup_in_batch")).otherwise(0)
        ).alias("n_dup_in_batch"),
        F.sum(
            F.when(
                (F.col("dup_vs_history") == 0) & (F.col("dup_in_batch") == 0), 1
            ).otherwise(0)
        ).alias("n_novel"),
    )


@query(
    "duplicated_span_profile",
    ref="span-level near-dup diagnostic (MassiveText/Gopher-style repeated-passage removal operates at this grain) — extends the doc-level dedup family to sub-document spans",
    doc="Per-source profile of 8-token spans that recur across distinct documents: span counts, cross-doc duplicated occurrences, and the duplication ratio.",
    oracle="""
WITH toks AS (
    SELECT doc_id, source, string_split(text, ' ') AS w
    FROM documents
),
spans AS (
    SELECT doc_id, source, array_to_string(w[i:i+7], ' ') AS span
    FROM toks, UNNEST(range(1, len(w) - 6)) AS s(i)
    WHERE len(w) >= 8
),
corpus AS (
    SELECT span, count(DISTINCT doc_id) AS nd
    FROM spans GROUP BY span
)
SELECT source,
       CAST(count(DISTINCT doc_id) AS BIGINT)                    AS n_docs,
       CAST(count(*) AS BIGINT)                                  AS n_spans,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)   AS n_dup_spans,
       round(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1.0
             / count(*), 6)                                      AS dup_ratio
FROM spans JOIN corpus USING (span)
GROUP BY source
ORDER BY source
""",
)
def duplicated_span_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplication: explode each doc into its sliding
    8-token spans, count how many DISTINCT docs each span occurs in
    corpus-wide, then roll occurrences up per source.  Doc-level dedup
    (dedup_exact / minhash) misses boilerplate repeated INSIDE
    otherwise-unique pages; this is the operator that finds it.

    Scale shape: span explosion is map-side (transform over a
    sequence — no shuffle), and the span string is hashed to a
    64-bit xxhash64 BEFORE it ever reaches an Exchange: the census
    groupBy and the count-back join both move 8-byte keys instead of
    ~50-byte strings (~6× less shuffle I/O on the corpus-sized
    stage, the dominant cost at 100 TB), trading the 2^-64-per-pair
    collision epsilon — the same trade every MinHash/SimHash stage
    in this family already makes.  The join re-shuffles on the same
    key so AQE coalesces, and the per-source rollup is a partial-agg
    over ~|sources| groups.  Nothing is quadratic — cost is O(total
    tokens)."""
    toks = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "source", F.split(F.col("text"), " ").alias("w"))
        .where(F.size("w") >= 8)
    )
    spans = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 7),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("w", i, 8))),
            )
        ).alias("sh"),
    )
    corpus = spans.groupBy("sh").agg(F.countDistinct("doc_id").alias("nd"))
    dup_flag = F.when(F.col("nd") > 1, 1).otherwise(0)
    return (
        spans.join(corpus, "sh")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_spans"),
            F.sum(dup_flag).alias("n_dup_spans"),
            F.round(F.sum(dup_flag) / F.count("*"), 6).alias("dup_ratio"),
        )
        .orderBy("source")
    )


@query(
    "repeated_span_removal",
    ref="span-level dedup TRANSFORM (r4 verdict item #5) — MassiveText-style repeated-passage removal; duplicated_span_profile is its diagnostic twin",
    doc="Per document: token count, tokens removed, and the cleaned text with cross-doc duplicated 8-token spans masked out (first-occurrence doc keeps them).",
    oracle="""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS w
    FROM documents
    WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
spans AS (
    SELECT doc_id, i, array_to_string(w[i:i+7], ' ') AS span
    FROM toks, UNNEST(range(1, len(w) - 6)) AS s(i)
    WHERE len(w) >= 8
),
corpus AS (
    SELECT span, count(DISTINCT doc_id) AS nd, min(doc_id) AS keeper
    FROM spans GROUP BY span
),
covered AS (
    SELECT DISTINCT spans.doc_id, i + o AS pos
    FROM spans
    JOIN corpus USING (span), UNNEST(range(0, 8)) AS t(o)
    WHERE nd >= 2 AND spans.doc_id <> keeper
),
cov AS (SELECT doc_id, list(pos) AS ps FROM covered GROUP BY doc_id)
SELECT toks.doc_id,
       CAST(len(w) AS BIGINT)                 AS n_tokens,
       CAST(coalesce(len(ps), 0) AS BIGINT)   AS n_removed,
       coalesce(array_to_string(
           [w[j] FOR j IN range(1, len(w) + 1)
                 IF ps IS NULL OR NOT list_contains(ps, j)], ' '), '') AS cleaned_text
FROM toks LEFT JOIN cov USING (doc_id)
""",
)
def repeated_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRANSFORM that acts on what ``duplicated_span_profile``
    measures (MassiveText/Gopher repeated-passage removal): every
    8-token span occurring in ≥2 distinct documents is masked out of
    every doc EXCEPT the first occurrence (min doc_id keeps it), and
    the surviving tokens are re-joined into cleaned text.  Unique text
    passes through byte-identical (conservation), so the operator is
    safe to run corpus-wide.

    Scale shape — O(total tokens), nothing quadratic: span explosion
    is map-side and the span string is reduced to xxhash64 BEFORE the
    Exchange, so the census (count-distinct-docs + min keeper) and its
    join-back both shuffle 8-byte keys instead of ~50-byte strings
    (AQE coalesces the co-partitioned shuffle); covered token
    positions collapse to a per-doc position set (bounded by doc
    length); and the final mask is a higher-order filter over the
    token array — per-row JVM work, no extra shuffle.  The collision
    epsilon (2^-64 per span pair) is the documented trade, identical
    to the MinHash family's."""
    toks = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .select("doc_id", F.split(F.col("text"), " ").alias("w"))
    )
    spans = toks.where(F.size("w") >= 8).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 7),
                lambda i: F.struct(
                    i.alias("i"),
                    F.xxhash64(F.concat_ws(" ", F.slice("w", i, 8))).alias("sh"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", "s.i", "s.sh")
    census = spans.groupBy("sh").agg(
        F.countDistinct("doc_id").alias("nd"), F.min("doc_id").alias("keeper")
    )
    covered = (
        spans.join(census, "sh")
        .where((F.col("nd") >= 2) & (F.col("doc_id") != F.col("keeper")))
        .select("doc_id", F.explode(F.sequence("i", F.col("i") + 7)).alias("pos"))
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("ps"))
    )
    kept = F.filter(
        "w", lambda tok, idx: ~F.array_contains(F.col("ps"), idx + F.lit(1))
    )
    return toks.join(covered, "doc_id", "left").select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        F.coalesce(F.size("ps"), F.lit(0)).cast("long").alias("n_removed"),
        F.when(F.col("ps").isNull(), F.concat_ws(" ", F.col("w")))
        .otherwise(F.concat_ws(" ", kept))
        .alias("cleaned_text"),
    )


@query(
    "unigram_logprob_score",
    ref="quality scoring (north star) — CCNet-style perplexity proxy: per-doc cross-entropy under the corpus unigram LM",
    doc="Per document: token count and mean negative log-probability of its tokens under the corpus unigram distribution (high = unusual token mix).",
    oracle=f"""
WITH dt AS (
    SELECT doc_id, token, CAST(count(*) AS BIGINT) AS k
    FROM (SELECT doc_id, unnest({_D_WORDS}) AS token FROM documents)
    GROUP BY doc_id, token
),
ct AS (SELECT token, CAST(sum(k) AS BIGINT) AS c_n FROM dt GROUP BY token),
ctot AS (SELECT CAST(sum(k) AS BIGINT) AS t_n FROM dt)
SELECT dt.doc_id,
       CAST(sum(dt.k) AS BIGINT) AS n_tokens,
       round(sum(dt.k * -ln(ct.c_n * 1.0 / (SELECT t_n FROM ctot)))
             / sum(dt.k), 6)     AS unigram_xent
FROM dt JOIN ct USING (token)
GROUP BY dt.doc_id
""",
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet filtering idea with the LM simplified to corpus
    unigrams: score each document by the mean -ln p(token) of its
    tokens, where p comes from the corpus itself.  Boilerplate and
    natural prose score low; lorem-noise, rare-token spam, and
    wrong-language contamination score high — the cheap first-pass
    quality screen before an expensive model-based filter.

    Scale shape (mirrors source_token_kl): ONE explode pass reduced
    immediately to per-doc token counts (doc_id, token, k) — the only
    corpus-sized shuffle; the vocabulary frame (token, c_n) and the
    one-row grand total both DERIVE from that reduced frame, never from
    a second scan.  The LM join shuffles on token (vocab-sized build
    side — hash join, broadcast only if the vocab is small), and the
    per-doc score is a partial-agg shuffle on doc_id.  Support is
    guaranteed (every doc token is in the corpus LM), so no smoothing
    term is needed."""
    dt = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(words(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("k"))
        # Three downstream branches (self, vocab counts, grand total)
        # would each rebuild the explode+agg; the reduced frame is
        # bounded by sum-of-distinct-tokens-per-doc, far below corpus
        # token count, so materializing once is cheap at any scale.
        .localCheckpoint(eager=True)
    )
    ct = dt.groupBy("token").agg(F.sum("k").alias("c_n"))
    ctot = ct.agg(F.sum("c_n").alias("t_n"))
    return (
        dt.join(ct, "token")
        .join(F.broadcast(ctot))
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_tokens"),
            F.round(
                F.sum(F.col("k") * -F.log(F.col("c_n") / F.col("t_n")))
                / F.sum("k"),
                6,
            ).alias("unigram_xent"),
        )
    )


@query(
    "bpe_train_merges",
    ref="tokenizer training (north star) — BPE merge learning over the distributed word histogram (Sennrich-style)",
    doc="Top-30 learned BPE merges (rank, left, right, weighted pair count); rows-only (the greedy merge loop is iterative, not SQL-expressible).",
    oracle=None,
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BPE training, structured the way production trainers
    (subword-nmt, HuggingFace tokenizers) actually scale: the ONLY
    corpus-sized work is building the word histogram — one explode +
    groupBy shuffle that reduces 100 TB of text to a vocab-sized
    (word, count) frame — and the greedy merge loop then runs on that
    histogram, never on the corpus.  The histogram is capped at the
    top 2000 words by count (deterministic count-desc/word tie-break),
    a documented bounded collect like the ANN probe slices; rare tail
    words contribute negligible pair mass to early merges.

    Loop semantics (Sennrich et al. 2016): words start as character
    sequences + '</w>'; each round counts adjacent symbol pairs
    weighted by word frequency, merges the (count desc, pair lexical)
    argmax everywhere it occurs, and records it.  Determinism across
    runs/partitionings comes from the total order on both the
    histogram cut and the argmax tie-break."""
    merges = _learn_bpe_merges(spark, sf_dir, n_merges=30)
    return spark.createDataFrame(
        merges, "merge_rank int, left string, right string, pair_count bigint"
    )


def _learn_bpe_merges(
    spark: SparkSession, sf_dir: str, n_merges: int
) -> list[tuple[int, str, str, int]]:
    """Shared by bpe_train_merges (reports the merges) and
    bpe_encode_stats (applies them): distributed word histogram →
    local greedy merge loop (see bpe_train_merges docstring)."""
    hist_rows = (
        t(spark, sf_dir, "documents")
        .select(F.explode(words(F.lower(F.col("text")))).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(2000)
        .collect()
    )
    hist: dict[tuple[str, ...], int] = {
        tuple(r["word"]) + ("</w>",): r["n"] for r in hist_rows
    }

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pairs: dict[tuple[str, str], int] = {}
        for syms, n in hist.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + n
        if not pairs:
            break
        (left, right), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, left, right, cnt))
        merged = left + right
        new_hist: dict[tuple[str, ...], int] = {}
        for syms, n in hist.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_hist[key] = new_hist.get(key, 0) + n
        hist = new_hist
    return merges


@query(
    "bpe_encode_stats",
    ref="tokenizer apply (north star) — encode the corpus with the LEARNED BPE merges (train+apply pair with bpe_train_merges)",
    doc="Per document: word count, BPE piece count under 200 learned merges, and compression vs character tokens; rows-only (iterative encode).",
    oracle=None,
)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The apply half of the tokenizer story: the merge table learned
    from the word histogram (bounded driver loop, see
    bpe_train_merges) ships to executors as a closure-captured rank
    dict, and encoding is one Arrow pass — per word, repeatedly merge
    the lowest-rank adjacent pair (the exact greedy algorithm GPT-2's
    tokenizer uses), with a per-task memo because Zipf makes most
    word occurrences repeats.  Piece counts are what a training
    pipeline actually consumes (packing budgets, cost estimates);
    sequence_packing's regex estimate is the cheap JVM proxy, this is
    the real thing."""
    import pandas as pd

    ranks = {
        (left, right): rank
        for rank, left, right, _ in _learn_bpe_merges(spark, sf_dir, n_merges=200)
    }

    def encode_word(word: str, memo: dict) -> int:
        if word in memo:
            return memo[word]
        syms = list(word) + ["</w>"]
        while len(syms) > 1:
            best, bi = None, -1
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best is None or r < best):
                    best, bi = r, i
            if best is None:
                break
            syms[bi : bi + 2] = [syms[bi] + syms[bi + 1]]
        memo[word] = len(syms)
        return len(syms)

    def encode(batches):
        memo: dict = {}
        for pdf in batches:
            if pdf.empty:
                continue
            n_words, n_pieces, n_chars = [], [], []
            for text in pdf["text"]:
                ws = [w for w in (text or "").lower().split() if w]
                n_words.append(len(ws))
                n_pieces.append(sum(encode_word(w, memo) for w in ws))
                n_chars.append(sum(len(w) for w in ws))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_words": n_words,
                    "n_pieces": n_pieces,
                    "n_chars": n_chars,
                }
            )

    d = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    out = d.select("doc_id", "text").mapInPandas(
        encode, "doc_id long, n_words long, n_pieces long, n_chars long"
    )
    return out.select(
        "doc_id",
        "n_words",
        "n_pieces",
        F.when(
            F.col("n_pieces") > 0,
            F.round((F.col("n_chars") + F.col("n_words")) / F.col("n_pieces"), 4),
        ).alias("chars_per_piece"),
    )


@query(
    "hashed_linear_quality_score",
    ref="quality scoring (north star) — fasttext-style hashed-feature linear classifier, pure JVM expressions",
    doc="Per document: sigmoid score of a hashed bag-of-tokens linear model (deterministic stand-in weights); the model-scoring SHAPE used for quality/toxicity filters at scale.",
    oracle="""
WITH tok AS (
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, length(token)),
                   i -> CAST(unicode(substr(token, i, 1)) AS BIGINT))),
               (acc, x) -> (acc * 31 + x) % 2147483647) AS h
    FROM (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
        FROM documents
    )
    WHERE token <> ''
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(1.0 / (1.0 + exp(-avg((h % 997) / 997.0 - 0.5))), 6) AS quality_score
FROM tok
GROUP BY doc_id
""",
)
def hashed_linear_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scoring half of a fasttext-style quality filter: tokens hash
    into a weight table, the doc's score is sigmoid(mean weight).  The
    weights here are a fixed arithmetic function of the bucket
    ((h % 997)/997 − ½ — a deterministic stand-in; production swaps in
    trained weights as a broadcast array lookup, same plan) so both
    engines can verify the FULL pipeline value-for-value.

    Why this shape matters at 100 TB: model-based filters (quality,
    toxicity, language) are usually the first wall where pipelines
    fall back to Python UDFs.  A linear/hashed model needs none of
    that — the token hash is a higher-order-function fold, the weight
    lookup is arithmetic (or a broadcast array index), and the score
    is a partial-agg mean: one explode shuffle, whole-stage codegen
    end to end, zero Python.  The hash is the SAME polynomial both
    engines compute per code point (unicode-parity-tested family)."""
    tok = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(words(F.col("text"))).alias("token"))
        .where(F.col("token") != "")
    )
    h = F.aggregate(
        F.transform(F.split(F.col("token"), ""), lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % 2147483647,
    )
    w = (h % 997) / 997.0 - 0.5
    return (
        tok.select("doc_id", w.alias("w"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(1.0 / (1.0 + F.exp(-F.avg("w"))), 6).alias("quality_score"),
        )
    )


@query(
    "zipf_alpha_fit",
    ref="corpus diagnostics (north star) — Zipf exponent via distributed OLS on the log-log rank/frequency curve",
    doc="Corpus token rank-frequency Zipf fit: vocabulary size, total tokens, fitted alpha (negated log-log slope), and R².",
    oracle=f"""
WITH ct AS (
    SELECT token, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest({_D_WORDS}) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
),
ranked AS (
    SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rnk FROM ct
)
SELECT CAST(count(*) AS BIGINT)                        AS vocab_size,
       CAST(sum(n) AS BIGINT)                          AS total_tokens,
       round(-regr_slope(ln(n), ln(rnk)), 6)           AS zipf_alpha,
       round(regr_r2(ln(n), ln(rnk)), 6)               AS r2
FROM ranked
""",
)
def zipf_alpha_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does this corpus look like natural language?  Natural text has
    Zipf alpha ≈ 1; templated/synthetic/spam corpora deviate hard, so
    the fitted exponent is a one-number ingest sanity check.  Shape:
    the corpus reduces to vocab-sized (token, count) in one explode
    shuffle; ranking is ONE window over that reduced frame (vocab ≪
    corpus — fine even at 100 TB, and a sort-based rank if vocab ever
    isn't); the OLS is SQL:2003 regr_slope/regr_r2 — single-pass
    mergeable moment aggregates, no driver-side fit.  Identical
    tie-break (count desc, token) keeps ranks hash-equal across
    engines."""
    from pyspark.sql.window import Window

    ct = (
        t(spark, sf_dir, "documents")
        .select(F.explode(words(F.col("text"))).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    # The fit needs EVERY vocab row ranked (ln rank is a regressor), so
    # a top-k cut can't help — use the two-phase distributed row_number
    # (integer-exact, bit-identical to the global window) instead of
    # funneling the vocab census through one window task.
    from shopify_youtube_etl_spark.plans.common import distributed_row_number

    ranked, _ = distributed_row_number(
        ct, [F.col("n").desc(), F.col("token").asc()], "rnk"
    )
    ln_n, ln_r = F.log(F.col("n")), F.log(F.col("rnk"))
    return ranked.agg(
        F.count("*").alias("vocab_size"),
        F.sum("n").alias("total_tokens"),
        F.round(-F.regr_slope(ln_n, ln_r), 6).alias("zipf_alpha"),
        F.round(F.regr_r2(ln_n, ln_r), 6).alias("r2"),
    )



def _bm25_score_frame(tf, dl):
    """Okapi BM25 scoring join (k1=1.2, b=0.75 — tf·(k1+1) appears as
    tf·2.2), shared by the four retrieval queries (bm25_search_topk,
    bm25_incremental_index, ndcg_retrieval_eval, rrf_hybrid_retrieval)
    so the constants and idf expression exist exactly ONCE: ``tf`` is
    (doc_id, token, tf double) already filtered to the query terms,
    ``dl`` is (doc_id, dlen double).  n_docs/avgdl/df derive from the
    inputs (term-count- and one-row-sized, broadcast); returns
    (doc_id, bm25) with the 6dp round applied BEFORE any ranking so
    float residue can't elect different winners across engines."""
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dlen").alias("avgdl")
    )
    df = tf.groupBy("token").agg(F.count("*").cast("double").alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dlen") / F.col("avgdl"))
    return (
        tf.join(F.broadcast(df), "token")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * F.col("tf") * 2.2 / denom), 6).alias("bm25"))
    )


@query(
    "bm25_search_topk",
    ref="text retrieval scorer (north star) — BM25 ranking over the inverted-index statistics (Okapi k1=1.2, b=0.75)",
    doc="Top-10 documents for the fixed query {query, window, merge} by BM25 score (rounded before ranking so both engines elect identical winners).",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest({_D_WORDS}) AS token
    FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
dl AS (
    SELECT doc_id, CAST(count(*) AS DOUBLE) AS dlen FROM toks GROUP BY doc_id
),
stats AS (
    SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dlen) AS avgdl FROM dl
),
tf AS (
    SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
    FROM toks WHERE token IN ('query', 'window', 'merge')
    GROUP BY doc_id, token
),
df AS (
    SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token
),
scored AS (
    SELECT tf.doc_id,
           sum(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dlen / stats.avgdl))) AS s
    FROM tf
    JOIN df USING (token)
    JOIN dl USING (doc_id)
    CROSS JOIN stats
    GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 6) AS bm25
FROM scored
ORDER BY round(s, 6) DESC, doc_id
LIMIT 10
""",
)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 over the corpus — the retrieval scorer a training-data
    pipeline uses for quality-by-query probes and RAG index sanity
    checks.  Plan shape, built for 100 TB: ONE explode pass is reduced
    immediately to (doc_id, token, tf) FOR THE QUERY TERMS ONLY (the
    filter applies before the aggregation, so the corpus-sized shuffle
    carries just matching postings — an inverted-index scan, not a
    table scan); document lengths reduce from the same exploded frame;
    the df/N/avgdl statistics frames are term-count- and one-row-sized
    and broadcast into the scoring join.  Scores round to 6dp BEFORE
    the top-k ordering so float residue can't elect different winners
    across engines; ties break on doc_id.  k1=1.2, b=0.75 (the Okapi
    defaults; tf·(k1+1) appears as tf·2.2)."""
    terms = ["query", "window", "merge"]
    toks = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .select("doc_id", F.explode(words(F.col("text"))).alias("token"))
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("double").alias("dlen"))
    tf = (
        toks.where(F.col("token").isin(terms))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    scored = _bm25_score_frame(tf, dl)
    # orderBy+limit compiles to TakeOrderedAndProject — a per-partition
    # top-10 then a 10-row driver merge, never a global sort.
    return scored.orderBy(F.col("bm25").desc(), F.col("doc_id")).limit(10)


@query(
    "curation_funnel_report",
    ref="end-to-end corpus curation funnel (north star) — the composed pipeline a training-data team actually runs: quality gate → exact dedup → MinHash near-dup components → decontamination, with per-stage retention",
    doc="One row per curation stage (ingest, quality, exact_dedup, neardup, decontam) with surviving doc count and total tokens; rows-only (the MinHash stage is not oracle-portable); monotonicity and planted-dup removal pinned in pytest.",
    oracle=None,
)
def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE composed lineage — each stage
    an operator this engine verifies individually (quality_scores,
    dedup_exact, minhash_lsh_neardup + neardup_components,
    anti_join_decontaminate), chained the way a production corpus
    build chains them, with the funnel counts a data lead reads first.

    Stage semantics (all deterministic):
      ingest       non-benchmark docs (doc_id % 50 != 7 — the held-out
                   slice plays the external benchmark) with text
      quality      20 ≤ tokens and mean token length ≤ 12
      exact_dedup  keep min doc_id per md5(text)
      neardup      MinHash 32×8 candidates, exact-Jaccard ≥ 0.5
                   verify, connected components, keep min-id per
                   component
      decontam     drop docs whose 3-shingle containment against the
                   benchmark slice ≥ 0.2

    Scale: every stage is the already-audited plan of its standalone
    query — one shingle pass with candidate-pruned verification, one
    digest shuffle, label propagation O(log diameter); the funnel adds
    only per-stage counts (tiny aggs).  Counts are monotonically
    non-increasing by construction."""
    fr = _funnel_cold(spark, sf_dir, None)
    exact = fr["exact"]
    # Survivor decisions ride id-only frames (decide with small rows);
    # token counts attach from the exact metadata at the final stage
    # aggregates.
    neardup_ids = fr["labels"].where(F.col("node") == F.col("label")).select(
        F.col("node").alias("doc_id")
    )
    # Decontam reads the shingle store (no re-tokenize of survivors).
    doc_sh = fr["shingled"].join(neardup_ids, "doc_id").select(
        "doc_id", F.explode("sh").alias("sh")
    )
    contaminated = (
        doc_sh.join(
            F.broadcast(fr["bench_sh"].withColumn("hit", F.lit(1))), "sh", "left"
        )
        .groupBy("doc_id")
        .agg((F.sum(F.coalesce("hit", F.lit(0))) / F.count("*")).alias("cont"))
        .where(F.col("cont") >= 0.2)
        .select("doc_id")
    )
    decontam_ids = neardup_ids.join(contaminated, "doc_id", "left_anti")
    return (
        fr["stage12"]
        .unionByName(_survivor_stage(3, "exact_dedup", exact, None))
        .unionByName(_survivor_stage(4, "neardup", exact, neardup_ids))
        .unionByName(_survivor_stage(5, "decontam", exact, decontam_ids))
    )


# ---------------------------------------------------------------------------
# Funnel stages shared by the two pipelines: the cold one (the report and
# the history-state build, both through ``_funnel_cold``) and the batch
# one (``_funnel_batch``, curating a slice against persisted state).
# ---------------------------------------------------------------------------

def _funnel_docs(
    spark: SparkSession, sf_dir: str, lo: int | None = None, hi: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """(bench, corpus) over lo ≤ doc_id < hi (either bound optional):
    the held-out slice doc_id % 50 == 7 plays the external benchmark.

    spread(): the funnel tokenizes and shingles every scanned document;
    on a small single-file scan all of that would run in ONE task (input
    skew: repartition immediately after the read).  At real scale
    the scan is already split past core count and spread() is a no-op;
    partitioning changes no result (min-per-digest dedup, map-side
    signatures, aggregates)."""
    docs = spread(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    if lo is not None:
        docs = docs.where(F.col("doc_id") >= lo)
    if hi is not None:
        docs = docs.where(F.col("doc_id") < hi)
    docs = docs.select("doc_id", "text")
    return docs.where(F.col("doc_id") % 50 == 7), docs.where(F.col("doc_id") % 50 != 7)


def _funnel_meta(corpus: DataFrame, eager: bool) -> DataFrame:
    """The ONE tokenizing pass over a corpus slice (the funnel's
    expensive scan is tokenization): (doc_id, nt, q, digest) — token
    count, the quality flag (20 ≤ tokens and mean token length ≤ 12)
    and md5(text), checkpointed.  METADATA ONLY: a text-carrying
    checkpoint is a full-corpus copy to executor-local storage at the
    100 TB design point.  The stage-1/2 census, the
    exact-dedup winners and the survivor token sums all read these
    stored columns; survivor TEXT flows from the scan exactly once."""
    ws = words(F.col("text"))
    quality = (F.size(ws) >= 20) & (
        (F.length(F.regexp_replace("text", r"\s+", "")) / F.size(ws)) <= 12
    )
    return corpus.select(
        "doc_id",
        F.size(ws).cast("long").alias("nt"),
        quality.alias("q"),
        F.md5("text").alias("digest"),
    ).localCheckpoint(eager=eager)


def _funnel_census(meta: DataFrame) -> DataFrame:
    """Stages 1+2 as one conditional aggregate over ``_funnel_meta``
    columns: (n1, t1) ingest docs/tokens, (n2, t2) quality survivors."""
    return meta.select("nt", "q").agg(
        F.count("*").alias("n1"),
        F.coalesce(F.sum("nt"), F.lit(0)).cast("long").alias("t1"),
        F.count(F.when(F.col("q"), 1)).alias("n2"),
        F.coalesce(F.sum(F.when(F.col("q"), F.col("nt"))), F.lit(0))
        .cast("long")
        .alias("t2"),
    )


def _funnel_shingled(text: DataFrame) -> DataFrame:
    """(doc_id, sh): 3-word shingle arrays of the docs in (doc_id,
    text) that have at least 3 words."""
    return (
        text.select("doc_id", words(F.col("text")).alias("ws"))
        .where(F.size("ws") >= 3)
        .select("doc_id", _shingles("ws", 3).alias("sh"))
    )


def _bench_shingles(bench: DataFrame) -> DataFrame:
    """(sh): the distinct 3-word shingles of the benchmark docs."""
    return (
        bench.select("doc_id", words(F.col("text")).alias("bw"))
        .where(F.size("bw") >= 3)
        .select(F.explode(_shingles("bw", 3)).alias("sh"))
        .distinct()
    )


def _sh_hashes(shingles: DataFrame) -> DataFrame:
    """(sh_hash): the distinct xxhash64 values of a (sh) shingle set,
    the key of the persisted benchmark set."""
    return shingles.select(F.xxhash64("sh").alias("sh_hash")).distinct()


def _funnel_bands(shingled: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash): MinHash 32 × LSH 8 bands."""
    return _lsh_bands(
        _minhash(shingled, "doc_id", "sh", num_hashes=32), "doc_id",
        num_hashes=32, bands=8,
    )


def _jaccard_verified(pairs: DataFrame, side) -> DataFrame:
    """Candidate (id_a, id_b) pairs whose exact shingle Jaccard is
    ≥ 0.5, as (src, dst) edges; ``side(id_col, sh_col)`` returns one
    side's (id_col, sh_col) shingle frame.

    Both sides SHUFFLE_HASH-pinned: the shingle arrays are ~3x the row
    size the planner estimates from the id column, so the optimizer can
    mis-choose a side as a broadcast build; shuffled-hash keeps the
    build per-partition."""
    return (
        pairs.join(side("id_a", "sa").hint("shuffle_hash"), "id_a")
        .join(side("id_b", "sb").hint("shuffle_hash"), "id_b")
        .where(_jaccard(F.col("sa"), F.col("sb")) >= 0.5)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )


def _survivor_stage(
    n: int, name: str, toks: DataFrame, ids: DataFrame | None
) -> DataFrame:
    """One survivor-stage row: doc count and token sum over ``toks``
    (doc_id, n_tokens), restricted to ``ids`` unless it is None."""
    src = toks if ids is None else ids.join(toks, "doc_id")
    return src.agg(
        F.lit(n).alias("stage"),
        F.lit(name).alias("stage_name"),
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("total_tokens"),
    )


def _postings(shingled: DataFrame) -> DataFrame:
    """(doc_id, sh_hash, k): the inverted index of survivor shingles."""
    return (
        shingled.select("doc_id", F.explode("sh").alias("s"))
        .groupBy("doc_id", F.xxhash64("s").alias("sh_hash"))
        .agg(F.count("*").alias("k"))
    )


def _cstat(postings: DataFrame, bench_hashes: DataFrame) -> DataFrame:
    """(doc_id, n_sh, hits): each doc's shingle count and how many of
    those shingles are in the (sh_hash) benchmark set."""
    return (
        postings.join(
            F.broadcast(bench_hashes.withColumn("hit", F.lit(1))), "sh_hash", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_sh"),
            F.sum(F.when(F.col("hit").isNotNull(), F.col("k")).otherwise(0))
            .cast("long")
            .alias("hits"),
        )
    )


def _funnel_cold(spark: SparkSession, sf_dir: str, hi: int | None) -> dict:
    """The cold funnel over doc_id < hi (every document when hi is
    None), from the docs scan up to decontam.  ``curation_funnel_report``
    finishes it with decontam and the survivor-stage rows;
    ``_build_funnel_state`` persists these same frames as the history
    state.  Returns:

      base      (doc_id, nt, q, digest) corpus metadata
      exact     (doc_id, n_tokens) exact-dedup survivors
      shingled  (doc_id, sh) survivor shingle store
      bands     (doc_id, band_id, band_hash) survivor LSH bands
      verified  (src, dst) verified near-dup edges
      labels    (node, label) component labels of the exact survivors
      bench_sh  (sh) distinct benchmark shingles
      stage12   the ingest and quality stage rows

    Checkpoints are lazy: each materializes in its first consumer's job
    — one fewer barrier (A/B at sf0.1: lazy 6.4-6.8s vs eager 7.7-8.3s
    warm).  That is safe for the history build too: this lineage reads
    only the corpus, never a state table."""
    bench, corpus = _funnel_docs(spark, sf_dir, hi=hi)
    base = _funnel_meta(corpus, eager=False)
    quality = base.where(F.col("q"))

    # Exact-dedup survivors as METADATA (doc_id, n_tokens): winners
    # decided on (digest, doc_id); the survivor-stage counts sum a
    # stored long.
    exact = (
        quality.groupBy("digest")
        .agg(F.min("doc_id").alias("doc_id"))
        .join(quality, "doc_id")
        .select("doc_id", F.col("nt").alias("n_tokens"))
        .localCheckpoint(eager=False)
    )

    # ONE tokenize+shingle pass over survivor text, checkpointed and
    # shared by every consumer (minhash signatures, both verify sides,
    # decontam, the history postings) so none re-tokenizes (profiled:
    # ~1.3-1.7s of 32-task tokenize work per consumer per rep at
    # sf0.1).  Storage trade, stated: the shingle arrays are
    # ~3x the text bytes on executor-local disk for the funnel's
    # lifetime; the alternative at 100 TB is three extra full-corpus
    # tokenize passes (the batch path stays candidate-bounded and does
    # NOT materialize this).
    shingled = _funnel_shingled(
        corpus.join(exact.select("doc_id"), "doc_id")
    ).localCheckpoint(eager=False)
    bands = _funnel_bands(shingled)
    pairs = _lsh_pairs(bands, "doc_id").localCheckpoint(eager=False)

    def cand_sh(id_col: str, out_sh: str) -> DataFrame:
        ids = pairs.select(F.col(id_col).alias("doc_id")).distinct()
        return shingled.join(F.broadcast(ids), "doc_id").select(
            F.col("doc_id").alias(id_col), F.col("sh").alias(out_sh)
        )

    verified = _jaccard_verified(pairs, cand_sh)
    labels = connected_components(verified, exact.select("doc_id"))

    stage12 = _funnel_census(base).select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(n).alias("stage"),
                    F.lit(name).alias("stage_name"),
                    F.col(f"n{n}").alias("n_docs"),
                    F.col(f"t{n}").alias("total_tokens"),
                )
                for n, name in ((1, "ingest"), (2, "quality"))
            ])
        ).alias("s")
    ).select("s.*")
    return {
        "base": base,
        "exact": exact,
        "shingled": shingled,
        "bands": bands,
        "verified": verified,
        "labels": labels,
        "bench_sh": _bench_shingles(bench),
        "stage12": stage12,
    }


# ---------------------------------------------------------------------------
# Incremental curation funnel (r5 verdict item #4): the funnel re-run on
# an appended batch against PERSISTED history state — digest set, LSH
# bands, verified edges, component labels, shingle postings — instead of
# re-curating the corpus.  The IVM proof: its 5 stage rows hash-equal
# the full-recompute funnel on the same final corpus (pinned in pytest).
# ---------------------------------------------------------------------------

def _funnel_split(spark: SparkSession, sf_dir: str) -> int:
    """History/batch boundary: doc_id below the split is curated
    history, the top 20% of the id range is the newly-ingested batch.
    A FRACTION of the corpus, not a constant — the whole point of the
    incremental path is that per-batch work stays batch-proportional,
    so the tested batch must stay batch-sized as the corpus scales
    (a fixed id pins history to a constant and silently turns the
    "batch" into 90%+ of the data at larger SFs, benchmarking a
    re-curation instead of an increment).  Deterministic given the
    data (exact footer max — equals the former max() agg without the
    full id-column pass); at the 500-doc test SFs this lands on the
    historical 400."""
    mx = table_col_max(spark, sf_dir, "documents", "doc_id")
    return int((mx + 1) * 4 // 5) if mx is not None else 0


# The funnel's persisted state: one table per structure a production
# incremental curator keeps warm between batches, in a StateStore keyed
# by (corpus, split) so a moved boundary rebuilds instead of pairing old
# history state with a different batch slice.
_FUNNEL_TABLES = (
    "meta",      # per-stage (stage_name, n_docs, total_tokens) for ingest/quality
    "digests",   # exact-dedup digest set of history quality survivors
    "toks",      # (doc_id, n_tokens) per history exact survivor
    "bands",     # (doc_id, band_id, band_hash) LSH index of history survivors
    "edges",     # verified near-dup edges within history
    "labels",    # (node, label) history component labels
    "bench_sh",  # distinct benchmark shingle hashes seen so far
    "postings",  # (doc_id, sh_hash, k) inverted index of survivor shingles
    "cstat",     # (doc_id, n_sh, hits) contamination stats vs history bench
)


def _build_funnel_state(spark: SparkSession, sf_dir: str, st: StateStore, split: int) -> None:
    """One-time history curation: the cold funnel's own frames over
    doc_id < split (``_funnel_cold``), persisted as the history state.
    The build and ``curation_funnel_report`` share one lineage, so
    batch-time equality with the full recompute is a property of the
    STATE design, not of two copies of the stages agreeing."""
    fr = _funnel_cold(spark, sf_dir, split)
    st["meta"].overwrite(fr["stage12"])
    st["digests"].overwrite(
        fr["base"].where(F.col("q")).select("digest").distinct(),
        stats_cols=["digest"],
    )
    st["toks"].overwrite(fr["exact"], stats_cols=["doc_id"])
    st["bands"].overwrite(fr["bands"], stats_cols=["doc_id"])
    st["edges"].overwrite(fr["verified"], stats_cols=["src"])
    st["labels"].overwrite(fr["labels"], stats_cols=["node"])
    st["bench_sh"].overwrite(_sh_hashes(fr["bench_sh"]), stats_cols=["sh_hash"])
    st["postings"].overwrite(_postings(fr["shingled"]), stats_cols=["doc_id"])
    st["cstat"].overwrite(
        _cstat(st["postings"].read(), st["bench_sh"].read()), stats_cols=["doc_id"]
    )


@query(
    "incremental_curation_funnel",
    ref="incremental view maintenance of the curation funnel (r5 verdict #4) — batch-time curation against persisted history state; hash-equality with the full recompute pinned in pytest",
    doc="The curation funnel's 5 stage rows computed INCREMENTALLY: new docs (the top 20% of the id range) checked against the persisted historical digest set, LSH band index, component labels, and shingle postings; rows-only (MinHash state not oracle-portable), full-recompute equality proven in tests.",
    oracle=None,
)
def incremental_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state corpus curation: ``curation_funnel_report`` is the
    cold build; THIS is what runs per ingestion batch at 100 TB —
    corpus-sized work touches ONLY the batch and its candidate
    neighborhoods, never the curated history:

      exact     batch digests anti-join the persisted digest SET
                (16-byte keys, the incremental_dedup_report pattern).
      neardup   batch MinHash bands probe the persisted band INDEX;
                candidate pairs are regenerated only inside buckets a
                batch doc touches; verified new edges merge into the
                persisted component labels by the label-collapse trick
                (map endpoints through old labels, run components on
                the collapsed graph — O(new edges), min-label
                invariant preserved, so a batch doc BRIDGING two
                historical components demotes the higher representative
                exactly as a full recompute would).
      decontam  new benchmark shingles (Δ only) probe the persisted
                inverted POSTINGS index to re-score affected historical
                survivors; batch docs score against the full bench set.

    Equality with the full recompute is exact, not approximate — the
    pytest pin compares collected rows.  One documented edge: the LSH
    hot-bucket cap (256) could diverge if a bucket crosses the cap
    only in the union view; at that point the bucket's band parameters
    are mis-tuned for the slice and both paths are in the documented
    degraded mode."""
    split = _funnel_split(spark, sf_dir)
    with StateStore(spark, "funnel", sf_dir, split).open(
        lambda st: _build_funnel_state(spark, sf_dir, st, split)
    ) as st:
        # eager=False: this path only REPORTS (no state advance follows),
        # so the four batch checkpoints can materialize inside their first
        # consumer's job instead of as four serial driver barriers —
        # profiled at ~2s of pure driver gaps per rep at sf0.1.  The
        # advance paths keep eager checkpoints: their lineage reads state
        # tables that the advance overwrites afterwards (r12 §16 A/B).
        return _funnel_stage_rows(
            _funnel_batch(spark, sf_dir, st, split, None, eager=False)
        )


def _funnel_batch(
    spark: SparkSession, sf_dir: str, st: StateStore, lo: int, hi: int | None,
    eager: bool = True,
) -> dict:
    """One ingestion batch (lo ≤ doc_id < hi) curated against the
    persisted state ``st`` — the computation shared by the
    single-batch report, the two-batch chain, and the state advance.
    Returns every maintained frame; nothing is written here."""
    # The batch's ONE tokenizing pass (``_funnel_meta``): the stage-1/2
    # census, the dedup decision and the survivor token sums all read
    # its stored columns.
    bench_b, corpus_b = _funnel_docs(spark, sf_dir, lo, hi)
    meta_b = _funnel_meta(corpus_b, eager)

    # --- exact dedup: history wins every digest it has seen (history
    # ids precede batch ids, so min-per-digest over the union ≡ this
    # anti-join + min-within-batch).  Winners are decided on METADATA;
    # the survivor text attaches from the scan exactly once.
    winners_b = (
        meta_b.where(F.col("q"))
        .groupBy("digest")
        .agg(F.min("doc_id").alias("doc_id"))
        .join(st["digests"].read(), "digest", "left_anti")
    )
    exact_b = (
        winners_b.select("doc_id")
        .join(corpus_b, "doc_id")
        .select("doc_id", "text")
        .localCheckpoint(eager=eager)
    )
    toks_b = (
        winners_b.select("doc_id")
        .join(meta_b, "doc_id")
        .select("doc_id", F.col("nt").alias("n_tokens"))
    )
    toks_all = st["toks"].read().unionByName(toks_b)

    # --- near-dup: probe the persisted band index with batch bands;
    # regenerate candidates only inside TOUCHED buckets (contents there
    # are identical to the full run's, so capped-bucket behavior is
    # identical too); everything else is already in the edge store.
    shingled_b = _funnel_shingled(exact_b)
    bands_b = _funnel_bands(shingled_b)
    touched = st["bands"].read().unionByName(bands_b).join(
        F.broadcast(bands_b.select("band_id", "band_hash").distinct()),
        ["band_id", "band_hash"],
        "left_semi",
    )
    # Checkpointed for the same reason the cold funnel checkpoints its
    # pairs frame: three consumers (both cand_sh sides + the verify
    # join) would otherwise each replay the band-probe subtree.
    new_pairs = _lsh_pairs(touched, "doc_id").localCheckpoint(eager=eager)
    # NO spread() here: the broadcast-id prune keeps this scan's heavy
    # work candidate-sized, and a repartition would shuffle the FULL
    # text corpus once per cand_sh consumer before the prune applies.
    texts = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .select("doc_id", "text")
    )

    # ONE pruned tokenize+shingle pass feeds BOTH verify sides (r12
    # verdict item 3: the former per-side cand_sh paid the full-corpus
    # text decode and the candidate tokenize twice).  The id prune is
    # the UNION of both pair endpoints; the shingled candidate frame is
    # checkpointed (candidate-sized — bounded by the LSH bucket cap)
    # and each side is a rename of it.  Every candidate has a band row,
    # so it has ≥ 3 words and the shingle filter drops none.
    cand_ids = (
        new_pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(new_pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    cand_shingled = _funnel_shingled(
        texts.join(F.broadcast(cand_ids), "doc_id")
    ).localCheckpoint(eager=eager)

    def cand_sh(id_col: str, out_sh: str) -> DataFrame:
        return cand_shingled.select(
            F.col("doc_id").alias(id_col), F.col("sh").alias(out_sh)
        )

    # Checkpointed: the Jaccard-verify join is the batch's most
    # expensive subtree and has three consumers (the label collapse
    # here, plus the advance's emptiness probe and edge append) — same
    # discipline as new_pairs/reps.
    verified_new = _jaccard_verified(new_pairs, cand_sh).localCheckpoint(eager=eager)
    # Label-collapse: map each new edge endpoint through the persisted
    # labels (batch/unknown nodes map to themselves), drop edges that
    # collapse to self-loops, and run components over the label graph —
    # nodes are old component representatives + new batch survivors.
    histlab = st["labels"].read()  # (node, label)
    lab_a = histlab.select(F.col("node").alias("src"), F.col("label").alias("la"))
    lab_b = histlab.select(F.col("node").alias("dst"), F.col("label").alias("lb"))
    collapsed = (
        verified_new.join(F.broadcast(lab_a), "src", "left")
        .join(F.broadcast(lab_b), "dst", "left")
        .select(
            F.coalesce("la", F.col("src")).alias("src"),
            F.coalesce("lb", F.col("dst")).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    nodes = (
        histlab.select(F.col("label").alias("doc_id"))
        .distinct()
        .unionByName(exact_b.select("doc_id"))
    )
    newlab = connected_components(collapsed, nodes)  # (node=old label, label)
    # Final representatives: a node survives iff its (collapsed) final
    # label is itself — old reps can be DEMOTED by a bridging batch doc.
    reps = (
        newlab.where(F.col("node") == F.col("label"))
        .select(F.col("node").alias("doc_id"))
        .localCheckpoint(eager=eager)
    )

    # --- decontam IVM: Δ = benchmark shingles never seen before; only
    # postings rows matching Δ re-score history docs.
    delta_bench = _sh_hashes(_bench_shingles(bench_b)).join(
        st["bench_sh"].read(), "sh_hash", "left_anti"
    )
    delta_hits = (
        st["postings"]
        .read()
        .join(F.broadcast(delta_bench), "sh_hash", "left_semi")
        .groupBy("doc_id")
        .agg(F.sum("k").cast("long").alias("dh"))
    )
    cstat_h = (
        st["cstat"].read()
        .join(delta_hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_sh",
            (F.col("hits") + F.coalesce("dh", F.lit(0))).alias("hits"),
        )
    )
    postings_b = _postings(shingled_b)
    cstat_b = _cstat(postings_b, st["bench_sh"].read().unionByName(delta_bench))
    contaminated = (
        cstat_h.unionByName(cstat_b)
        .where((F.col("n_sh") > 0) & (F.col("hits") / F.col("n_sh") >= 0.2))
        .select("doc_id")
    )
    decontam_ids = reps.join(contaminated, "doc_id", "left_anti")
    return {
        "st": st,
        "meta_b": meta_b,
        "exact_digests_b": winners_b.select("digest"),
        "exact_b": exact_b,
        "toks_b": toks_b,
        "toks_all": toks_all,
        "bands_b": bands_b,
        "verified_new": verified_new,
        "histlab": histlab,
        "newlab": newlab,
        "reps": reps,
        "delta_bench": delta_bench,
        "delta_hits": delta_hits,
        "postings_b": postings_b,
        "cstat_b": cstat_b,
        "decontam_ids": decontam_ids,
    }


def _funnel_stage_rows(fr: dict) -> DataFrame:
    """The funnel's 5 stage rows from a batch's maintained frames:
    ingest/quality add batch deltas to the persisted history meta;
    survivor stages aggregate over the maintained (doc_id, n_tokens)
    view.

    Batch-scan discipline: stages 1 and 2 aggregate the batch's stored
    metadata (``meta_b`` — token count and quality flag from the
    batch's single tokenizing pass) instead of re-tokenizing the scan —
    word-splitting is the expensive part of the census, and at 100 TB
    a second pass over every ingested byte is real money.  Stage 3
    aggregates ``toks_all`` directly: its id set
    IS toks_all's, and the former ids-join form was a corpus-sized
    self-join that shuffled the survivor set against itself for a
    no-op."""
    meta = fr["st"]["meta"].read()
    toks_all = fr["toks_all"]
    is_ingest = F.col("stage_name") == "ingest"
    stage12 = (
        meta.where(F.col("stage_name").isin("ingest", "quality"))
        .join(F.broadcast(_funnel_census(fr["meta_b"])))
        .select(
            "stage",
            "stage_name",
            (F.col("n_docs") + F.when(is_ingest, F.col("n1")).otherwise(F.col("n2")))
            .alias("n_docs"),
            (
                F.col("total_tokens")
                + F.when(is_ingest, F.col("t1")).otherwise(F.col("t2"))
            )
            .cast("long")
            .alias("total_tokens"),
        )
    )
    return (
        stage12
        .unionByName(_survivor_stage(3, "exact_dedup", toks_all, None))
        .unionByName(_survivor_stage(4, "neardup", toks_all, fr["reps"]))
        .unionByName(_survivor_stage(5, "decontam", toks_all, fr["decontam_ids"]))
    )


def _append_delta(table, df: DataFrame, stats_cols: list[str]) -> None:
    """O(batch) append of a disjoint-key delta, skipping empty deltas so
    a crashed-and-retried advance (whose recomputed deltas are empty
    against the already-advanced state) converges without landing
    stats-less husk segments that would defeat future merge pruning.

    The delta is localCheckpointed ONCE before the emptiness probe —
    probing ``isEmpty()`` on the raw plan and then appending it ran the
    whole delta subtree (digest anti-join, LSH band build, postings
    shingle expansion) twice per advance, against this module's own
    localCheckpoint discipline for multi-consumer subtrees (ADVICE r9).

    ``auto_compact_at=64``: one segment lands per batch, so a
    long-running curator accrues them without bound; every 64th batch
    amortizes one O(table) compaction — the LSM discipline ``append``
    documents.  Tests stay far below the threshold, so the
    survival-by-name pins observe the steady state, not a compaction."""
    delta = df.localCheckpoint(eager=True)
    if delta.isEmpty():
        return
    table.append(delta, stats_cols=stats_cols, auto_compact_at=64)


def _advance_funnel_state(dst: StateStore, fr: dict) -> None:
    """COMMIT a curated batch into the state store — what a production
    curator does after every report, so the next batch curates against
    history-plus-this-batch instead of re-deriving it.  Every structure
    is by value the exact frame a from-scratch ``_build_funnel_state``
    over the union slice would produce (pinned table by table by
    test_funnel_advance_write_is_o_batch, whose advance over empty
    state must equal the cold build), but the WRITE is O(batch +
    touched segments), never
    O(state) — the ``upsert_matching`` discipline the component /
    attribution / BM25 / sketch IVM families adopted in round 8:

      digests/toks/bands/edges/postings/bench_sh
               disjoint-key deltas (the batch side is anti-joined or
               id-range-disjoint from history) → ``append`` lands ONLY
               the batch segment; history segments survive BY NAME.
      labels   keyed MERGE on node: only nodes whose component label
               CHANGED (bridging demotions) plus the batch survivors
               are staged; untouched nodes are never rewritten.
      cstat    keyed MERGE on doc_id: only history docs hit by NEW
               benchmark shingles re-score; batch docs insert.
      meta     2-row counter table — overwrite is already O(1).
    """
    st = fr["st"]
    # Commit ORDER is the crash-retry story: digests first (the batch's
    # root filter — once committed, a retry's recomputed exact_b and
    # every delta downstream of it are empty, so the appends below are
    # retry-safe no-ops), meta LAST (its delta adds the batch census to
    # the PERSISTED counters, so a retry that died before the meta
    # commit still reads un-advanced counters and lands the right
    # totals; committing it early would double-count on retry).
    # The winners' stored digest IS md5(text) of each surviving doc
    # (computed in the batch's single tokenizing pass) — appending it
    # avoids re-hashing the survivor text here.
    _append_delta(
        dst["digests"],
        fr["exact_digests_b"],
        stats_cols=["digest"],
    )
    _append_delta(dst["toks"], fr["toks_b"], stats_cols=["doc_id"])
    _append_delta(dst["bands"], fr["bands_b"], stats_cols=["doc_id"])
    _append_delta(dst["edges"], fr["verified_new"], stats_cols=["src"])
    # Keyed label merge: stage ONLY the nodes the collapse moved (a
    # node's final label differs from its stored one) plus the batch
    # survivors — by value identical to re-labeling ALL of history
    # through the mapping, because unmoved nodes keep their stored row.
    relabel = fr["newlab"].select(
        F.col("node").alias("label"), F.col("label").alias("flabel")
    )
    moved = (
        fr["histlab"]
        .join(F.broadcast(relabel), "label")
        .where(F.col("flabel") != F.col("label"))
        .select("node", F.col("flabel").alias("label"))
    )
    batch2 = fr["newlab"].join(
        fr["exact_b"].select(F.col("doc_id").alias("node")), "node", "left_semi"
    )
    # No emptiness pre-check: upsert_matching already no-ops on an
    # empty staged batch (its bounded probe aggregate sees _n == 0),
    # so a guard here would just evaluate the staging plan twice.
    staged_labels = moved.unionByName(batch2.select("node", "label"))
    dst["labels"].upsert_matching(staged_labels, ["node"], auto_compact_at=64)
    _append_delta(dst["bench_sh"], fr["delta_bench"], stats_cols=["sh_hash"])
    _append_delta(dst["postings"], fr["postings_b"], stats_cols=["doc_id"])
    # Keyed cstat merge: only docs whose hit count a NEW benchmark
    # shingle advanced (delta_hits is inner — unhit history rows are
    # untouched), plus the batch's fresh rows.
    rescored = (
        st["cstat"]
        .read()
        .join(F.broadcast(fr["delta_hits"]), "doc_id")
        .select("doc_id", "n_sh", (F.col("hits") + F.col("dh")).alias("hits"))
    )
    staged_cstat = rescored.unionByName(fr["cstat_b"])
    dst["cstat"].upsert_matching(staged_cstat, ["doc_id"], auto_compact_at=64)
    meta2 = (
        _funnel_stage_rows(fr)
        .where(F.col("stage").isin(1, 2))
        .select("stage", "stage_name", "n_docs", "total_tokens")
    )
    dst["meta"].overwrite(meta2)


@query(
    "incremental_funnel_two_batch",
    ref="multi-batch IVM of the curation funnel — batch N is curated against state ADVANCED through batch N-1, never against a from-scratch rebuild; chained-state equality with the full recompute pinned in pytest",
    doc="The funnel's 5 stage rows after TWO chained incremental batches: history built at 60% of the id range, state advanced through [60%, 80%), and the final batch [80%, max] curated against the advanced state; rows-only (MinHash state not oracle-portable).",
    oracle=None,
)
def incremental_funnel_two_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes incremental curation trustworthy in
    production: state advanced through batch N is a valid history for
    batch N+1 — errors don't compound across commits.  The single-batch
    query proves one increment equals the full recompute; THIS proves
    the CHAIN does: build(60%) → advance through [60%,80%) →
    incremental [80%,max] must be bit-equal to both the full recompute
    and the single-batch path (pinned in pytest).  Every advanced
    structure is exactly what a from-scratch build over the union
    slice produces — including label DEMOTIONS when a batch-1 doc
    bridges two historical components, which must persist into
    batch 2's collapse.  The advance COMMITS IN PLACE with the pruned
    verbs (append of disjoint deltas, keyed merges for labels/cstat) —
    O(batch + touched segments), never O(state) — and durability is
    the StateStore's marker under a key carrying the slice boundaries:
    a marked state is reused as-is, an unmarked one (first run or a
    crash anywhere in build/advance) is wiped and rebuilt, and the
    mid-advance crash window is additionally bounded by the advance's
    digests-first/meta-last commit order (both pinned in pytest)."""
    s2 = _funnel_split(spark, sf_dir)
    mx = table_col_max(spark, sf_dir, "documents", "doc_id")
    s1 = int((mx + 1) * 3 // 5) if mx is not None else 0
    # The store's marker is written only after build AND advance both
    # committed — a crash anywhere between the first and last per-table
    # commit leaves a state no retry can repair in place (a retry's
    # deltas recompute against whichever tables already absorbed the
    # batch — e.g. digests committed but toks not would silently drop
    # the batch's token rows forever), so an unmarked state is wiped and
    # rebuilt.  The per-advance commit ORDER (digests first, meta last)
    # still bounds what a mid-advance crash can tear — pinned by the
    # crash-at-meta retry test — but the marker, not retry reasoning,
    # is what the query's correctness rests on.
    def build_and_advance(st) -> None:
        _build_funnel_state(spark, sf_dir, st, s1)
        _advance_funnel_state(st, _funnel_batch(spark, sf_dir, st, s1, s2))

    with StateStore(spark, "funnel", sf_dir, f"adv{s1}-{s2}").open(
        build_and_advance
    ) as st_b:
        # Report-only final batch (the advance above already committed its
        # writes before these frames are built) — same laziness as the
        # single-batch report path.
        return _funnel_stage_rows(
            _funnel_batch(spark, sf_dir, st_b, s2, None, eager=False)
        )


@query(
    "bigram_lm_heldout_ppl",
    ref="quality scoring (north star) — held-out perplexity under an add-k-smoothed bigram LM: the CCNet filtering stage one rung up from unigram_logprob_score (context-sensitive, handles UNSEEN bigrams via smoothing)",
    doc="Train bigram counts on the 80% history slice (doc_id % 5 != 0), score each held-out doc's bigrams with add-0.5 smoothing: n_bigrams, mean -ln p(w2|w1), perplexity.",
    oracle=f"""
WITH d AS (
    SELECT doc_id, {_D_WORDS} AS ws FROM documents WHERE text IS NOT NULL
),
bg AS (
    SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
    FROM d, unnest(generate_series(1, len(ws) - 1)) AS g(i)
    WHERE len(ws) >= 2
),
cb AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
    FROM bg WHERE doc_id % 5 <> 0 GROUP BY w1, w2
),
cw AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cx FROM cb GROUP BY w1),
v AS (
    SELECT CAST(count(DISTINCT t) AS BIGINT) AS v
    FROM (SELECT w1 AS t FROM cb UNION SELECT w2 FROM cb)
),
scored AS (
    SELECT bg.doc_id,
           -ln((COALESCE(cb.c, 0) + 0.5)
               / (COALESCE(cw.cx, 0) + 0.5 * (SELECT v FROM v))) AS nll
    FROM bg
    LEFT JOIN cb USING (w1, w2)
    LEFT JOIN cw USING (w1)
    WHERE bg.doc_id % 5 = 0
)
SELECT doc_id,
       CAST(count(*) AS BIGINT)      AS n_bigrams,
       round(avg(nll), 6)            AS bigram_xent,
       round(exp(avg(nll)), 4)       AS ppl
FROM scored
GROUP BY doc_id
""",
)
def bigram_lm_heldout_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity filtering the way a production curation pipeline runs
    it: the LM is trained on the CURATED HISTORY (80% slice), incoming
    documents are scored under that fixed model — so in-distribution
    text scores low and spam/wrong-language/noise scores high, and the
    score is not contaminated by the batch being judged (the flaw of
    corpus-self scoring, which ``unigram_logprob_score`` documents).
    Add-0.5 smoothing gives unseen bigrams a finite, vocabulary-scaled
    probability — mandatory once train and eval are disjoint.

    Scale shape: ONE bigram explode pass over the corpus (zip_with of
    two slices — no token self-join), immediately reduced: the train
    side collapses to (w1, w2, c) — vocabulary-bounded, orders of
    magnitude smaller than the corpus — and the context totals and
    vocab size both DERIVE from that reduced frame, never a second
    scan.  Scoring joins the eval bigrams against the two count frames
    (shuffle hash join on vocab-sized build sides; AQE may broadcast
    the context frame), then one partial-agg shuffle on doc_id.  The
    smoothing denominator rides along as a broadcast one-row frame."""
    d = (
        t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", words(F.col("text")).alias("ws"))
        .where(F.size("ws") >= 2)
    )
    n = F.size("ws")
    pair = F.zip_with(
        F.slice("ws", 1, n - 1),
        F.slice("ws", 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = d.select("doc_id", F.explode(pair).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    # The reduced count frame feeds THREE consumers (the score join,
    # the context totals, the vocab size); checkpointing it makes the
    # train-side bigram explode a single corpus pass instead of three
    # replays (the standard multi-consumer discipline, see COVERAGE.md).
    cb = (
        bg.where(F.col("doc_id") % 5 != 0)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    cw = cb.groupBy("w1").agg(F.sum("c").alias("cx"))
    v = (
        cb.select(F.col("w1").alias("t"))
        .union(cb.select(F.col("w2").alias("t")))
        .agg(F.countDistinct("t").alias("v"))
    )
    nll = -F.log(
        (F.coalesce(F.col("c"), F.lit(0)) + 0.5)
        / (F.coalesce(F.col("cx"), F.lit(0)) + 0.5 * F.col("v"))
    )
    return (
        bg.where(F.col("doc_id") % 5 == 0)
        .join(cb, ["w1", "w2"], "left")
        .join(cw, "w1", "left")
        .crossJoin(F.broadcast(v))
        .select("doc_id", nll.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("nll"), 6).alias("bigram_xent"),
            F.round(F.exp(F.avg("nll")), 4).alias("ppl"),
        )
    )


@query(
    "collated_cross_source_census",
    ref="Spark 4 collation surface — case-insensitive GROUPing via a COLLATED key (UTF8_LCASE), the engine-native answer to cross-source casing drift (vs the lower()-everything workaround that loses the original forms)",
    doc="Tokens from odd-id docs are upper-cased (a shouting source); the census groups under UTF8_LCASE collation, reporting per folded token: total occurrences, distinct case forms, binary-min form; oracle folds with lower().",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest({_D_WORDS}) AS tok
    FROM documents WHERE text IS NOT NULL AND doc_id % 25 = 0
),
mangled AS (
    SELECT CASE WHEN doc_id % 2 = 1 THEN upper(tok) ELSE tok END AS tok
    FROM toks
)
SELECT lower(tok)                          AS token_lc,
       CAST(count(*) AS BIGINT)            AS n_total,
       CAST(count(DISTINCT tok) AS BIGINT) AS n_forms,
       min(tok)                            AS first_form
FROM mangled
GROUP BY lower(tok)
""",
)
def collated_cross_source_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two sources disagree on casing (mangled here by upper-casing the
    odd-id docs); the census must treat 'table' and 'TABLE' as one
    token WITHOUT throwing away the original forms — the collation
    feature's whole point: the GROUP key compares under UTF8_LCASE
    while the values keep their binary identity, so n_forms counts the
    surviving case variants and first_form is the deterministic binary
    minimum.  The collated comparison happens inside the hash
    aggregate (JVM codegen — no Python, no double lower() pass), and
    the plan is the ordinary explode → partial agg shape: collation
    changes comparison semantics, not the execution strategy."""
    toks = (
        t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & (F.col("doc_id") % 25 == 0))
        .select("doc_id", F.explode(words(F.col("text"))).alias("tok"))
    )
    mangled = toks.select(
        F.when(F.col("doc_id") % 2 == 1, F.upper("tok"))
        .otherwise(F.col("tok"))
        .alias("tok")
    )
    return (
        mangled.groupBy(F.collate(F.col("tok"), "UTF8_LCASE").alias("k"))
        .agg(
            F.count("*").alias("n_total"),
            F.countDistinct("tok").alias("n_forms"),
            F.min("tok").alias("first_form"),
        )
        .select(
            F.lower(F.col("k")).cast("string").alias("token_lc"),
            "n_total",
            "n_forms",
            "first_form",
        )
    )


# ---------------------------------------------------------------------------
# Incrementally-maintained inverted index (IVM with an EXTERNAL proof):
# unlike the rows-only incremental funnel/IVF paths, BM25 scoring is
# SQL-portable, so the index-served result is oracle-checked against a
# from-scratch recompute over the whole corpus — the driver's hash gate
# IS the maintenance-correctness proof.
# ---------------------------------------------------------------------------

def _index_rows(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One explode pass reduced to the two index relations.

    ``dlen`` is derived FROM the postings relation — a doc's length is
    exactly the sum of its term frequencies (integer-valued doubles,
    exact well past any real document length), so the norms table costs
    one small aggregate over (doc_id, token, tf) instead of a second
    tokenize+explode pass over the text (guide §1.2: don't compute
    things twice; the explode is the expensive scan here)."""
    toks = docs.select("doc_id", F.explode(words(F.col("text"))).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(
        F.count("*").cast("double").alias("tf")
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("double").alias("dlen"))
    return tf, dl


@query(
    "bm25_incremental_index",
    ref="IVM of the retrieval index (the incremental_curation_funnel discipline applied to bm25_search_topk) — base corpus indexed once into persisted postings, the appended batch merged in, search served FROM THE INDEX; the oracle recomputes BM25 from scratch over the full corpus, so a green row externally proves the maintained index equals a rebuild",
    doc="Top-10 documents for {query, window, merge} by Okapi BM25 (k1=1.2, b=0.75), served from a persisted inverted index built on the base 80% of the id range and incrementally merged with the top-20% batch — byte-identical to bm25_search_topk's from-scratch answer.",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest({_D_WORDS}) AS token
    FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
dl AS (
    SELECT doc_id, CAST(count(*) AS DOUBLE) AS dlen FROM toks GROUP BY doc_id
),
stats AS (
    SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dlen) AS avgdl FROM dl
),
tf AS (
    SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
    FROM toks WHERE token IN ('query', 'window', 'merge')
    GROUP BY doc_id, token
),
df AS (
    SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token
),
scored AS (
    SELECT tf.doc_id,
           sum(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dlen / stats.avgdl))) AS s
    FROM tf
    JOIN df USING (token)
    JOIN dl USING (doc_id)
    CROSS JOIN stats
    GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 6) AS bm25
FROM scored
ORDER BY round(s, 6) DESC, doc_id
LIMIT 10
""",
)
def bm25_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A 100 TB search stack never re-tokenizes the corpus per query OR
    per ingest: the inverted index is a persisted table and each batch
    merges only ITS postings.  Here the base 80% of the id range is
    indexed once into two ParquetTables — (doc_id, token, tf) postings
    and (doc_id, dlen) norms — and the top-20% batch is merged via the
    key-deduped upsert (idempotent: re-running the merge is a no-op by
    value).  Search then never touches `documents`: query-term postings
    come off the index (at scale: a token-clustered read, not a scan),
    norms join from the doclen table, and the corpus statistics
    (n_docs, avgdl, df) are EXACT aggregates of index relations — the
    subtle IVM trap, since idf and length normalization must reflect
    the post-merge corpus, not the base.  Byte-equality with the
    from-scratch oracle is the externally-checked proof that
    maintenance ≡ rebuild."""
    terms = ["query", "window", "merge"]
    docs = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    split = _funnel_split(spark, sf_dir)

    def build(idx) -> None:
        base_tf, _ = _index_rows(docs.where(F.col("doc_id") < split))
        idx["postings"].overwrite(base_tf, stats_cols=["doc_id"])
        # Norms FROM the committed postings (dlen = Σ tf per doc, exact
        # integer-valued doubles): the base corpus is tokenized ONCE —
        # the second write reads back the two columns it needs instead
        # of re-running the explode over every base document.
        base_dl = (
            idx["postings"]
            .read()
            .groupBy("doc_id")
            .agg(F.sum("tf").cast("double").alias("dlen"))
        )
        idx["doclen"].overwrite(base_dl, stats_cols=["doc_id"])

    batch_tf, batch_dl = _index_rows(docs.where(F.col("doc_id") >= split))
    # One tokenize pass per batch: both merges (and the dlen aggregate
    # riding on tf) reuse the materialized batch postings.
    # Lazy: lineage reads only immutable testdata, so the later state
    # merges can't invalidate it; materializes in the first merge's job.
    batch_tf = batch_tf.localCheckpoint(eager=False)
    batch_dl = batch_tf.groupBy("doc_id").agg(
        F.sum("tf").cast("double").alias("dlen")
    )
    # Segment-pruned keyed MERGE (r7 verdict #1): batch doc_ids are all
    # >= split while the base index segments record doc_id < split, so
    # in steady state the base postings/norms survive in the manifest
    # by name and the merge writes O(batch postings), never O(index).
    with StateStore(spark, "bm25idx", sf_dir, split).open(build) as idx:
        idx["postings"].upsert_matching(batch_tf, ["doc_id", "token"], auto_compact_at=64)
        idx["doclen"].upsert_matching(batch_dl, ["doc_id"], auto_compact_at=64)
        dl = idx["doclen"].read()
        tf = idx["postings"].read().where(F.col("token").isin(terms))
    scored = _bm25_score_frame(tf, dl)
    return scored.orderBy(F.col("bm25").desc(), F.col("doc_id")).limit(10)


@query(
    "ndcg_retrieval_eval",
    ref="retrieval-quality evaluation next to bm25_search_topk / rrf_hybrid_retrieval — nDCG@10 of the BM25 ranking against a deterministic graded relevance (number of distinct query terms the doc contains)",
    doc="One row: DCG@10, ideal DCG@10, and nDCG@10 of the BM25 top-10 for {query, window, merge}, where relevance(doc) = how many distinct query terms it contains (0-3).",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest({_D_WORDS}) AS token
    FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
rel AS (
    SELECT doc_id, CAST(count(DISTINCT token) AS DOUBLE) AS r
    FROM toks WHERE token IN ('query', 'window', 'merge')
    GROUP BY doc_id
),
dl AS (
    SELECT doc_id, CAST(count(*) AS DOUBLE) AS dlen FROM toks GROUP BY doc_id
),
stats AS (
    SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dlen) AS avgdl FROM dl
),
tf AS (
    SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
    FROM toks WHERE token IN ('query', 'window', 'merge')
    GROUP BY doc_id, token
),
df AS (
    SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token
),
scored AS (
    SELECT tf.doc_id,
           round(sum(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dlen / stats.avgdl))), 6) AS s
    FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY tf.doc_id
),
topk AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS DOUBLE) AS rk
    FROM scored ORDER BY s DESC, doc_id LIMIT 10
),
dcg AS (
    SELECT sum((pow(2, rel.r) - 1) / log2(topk.rk + 1)) AS dcg
    FROM topk JOIN rel USING (doc_id)
),
ideal AS (
    SELECT r, CAST(row_number() OVER (ORDER BY r DESC, doc_id) AS DOUBLE) AS rk
    FROM rel ORDER BY r DESC, doc_id LIMIT 10
),
idcg AS (
    SELECT sum((pow(2, r) - 1) / log2(rk + 1)) AS idcg FROM ideal
)
SELECT round(dcg, 6)        AS dcg_at_10,
       round(idcg, 6)       AS idcg_at_10,
       round(dcg / idcg, 6) AS ndcg_at_10
FROM dcg CROSS JOIN idcg
""",
)
def ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closing the retrieval loop: bm25_search_topk RANKS, this query
    GRADES the ranking.  Relevance is deterministic from the data
    itself (distinct query terms contained, 0-3 — a graded label both
    engines derive identically, no human judgments needed in a
    correctness harness), so nDCG@10 is fully oracle-checkable.  The
    scoring leg is the audited BM25 plan (postings-only shuffle, stats
    broadcast, TakeOrderedAndProject top-10); the relevance table
    reduces from the SAME exploded pass; DCG and ideal-DCG are
    10-row-frame arithmetic.  At 100 TB this runs as the eval step of
    an index build: cost is one corpus tokenize + two tiny rank
    frames."""
    from pyspark.sql.window import Window

    terms = ["query", "window", "merge"]
    toks = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .select("doc_id", F.explode(words(F.col("text"))).alias("token"))
    )
    rel = (
        toks.where(F.col("token").isin(terms))
        .groupBy("doc_id")
        .agg(F.countDistinct("token").cast("double").alias("r"))
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("double").alias("dlen"))
    tf = (
        toks.where(F.col("token").isin(terms))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    scored = _bm25_score_frame(tf, dl).withColumnRenamed("bm25", "s")
    topk = (
        scored.orderBy(F.col("s").desc(), "doc_id")
        .limit(10)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("s").desc(), "doc_id"))
            .cast("double")
            .alias("rk"),
        )
    )
    gain = lambda r: (F.pow(2.0, r) - 1) / F.log2(F.col("rk") + 1)  # noqa: E731
    dcg = topk.join(rel, "doc_id").agg(F.sum(gain(F.col("r"))).alias("dcg"))
    ideal = (
        rel.orderBy(F.col("r").desc(), "doc_id")
        .limit(10)
        .select(
            "r",
            F.row_number()
            .over(Window.orderBy(F.col("r").desc(), "doc_id"))
            .cast("double")
            .alias("rk"),
        )
    )
    idcg = ideal.agg(F.sum(gain(F.col("r"))).alias("idcg"))
    return dcg.join(idcg).select(
        F.round("dcg", 6).alias("dcg_at_10"),
        F.round("idcg", 6).alias("idcg_at_10"),
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg_at_10"),
    )


@query(
    "quality_threshold_knee",
    ref="curation-threshold selection over the quality_scores curve — knee/elbow detection (max perpendicular distance to the chord, Satopää's Kneedle core): WHERE to cut is itself a query, not a hand-picked constant",
    doc="One row: the knee of the quality-sorted score curve (rank, score threshold, corpus size, fraction of docs at-or-above the knee) — the data-driven quality cutoff.",
    oracle=f"""
WITH scored AS (
    SELECT doc_id,
           round(0.4 * least(length(text) / 500.0, 1.0)
               + 0.3 * (len(list_distinct({_D_WORDS})) * 1.0 / greatest(len({_D_WORDS}), 1))
               + 0.3 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
                        / greatest(length(text), 1)), 6) AS q
    FROM documents WHERE text IS NOT NULL
),
ranked AS (
    SELECT q,
           CAST(row_number() OVER (ORDER BY q DESC, doc_id) AS DOUBLE) AS i,
           CAST(count(*) OVER () AS DOUBLE)                            AS n,
           max(q) OVER ()                                              AS q1,
           min(q) OVER ()                                              AS qn
    FROM scored
),
d AS (
    SELECT i, q, n,
           abs((qn - q1) * (i - 1) - (n - 1) * (q - q1))
           / sqrt(pow(n - 1, 2) + pow(qn - q1, 2)) AS dist
    FROM ranked WHERE n > 1
)
SELECT CAST(i AS BIGINT)        AS knee_rank,
       round(q, 6)              AS threshold_q,
       CAST(n AS BIGINT)        AS n_docs,
       round(i / n, 6)          AS frac_kept,
       round(dist, 6)           AS knee_distance
FROM d ORDER BY dist DESC, i LIMIT 1
""",
)
def quality_threshold_knee(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every curation funnel has a "keep score ≥ X" gate; this query
    COMPUTES X instead of hard-coding it: sort the per-doc quality
    scores descending and take the curve point farthest (perpendicular
    distance) from the chord between its endpoints — the knee, where
    marginal quality starts falling fastest.  Scores round to 6dp
    BEFORE ranking so both engines walk the same curve.  The per-doc
    rank is the two-phase distributed row_number (integer-exact), and
    the chord endpoints come from a one-row min/max aggregate
    broadcast back — no doc-grain frame ever funnels through a single
    window task.  The quantile-grid sibling remains the CHEAP 100 TB
    path (the curve shape survives compression to 201 points); this
    exact form is the oracle-checkable ground truth it is pinned
    against."""
    from shopify_youtube_etl_spark.functions.text import quality_score
    from shopify_youtube_etl_spark.plans.common import distributed_row_number

    scored = (
        t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", quality_score(F.col("text")).alias("q"))
    )
    rdf, n = distributed_row_number(
        scored, [F.col("q").desc(), F.col("doc_id").asc()], "rn"
    )
    stats = rdf.agg(F.max("q").alias("q1"), F.min("q").alias("qn"))
    ranked = (
        rdf.join(F.broadcast(stats))
        .select(
            "q",
            F.col("rn").cast("double").alias("i"),
            F.lit(float(n)).alias("n"),
            "q1",
            "qn",
        )
        .where(F.lit(n) > 1)
    )
    dist = F.abs(
        (F.col("qn") - F.col("q1")) * (F.col("i") - 1)
        - (F.col("n") - 1) * (F.col("q") - F.col("q1"))
    ) / F.sqrt(F.pow(F.col("n") - 1, 2) + F.pow(F.col("qn") - F.col("q1"), 2))
    return (
        ranked.select(
            F.col("i").cast("long").alias("knee_rank"),
            F.round("q", 6).alias("threshold_q"),
            F.col("n").cast("long").alias("n_docs"),
            F.round(F.col("i") / F.col("n"), 6).alias("frac_kept"),
            F.round(dist, 6).alias("knee_distance"),
            dist.alias("_d"),
        )
        .orderBy(F.col("_d").desc(), "knee_rank")
        .limit(1)
        .drop("_d")
    )


@query(
    "quality_knee_quantile_grid",
    ref="the 100 TB form of quality_threshold_knee — the knee computed on a 201-point exact-percentile grid of the score distribution instead of a global per-doc rank: the curve SHAPE survives quantile compression, the unscalable global sort doesn't",
    doc="One row: knee of the quality curve evaluated on a descending 201-point quantile grid (grid index, score threshold, kept fraction, chord distance).",
    oracle=f"""
WITH scored AS (
    SELECT round(0.4 * least(length(text) / 500.0, 1.0)
               + 0.3 * (len(list_distinct({_D_WORDS})) * 1.0 / greatest(len({_D_WORDS}), 1))
               + 0.3 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
                        / greatest(length(text), 1)), 6) AS q
    FROM documents WHERE text IS NOT NULL
),
vs AS (
    SELECT quantile_cont(q, [1.0, 0.995, 0.99, 0.985, 0.98, 0.975, 0.97, 0.965, 0.96, 0.955, 0.95, 0.945, 0.94, 0.935, 0.9299999999999999, 0.925, 0.92, 0.915, 0.91, 0.905, 0.9, 0.895, 0.89, 0.885, 0.88, 0.875, 0.87, 0.865, 0.86, 0.855, 0.85, 0.845, 0.84, 0.835, 0.83, 0.825, 0.8200000000000001, 0.815, 0.81, 0.8049999999999999, 0.8, 0.795, 0.79, 0.785, 0.78, 0.775, 0.77, 0.765, 0.76, 0.755, 0.75, 0.745, 0.74, 0.735, 0.73, 0.725, 0.72, 0.7150000000000001, 0.71, 0.7050000000000001, 0.7, 0.6950000000000001, 0.69, 0.685, 0.6799999999999999, 0.675, 0.6699999999999999, 0.665, 0.6599999999999999, 0.655, 0.65, 0.645, 0.64, 0.635, 0.63, 0.625, 0.62, 0.615, 0.61, 0.605, 0.6, 0.595, 0.5900000000000001, 0.585, 0.5800000000000001, 0.575, 0.5700000000000001, 0.565, 0.56, 0.5549999999999999, 0.55, 0.5449999999999999, 0.54, 0.5349999999999999, 0.53, 0.525, 0.52, 0.515, 0.51, 0.505, 0.5, 0.495, 0.49, 0.485, 0.48, 0.475, 0.47, 0.46499999999999997, 0.45999999999999996, 0.45499999999999996, 0.44999999999999996, 0.44499999999999995, 0.43999999999999995, 0.43500000000000005, 0.43000000000000005, 0.42500000000000004, 0.42000000000000004, 0.41500000000000004, 0.41000000000000003, 0.405, 0.4, 0.395, 0.39, 0.385, 0.38, 0.375, 0.37, 0.365, 0.36, 0.355, 0.35, 0.345, 0.33999999999999997, 0.33499999999999996, 0.32999999999999996, 0.32499999999999996, 0.31999999999999995, 0.31499999999999995, 0.31000000000000005, 0.30500000000000005, 0.30000000000000004, 0.29500000000000004, 0.29000000000000004, 0.28500000000000003, 0.28, 0.275, 0.27, 0.265, 0.26, 0.255, 0.25, 0.245, 0.24, 0.235, 0.22999999999999998, 0.22499999999999998, 0.21999999999999997, 0.21499999999999997, 0.20999999999999996, 0.20499999999999996, 0.19999999999999996, 0.19499999999999995, 0.18999999999999995, 0.18500000000000005, 0.18000000000000005, 0.17500000000000004, 0.17000000000000004, 0.16500000000000004, 0.16000000000000003, 0.15500000000000003, 0.15000000000000002, 0.14500000000000002, 0.14, 0.135, 0.13, 0.125, 0.12, 0.11499999999999999, 0.10999999999999999, 0.10499999999999998, 0.09999999999999998, 0.09499999999999997, 0.08999999999999997, 0.08499999999999996, 0.07999999999999996, 0.07499999999999996, 0.06999999999999995, 0.06499999999999995, 0.06000000000000005, 0.05500000000000005, 0.050000000000000044, 0.04500000000000004, 0.040000000000000036, 0.03500000000000003, 0.030000000000000027, 0.025000000000000022, 0.020000000000000018, 0.015000000000000013, 0.010000000000000009, 0.0050000000000000044, 0.0]) AS vs
    FROM scored
),
grid AS (
    SELECT k, round(vs[k + 1], 6) AS v
    FROM vs, UNNEST(range(0, 201)) AS s(k)
),
ends AS (
    SELECT max(CASE WHEN k = 0   THEN v END) AS v0,
           max(CASE WHEN k = 200 THEN v END) AS vn
    FROM grid
),
d AS (
    SELECT k, v,
           abs((vn - v0) * k - 200 * (v - v0))
           / sqrt(pow(200, 2) + pow(vn - v0, 2)) AS dist
    FROM grid CROSS JOIN ends
)
SELECT CAST(k AS BIGINT)  AS knee_grid_index,
       round(v, 6)        AS threshold_q,
       round(k / 200.0, 6) AS frac_kept,
       round(dist, 6)     AS knee_distance
FROM d ORDER BY dist DESC, k LIMIT 1
""",
)
def quality_knee_quantile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality_threshold_knee names its own scale problem: the global
    row_number is a single-partition sort of the corpus.  This is the
    promised fix, made real and oracle-checked: the chord test needs
    only the sorted curve's SHAPE, and an exact 201-point percentile
    grid preserves that shape at ANY corpus size — so the plan
    collapses to one percentile AGGREGATE (mergeable partials, one
    shuffle; at 100 TB swap F.percentile for approx_percentile — same
    plan, sketch-mergeable) followed by arithmetic on a 201-row frame.
    Grid values round to 6dp before the chord so both engines walk the
    same polyline; the grid is descending (1 − k/200 quantiles) to
    match the exact query's orientation, and the in-repo test pins the
    grid knee's threshold against the exact knee's."""
    from shopify_youtube_etl_spark.functions.text import quality_score

    scored = (
        t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(quality_score(F.col("text")).alias("q"))
    )
    # One SQL literal instead of 201 F.lit py4j calls (repr round-trips
    # the identical doubles — see _ivf_dists for the pattern).
    pcts = F.expr(
        "array(" + ",".join(_double_literal(1.0 - k / 200.0) for k in range(201)) + ")"
    )
    grid = scored.agg(F.percentile("q", pcts).alias("vs")).select(
        F.posexplode("vs").alias("k", "v_raw")
    ).select("k", F.round("v_raw", 6).alias("v"))
    ends = grid.agg(
        F.max(F.when(F.col("k") == 0, F.col("v"))).alias("v0"),
        F.max(F.when(F.col("k") == 200, F.col("v"))).alias("vn"),
    )
    dist = F.abs(
        (F.col("vn") - F.col("v0")) * F.col("k") - 200 * (F.col("v") - F.col("v0"))
    ) / F.sqrt(F.pow(F.lit(200.0), 2) + F.pow(F.col("vn") - F.col("v0"), 2))
    return (
        grid.join(F.broadcast(ends))
        .select(
            F.col("k").cast("long").alias("knee_grid_index"),
            F.round("v", 6).alias("threshold_q"),
            F.round(F.col("k") / 200.0, 6).alias("frac_kept"),
            F.round(dist, 6).alias("knee_distance"),
            dist.alias("_d"),
        )
        .orderBy(F.col("_d").desc(), "knee_grid_index")
        .limit(1)
        .drop("_d")
    )
