"""Declared queries for the advanced IO/state surface.

Both queries stage their own input from the testdata tables (the
pagination fetch and the stream arrival are inherently outside the
relational plan), then run the distributed operator under test and
return an oracle-checkable aggregate — so even the custom DataSource
and the stateful streaming operator get full value-hash verification,
not just rows-only checks.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shopify_youtube_etl_spark.plans.common import StateStore, money, staging_dir as _staging_dir, t
from shopify_youtube_etl_spark.plans.registry import query


@query(
    "pagestore_ingest",
    ref="S1/S8 scale path — Spark 4 Python DataSource, partition-per-page (SURVEY §2.1)",
    doc="Land documents as 250-row NDJSON pages, re-ingest via the pagestore DataSource (one partition per page), profile per language.",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT)  AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
""",
)
def pagestore_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trips the documents table through the paginated landing
    zone: driver lands pages (faithful to S1 — the reference's fetch IS
    driver-side), executors parse them in parallel — one InputPartition
    per page.  The declared schema omits `text`/`source`, exercising the
    S8 unknown-keys-dropped contract at the reader.

    The driver ``collect()`` here is the S1 simulation, NOT the scale
    path: at 100 TB pages are pre-landed in object storage (executors
    read them directly — no driver round-trip) or landed by
    ``land_pages_distributed`` (see ``pagestore_distributed_ingest``)."""
    from shopify_youtube_etl_spark.sources.pagestore import (
        PageStoreDataSource,
        write_page_store,
    )

    rows = [r.asDict() for r in t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars").collect()]
    # text/source never leave the driver; add a decoy key the schema drops.
    landed = [{**r, "extra_key": "ignored"} for r in rows]
    out_dir = _staging_dir("pagestore", sf_dir)
    write_page_store(landed, out_dir, page_size=250)

    spark.dataSource.register(PageStoreDataSource)
    docs = (
        spark.read.format("pagestore")
        .schema("doc_id BIGINT, lang STRING, n_chars BIGINT")
        .option("path", out_dir)
        .load()
    )
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


@query(
    "pagestore_distributed_ingest",
    ref="S1 scale path — executor-side page landing, zero driver round-trip (VERDICT r1 item #6)",
    doc="Land documents as pages FROM THE EXECUTORS (mapInPandas writers), re-ingest via the pagestore DataSource, profile per source.",
    oracle="""
SELECT source,
       CAST(count(*) AS BIGINT)     AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY source
""",
)
def pagestore_distributed_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB landing shape: each executor partition writes its own
    page files (Arrow batches → NDJSON, driver sees only the tiny
    manifest), then the pagestore DataSource reads one partition per
    page.  End-to-end value check: the per-source profile after the
    land+re-ingest round-trip must equal the direct oracle aggregate."""
    from shopify_youtube_etl_spark.sources.pagestore import (
        PageStoreDataSource,
        land_pages_distributed,
    )

    out_dir = _staging_dir("pagestore_dist", sf_dir)
    manifest = land_pages_distributed(
        t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars"),
        out_dir,
        page_size=250,
    )
    manifest.count()  # materialize → pages land executor-side

    spark.dataSource.register(PageStoreDataSource)
    docs = (
        spark.read.format("pagestore")
        .schema("doc_id BIGINT, source STRING, n_chars BIGINT")
        .option("path", out_dir)
        .load()
    )
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


@query(
    "stateful_user_totals",
    ref="§2.10 custom stateful operator — applyInPandasWithState (engine-managed per-key state)",
    doc="Streaming per-user running totals via applyInPandasWithState (availableNow), reduced to final state.",
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2)     AS total_value
FROM events
GROUP BY user_id
""",
)
def stateful_user_totals_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL streaming operator (not a batch stand-in): events
    land as NDJSON, an availableNow stream folds them into engine-
    managed per-key state, and the update-mode emissions are reduced to
    the final row per key (n_events is monotone, so max(struct) picks
    it).  The final state must equal the batch GROUP BY — that equality
    is the oracle check."""
    from shopify_youtube_etl_spark.streaming.stateful import stateful_user_totals

    tmp = _staging_dir("stateful", sf_dir)
    src = f"{tmp}/src"
    t(spark, sf_dir, "events").select("user_id", "value").write.mode("overwrite").json(src)

    stream = spark.readStream.schema("user_id BIGINT, value DOUBLE").json(src)
    sink = f"totals_{uuid.uuid4().hex[:8]}"
    q = (
        stateful_user_totals(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", f"{tmp}/cp")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    emissions = spark.table(sink)
    return (
        emissions.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value")).alias("s"))
        .select("user_id", F.col("s.n_events").alias("n_events"), money(F.col("s.total_value")).alias("total_value"))
    )


@query(
    "csv_roundtrip_ingest",
    ref="S6/S8 generalization — CSV serializer sink + schema'd lenient load",
    doc="documents scalars → CSV (header, quoted) → schema'd read-back → per-lang profile; oracle = direct agg.",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT)   AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
""",
)
def csv_roundtrip_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CSV leg of the serializer-sink family (NDJSON leg:
    ``json_roundtrip_ingest``): scalar columns out through Spark's CSV
    writer (header + quoting), back in through an explicit schema with
    PERMISSIVE mode, then a per-lang profile that must equal the
    direct aggregation — proving the sink/source pair is lossless for
    typed scalars.  Free text stays OUT of the CSV on purpose: the
    engine's contract for newline-bearing payloads is parquet/NDJSON,
    and this query documents that boundary.  Executor-side partition
    writes, no driver data path."""
    src = t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    out = _staging_dir("csvrt", sf_dir)
    src.write.mode("overwrite").option("header", True).csv(out)
    back = (
        spark.read.schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT")
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .csv(out)
    )
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "orc_roundtrip_ingest",
    ref="S6/S8 generalization — columnar sink beyond parquet (ORC is Spark-native, zero extra deps)",
    doc="orders slice → ORC write → read-back → per-status profile; oracle = direct agg over parquet.",
    oracle="""
SELECT o_orderstatus AS status,
       CAST(count(*) AS BIGINT)    AS n_orders,
       round(sum(o_totalprice), 2) AS total_price,
       strftime(min(o_orderdate), '%Y-%m-%d') AS first_day
FROM orders
GROUP BY o_orderstatus
""",
)
def orc_roundtrip_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORC leg of the serializer-sink family (NDJSON:
    ``json_roundtrip_ingest``, CSV: ``csv_roundtrip_ingest``): a typed
    slice out through Spark's ORC writer and back through the ORC
    reader, then a per-status profile that must equal the direct
    parquet aggregation — proving the engine's second columnar format
    is lossless for dates, decimals-as-doubles, and strings.  ORC
    matters at 100 TB for interop: Hive/Trino warehouses feed training
    pipelines ORC, and the scan benefits (predicate pushdown, column
    pruning, stripe-level min/max skipping) match parquet's.  Writes
    are executor-side partition files; no driver data path."""
    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    out = _staging_dir("orcrt", sf_dir)
    src.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").alias("n_orders"),
        money(F.sum("o_totalprice")).alias("total_price"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_day"),
    )


@query(
    "xml_roundtrip_ingest",
    ref="S6/S8 generalization — the XML leg of the serializer-sink family (Spark 4 built-in XML source, rowTag framing)",
    doc="documents scalars → XML (rowTag framing) → schema'd read-back → per-source profile; oracle = direct agg over parquet.",
    oracle="""
SELECT source,
       CAST(count(*) AS BIGINT)       AS n_docs,
       CAST(sum(n_chars) AS BIGINT)   AS total_chars,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM documents
GROUP BY source
""",
)
def xml_roundtrip_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The XML leg of the serializer-sink family (NDJSON:
    ``json_roundtrip_ingest``, CSV: ``csv_roundtrip_ingest``, ORC:
    ``orc_roundtrip_ingest``): typed scalars out through the Spark 4
    built-in XML writer (one ``<row>`` element per record) and back
    through an EXPLICIT schema — no inference pass over the data, the
    same declared-schema discipline as the NDJSON leg — then a
    per-source profile that must equal the direct parquet aggregation.
    XML matters for interop the way ORC does: enterprise feeds
    (catalogs, sitemaps, legacy exports) arrive as XML, and the built-in
    source splits row-tag elements across executor partitions, so a
    100 TB landing parses in parallel with no driver path.  Free text
    stays out for the same reason as CSV: the engine's contract for
    markup-bearing payloads is parquet/NDJSON."""
    src = t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    out = _staging_dir("xmlrt", sf_dir)
    src.write.mode("overwrite").option("rootTag", "docs").option("rowTag", "row").xml(out)
    back = (
        spark.read.schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT")
        .option("rowTag", "row")
        .xml(out)
    )
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


@query(
    "schema_evolution_union",
    ref="S8/S10 robustness — schema evolution across parquet drops (mergeSchema), the add-a-column migration every long-lived table hits",
    doc="Two parquet batches with different schemas (new column added) merged on read; per-lang profile proving old rows surface NULLs.",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS BIGINT) AS n_with_chars,
       CAST(COALESCE(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END), 0) AS BIGINT)
           AS total_chars
FROM documents
GROUP BY lang
""",
)
def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The migration a 100 TB table lives through: batch 1 written
    before a column existed, batch 2 after.  ``mergeSchema`` unions the
    footers at read time — old files surface the new column as NULL,
    no rewrite of petabytes of history.  The profile counts which rows
    carry the evolved column, so the oracle (same split simulated with
    CASE) hash-verifies both the union and the NULL semantics.
    mergeSchema costs a footer pass per file — production tables pin
    the evolved schema in a catalog instead; this query documents the
    mechanism, not a default."""
    src = t(spark, sf_dir, "documents")
    out = _staging_dir("schevo", sf_dir)
    v1 = src.where(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
    v2 = src.where(F.col("doc_id") % 2 == 1).select("doc_id", "lang", "n_chars")
    v1.write.mode("overwrite").parquet(out + "/batch=1")
    v2.write.mode("overwrite").parquet(out + "/batch=2")
    back = spark.read.option("mergeSchema", True).parquet(out + "/batch=1", out + "/batch=2")
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.count("n_chars").alias("n_with_chars"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).alias("total_chars"),
    )


@query(
    "partition_pruned_ingest",
    ref="S7/S10 layout lever — hive-partitioned write + partition-pruned read (the directory-level data skipping parquet stats can't give)",
    doc="orders written partitioned by status, read back with a status filter the planner prunes to one directory; oracle = direct filtered agg.",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT)    AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
""",
)
def partition_pruned_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-level pruning: the write lays one directory per
    status, and the status predicate resolves at PLANNING time from
    directory names (PartitionFilters — gated in tests/test_plans.py),
    so non-matching partitions are never opened, never footer-read.
    At 100 TB this is the difference between listing 3 directories and
    scanning them all; the same mechanism serves date-partitioned
    incremental loads (S2's watermark scan).  Partition count here is
    the 3-value status column — never partition by a high-cardinality
    key (file-per-key explosion)."""
    src = t(spark, sf_dir, "orders")
    out = _staging_dir("partprune", sf_dir)
    src.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    # Explicit schema: an all-empty write leaves no files to infer from
    # (empty input must yield an empty result, not UNABLE_TO_INFER_SCHEMA);
    # partition-column pruning still applies with a user-supplied schema.
    back = (
        spark.read.schema(src.schema)
        .parquet(out)
        .where(F.col("o_orderstatus") == "F")
    )
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        money(F.sum("o_totalprice")).alias("total_price"),
    )


@query(
    "pagestore_stream_ingest",
    ref="S1+S9 fusion — STREAMING Python DataSource (Spark 4 DataSourceStreamReader): offset-checkpointed incremental page ingestion",
    doc="Two landing waves consumed by a checkpointed pagestore stream (availableNow ×2); the parquet sink's per-lang profile must equal the direct aggregate — any offset replay would double-count.",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT)     AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
""",
)
def pagestore_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental half of S1 the batch pagestore queries can't
    show: the first availableNow run consumes wave-1 pages and
    checkpoints the name-watermark offset; wave 2 lands; the second run
    consumes ONLY the new pages.  The oracle equality IS the
    exactly-once proof — a source that replayed wave 1 would
    double-count every wave-1 doc and hash-mismatch.  At 100 TB this is
    continuous ingestion: upstream fetchers land pages in object
    storage, the stream tails the store, each new page parses on its
    own executor core."""
    from shopify_youtube_etl_spark.sources.pagestore import (
        PageStoreDataSource,
        write_page_store,
    )

    # Arrow collect (guide §6): the row-path collect spent ~0.3s
    # pickling rows the landing loop immediately re-dictifies; toArrow
    # keeps the same rows/ordering as one columnar transfer.
    rows = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
        .toArrow()
        .to_pylist()
    )
    half = len(rows) // 2
    store = _staging_dir("pagestream_store", sf_dir)
    sink = _staging_dir("pagestream_sink", sf_dir)
    cp = _staging_dir("pagestream_cp", sf_dir)
    schema = "doc_id BIGINT, lang STRING, n_chars BIGINT"
    spark.dataSource.register(PageStoreDataSource)

    def consume() -> None:
        q = (
            spark.readStream.format("pagestore")
            .schema(schema)
            .option("path", store)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    n1 = write_page_store(rows[:half], store, page_size=250)
    consume()
    write_page_store(rows[half:], store, page_size=250, start_page=n1)
    consume()

    docs = spark.read.schema(schema).parquet(sink)
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


@query(
    "stateful_sessionize",
    ref="§2.10 sessionization, STREAMING form — applyInPandasWithState with EVENT-TIME TIMEOUT (the state-expiry half stateful_user_totals doesn't exercise)",
    doc="Per-user session stats from a streaming sessionizer whose sessions close via gap-successor events or watermark-driven timeouts; must equal the batch gaps-and-islands aggregate.",
    oracle="""
SELECT user_id,
       CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT)                   AS n_events,
       CAST(max(session_len) AS BIGINT)           AS max_session_events
FROM (
    SELECT user_id, session_id, count(*) OVER (PARTITION BY user_id, session_id) AS session_len
    FROM (
        SELECT user_id,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM (
            SELECT user_id, ts, event_id,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             <= INTERVAL 30 MINUTE
                        THEN 0 ELSE 1 END AS is_new
            FROM events
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
        )
    )
)
GROUP BY user_id
""",
)
def stateful_sessionize_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL streaming sessionizer, driven to completion: events land
    as µs-integer NDJSON (JSON timestamp serialization is
    millisecond-truncating — the ts_us column keeps exact parity), the
    first micro-batch opens sessions and arms per-key event-time
    timers, and a far-future sentinel row in a second micro-batch
    (maxFilesPerTrigger=1, mtime-ordered) advances the watermark so
    every real session's timer fires before availableNow terminates.
    The sentinel's own session never closes and is never emitted.
    Aggregating the emitted per-session rows must reproduce the batch
    gaps-and-islands oracle EXACTLY — sessions closed by timeout and by
    gap-successor events are indistinguishable in the result."""
    import json as _json
    import os as _os
    import time as _time

    from shopify_youtube_etl_spark.streaming.stateful import stateful_sessionize

    tmp = _staging_dir("sessful", sf_dir)
    src = f"{tmp}/src"
    ev = (
        t(spark, sf_dir, "events")
        # Null event-times can't be watermarked and null keys can't be
        # sessionized — the production ingest drop (see the oracle's
        # matching WHERE).
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", F.unix_micros("ts").alias("ts_us"))
    )
    ev.coalesce(1).write.mode("overwrite").json(src)
    # Empty events → no max; any sentinel timestamp drives the (empty)
    # stream to a clean empty result, so epoch 0 stands in.
    max_us = ev.agg(F.max("ts_us")).first()[0] or 0
    now = _time.time()
    for f in _os.listdir(src):
        if f.endswith(".json"):
            _os.utime(_os.path.join(src, f), (now - 100, now - 100))
    sentinel = _os.path.join(src, "zz-sentinel.json")
    with open(sentinel, "w") as fh:
        fh.write(_json.dumps({"user_id": -1, "ts_us": int(max_us + 2 * 86_400_000_000)}) + "\n")
    _os.utime(sentinel, (now + 100, now + 100))

    stream = (
        spark.readStream.schema("user_id BIGINT, ts_us BIGINT")
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .withColumn("ts", F.timestamp_micros("ts_us"))
        .withWatermark("ts", "0 seconds")
    )
    sink = f"sessions_{uuid.uuid4().hex[:8]}"
    q = (
        stateful_sessionize(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp}/cp")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    sessions = spark.table(sink).where(F.col("user_id") >= 0)
    return sessions.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("n_events").alias("max_session_events"),
    )


@query(
    "pagestore_write_roundtrip",
    ref="S6/S9 scale path — Spark 4 Python DataSource WRITE (transactional page sink: task-staged temp files, driver commit renames)",
    doc="Documents written through the pagestore writer (executor-side staging, commit-or-nothing publish) and re-read via the pagestore reader; per-source profile must equal the direct aggregate.",
    oracle="""
SELECT source,
       CAST(count(*) AS BIGINT)     AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY source
""",
)
def pagestore_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write half of the custom connector: every executor task
    stages its pages under reader-invisible ``.tmp-*`` names and the
    driver's ``commit()`` publishes them atomically — a failed job
    leaves the store untouched (tests/test_sources.py proves the
    abort path).  No driver round-trip anywhere: rows flow executor →
    staged page → committed page → executor parse.  This is the
    staging-then-merge discipline of the reference's GCS load jobs
    (shopify_etl.py:558-561) rebuilt on the DataSourceWriter
    contract."""
    from shopify_youtube_etl_spark.sources.pagestore import PageStoreDataSource

    spark.dataSource.register(PageStoreDataSource)
    out_dir = _staging_dir("pagestore_write", sf_dir)
    (
        t(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .repartition(8)
        .write.format("pagestore")
        .option("path", out_dir)
        .option("page_size", "250")
        .mode("append")
        .save()
    )
    docs = (
        spark.read.format("pagestore")
        .schema("doc_id BIGINT, source STRING, n_chars BIGINT")
        .option("path", out_dir)
        .load()
    )
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


@query(
    "dynamic_partition_overwrite",
    ref="S10/S11 layout lever — INSERT OVERWRITE with dynamic partitionOverwriteMode (Delta replaceWhere equivalent): rewrite ONLY the partitions the batch touches",
    doc="Day-partitioned events table: one day's rows corrected via dynamic partition overwrite (values doubled for day 2024-01-05); all other days must remain byte-untouched.",
    oracle="""
SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT)                    AS n_events,
       round(sum(CASE WHEN strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') = '2024-01-05'
                      THEN value * 2 ELSE value END), 2) AS total_value
FROM events
GROUP BY 1
""",
)
def dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-correction write every dated lake table needs:
    restating one day must NOT rewrite the table.  With
    ``partitionOverwriteMode=dynamic``, mode("overwrite") replaces
    ONLY the partition directories present in the incoming batch —
    here the single corrected day — while static mode would truncate
    the whole table first (the failure people discover in production).
    The conf is set per-write via option(), not session-wide, so
    concurrent writers with different intents don't fight.  At 100 TB
    this is an O(day) rewrite of an O(years) table; the test of
    untouchedness is the oracle equality itself (uncorrected days must
    aggregate to their original values)."""
    from shopify_youtube_etl_spark.plans.common import day_str

    ev = t(spark, sf_dir, "events").select(
        "event_id", "ts", "value", day_str(F.col("ts")).alias("day")
    )
    out = _staging_dir("dynpart", sf_dir)
    ev.write.mode("overwrite").partitionBy("day").parquet(out)
    corrected = ev.where(F.col("day") == "2024-01-05").withColumn(
        "value", F.col("value") * 2
    )
    (
        corrected.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(out)
    )
    back = spark.read.schema(
        "event_id long, ts timestamp, value double, day string"
    ).parquet(out)
    return back.groupBy("day").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "pagestore_stream_sink_roundtrip",
    ref="S9 streaming write via custom DataSourceStreamWriter — epoch-keyed idempotent page publish (the sink half of exactly-once)",
    doc="Events streamed (availableNow) INTO the pagestore streaming sink, read back via the pagestore reader; per-user profile must equal the direct aggregate.",
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2)     AS total_value
FROM events
GROUP BY user_id
""",
)
def pagestore_stream_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write half of the streaming connector: micro-batches land
    as epoch-keyed pages (commit clears + renames per epoch, so
    replays overwrite themselves — tests/test_sources.py proves
    redelivery lands exactly once).  Together with
    pagestore_stream_ingest this closes the loop: stream in, stream
    out, both through the Spark 4 Python DataSource API, both
    oracle-verified."""
    from shopify_youtube_etl_spark.sources.pagestore import PageStoreDataSource

    spark.dataSource.register(PageStoreDataSource)
    tmp = _staging_dir("pgstream_sink", sf_dir)
    src, store, cp = f"{tmp}/src", f"{tmp}/store", f"{tmp}/cp"
    schema = "event_id BIGINT, user_id BIGINT, value DOUBLE"
    (
        t(spark, sf_dir, "events")
        .select("event_id", "user_id", "value")
        .coalesce(2)
        .write.mode("overwrite")
        .json(src)
    )
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(src)
        .writeStream.format("pagestore")
        .option("path", store)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    back = (
        spark.read.format("pagestore").schema(schema).option("path", store).load()
    )
    return back.groupBy("user_id").agg(
        F.count("*").alias("n_events"), money(F.sum("value")).alias("total_value")
    )


@query(
    "range_sorted_layout",
    ref="layout lever — repartitionByRange + sortWithinPartitions write: global order across files, non-overlapping per-file min/max for stats skipping",
    doc="Orders written range-partitioned and sorted by o_orderdate (8 files, disjoint date ranges — proven via parquet footers in pytest), read back with a date filter; oracle = direct filtered agg.",
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT)    AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
GROUP BY o_orderstatus
""",
)
def range_sorted_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 1-D cousin of the z-order layout: ``repartitionByRange``
    gives files DISJOINT key ranges (sampled range boundaries) and
    ``sortWithinPartitions`` orders rows inside each, so every file's
    parquet footer min/max is a tight, non-overlapping envelope — a
    date-range query decompresses only the files (and row groups)
    whose envelope intersects, no table format needed.  This is what
    'sort your fact table by its query key at write time' buys at
    100 TB; tests/test_advanced_io.py opens the footers and proves
    the ranges are disjoint.  The range exchange is one extra shuffle
    paid once at write time, amortized over every later read."""
    src = t(spark, sf_dir, "orders")
    out = _staging_dir("rangesort", sf_dir)
    (
        src.repartitionByRange(8, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.schema(src.schema).parquet(out)
    return (
        back.where(
            (F.col("o_orderdate") >= "1998-01-01")
            & (F.col("o_orderdate") < "1999-01-01")
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            money(F.sum("o_totalprice")).alias("total_price"),
        )
    )


@query(
    "pagestore_pruned_ingest",
    ref="S2 on the S1 scale path — the incremental predicate pushed INTO the Python DataSource (Spark 4.1 pushFilters): landing-time min/max sidecars prune whole pages at planning, claimed conjuncts filter rows source-side",
    doc="Documents landed as doc_id-clustered NDJSON pages with min/max sidecars; the cursor predicate (doc_id below the 80% split) is claimed by pushFilters, pruning the high pages at planning and leaving NO Filter node in the plan; per-language profile of the slice.",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT)     AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE doc_id < CAST((SELECT (max(doc_id) + 1) * 4 / 5 FROM documents) AS BIGINT)
GROUP BY lang
""",
)
def pagestore_pruned_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's incremental fetch predicate (S2,
    shopify_etl.py:289 `updated_at_min`) re-expressed where it belongs
    at scale: INSIDE the source.  Pages land clustered by the cursor
    column with a min/max sidecar per page (the page-store twin of
    parquet row-group stats); ``pushFilters`` claims the cursor
    conjunct, so planning SKIPS every page whose envelope refutes it —
    zero bytes of those pages are read, the exact mechanism by which an
    incremental run over a 100 TB landing zone touches only the new
    pages.  Claimed rows also filter source-side, so nothing
    non-matching crosses into the JVM, and the optimized plan carries
    NO Filter node (plan-gated in tests).  The pushdown reader is
    option-gated (see PageStoreDataSource.reader) and the session conf
    is set here at runtime — the driver's plain session works without
    ceremony."""
    from shopify_youtube_etl_spark.sources.pagestore import (
        PageStoreDataSource,
        write_page_store,
    )

    from shopify_youtube_etl_spark.plans.common import table_col_max

    mx = table_col_max(spark, sf_dir, "documents", "doc_id")
    split = int((mx + 1) * 4 // 5) if mx is not None else 0
    rows = [
        r.asDict()
        for r in t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")  # cursor-clustered pages -> tight envelopes
        .collect()
    ]
    out_dir = _staging_dir("pagestore_pruned", sf_dir)
    write_page_store(rows, out_dir, page_size=250, stats_cols=["doc_id"])

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(PageStoreDataSource)
    docs = (
        spark.read.format("pagestore")
        .schema("doc_id BIGINT, lang STRING, n_chars BIGINT")
        .option("path", out_dir)
        .option("pushdown", "true")
        .load()
        .where(F.col("doc_id") < split)
    )
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


_CP_SWEEP_AGE_S = 1800.0  # spent-checkpoint grace period


def _sweep_spent_checkpoints(staging_dir: str) -> None:
    """Remove SPENT per-invocation streaming checkpoints from a shared
    staging dir.  Only checkpoints older than a grace period go
    (ADVICE r7): a blanket sweep could delete a CONCURRENT invocation's
    live checkpoint mid-drain.  Each drain takes seconds, so a cp dir
    older than 30 minutes is abandoned with certainty; anything younger
    is left for a later call to collect."""
    import shutil
    import time

    cutoff = time.time() - _CP_SWEEP_AGE_S
    for d in os.listdir(staging_dir):
        full = os.path.join(staging_dir, d)
        if d.startswith("cp") and os.path.isdir(full):
            try:
                if os.path.getmtime(full) < cutoff:
                    shutil.rmtree(full, ignore_errors=True)
            except FileNotFoundError:
                pass  # a peer swept it first


@query(
    "stream_state_inspection",
    ref="§2.10 operations extension — Spark 4 state-store reader: the streaming checkpoint's internal state as a queryable DataFrame",
    doc="Run the per-user streaming aggregate to completion, then read its checkpoint STATE (format 'statestore') back as a DataFrame; the recovered state must equal the batch GROUP BY.",
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2)     AS total_value
FROM events
GROUP BY user_id
""",
)
def stream_state_inspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational introspection of streaming state: after an
    availableNow run of the per-user count/sum aggregate, the query
    does NOT read the sink — it opens the checkpoint with the state
    data source (``spark.read.format("statestore")``) and flattens the
    engine-managed key/value rows back into user totals.  That the
    recovered internal state value-hashes against the batch oracle is
    the strongest exactly-once statement available: not merely "the
    sink got the right rows" but "the state the engine would resume
    from IS the right aggregate".

    At scale this is the debug/repair path for a stuck 100 TB job —
    state is read per shuffle partition straight from the checkpoint
    (no replay of the source), so skew inspection ("which key bloated
    partition 7") and offline state audits cost O(state), not
    O(stream).  The state-metadata twin (operator names, batch id
    ranges) is asserted en route; an empty source leaves no committed
    state, which surfaces as the empty aggregate — same as the oracle
    over zero rows.

    Staging and state-width follow the stream_stream_join_attribution
    discipline: the NDJSON drop lands once per corpus, and the
    aggregate's state-store width is sized for the drain (8) rather
    than inherited from the batch session — fewer state files to
    commit AND to read back."""
    def stage(store) -> None:
        (
            t(spark, sf_dir, "events")
            .select("user_id", "value")
            .write.mode("overwrite")
            .json(f"{store.path}/src")
        )

    with StateStore(spark, "statereader", sf_dir).open(stage) as store:
        tmp = store.path
    src = f"{tmp}/src"
    _sweep_spent_checkpoints(tmp)
    cp = f"{tmp}/cp_{uuid.uuid4().hex[:8]}"

    stream = spark.readStream.schema("user_id BIGINT, value DOUBLE").json(src)
    agg = stream.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("value").alias("total_value")
    )
    sink = f"statein_{uuid.uuid4().hex[:8]}"
    from shopify_youtube_etl_spark.plans.common import stream_state_partitions

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(stream_state_partitions(src))
    )
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination(300)

    empty = spark.createDataFrame([], "user_id BIGINT, n_events BIGINT, total_value DOUBLE")
    try:
        meta = spark.read.format("state-metadata").load(cp)
    except Exception:  # no batch ever committed (empty source) -> no state
        return empty
    if meta.where(F.col("operatorName") == "stateStoreSave").count() != 1:
        raise AssertionError("expected exactly one stateStoreSave operator in checkpoint")
    state = spark.read.format("statestore").load(cp)
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").alias("n_events"),
        F.round(F.col("value.sum"), 2).alias("total_value"),
    )


@query(
    "stream_stream_join_attribution",
    ref="§2.10 streaming form of the interval join — watermarked STREAM-STREAM join (both sides buffered in state, expired by watermark + range condition); batch twin is interval_join_clicks_before_purchase",
    doc="Purchases stream joined to the clicks stream (same-user, preceding 30 min) with 1-hour watermarks on both sides, driven to completion; result must equal the batch interval join.",
    oracle="""
SELECT p.event_id AS purchase_id,
       c.event_id AS click_id,
       p.user_id  AS user_id
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase'
 AND c.event_type = 'click'
 AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 30 MINUTE
 AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
""",
)
def stream_stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL stream-stream join, not a batch stand-in: both sides
    are file streams (events land as µs-integer NDJSON — JSON
    timestamp serialization truncates to ms, the integer column keeps
    exact parity), each watermarked at 1 hour, joined on user plus the
    30-minute range condition.  The range condition is what makes the
    state BOUNDED: the engine buffers each side only until the other
    side's watermark passes the join window, so state size is
    O(traffic in the window), not O(stream) — the property that lets
    this run forever at 100 TB/day.  Null ts/user/type rows are
    dropped at ingest (can't be watermarked / can't match — exactly
    the rows the oracle's predicates eliminate).  availableNow drives
    the streams to completion and the emitted matches must value-hash
    against the batch interval join.

    The NDJSON drop is staged ONCE per (host, corpus) in a StateStore
    — like the ANN artifacts — because re-landing the events on every
    invocation was the only data-proportional cost of this query (r6
    verdict #8); repeat calls pay only the fixed streaming overhead
    (fresh checkpoint + the availableNow drain).  The checkpoint is
    per-invocation by necessity: reusing one would resume from committed
    offsets and emit nothing; spent ones are swept on entry."""
    from shopify_youtube_etl_spark.plans.windows import interval_join_builder

    def stage(store) -> None:
        (
            t(spark, sf_dir, "events")
            .where(
                F.col("ts").isNotNull()
                & F.col("user_id").isNotNull()
                & F.col("event_type").isNotNull()
            )
            .select(
                "event_id",
                "user_id",
                "event_type",
                F.unix_micros("ts").alias("ts_us"),
            )
            .write.mode("overwrite")
            .json(f"{store.path}/src")
        )

    with StateStore(spark, "ssjoin", sf_dir).open(stage) as store:
        tmp = store.path
    src = f"{tmp}/src"
    _sweep_spent_checkpoints(tmp)

    def side(event_type: str) -> DataFrame:
        return (
            spark.readStream.schema(
                "event_id BIGINT, user_id BIGINT, event_type STRING, ts_us BIGINT"
            )
            .json(src)
            .where(F.col("event_type") == event_type)
            .withColumn("ts", F.timestamp_micros("ts_us"))
            .withWatermark("ts", "1 hour")
        )

    run = uuid.uuid4().hex[:8]
    sink = f"ssj_{run}"
    # State-store width is a per-STREAM sizing decision, not something
    # to inherit from the batch session: every shuffle partition mints
    # two join-state stores per side whose open/commit cost dominates a
    # bounded drain (32 batch partitions = 9s of state bookkeeping for
    # <1s of data here; 8 = 3.7s; 4 = 2.9s, same rows at quiet minima).
    # Width now derives from the staged source volume
    # (stream_state_partitions — data-proportional, env-overridable),
    # not a constant: at 100 TB traffic it scales to match state
    # volume instead of scan width.  The count is baked into the
    # checkpoint at first start, so it is set only for this query's
    # planning and restored immediately after start.
    from shopify_youtube_etl_spark.plans.common import stream_state_partitions

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(stream_state_partitions(src))
    )
    try:
        q = (
            interval_join_builder(side("purchase"), side("click"))
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(sink)
            .option("checkpointLocation", f"{tmp}/cp_{run}")
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination(300)
    return spark.table(sink)


class BurstDetectUDTF:
    """Polymorphic table function: per-user activity-burst detection.

    Registered as a SQL table function and invoked with a
    ``TABLE(...) PARTITION BY user_id ORDER BY (ts_us, event_id)``
    argument — Spark instantiates one object per distinct partition
    key and feeds that user's rows in order, so ``eval`` is a
    sequential state machine over one user's timeline (state = the
    CURRENT burst only, O(burst) not O(user)).  A burst is a maximal
    chain of events with inter-event gap <= 3600 s; chains shorter
    than 3 events are dropped.  Timestamps cross the Python boundary
    as epoch MICROS (bigint) so no client-side timezone conversion
    can perturb them — the outer SQL turns them back into session-tz
    strings JVM-side.
    """

    GAP_US = 3600 * 1_000_000
    MIN_EVENTS = 3

    def __init__(self) -> None:
        self._user: int | None = None
        self._start: int | None = None
        self._end: int | None = None
        self._n = 0
        self._total = 0.0
        self._errors = 0

    def _flush(self):
        if self._n >= self.MIN_EVENTS:
            yield (self._user, self._start, self._end, self._n, self._total, self._errors)
        self._start = None
        self._end = None
        self._n = 0
        self._total = 0.0
        self._errors = 0

    def eval(self, row):
        # PARTITION BY columns are not echoed through a TVF's output —
        # the function itself re-emits the key it was partitioned on.
        self._user = row["user_id"]
        ts_us = row["ts_us"]
        if self._end is not None and ts_us - self._end > self.GAP_US:
            yield from self._flush()
        if self._start is None:
            self._start = ts_us
        self._end = ts_us
        self._n += 1
        self._total += row["value"] or 0.0
        if row["event_type"] == "error":
            self._errors += 1

    def terminate(self):
        yield from self._flush()


@query(
    "udtf_burst_sessions",
    ref="§2.11 UDF surface — Spark 4 Python UDTF with a partitioned TABLE argument: the SQL-surface custom-operator extension point (per-key stateful generator callable from plain SQL, the batch twin of applyInPandasWithState)",
    doc="Per-user activity bursts (gap <= 1 h, >= 3 events) emitted by a partitioned Python UDTF called from SQL; oracle is the equivalent gaps-and-islands statement.",
    oracle="""
WITH flagged AS (
    SELECT user_id, ts, event_id, value, event_type,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     <= INTERVAL 3600 SECOND
                THEN 0 ELSE 1 END AS is_new
    FROM events
),
islands AS (
    SELECT user_id, ts, value, event_type,
           sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS burst_id
    FROM flagged
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f')  AS burst_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f')  AS burst_end,
       CAST(count(*) AS BIGINT)                   AS n_events,
       round(sum(value), 2)                       AS total_value,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
FROM islands
GROUP BY user_id, burst_id
HAVING count(*) >= 3
""",
)
def udtf_burst_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom operators the engine lacks don't need a DataFrame-only
    escape hatch: a Python UDTF registered over a ``TABLE(...)
    PARTITION BY ... ORDER BY`` argument is a user-defined OPERATOR in
    the SQL dialect itself — any SQL author can call it without
    touching Python.  The partitioning clause is the scale contract:
    Catalyst plans ONE hash shuffle on user_id (exactly what the
    gaps-and-islands window form plans), rows arrive at the UDTF
    grouped and ordered engine-side, and the Python state machine
    holds only the current burst, so memory is O(burst) regardless of
    user history length.  Burst semantics (not a 30-min sessionize
    re-run): 1-hour gap chains with a minimum size, per-burst rows
    rather than per-user aggregates.
    """
    from pyspark.sql.functions import udtf as _udtf

    from shopify_youtube_etl_spark.sources.tables import ensure_views

    ensure_views(spark, sf_dir, ("events",))
    fn = _udtf(BurstDetectUDTF, returnType=(
        "user_id bigint, burst_start_us bigint, burst_end_us bigint, n_events bigint, "
        "total_value double, n_errors bigint"
    ))
    spark.udtf.register("burst_detect", fn)
    return spark.sql(
        """
SELECT user_id,
       date_format(timestamp_micros(burst_start_us), 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS burst_start,
       date_format(timestamp_micros(burst_end_us),   'yyyy-MM-dd HH:mm:ss.SSSSSS') AS burst_end,
       n_events,
       round(total_value, 2) AS total_value,
       n_errors
FROM burst_detect(
    TABLE(SELECT user_id, event_id, unix_micros(ts) AS ts_us, value, event_type
          FROM events)
    PARTITION BY user_id
    ORDER BY (ts_us, event_id)
)
"""
    )
