"""Time-window aggregation queries over the events table (SURVEY §2.10
extension scope: tumbling / sliding / session windows).

These are the BATCH forms — ``F.window`` / ``F.session_window`` work
identically in batch and Structured Streaming, so the same builders are
reused by ``streaming/windows.py`` with ``readStream`` + watermarks; the
tests assert streaming(availableNow) == batch.

Oracle parity notes: events.ts is ns in parquet; both engines truncate
to µs first (CAST(ts AS TIMESTAMP) in DuckDB; Spark's reader truncates).
Window starts are reconstructed in SQL with epoch_us integer floor
division and ``make_timestamp`` (tz-less — avoids DuckDB's TIMESTAMPTZ
``to_timestamp``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shopify_youtube_etl_spark.plans.common import StateStore, money, t
from shopify_youtube_etl_spark.plans.registry import query


def tumbling_agg(events: DataFrame, width: str = "15 minutes") -> DataFrame:
    """Shared batch/streaming tumbling builder."""
    return (
        events.groupBy(F.window("ts", width).alias("w"))
        .agg(F.count("*").alias("n_events"), money(F.sum("value")).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


@query(
    "tumbling_window_15m",
    ref="§2.10 extension — tumbling window agg (watermark analog :191-198)",
    doc="15-minute tumbling windows: count + sum(value).",
    oracle="""
SELECT strftime(make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 900000000) * 900000000),
                '%Y-%m-%d %H:%M:%S')        AS window_start,
       CAST(count(*) AS BIGINT)             AS n_events,
       round(sum(value), 2)                 AS total_value
FROM events
GROUP BY 1
""",
)
def tumbling_window_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_agg(t(spark, sf_dir, "events"), "15 minutes")


@query(
    "sliding_window_30m_15m",
    ref="§2.10 extension — sliding window agg",
    doc="30-minute windows sliding every 15: each event lands in exactly 2 windows.",
    oracle="""
WITH base AS (
    SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 900000000) * 900000000 AS slot_us, value
    FROM events
),
expanded AS (
    SELECT unnest([slot_us, slot_us - 900000000]) AS ws_us, value FROM base
)
SELECT strftime(make_timestamp(ws_us), '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2)     AS total_value
FROM expanded
GROUP BY 1
""",
)
def sliding_window_30m_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "30 minutes", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), money(F.sum("value")).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


def session_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Shared batch/streaming session-window builder (gap-merge sessions)."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), money(F.sum("value")).alias("total_value"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


@query(
    "session_window_30m",
    ref="§2.10 extension — session windows (gaps-and-islands)",
    doc="Per-user sessions with 30-minute inactivity gap.",
    oracle="""
WITH e AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
),
d AS (
    SELECT user_id, ts, value,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                     OVER (PARTITION BY user_id ORDER BY ts) >= 1800000000
                THEN 1 ELSE 0 END AS brk
    FROM e
),
g AS (
    SELECT user_id, ts, value,
           sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sess
    FROM d
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       CAST(count(*) AS BIGINT)                  AS n_events,
       round(sum(value), 2)                      AS total_value
FROM g
GROUP BY user_id, sess
""",
)
def session_window_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark merges events whose gap is < 30 min (session end is
    exclusive: an event exactly at prev_ts + gap starts a NEW session) —
    the oracle's gaps-and-islands break condition mirrors that with
    ``>= gap``."""
    return session_agg(t(spark, sf_dir, "events"), "30 minutes")


def interval_join_builder(purchases: DataFrame, clicks: DataFrame) -> DataFrame:
    """Shared batch/streaming interval-join builder: each purchase
    matched to the same user's clicks in the preceding 30 minutes.
    In streaming, both sides carry watermarks and the time-range
    condition lets the engine expire join state — without it a
    stream-stream join buffers forever."""
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    return p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select("purchase_id", "click_id", "user_id")


@query(
    "interval_join_clicks_before_purchase",
    ref="§2.10 extension — interval (time-range) join; streaming twin is a watermarked stream-stream join",
    doc="Purchases joined to same-user clicks within the preceding 30 minutes.",
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
def interval_join_clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The N-matches sibling of the as-of join (which keeps only the
    latest click): equi-join on user plus a time-range predicate.
    Batch planning: shuffle both sides once on user_id, range filter
    inside the sort-merge join.  tests/test_streaming.py proves the
    watermarked stream-stream twin converges to this result."""
    e = t(spark, sf_dir, "events")
    return interval_join_builder(
        e.where(F.col("event_type") == "purchase"),
        e.where(F.col("event_type") == "click"),
    )

def interval_left_join_builder(purchases: DataFrame, clicks: DataFrame) -> DataFrame:
    """LEFT-OUTER sibling of ``interval_join_builder``: every purchase
    survives, unmatched ones with a NULL click_id.  In streaming this
    is the interesting half — the engine may only emit the null-padded
    row once BOTH watermarks pass the purchase's join window (no
    earlier click can still arrive), so unmatched results are
    watermark-driven state evictions, not join hits."""
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    return p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left_outer",
    ).select("purchase_id", "click_id", "user_id")


@query(
    "interval_left_join_attribution",
    ref="§2.10 extension — LEFT OUTER interval join; streaming twin emits unmatched rows on watermark-driven state eviction",
    doc="Every purchase with its preceding-30-min same-user clicks, NULL click_id when unattributed.",
    oracle="""
SELECT p.event_id AS purchase_id,
       c.event_id AS click_id,
       p.user_id  AS user_id
FROM events p
LEFT JOIN events c
  ON p.user_id = c.user_id
 AND c.event_type = 'click'
 AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 30 MINUTE
 AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
WHERE p.event_type = 'purchase'
""",
)
def interval_left_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution with explicit no-touch rows: the inner interval join
    silently drops purchases with no preceding click — exactly the rows
    a marketing funnel needs to see.  Batch plan is the same
    one-shuffle-per-side sort-merge range join with LeftOuter;
    tests/test_streaming.py proves the watermarked stream-stream twin
    (null rows emitted only after both watermarks clear the window)
    converges to this batch result."""
    e = t(spark, sf_dir, "events")
    return interval_left_join_builder(
        e.where(F.col("event_type") == "purchase"),
        e.where(F.col("event_type") == "click"),
    )


@query(
    "two_level_window_hourly",
    ref="§2.10 extension — CHAINED stateful window aggregation (15-min partials → hourly finals via window_time); streaming twin proven in tests/test_streaming.py",
    doc="Hourly event rollup computed THROUGH 15-minute partial windows (the multiple-stateful-operator pipeline), equal to a direct hourly aggregate.",
    oracle="""
SELECT strftime(make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) * 3600000000),
                '%Y-%m-%d %H:%M:%S')        AS hour_start,
       CAST(count(*) AS BIGINT)             AS n_events,
       round(sum(value), 2)                 AS total_value
FROM events
GROUP BY 1
""",
)
def two_level_window_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch face of the chained streaming aggregation: 15-minute
    windows re-windowed into hours via ``window_time`` — numerically a
    partial→final cascade, so the result must equal (and the oracle IS)
    the direct hourly aggregate.  In streaming this exact builder runs
    as TWO stateful operators in one query (Spark 3.5+), with the
    hourly state seeing 4 rows/hour instead of raw events
    (tests/test_streaming.py::test_chained_streaming_windows_equal_batch_hourly).
    Rounding nests (15-min sums rounded, then re-rounded at the hour) —
    identical at 2dp because each 15-min sum is already a 2dp value."""
    from shopify_youtube_etl_spark.streaming.windows import two_level_window_agg

    return two_level_window_agg(t(spark, sf_dir, "events"))


@query(
    "linear_attribution_revenue",
    ref="attribution family capstone — the interval join (N touches) upgraded to MULTI-TOUCH LINEAR credit: each purchase's value split 1/n over its in-window touches (the as-of query is last-touch, the interval joins are raw pairs; this is the weighted-distribution operator marketing rollups actually consume)",
    doc="Purchase value split equally across same-user clicks in the preceding 30 minutes, credited to the click's hour-of-day: per hour — touches, attributed revenue.",
    oracle="""
WITH p AS (
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
    FROM events WHERE event_type = 'purchase'
),
c AS (
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
    FROM events WHERE event_type = 'click'
),
touch AS (
    SELECT p.event_id AS pid,
           p.value,
           extract(hour FROM c.ts) AS hr,
           count(*) OVER (PARTITION BY p.event_id) AS n
    FROM p JOIN c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts > p.ts - INTERVAL 30 MINUTE
)
SELECT CAST(hr AS INT)                      AS click_hour,
       CAST(count(*) AS BIGINT)             AS n_touches,
       CAST(count(DISTINCT pid) AS BIGINT)  AS n_purchases,
       round(sum(value / n), 2)             AS attributed_revenue
FROM touch
GROUP BY hr
""",
)
def linear_attribution_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-credit) multi-touch attribution: the interval join
    finds each purchase's touches, a purchase-keyed window count turns
    them into 1/n weights, and the weighted values roll up to the
    touch's hour-of-day — so credit follows WHEN the engagement
    happened, not when the purchase landed.  Weights sum to exactly 1
    per attributed purchase, so total attributed revenue equals total
    touched-purchase revenue (conservation — the property last-touch
    breaks).

    Plan shape: one shuffle on user_id for the range-predicate
    sort-merge join (same as the raw interval join), the 1/n window
    re-partitions on purchase_id, then an hour-grain partial agg —
    24-row output regardless of scale."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("p_ts"), "value"
    )
    c = e.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"), "user_id", F.col("ts").alias("c_ts")
    )
    touch = p.join(
        c,
        (p["user_id"] == c["user_id"])
        & (c["c_ts"] <= p["p_ts"])
        & (c["c_ts"] > p["p_ts"] - F.expr("INTERVAL 30 MINUTES")),
    ).select("pid", "value", F.hour("c_ts").alias("click_hour"))
    n = F.count("*").over(Window.partitionBy("pid"))
    return (
        touch.withColumn("w", F.col("value") / n)
        .groupBy("click_hour")
        .agg(
            F.count("*").alias("n_touches"),
            F.countDistinct("pid").alias("n_purchases"),
            money(F.sum("w")).alias("attributed_revenue"),
        )
    )


@query(
    "debounce_events",
    ref="ingest hygiene operator — debounce (drop rapid same-key repeats): the dedup family's TIME-TOLERANT member (dedup_keep_first is exact-key; streaming_dedup is watermark-bounded exact; this folds repeats within a 30-min key-local window)",
    doc="Events repeated for the same (user, type) within 30 minutes of the previous KEPT event's arrival chain are dropped (lag-based debounce: a repeat refreshes the window); per event_type — total vs kept counts and kept-value sum.",
    oracle="""
WITH g AS (
    SELECT user_id, event_type, value,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id, event_type
                                        ORDER BY ts, event_id)
                     <= INTERVAL 30 MINUTE
                THEN 0 ELSE 1 END AS keep
    FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT)    AS n_events,
       CAST(sum(keep) AS BIGINT)   AS n_kept,
       round(sum(CASE WHEN keep = 1 THEN value ELSE 0 END), 2) AS kept_value
FROM g
GROUP BY event_type
""",
)
def debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-fire suppression at ingest: a click that repeats for the
    same user within 30 minutes of the PREVIOUS event of that key is
    an artifact (retry, double-tap, at-least-once redelivery burst),
    not signal.  Lag-based semantics — each event compares to its
    immediate predecessor in the (user, type) timeline, so a chain of
    rapid repeats collapses to its first element (the chain refreshes
    the window; contrast dropDuplicatesWithinWatermark, which keys on
    VALUE equality, not recency).  One hash shuffle on the composite
    key; the lag window and nothing else touches event order, and the
    per-type census is a 5-row rollup."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    keep = F.when(
        F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w) <= 1800,
        0,
    ).otherwise(1)
    g = t(spark, sf_dir, "events").select(
        "event_type", "value", keep.alias("keep")
    )
    return g.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("keep").alias("n_kept"),
        money(F.sum(F.when(F.col("keep") == 1, F.col("value")).otherwise(0.0))).alias(
            "kept_value"
        ),
    )


@query(
    "position_based_attribution",
    ref="attribution family — U-shaped (position-based) credit next to linear_attribution_revenue: 40% first touch, 40% last, 20% split across the middle — the model marketing defaults to when journey ENDS matter more than the middle",
    doc="Purchase value credited 40/20/40 (first / middle-split / last; 100% single-touch, 50/50 two-touch) across same-user clicks in the preceding 30 minutes, rolled up to the click's hour-of-day.",
    oracle="""
WITH p AS (
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
    FROM events WHERE event_type = 'purchase'
),
c AS (
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
    FROM events WHERE event_type = 'click'
),
touch AS (
    SELECT p.event_id AS pid,
           p.value,
           extract(hour FROM c.ts) AS hr,
           count(*) OVER (PARTITION BY p.event_id) AS n,
           row_number() OVER (PARTITION BY p.event_id
               ORDER BY c.ts, c.event_id) AS pos
    FROM p JOIN c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts > p.ts - INTERVAL 30 MINUTE
),
credited AS (
    SELECT pid, hr,
           value * CASE WHEN n = 1 THEN 1.0
                        WHEN n = 2 THEN 0.5
                        WHEN pos = 1 OR pos = n THEN 0.4
                        ELSE 0.2 / (n - 2) END AS credit
    FROM touch
)
SELECT CAST(hr AS INT)                      AS click_hour,
       CAST(count(*) AS BIGINT)             AS n_touches,
       CAST(count(DISTINCT pid) AS BIGINT)  AS n_purchases,
       round(sum(credit), 2)                AS attributed_revenue
FROM credited
GROUP BY hr
""",
)
def position_based_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear credit says every touch mattered equally; the U-shaped
    model says the INTRODUCTION and the CLOSE did the work (40% each)
    and the middle shared the remaining 20% — with the degenerate
    journeys handled the way platforms define them (one touch: 100%;
    two: 50/50, so weights always sum to exactly 1 and attributed
    revenue reconciles to purchase revenue).  Same plan skeleton as
    the audited linear query — the interval join on the user key, the
    per-purchase count window — plus ONE more window (position rank)
    riding the identical purchase-id partitioning, so the model
    upgrade costs zero extra exchanges.  Ties in click time break on
    event_id, keeping first/last election hash-stable."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
        "value",
    )
    c = e.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
    )
    touch = p.join(
        c,
        (F.col("pu") == F.col("cu"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") > F.col("pts") - F.expr("INTERVAL 30 MINUTE")),
    ).select(
        "pid",
        "value",
        F.hour("cts").alias("hr"),
        F.count("*").over(Window.partitionBy("pid")).alias("n"),
        F.row_number()
        .over(Window.partitionBy("pid").orderBy("cts", "cid"))
        .alias("pos"),
    )
    w = (
        F.when(F.col("n") == 1, 1.0)
        .when(F.col("n") == 2, 0.5)
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n")), 0.4)
        .otherwise(0.2 / (F.col("n") - 2))
    )
    return (
        touch.select("pid", "hr", (F.col("value") * w).alias("credit"))
        .groupBy(F.col("hr").cast("int").alias("click_hour"))
        .agg(
            F.count("*").alias("n_touches"),
            F.countDistinct("pid").alias("n_purchases"),
            F.round(F.sum("credit"), 2).alias("attributed_revenue"),
        )
    )


def _attr_split(spark: SparkSession, sf_dir: str) -> int:
    """History/batch boundary for attribution IVM: events with
    event_id below the split are the already-credited history, the top
    20% of the id range is the newly-landed batch — a FRACTION, not a
    constant, for the same reason as llm_text._funnel_split (the batch
    must stay batch-proportional as the corpus scales)."""
    from shopify_youtube_etl_spark.plans.common import table_col_max

    mx = table_col_max(spark, sf_dir, "events", "event_id")
    return int((mx + 1) * 4 // 5) if mx is not None else 0


def _attr_touches(purchases: DataFrame, clicks: DataFrame) -> DataFrame:
    """Credited-touch rows for the given purchase set against the given
    click set: the 30-minute interval join plus the per-purchase touch
    count (the 1/n linear-credit denominator).  Shared by the history
    build and every batch merge so increment and rebuild are the same
    expression by construction."""
    from pyspark.sql.window import Window

    touch = purchases.join(
        clicks,
        (F.col("pu") == F.col("cu"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") > F.col("pts") - F.expr("INTERVAL 30 MINUTES")),
    ).select("pid", "cid", "value", F.hour("cts").alias("click_hour"))
    return touch.withColumn(
        "n", F.count("*").over(Window.partitionBy("pid"))
    )


@query(
    "incremental_attribution_revenue",
    ref="IVM of the attribution family (the bm25_incremental_index discipline applied to linear_attribution_revenue) — credited-touch state persisted per batch instead of re-joining the full event history per report; the oracle recomputes linear attribution from scratch over all events, so a green row externally proves maintenance ≡ rebuild",
    doc="Linear multi-touch attribution by click hour-of-day served FROM persisted credited-touch state: the base 80% of the event-id range is credited once, the top-20% batch updates only the purchases it can affect (new purchases, plus old purchases whose 30-minute window a new click landed in) — byte-identical to the from-scratch recompute.",
    oracle="""
WITH p AS (
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
    FROM events WHERE event_type = 'purchase' AND event_id IS NOT NULL
),
c AS (
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
    FROM events WHERE event_type = 'click' AND event_id IS NOT NULL
),
touch AS (
    SELECT p.event_id AS pid,
           p.value,
           extract(hour FROM c.ts) AS hr,
           count(*) OVER (PARTITION BY p.event_id) AS n
    FROM p JOIN c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts > p.ts - INTERVAL 30 MINUTE
)
SELECT CAST(hr AS INT)                      AS click_hour,
       CAST(count(*) AS BIGINT)             AS n_touches,
       CAST(count(DISTINCT pid) AS BIGINT)  AS n_purchases,
       round(sum(value / n), 2)             AS attributed_revenue
FROM touch
GROUP BY hr
""",
)
def incremental_attribution_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The attribution family was the last heavy recompute-only
    pipeline (r6 verdict #7): every report re-ran the interval join
    over ALL events.  This is the steady-state answer — persisted
    (pid, cid, click_hour, value, n) credited-touch state, with each
    batch updating only the purchases it can possibly affect:

    * NEW purchases join against the full click timeline (their touch
      sets are born complete);
    * OLD purchases are re-credited ONLY if a new click landed inside
      their 30-minute window — the subtle IVM trap: that click changes
      the 1/n denominator of every sibling touch, so the affected
      purchase's whole touch set refreshes (touch sets only grow, so
      the (pid, cid)-keyed upsert needs no deletes);
    * everything else in state is untouched — per-batch work is
      O(batch x window traffic), never O(history).

    The report aggregates the STATE, not the events, and the oracle
    recomputes linear attribution from scratch over the full corpus —
    a green external record is the maintenance ≡ rebuild proof (the
    bm25_incremental_index discipline).  Credit conservation vs the
    live linear query, the poison pin (state is consumed, not
    rebuilt), and the planted cross-boundary re-credit live in
    tests/test_analytics.py."""
    split = _attr_split(spark, sf_dir)
    e = t(spark, sf_dir, "events").where(F.col("event_id").isNotNull())
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
        "value",
    )
    c = e.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
    )

    def build(store) -> None:
        store["touches"].overwrite(
            _attr_touches(p.where(F.col("pid") < split), c.where(F.col("cid") < split)),
            stats_cols=["pid"],
        )

    # Purchases the batch can affect: the batch's own purchases, plus
    # old purchases with a new click inside their window (semi join —
    # batch-bounded, never O(history)).
    new_c = c.where(F.col("cid") >= split)
    affected_old = p.where(F.col("pid") < split).join(
        new_c,
        (F.col("pu") == F.col("cu"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") > F.col("pts") - F.expr("INTERVAL 30 MINUTES")),
        "left_semi",
    )
    recompute = p.where(F.col("pid") >= split).unionByName(affected_old)
    updates = _attr_touches(recompute, c)
    # Segment-pruned keyed MERGE (r7 verdict #1): the write now matches
    # the batch-bounded compute — only state segments whose pid envelope
    # an updated purchase actually hits rewrite; in steady state the
    # history segment (pid < split) survives by name unless an old
    # purchase was re-credited into it.
    with StateStore(spark, "attrivm", sf_dir, split).open(build) as store:
        state = store["touches"]
        state.upsert_matching(updates, ["pid", "cid"], auto_compact_at=64)
        return (
            state.read()
            .groupBy(F.col("click_hour").cast("int").alias("click_hour"))
            .agg(
                F.count("*").alias("n_touches"),
                F.countDistinct("pid").alias("n_purchases"),
                money(F.sum(F.col("value") / F.col("n"))).alias("attributed_revenue"),
            )
        )
