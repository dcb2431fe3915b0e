"""Scale-machinery queries: the skew/shuffle levers of operators/scale.py
exercised as registered, oracle-checked queries — proving the machinery
is RESULT-identical to the plain relational forms it replaces.

The reference never faces skew (BigQuery's planner owns it,
shopify_etl.py delegates every join); on Spark at 100 TB the engine
must supply these levers itself (SURVEY §7 risk 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shopify_youtube_etl_spark.operators.scale import prefilter_join, salted_join
from shopify_youtube_etl_spark.plans.common import StateStore, money, t
from shopify_youtube_etl_spark.plans.registry import query


@query(
    "salted_join_revenue",
    ref="skew machinery — salted equi-join (operators/scale.py), result-identical to a plain join",
    doc="orders ⋈ customer through the salted-join path, aggregated per market segment; oracle is the PLAIN join.",
    oracle="""
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT)    AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
)
def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew lever, value-verified: the large side gets a
    deterministic row-hash salt, the small side replicates once per
    salt value, and the oracle describes the UNSALTED join — so the
    driver's hash check proves salting changes only the shuffle layout,
    never the result.  At 100 TB this is the fallback when one hot
    o_custkey (a marketplace aggregator account) exceeds what AQE's
    skew-join splitting can rebalance."""
    orders = t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined = salted_join(orders, cust, key="o_custkey", salt_buckets=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        money(F.sum("o_totalprice")).alias("total_price"),
    )


@query(
    "zorder_locality_profile",
    ref="data-layout machinery — Morton/Z-order clustering key (Delta OPTIMIZE ZORDER BY equivalent)",
    doc="Z-interleave (customer, order-day); per z-bucket: row count and the min/max envelope each file would carry.",
    oracle="""
WITH m AS (
    SELECT o_orderkey,
           o_custkey & 65535 AS x,
           date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) & 65535 AS y
    FROM orders
),
z AS (
    SELECT x, y,
           (SELECT sum(
                ((m.x >> g.b) & 1) * (CAST(1 AS BIGINT) << (2 * g.b))
              + ((m.y >> g.b) & 1) * (CAST(1 AS BIGINT) << (2 * g.b + 1)))
            FROM (SELECT unnest(generate_series(0, 15)) AS b) g) AS zval
    FROM m
)
SELECT CAST(zval >> 16 AS BIGINT)    AS z_bucket,
       CAST(count(*) AS BIGINT)      AS n_orders,
       CAST(min(x) AS BIGINT)        AS custkey_lo,
       CAST(max(x) AS BIGINT)        AS custkey_hi,
       CAST(min(y) AS BIGINT)        AS day_lo,
       CAST(max(y) AS BIGINT)        AS day_hi
FROM z GROUP BY z_bucket
""",
)
def zorder_locality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The layout key behind multi-dimensional data skipping: interleave
    (o_custkey, order-day) bits into one z-value, bucket by its high
    bits (>>16) — each bucket is what one file would hold after
    ``repartitionByRange(z)`` — and report the min/max envelope per
    bucket on BOTH dimensions.  Narrow envelopes are the point: a
    predicate on EITHER customer or date prunes most buckets, which
    linear (single-column) sort order only gives for its leading
    column.  At 100 TB this runs once at write time; the z fold is a
    map-side JVM expression and the profile is one shuffle on the
    bucket id."""
    o = t(spark, sf_dir, "orders")
    from shopify_youtube_etl_spark.operators.scale import zorder_value

    b = o.select(
        (F.col("o_custkey").bitwiseAND(65535)).alias("x"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("bigint")
        .bitwiseAND(65535)
        .alias("y"),
    )
    z = b.withColumn("zval", zorder_value("x", "y", bits=16))
    return (
        z.groupBy(F.shiftright("zval", 16).alias("z_bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            F.min("x").alias("custkey_lo"),
            F.max("x").alias("custkey_hi"),
            F.min("y").alias("day_lo"),
            F.max("y").alias("day_hi"),
        )
    )


@query(
    "bloom_prefilter_join",
    ref="runtime-filter machinery — broadcast membership prefilter (operators/scale.py::prefilter_join), result-identical to the plain join",
    doc="lineitem pruned by a broadcast hash-bucket set of urgent-order keys before the shuffle join; oracle is the PLAIN join.",
    oracle="""
SELECT l_linestatus,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT') o
  ON l_orderkey = o_orderkey
GROUP BY l_linestatus
""",
)
def bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The explicit runtime-filter plan: a selective build side (urgent
    orders, ~20% of the table) reduced to a distinct hash-bucket set,
    broadcast, and semi-joined against lineitem BEFORE the exact
    shuffle join — so non-matching probe rows never enter the
    exchange.  Oracle is the plain join: the prefilter admits false
    positives only, and the exact join removes them, so results are
    row-identical.  At 100 TB this is the difference between shuffling
    the full fact table and shuffling the ~fraction that can match."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_linestatus", "l_extendedprice", "l_discount"
    )
    urgent = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("okey"))
    )
    joined = prefilter_join(li, urgent, "okey", n_buckets=1 << 14)
    return joined.groupBy("l_linestatus").agg(
        F.count("*").alias("n_items"),
        money(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "revenue"
        ),
    )


@query(
    "key_skew_profile",
    ref="skew machinery — the diagnostic that DECIDES when salted_join/AQE skew handling is needed (operators/scale.py)",
    doc="Top-10 hottest event keys: row count, share of table, cumulative share — the straggler pre-flight check.",
    oracle="""
WITH k AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
    FROM events GROUP BY user_id
),
tot AS (SELECT CAST(sum(n_rows) AS DOUBLE) AS n FROM k),
r AS (
    SELECT user_id, n_rows,
           CAST(row_number() OVER (ORDER BY n_rows DESC, user_id) AS BIGINT) AS rank,
           CAST(sum(n_rows) OVER (ORDER BY n_rows DESC, user_id) AS BIGINT)  AS cum_rows
    FROM k
)
SELECT user_id, n_rows, rank,
       round(n_rows / (SELECT n FROM tot), 6)   AS share,
       round(cum_rows / (SELECT n FROM tot), 6) AS cum_share
FROM r WHERE rank <= 10
""",
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-flight a skew-aware pipeline runs before choosing a
    join strategy: per-key counts (one partial-agg shuffle — the
    exploded table never moves, only (key, partial count) rows), then
    rank/share windows over the REDUCED |keys|-row frame, with the
    one-row total broadcast back rather than collected.  A top key
    holding >1/shuffle-partitions of the table predicts a straggler
    task — the signal that routes the downstream join through
    salted_join or AQE skew split.  Deterministic tie-break (count
    desc, key asc) keeps the top-10 cut hash-stable."""
    from pyspark.sql.window import Window

    k = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_rows"))
    )
    tot = k.agg(F.sum("n_rows").cast("double").alias("n"))
    # Cut the top-10 FIRST (TakeOrderedAndProject: per-partition heaps,
    # 10-row merge) — rank and the running sum only ever involve rows
    # above the cut, so windowing the 10-row frame is value-identical
    # to windowing the whole user census through one task.
    top = k.orderBy(F.col("n_rows").desc(), F.col("user_id")).limit(10)
    w = Window.orderBy(F.col("n_rows").desc(), F.col("user_id"))
    ranked = top.select(
        "user_id",
        "n_rows",
        F.row_number().over(w).cast("long").alias("rank"),
        F.sum("n_rows").over(w).cast("long").alias("cum_rows"),
    )
    return (
        ranked.where(F.col("rank") <= 10)
        .join(F.broadcast(tot))
        .select(
            "user_id",
            "n_rows",
            "rank",
            F.round(F.col("n_rows") / F.col("n"), 6).alias("share"),
            F.round(F.col("cum_rows") / F.col("n"), 6).alias("cum_share"),
        )
    )


@query(
    "hll_daily_users_rollup",
    ref="scale machinery — mergeable distinct sketches (Datasketches HLL), the pre-aggregation that replaces COUNT(DISTINCT) re-scans at 100 TB",
    doc="Per-day HLL user sketches merged to a corpus-wide distinct estimate: n_days, sum of daily estimates, union estimate.",
    # No DuckDB oracle: its HLL implementation differs bit-for-bit from
    # Spark's Datasketches HLL_4.  Driver does the rows-only check;
    # tests/test_scale.py pins the estimate within 5% of the exact
    # distinct and proves union(sketches) == direct sketch of the whole.
)
def hll_daily_users_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-sketch rollup pattern: each day aggregates its
    users into an HLL sketch ONCE (partial-agg shuffle on day);
    any coarser grain — month, year, all-time — is then a cheap
    hll_union_agg over the stored per-day sketch column, never a
    re-scan of raw events.  sum(daily estimates) ≫ union estimate is
    the cross-day repeat-visitor signal (sketches subsume the
    double-counting a naive sum of daily COUNT(DISTINCT) bakes in).
    This is how a 100 TB events table answers rolling-distinct
    questions interactively: the sketch table is O(days × 2^lgK)
    bytes, and merge is associative so it parallelizes as a plain
    agg.  Estimates cast to long for hash-stable rows-only output."""
    from shopify_youtube_etl_spark.plans.common import day_str

    daily = (
        t(spark, sf_dir, "events")
        .select(day_str(F.col("ts")).alias("day"), "user_id")
        .groupBy("day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    return daily.agg(
        F.count("*").alias("n_days"),
        F.sum(F.hll_sketch_estimate("sk")).cast("long").alias("sum_daily_est"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("union_est"),
    )


@query(
    "adaptive_join_revenue",
    ref="skew machinery composed — key_skew_profile's decision wired into the join a user actually calls (operators/scale.py::adaptive_join)",
    doc="lineitem ⋈ part routed through the skew-adaptive join (profile → plain or salted), revenue per brand; oracle is the PLAIN join.",
    oracle="""
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
""",
)
def adaptive_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two demonstrated skew levers (key_skew_profile diagnostic,
    salted_join fallback) composed into one operator: adaptive_join
    samples the fact side's key distribution and routes through the
    salted layout only when one key is hot enough to straggle.  TPC-H
    l_partkey is uniform, so here the probe chooses the plain join and
    the oracle hash-verifies that path; the salted route is
    value-verified on planted skew in tests/test_scale.py — both
    branches produce row-identical results by construction."""
    from shopify_youtube_etl_spark.operators.scale import adaptive_join

    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pkey"), "l_extendedprice", "l_discount"
    )
    part = t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pkey"), "p_brand"
    )
    joined = adaptive_join(li, part, key="pkey")
    return joined.groupBy("p_brand").agg(
        F.count("*").alias("n_items"),
        money(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "revenue"
        ),
    )


@query(
    "theta_audience_overlap",
    ref="scale machinery — theta sketches (Datasketches): distinct SET ALGEBRA (intersection/difference) that HLL cannot do",
    doc="Pairwise event-type audience overlap from per-type theta sketches: union, intersection, and A-minus-B distinct-user estimates.",
    # No DuckDB oracle: theta sketch binaries are Spark/Datasketches
    # internal.  Driver does the rows-only check; tests/test_scale.py
    # pins every estimate within 5% of the exact distinct counts.
)
def theta_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audience-overlap question ('how many distinct users did BOTH
    X and Y') breaks HLL — union is the only HLL-mergeable operation —
    but theta sketches carry full set algebra.  Each event type
    aggregates its users into ONE theta sketch (partial-agg shuffle on
    type, sketch size O(2^lgK) regardless of input); every pairwise
    union/intersection/difference then computes on the tiny sketch
    frame via a self-join of ~|types|² rows.  At 100 TB the raw
    alternative is a COUNT(DISTINCT) over a re-shuffled pair-expanded
    events table per pair — this is O(types²) sketch merges instead.
    Estimates cast to long for hash-stable rows-only output."""
    sk = (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.expr("theta_sketch_agg(user_id)").alias("sk"))
    )
    a = sk.select(F.col("event_type").alias("type_a"), F.col("sk").alias("sk_a"))
    b = sk.select(F.col("event_type").alias("type_b"), F.col("sk").alias("sk_b"))
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    est = lambda c: F.expr(f"theta_sketch_estimate({c})").cast("long")  # noqa: E731
    return pairs.select(
        "type_a",
        "type_b",
        est("theta_union(sk_a, sk_b)").alias("union_users"),
        est("theta_intersection(sk_a, sk_b)").alias("both_users"),
        est("theta_difference(sk_a, sk_b)").alias("only_a_users"),
    )


@query(
    "kll_daily_value_quantiles",
    ref="scale machinery — mergeable quantile sketches (Datasketches KLL): per-day sketches rolled up to monthly p50/p95 without re-scanning raw",
    doc="Per month: event count and KLL-estimated p50/p95 of value, computed by merging the per-day sketch column.",
    # No DuckDB oracle (sketch binaries not portable).  Driver rows-only;
    # tests/test_scale.py pins merged-sketch quantiles within the KLL
    # rank-error band of the exact percentiles.
)
def kll_daily_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile twin of hll_daily_users_rollup: days aggregate
    their values into KLL sketches once, and ANY coarser grain (month
    here) is a kll_sketch_merge over the stored sketch column — the
    pre-aggregation that makes p95-latency-style dashboards
    interactive over 100 TB.  Unlike GK on raw rows
    (approx_quantiles_profile), the sketch column is reusable: month,
    quarter, and all-time all derive from the same O(days) frame.
    Quantile outputs rounded to 4dp for hash-stable rows."""
    from shopify_youtube_etl_spark.plans.common import day_str

    daily = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            day_str(F.col("ts")).alias("day"),
            F.date_format("ts", "yyyy-MM").alias("month"),
            "value",
        )
        .groupBy("month", "day")
        .agg(
            F.expr("kll_sketch_agg_double(value)").alias("sk"),
            F.count("*").alias("n"),
        )
    )
    merged = daily.groupBy("month").agg(
        F.expr("kll_merge_agg_double(sk)").alias("msk"),
        F.sum("n").alias("n_events"),
    )
    return merged.select(
        "month",
        "n_events",
        F.round(F.expr("kll_sketch_get_quantile_double(msk, 0.5)"), 4).alias("p50"),
        F.round(F.expr("kll_sketch_get_quantile_double(msk, 0.95)"), 4).alias("p95"),
    ).orderBy("month")


@query(
    "approx_top_terms_sketch",
    ref="scale machinery — frequent-items sketch (approx_top_k), the streaming-mergeable heavy-hitter pass that replaces the exact token census at 100 TB; sketch twin of the exact tfidf/token censuses",
    doc="Approximate top-20 document tokens (>= 4 chars) via approx_top_k over one explode pass; rows-only (sketch counts are approximate) — the exact-agreement pin lives in pytest.",
    # No DuckDB oracle: approx_top_k's sketch internals (item order on
    # ties, approximate counts past capacity) aren't portable.  Driver
    # does the rows-only check; tests/test_scale.py pins the sketch's
    # top-10 against the exact frequency census (every true top-10 token
    # present, counts exact at this cardinality).
)
def approx_top_terms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter detection as a SKETCH aggregate: one explode pass
    feeds approx_top_k (Datasketches frequent-items), which keeps a
    bounded ~maxItemsTracked state per partial aggregate and merges
    associatively — the same pre-aggregation discipline as the HLL/
    theta/KLL family, pointed at 'which tokens dominate the corpus'.
    The exact census (``token_stats``/``tfidf_top_terms``) shuffles
    every distinct token; this shuffles ONE bounded sketch per map
    partition, the difference between O(vocabulary) and O(k) transfer
    at 100 TB — and the sketch answers drift monitoring (did a crawl
    batch flood the corpus with boilerplate?) without a vocabulary
    table.  Output exploded to (rank, token, approx_count) rows,
    rank-ordered for hash-stable rows-only checking."""
    from shopify_youtube_etl_spark.functions.text import words

    toks = (
        t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(F.explode(words(F.col("text"))).alias("tok"))
        .where(F.length("tok") >= 4)
    )
    sk = toks.agg(F.expr("approx_top_k(tok, 20, 10000)").alias("top"))
    return (
        sk.select(F.posexplode("top").alias("rank", "s"))
        .select(
            (F.col("rank") + 1).cast("int").alias("rank"),
            F.col("s.item").alias("token"),
            F.col("s.count").cast("long").alias("approx_count"),
        )
    )


def _hll_split(spark: SparkSession, sf_dir: str) -> int:
    """History/batch boundary for the sketch-maintenance query: the
    bottom 80% of the event_id range is 'already sketched', the top
    20% is the incoming batch — the same corpus-fractional convention
    as the funnel and IVF maintenance splits."""
    from shopify_youtube_etl_spark.plans.common import table_col_max

    mx = table_col_max(spark, sf_dir, "events", "event_id")
    return int((mx + 1) * 4 // 5) if mx is not None else 0


@query(
    "incremental_hll_maintenance",
    ref="sketch-state IVM — the incremental_rollup_maintenance pattern applied to MERGEABLE SKETCHES: per-day HLL state + batch-delta sketches unioned, never a raw re-scan; exact estimate equality with the full recompute pinned in pytest (HLL union is associative)",
    doc="Per-day distinct-user estimates maintained incrementally: persisted history sketches (event_id < 80% split) unioned with batch-delta sketches for the batch's days only, then merged back via the segment-pruned keyed upsert (untouched day segments survive by name); rows-only (Datasketches binary not oracle-portable); full-recompute equality, state-genuinely-read, and O(batch-days) write shape pinned in tests/test_scale.py.",
    oracle=None,
)
def incremental_hll_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch answer to "how many distinct users per day, updated
    every ingest, over 100 TB of history": COUNT(DISTINCT) cannot be
    incrementally maintained from counts alone (distinct is not
    additive), but HLL sketches merge associatively — so the state
    table stores one O(2^lgK)-byte sketch per day, a new batch folds
    in as sketch-union, and history raw events are NEVER re-read.
    Because union is associative and the registers deterministic,
    incremental maintenance is EXACTLY the full recompute's estimate
    (pinned in pytest), not an approximation of it — the same
    hash-equality IVM discipline as incremental_rollup_maintenance,
    transplanted to sketch state.

    Execution shape: batch scan → one partial-agg shuffle on day
    (sketch build); state read is O(days); the merge is a day-keyed
    agg over (state ∪ delta) sketch rows — bytes, not events.  Late
    events for an already-sketched day fold in correctly (union), the
    property that makes this the standard watermark-tolerant distinct
    rollup."""
    from shopify_youtube_etl_spark.plans.common import day_str

    split = _hll_split(spark, sf_dir)

    def day_sketches(ev):
        return (
            ev.select(day_str(F.col("ts")).alias("day"), "user_id")
            .groupBy("day")
            .agg(F.hll_sketch_agg("user_id").alias("sk"))
        )

    events = t(spark, sf_dir, "events")
    batch = day_sketches(events.where(F.col("event_id") >= split))

    def build(store) -> None:
        store["sketches"].overwrite(
            day_sketches(events.where(F.col("event_id") < split)),
            stats_cols=["day"],
        )

    # True sketch-state IVM (r7 verdict #1): union the batch's delta
    # sketches with the persisted sketches FOR THE BATCH'S DAYS ONLY
    # (broadcast semi join — batch-bounded), then MERGE just those day
    # rows back via the segment-pruned keyed upsert.  Day segments the
    # batch doesn't touch survive in the manifest by name, so the write
    # is O(batch days), never O(history days) — and because HLL union
    # is idempotent (re-unioning the same users leaves the registers
    # unchanged), re-running the merge is a no-op by value.
    with StateStore(spark, "hllstate", sf_dir, split).open(build) as store:
        st = store["sketches"]
        touched = (
            st.read()
            .join(F.broadcast(batch.select("day")), "day", "left_semi")
            .select("day", "sk")
            .unionByName(batch)
            .groupBy("day")
            .agg(F.hll_union_agg("sk").alias("sk"))
        )
        st.upsert_matching(touched, ["day"], auto_compact_at=64)
        return (
            st.read()
            .select("day", F.hll_sketch_estimate("sk").cast("long").alias("users_est"))
            .orderBy("day")
        )


@query(
    "incremental_kll_maintenance",
    ref="sketch-state IVM completing the family (HLL/BM25/funnel/attribution/components/clustering all have one) — per-(batch, day) KLL quantile partials persisted as a ledger and merged at read; rows-only (sketch binaries not oracle-portable); error band vs exact percentiles, poison, idempotent re-merge, and history-segment-survives-by-name pinned in tests/test_scale.py",
    doc="Per-day value-quantile estimates (n, p50, p95) maintained incrementally: persisted history partials (event_id < 80% split, batch_id -1) plus the batch's per-day delta sketches keyed (batch_id, day), merged per day at read time; raw history is never re-scanned.",
    oracle=None,
)
def incremental_kll_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles are not additive, but KLL sketches MERGE — so per-day
    p50/p95 dashboards over 100 TB maintain a sketch table, not raw
    history.  Unlike HLL union, KLL merge is NOT idempotent (merging
    the same batch twice double-counts its values), so the state is a
    PARTIALS LEDGER rather than a merged snapshot: one row per
    (batch_id, day) delta sketch, with history at batch_id = -1.  A
    re-run of the same batch REPLACES its own (batch_id, day) rows via
    the keyed merge — idempotent by construction — and because batch
    ids are disjoint from the history id, the segment-pruned upsert
    probe proves the history segment untouched and it survives in the
    manifest by name: the write is O(batch days), never O(history).
    The report merges the ledger per day at read time (O(days x
    retained batches) sketch bytes — compaction folds old partials,
    exactly the LSM discipline ParquetTable.compact already provides).

    Execution shape: batch scan -> one partial-agg shuffle on day
    (sketch build, bounded bytes per group); the read-merge shuffles
    sketch BYTES keyed by day, never values.  Error-band equality with
    the exact percentiles, the state poison, and the write-shape pin
    live in tests/test_scale.py."""
    from shopify_youtube_etl_spark.plans.common import day_str

    split = _hll_split(spark, sf_dir)  # same 80% event-id convention

    def day_sketches(ev, batch_id: int):
        return (
            ev.where(F.col("value").isNotNull())
            .select(day_str(F.col("ts")).alias("day"), "value")
            .groupBy("day")
            .agg(
                F.expr("kll_sketch_agg_double(value)").alias("sk"),
                F.count("*").alias("n"),
            )
            .select(F.lit(batch_id).cast("long").alias("batch_id"), "day", "sk", "n")
        )

    events = t(spark, sf_dir, "events")

    def build(store) -> None:
        store["partials"].overwrite(
            day_sketches(events.where(F.col("event_id") < split), -1),
            stats_cols=["batch_id"],
        )

    batch = day_sketches(events.where(F.col("event_id") >= split), split)
    with StateStore(spark, "kllstate", sf_dir, split).open(build) as store:
        st = store["partials"]
        st.upsert_matching(batch, ["batch_id", "day"], auto_compact_at=64)
        merged = (
            st.read()
            .groupBy("day")
            .agg(
                F.expr("kll_merge_agg_double(sk)").alias("msk"),
                F.sum("n").alias("n_events"),
            )
        )
        return merged.select(
            "day",
            "n_events",
            F.round(F.expr("kll_sketch_get_quantile_double(msk, 0.5)"), 4).alias("p50"),
            F.round(F.expr("kll_sketch_get_quantile_double(msk, 0.95)"), 4).alias("p95"),
        ).orderBy("day")
