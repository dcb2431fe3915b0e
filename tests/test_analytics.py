"""Semantic properties of the analytic-SQL extension queries.

Oracle parity is the driver's job; these tests pin the properties the
hash can't see — as-of causality, session monotonicity, grouping-set
plan shape — on sf0.001 for speed.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from shopify_youtube_etl_spark.plans.common import StateStore
from shopify_youtube_etl_spark.plans.registry import all_queries
from tests.test_plans import explain_str as _plan

SPECS = all_queries()


def test_asof_attribution_is_causal(spark, sf_dir):
    """Every attributed click must exist, be by the same user, and be
    at-or-before the purchase — the defining as-of property."""
    out = SPECS["asof_click_attribution"].fn(spark, sf_dir)
    from shopify_youtube_etl_spark.sources.tables import load_table

    clicks = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("last_click_id"),
            F.col("user_id").alias("cu"),
            F.col("ts").alias("click_ts"),
        )
    )
    joined = out.where(F.col("last_click_id").isNotNull()).join(clicks, "last_click_id", "left")
    bad = joined.where(
        F.col("cu").isNull()
        | (F.col("cu") != F.col("user_id"))
        | (F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS") > F.col("purchase_ts"))
    ).count()
    assert bad == 0

    n_purchases = (
        load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase").count()
    )
    assert out.count() == n_purchases  # every purchase exactly once


def test_sessionize_bounds(spark, sf_dir):
    rows = SPECS["sessionize_gaps_islands"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_sessions"] <= r["n_events"]
        assert r["max_session_events"] <= r["n_events"]


def test_grouping_sets_single_expand(spark, sf_dir):
    """All three granularities must come from ONE Expand+Aggregate —
    not a UNION of three scans (the 100 TB scan-saving claim)."""
    df = SPECS["grouping_sets_revenue"].fn(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "Expand" in plan and "Union" not in plan
    # formatted mode prints each scan twice (tree + detail); Location
    # lines appear once per physical scan: orders + customer + nation.
    assert plan.count("Location: InMemoryFileIndex") == 3


def test_set_ops_disjoint(spark, sf_dir):
    """INTERSECT and EXCEPT of the same two sets must be disjoint and
    together cover the 1996 buyer set exactly."""
    inter = {r["o_custkey"] for r in SPECS["intersect_repeat_buyers"].fn(spark, sf_dir).collect()}
    exc = {r["o_custkey"] for r in SPECS["except_churned_buyers"].fn(spark, sf_dir).collect()}
    assert not (inter & exc)
    from shopify_youtube_etl_spark.sources.tables import load_table

    y96 = {
        r["o_custkey"]
        for r in load_table(spark, sf_dir, "orders")
        .where((F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01"))
        .select("o_custkey")
        .distinct()
        .collect()
    }
    assert inter | exc == y96


def test_gap_fill_plants_and_fills_gaps(spark, tmp_path):
    """With a planted 3-day hole the spine must densify it (n_events=0,
    revenue=0.0) while revenue_ffill carries the last seen daily value
    across the hole."""
    import datetime as dt

    from shopify_youtube_etl_spark.plans.analytics import gap_fill_daily_revenue

    rows = [
        (1, dt.datetime(2024, 1, 1, 8), 1, "view", 10.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 9), 1, "view", 5.0, "{}"),
        (3, dt.datetime(2024, 1, 5, 9), 2, "buy", 7.0, "{}"),
    ]
    spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {r["day"]: r for r in gap_fill_daily_revenue(spark, str(tmp_path)).collect()}
    assert sorted(got) == ["2024-01-0%d" % d for d in range(1, 6)]
    for day in ("2024-01-02", "2024-01-03", "2024-01-04"):
        assert got[day]["n_events"] == 0 and got[day]["revenue"] == 0.0
        assert got[day]["revenue_ffill"] == 15.0  # carried from Jan 1
    assert got["2024-01-05"]["revenue_ffill"] == 7.0


def test_cohort_retention_matrix_invariants(spark, sf_dir):
    """Offset-0 retention is exactly 1.0 for every cohort; n_active
    never exceeds cohort_size; offsets are non-negative."""
    from shopify_youtube_etl_spark.plans.analytics import cohort_retention

    rows = cohort_retention(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["month_offset"] >= 0
        assert 0 < r["n_active"] <= r["cohort_size"]
        if r["month_offset"] == 0:
            assert r["retention"] == 1.0


def test_transition_matrix_rows_sum_to_one(spark, sf_dir):
    """Row-normalized probabilities per src must sum to ~1 and the
    total transition count must be sum(per-user n_events - 1)."""
    from shopify_youtube_etl_spark.plans.analytics import event_transition_matrix
    from shopify_youtube_etl_spark.sources.tables import load_table

    rows = event_transition_matrix(spark, sf_dir).collect()
    by_src = {}
    total = 0
    for r in rows:
        by_src[r["src"]] = by_src.get(r["src"], 0.0) + r["p_transition"]
        total += r["n_transitions"]
    assert by_src and all(abs(s - 1.0) < 1e-3 for s in by_src.values())
    per_user = (
        load_table(spark, sf_dir, "events").groupBy("user_id").agg(F.count("*").alias("n")).collect()
    )
    assert total == sum(r["n"] - 1 for r in per_user if r["n"] > 1)


def test_unpivot_single_scan_expand(spark, sf_dir):
    """UNPIVOT must plan one Expand over ONE part scan — not the
    UNION-ALL-of-N-scans shape the oracle spells."""
    plan = _plan(SPECS["unpivot_part_metrics"].fn(spark, sf_dir))
    assert "Expand" in plan and "Union" not in plan
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_histogram_and_iqr_broadcast_bounds(spark, sf_dir):
    """Both two-pass profiles must re-apply their tiny bounds via a
    broadcast join — no shuffle of the fact table against a 1-row agg,
    no cartesian fallback beyond the single-row BNLJ."""
    for name in ("value_histogram", "iqr_outlier_profile"):
        plan = _plan(SPECS[name].fn(spark, sf_dir))
        assert "Broadcast" in plan, name
        assert "CartesianProduct" not in plan, name


def test_ntile_quartiles_are_balanced(spark, sf_dir):
    """NTILE(4) bucket sizes differ by at most 1 and cover all rows."""
    from shopify_youtube_etl_spark.sources.tables import load_table

    rows = {r["quartile"]: r["n_customers"] for r in SPECS["ntile_value_quartiles"].fn(spark, sf_dir).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert max(rows.values()) - min(rows.values()) <= 1
    assert sum(rows.values()) == load_table(spark, sf_dir, "customer").count()


def test_allocation_sums_exactly_on_every_order(spark, sf_dir):
    """The largest-remainder split's whole point: allocated cents must
    equal the rebate cents on EVERY order, and line allocations may
    differ by at most one cent from each other's floor.  A penny leak
    anywhere fails the close."""
    from shopify_youtube_etl_spark.plans.registry import all_queries

    df = all_queries()["allocation_proportional"].fn(spark, sf_dir)
    from pyspark.sql import functions as F

    bad = df.where(F.col("allocated_cents") != F.col("rebate_cents")).count()
    assert bad == 0
    # sanity: allocations are non-negative and bounded by the rebate
    assert df.where(F.col("min_line_cents") < 0).count() == 0
    assert df.where(F.col("max_line_cents") > F.col("rebate_cents")).count() == 0


def test_attribution_models_reconcile_to_purchase_revenue(spark, sf_dir):
    """Linear and U-shaped credit must both RECONCILE: summed
    attributed revenue equals the summed value of purchases that had
    at least one in-window touch (weights sum to 1 per purchase).
    A model whose credits don't re-add to revenue is silently leaking
    or double-counting spend."""
    from pyspark.sql import functions as F

    from shopify_youtube_etl_spark.plans.common import t
    from shopify_youtube_etl_spark.plans.registry import all_queries

    specs = all_queries()
    e = t(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"), "value",
    )
    c = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"),
    )
    touched = (
        p.join(
            c,
            (F.col("pu") == F.col("cu"))
            & (F.col("cts") <= F.col("pts"))
            & (F.col("cts") > F.col("pts") - F.expr("INTERVAL 30 MINUTE")),
            "left_semi",
        )
        .agg(F.sum("value").alias("total"))
        .collect()[0]["total"]
    )
    for name in ("linear_attribution_revenue", "position_based_attribution"):
        got = (
            specs[name]
            .fn(spark, sf_dir)
            .agg(F.sum("attributed_revenue").alias("s"))
            .collect()[0]["s"]
        )
        assert abs(got - touched) < 0.05, (name, got, touched)


def test_duplicate_payment_audit_band_straddle(spark, tmp_path):
    """The ±1-band probe must catch a $999.99/$1000.01 pair that
    straddles the $1000 band boundary (the single-band block's silent
    miss), keep every same-band pair (superset of the old semantics),
    and still exclude pairs beyond the $1000 amount tolerance or the
    one-year gap — on Spark AND the DuckDB oracle identically."""
    import duckdb
    import pandas as pd

    ts = pd.Timestamp
    rows = [
        # classic same-band hit
        (1, 10, "O", 500.00, ts("1997-01-01"), "1-URGENT"),
        (2, 10, "O", 900.00, ts("1997-03-01"), "1-URGENT"),
        # band-straddle hit: adjacent bands, |delta| = $0.02
        (3, 20, "O", 999.99, ts("1997-01-01"), "1-URGENT"),
        (4, 20, "O", 1000.01, ts("1997-01-05"), "1-URGENT"),
        # adjacent bands but |delta| > $1000 -> excluded by tolerance
        (5, 30, "O", 100.00, ts("1997-01-01"), "1-URGENT"),
        (6, 30, "O", 1999.99, ts("1997-01-02"), "1-URGENT"),
        # same band but > 365 days apart -> excluded by gap
        (7, 40, "O", 450.00, ts("1996-01-01"), "1-URGENT"),
        (8, 40, "O", 460.00, ts("1997-06-01"), "1-URGENT"),
        # same band+amount, different customers -> excluded by block key
        (9, 50, "O", 750.00, ts("1997-01-01"), "1-URGENT"),
        (10, 60, "O", 750.00, ts("1997-01-01"), "1-URGENT"),
    ]
    pdf = pd.DataFrame(
        rows,
        columns=[
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        ],
    )
    pdf["o_orderdate"] = pdf["o_orderdate"].astype("datetime64[us]")
    path = str(tmp_path / "orders.parquet")
    pdf.to_parquet(path)

    got = {
        (r["orderkey_a"], r["orderkey_b"])
        for r in SPECS["duplicate_payment_audit"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {(1, 2), (3, 4)}

    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{path}')")
    oracle = {
        (a, b)
        for a, b in con.execute(SPECS["duplicate_payment_audit"].oracle)
        .fetchdf()[["orderkey_a", "orderkey_b"]]
        .itertuples(index=False)
    }
    assert oracle == got


def test_incremental_attribution_matches_live_and_consumes_state(spark, sf_dir):
    """IVM pin for the attribution family (r6 verdict #7): (1) the
    state-served report is row-identical to the live recompute
    (linear_attribution_revenue); (2) poisoning the persisted
    credited-touch state changes the report — proof the query consumes
    state rather than silently rebuilding it."""
    import glob
    import shutil
    import tempfile

    from shopify_youtube_etl_spark.plans import windows as W

    for d in glob.glob(f"{tempfile.gettempdir()}/sye_attrivm_*"):
        shutil.rmtree(d, ignore_errors=True)

    inc = SPECS["incremental_attribution_revenue"].fn(spark, sf_dir).toPandas()
    live = SPECS["linear_attribution_revenue"].fn(spark, sf_dir).toPandas()
    key = ["click_hour"]
    inc = inc.sort_values(key).reset_index(drop=True)
    live = live.sort_values(key).reset_index(drop=True)
    assert inc.values.tolist() == live.values.tolist()

    # Poison: zero out the credited value of every HISTORY purchase.
    # The batch merge refreshes only new/affected purchases, so at
    # least the unaffected history rows must surface the poison.
    split = W._attr_split(spark, sf_dir)
    state = StateStore(spark, "attrivm", sf_dir, split)["touches"]
    poisoned = state.read().withColumn(
        "value",
        F.when(F.col("pid") < split, F.lit(0.0)).otherwise(F.col("value")),
    )
    state.overwrite(poisoned)
    rerun = SPECS["incremental_attribution_revenue"].fn(spark, sf_dir).toPandas()
    assert (
        rerun["attributed_revenue"].sum() < inc["attributed_revenue"].sum()
    ), "poisoned state did not surface — the query rebuilt instead of reading it"

    # Clean up so later runs rebuild honest state.
    for d in glob.glob(f"{tempfile.gettempdir()}/sye_attrivm_*"):
        shutil.rmtree(d, ignore_errors=True)


def test_incremental_attribution_batch_click_recredits_old_purchase(
    spark, tmp_path
):
    """The IVM trap the increment must handle: a BATCH click landing
    inside a HISTORY purchase's 30-minute window changes that
    purchase's 1/n denominator, so its whole touch set must refresh.
    Planted scenario — purchase id 7 (history) with one history touch
    (n=1) gains a batch touch (n=2); the maintained answer must equal
    the from-scratch oracle on the same table."""
    import duckdb
    import glob
    import shutil
    import tempfile

    import pandas as pd

    ts = pd.Timestamp
    rows = [
        # history: user 1 clicks at 09:55, purchases at 10:00 -> 1 touch
        (3, ts("1997-01-01 09:55:00"), 1, "click", 0.0, "{}"),
        (7, ts("1997-01-01 10:00:00"), 1, "purchase", 100.0, "{}"),
        # history padding so split = (9+1)*4//5 = 8 keeps ids 8,9 in batch
        (5, ts("1997-01-01 12:00:00"), 2, "view", 0.0, "{}"),
        # batch: a LATE-ARRIVING click by user 1 inside the old window
        (8, ts("1997-01-01 09:50:00"), 1, "click", 0.0, "{}"),
        # batch: a new purchase by user 2 with no clicks -> no credit
        (9, ts("1997-01-01 12:30:00"), 2, "purchase", 50.0, "{}"),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(str(tmp_path / "events.parquet"))

    for d in glob.glob(f"{tempfile.gettempdir()}/sye_attrivm_*"):
        shutil.rmtree(d, ignore_errors=True)
    spec = SPECS["incremental_attribution_revenue"]
    got = spec.fn(spark, str(tmp_path)).toPandas().sort_values("click_hour")

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    want = con.execute(spec.oracle).fetchdf().sort_values("click_hour")
    assert got.values.tolist() == want.values.tolist()
    # The planted purchase's value must now be split 50/50 across the
    # 09:00-hour touches (two clicks at 09:50 and 09:55).
    hr9 = got[got["click_hour"] == 9].iloc[0]
    assert hr9["n_touches"] == 2
    assert hr9["attributed_revenue"] == 100.0
    for d in glob.glob(f"{tempfile.gettempdir()}/sye_attrivm_*"):
        shutil.rmtree(d, ignore_errors=True)


def test_copurchase_components_census_invariants(spark, sf_dir):
    """The externally-checked components census must reconcile with the
    operator's own labeling: total nodes = all parts, star edges give
    the same census as the operator run directly, and every size-2+
    component contains at least one bulk co-purchase edge."""
    from shopify_youtube_etl_spark.operators.components import connected_components
    from shopify_youtube_etl_spark.sources.tables import load_table

    census = {
        r["component_size"]: r["n_components"]
        for r in SPECS["copurchase_components"].fn(spark, sf_dir).collect()
    }
    assert census, "empty census at test SF"
    n_parts = load_table(spark, sf_dir, "part").count()
    assert sum(s * n for s, n in census.items()) == n_parts
    assert max(census) >= 2, "expected at least one non-trivial component"

    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") >= 48)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    anchor = li.groupBy("o").agg(F.min("p").alias("src"))
    edges = (
        li.join(anchor, "o")
        .where(F.col("p") != F.col("src"))
        .select("src", F.col("p").alias("dst"))
        .distinct()
    )
    nodes = load_table(spark, sf_dir, "part").select("p_partkey")
    labels = connected_components(edges, nodes)
    direct = {
        r["component_size"]: r["n"]
        for r in labels.groupBy("label")
        .agg(F.count("*").alias("component_size"))
        .groupBy("component_size")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert direct == census


def test_incremental_components_bridge_and_poison(spark, sf_dir, tmp_path):
    """Graph IVM pins: (1) on the real corpus the state-served census
    equals the live copurchase_components recompute; (2) poisoning the
    persisted labels changes the census — state is consumed, not
    rebuilt; (3) a planted BATCH order that bridges two history
    components merges them (the label-cascade case), matching the
    from-scratch oracle on the same table."""
    import glob
    import shutil
    import tempfile

    import duckdb
    import pandas as pd

    from shopify_youtube_etl_spark.plans import analytics as A

    def census(name, sf):
        return sorted(
            (r["component_size"], r["n_components"])
            for r in SPECS[name].fn(spark, sf).collect()
        )

    for d in glob.glob(f"{tempfile.gettempdir()}/sye_cclivm_*"):
        shutil.rmtree(d, ignore_errors=True)
    inc = census("incremental_component_maintenance", sf_dir)
    live = census("copurchase_components", sf_dir)
    assert inc == live

    # Poison: move one node of a size-1 component onto another label.
    split = A._ccl_split(spark, sf_dir)
    state = StateStore(spark, "cclivm", sf_dir, split)["labels"]
    rows = state.read().collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(r["node"])
    singles = sorted(lab for lab, ms in by_label.items() if len(ms) == 1)
    assert len(singles) >= 2
    victim, target = singles[0], singles[1]
    poisoned = state.read().withColumn(
        "label",
        F.when(F.col("node") == victim, F.lit(target)).otherwise(F.col("label")),
    )
    state.overwrite(poisoned)
    assert census("incremental_component_maintenance", sf_dir) != inc, (
        "poisoned labels did not surface — the query rebuilt state"
    )
    for d in glob.glob(f"{tempfile.gettempdir()}/sye_cclivm_*"):
        shutil.rmtree(d, ignore_errors=True)

    # Planted bridge: orders 1 and 2 are history ({1,2} and {3,4}),
    # batch order 8 links parts 2 and 3 -> one component of 4 plus the
    # never-purchased part 5 as an isolate.
    li_rows = [
        (1, 1, 50.0), (1, 2, 50.0),
        (2, 3, 50.0), (2, 4, 50.0),
        (8, 2, 50.0), (8, 3, 50.0),
        # sub-threshold line must NOT create an edge
        (8, 5, 1.0),
    ]
    pd.DataFrame(
        li_rows, columns=["l_orderkey", "l_partkey", "l_quantity"]
    ).to_parquet(str(tmp_path / "lineitem.parquet"))
    pd.DataFrame({"p_partkey": [1, 2, 3, 4, 5]}).to_parquet(
        str(tmp_path / "part.parquet")
    )
    got = census("incremental_component_maintenance", str(tmp_path))
    assert got == [(1, 1), (4, 1)]
    con = duckdb.connect()
    for name in ("lineitem", "part"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{tmp_path}/{name}.parquet')"
        )
    want = sorted(
        map(tuple, con.execute(
            SPECS["incremental_component_maintenance"].oracle
        ).fetchall())
    )
    assert got == want
    for d in glob.glob(f"{tempfile.gettempdir()}/sye_cclivm_*"):
        shutil.rmtree(d, ignore_errors=True)


def test_incremental_component_delete_splits_and_consumes_state(
    spark, sf_dir, tmp_path
):
    """Delete-capable graph IVM pins (r7 verdict #4): (1) a planted
    tombstone order whose bridge edge is removed SPLITS one component
    into two multi-node pieces, matching the from-scratch recursive-CTE
    oracle over the post-delete edges; (2) an edge contributed by BOTH
    a deleted and a surviving order survives (the candidate anti-join);
    (3) poisoning the persisted labels changes the census — state is
    consumed, not rebuilt."""
    import glob
    import shutil
    import tempfile

    import duckdb
    import pandas as pd

    from shopify_youtube_etl_spark.plans import analytics as A

    def census(sf):
        return sorted(
            (r["component_size"], r["n_components"])
            for r in SPECS["incremental_component_delete"].fn(spark, sf).collect()
        )

    # Planted graph: history orders 1:(1,2), 2:(3,4), 3:(4,5); deleted
    # orders 9:(2,3) [the bridge] and 10:(4,5) [duplicate of order 3's
    # edge -- must survive the delete].  max=10 -> dsplit=9.
    li_rows = [
        (1, 1, 50.0), (1, 2, 50.0),
        (2, 3, 50.0), (2, 4, 50.0),
        (3, 4, 50.0), (3, 5, 50.0),
        (9, 2, 50.0), (9, 3, 50.0),
        (10, 4, 50.0), (10, 5, 50.0),
        # sub-threshold line must NOT create (or delete) an edge
        (9, 6, 1.0),
    ]
    pd.DataFrame(
        li_rows, columns=["l_orderkey", "l_partkey", "l_quantity"]
    ).to_parquet(str(tmp_path / "lineitem.parquet"))
    pd.DataFrame({"p_partkey": [1, 2, 3, 4, 5, 6]}).to_parquet(
        str(tmp_path / "part.parquet")
    )
    for d in glob.glob(f"{tempfile.gettempdir()}/sye_ccdivm_*"):
        shutil.rmtree(d, ignore_errors=True)

    got = census(str(tmp_path))
    # Pre-delete the graph is one component {1..5}; removing the bridge
    # (2,3) splits it into {1,2} and {3,4,5}; part 6 is an isolate.
    assert got == [(1, 1), (2, 1), (3, 1)]
    con = duckdb.connect()
    for name in ("lineitem", "part"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{tmp_path}/{name}.parquet')"
        )
    want = sorted(
        map(
            tuple,
            con.execute(SPECS["incremental_component_delete"].oracle).fetchall(),
        )
    )
    assert got == want

    # Poison: DROP the untouched isolate (node 6) from state.  The
    # delete path recomputes only components that lost an edge, so a
    # genuinely-read state keeps node 6 missing; a silent rebuild
    # would resurrect it.  (Poisoning a TOUCHED component would
    # legitimately self-heal — that's the recompute working.)
    dsplit = A._ccd_split(spark, str(tmp_path))
    state = StateStore(spark, "ccdivm", str(tmp_path), dsplit)["labels"]
    state.overwrite(state.read().where(F.col("node") != 6))
    assert census(str(tmp_path)) == [(2, 1), (3, 1)], (
        "dropped untouched node was rebuilt from raw edges"
    )
    for d in glob.glob(f"{tempfile.gettempdir()}/sye_ccdivm_*"):
        shutil.rmtree(d, ignore_errors=True)


def test_ewma_gap_aware_renormalization(spark, tmp_path):
    """EWMA decay must follow CALENDAR distance, not row offset: with a
    planted hole (days 1, 2, 4) the day-4 smoother weights day 2 by
    0.8^2 and day 1 by 0.8^3, and renormalizes by the weights of the
    days actually present.  A row-offset lag would produce 255.74 for
    day 4; calendar decay produces 269.14 — the assert separates the
    two implementations."""
    import datetime as dt

    rows = [
        (1, 1, "O", 100.0, dt.datetime(2024, 1, 1), "1-URGENT"),
        (2, 1, "O", 200.0, dt.datetime(2024, 1, 2), "1-URGENT"),
        (3, 2, "O", 400.0, dt.datetime(2024, 1, 4), "1-URGENT"),
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey LONG, o_custkey LONG, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    got = {
        r["day"]: r
        for r in SPECS["ewma_daily_revenue"].fn(spark, str(tmp_path)).collect()
    }
    assert sorted(got) == ["2024-01-01", "2024-01-02", "2024-01-04"]
    assert got["2024-01-01"]["ewma_30d"] == 100.0
    # (200 + 0.8*100) / 1.8
    assert got["2024-01-02"]["ewma_30d"] == 155.56
    # (400 + 0.64*200 + 0.512*100) / (1 + 0.64 + 0.512) — NOT the
    # row-offset value (400 + 0.8*200 + 0.64*100) / 2.44 = 255.74
    assert got["2024-01-04"]["ewma_30d"] == 269.14


def test_longest_streak_census_planted(spark, tmp_path):
    """Planted streaks: user 1 active Jan 1-3 and Jan 5-6 (longest 3,
    with intraday duplicates that the DISTINCT must collapse), user 2
    active Jan 1 only (longest 1)."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 8), 1, "view", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 9), 1, "view", 1.0, "{}"),  # same day dup
        (3, dt.datetime(2024, 1, 2, 8), 1, "view", 1.0, "{}"),
        (4, dt.datetime(2024, 1, 3, 8), 1, "view", 1.0, "{}"),
        (5, dt.datetime(2024, 1, 5, 8), 1, "view", 1.0, "{}"),
        (6, dt.datetime(2024, 1, 6, 8), 1, "view", 1.0, "{}"),
        (7, dt.datetime(2024, 1, 1, 8), 2, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
        "value DOUBLE, props STRING",
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["longest_streak"]: r["n_users"]
        for r in SPECS["longest_active_streak"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {3: 1, 1: 1}


def test_repeat_hazard_life_table_identities(spark, sf_dir):
    """Life-table accounting over the real corpus: at_risk is strictly
    the reverse cumulative event count (at_risk(b) = n_events(b) +
    at_risk(next)), the first bucket's at_risk equals the total gap
    count, the tail bucket's hazard is exactly 1.0, and hazard stays
    in (0, 1]."""
    rows = sorted(
        SPECS["repeat_purchase_hazard"].fn(spark, sf_dir).collect(),
        key=lambda r: r["bucket"],
    )
    assert rows, "expected repeat-purchase gaps at the test SF"
    total = sum(r["n_events"] for r in rows)
    assert rows[0]["at_risk"] == total
    for cur, nxt in zip(rows, rows[1:]):
        assert cur["at_risk"] == cur["n_events"] + nxt["at_risk"]
    assert rows[-1]["at_risk"] == rows[-1]["n_events"]
    assert rows[-1]["hazard"] == 1.0
    for r in rows:
        assert 0.0 < r["hazard"] <= 1.0
