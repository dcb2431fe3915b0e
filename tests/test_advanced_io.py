"""Python DataSource (partition-per-page) + applyInPandasWithState tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from shopify_youtube_etl_spark.plans.registry import all_queries
from shopify_youtube_etl_spark.sources.pagestore import (
    PageStoreDataSource,
    write_page_store,
)
from shopify_youtube_etl_spark.sources.tables import load_table
from shopify_youtube_etl_spark.streaming.stateful import stateful_user_totals

SPECS = all_queries()


def test_pagestore_partition_per_page(spark, tmp_path):
    rows = [{"doc_id": i, "lang": "en", "n_chars": 10 * i, "junk": "x"} for i in range(1000)]
    n_pages = write_page_store(rows, str(tmp_path), page_size=250)
    assert n_pages == 4

    spark.dataSource.register(PageStoreDataSource)
    df = (
        spark.read.format("pagestore")
        .schema("doc_id BIGINT, lang STRING, n_chars BIGINT, missing STRING")
        .option("path", str(tmp_path))
        .load()
    )
    # one InputPartition per landed page
    assert df.rdd.getNumPartitions() == 4
    got = df.orderBy("doc_id").collect()
    assert len(got) == 1000
    # S8 semantics: unknown key dropped, missing declared key -> NULL
    assert got[7]["doc_id"] == 7 and got[7]["n_chars"] == 70
    assert got[0]["missing"] is None and "junk" not in df.columns


def test_pagestore_query_matches_direct_read(spark, sf_dir):
    got = {
        (r["lang"], r["n_docs"], r["total_chars"])
        for r in SPECS["pagestore_ingest"].fn(spark, sf_dir).collect()
    }
    want = {
        (r["lang"], r["n_docs"], r["total_chars"])
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .collect()
    }
    assert got == want


def test_land_pages_distributed_writes_from_executors(spark, sf_dir, tmp_path):
    """Executor-side landing: the manifest's page files exist on disk
    with the declared row counts, the pagestore reader round-trips them
    losslessly, and the driver never materialized a data row."""
    import os

    from shopify_youtube_etl_spark.sources.pagestore import land_pages_distributed

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars").repartition(4)
    out = str(tmp_path / "pages")
    manifest = land_pages_distributed(docs, out, page_size=100).collect()
    assert sum(r["n_rows"] for r in manifest) == docs.count()
    assert all(os.path.isfile(r["page_path"]) for r in manifest)
    assert all(r["n_rows"] <= 100 for r in manifest)

    spark.dataSource.register(PageStoreDataSource)
    back = (
        spark.read.format("pagestore")
        .schema("doc_id BIGINT, n_chars BIGINT")
        .option("path", out)
        .load()
    )
    assert sorted(back.collect()) == sorted(docs.collect())


def test_stateful_totals_across_micro_batches(spark, sf_dir, tmp_path):
    """maxFilesPerTrigger=1 forces one micro-batch per file; the final
    state must still equal batch GROUP BY — proving state actually
    carries across micro-batches (not recomputed per batch)."""
    src = str(tmp_path / "src")
    events = load_table(spark, sf_dir, "events").select("user_id", "value")
    events.repartition(4).write.mode("overwrite").json(src)

    stream = (
        spark.readStream.schema("user_id BIGINT, value DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = (
        stateful_user_totals(stream)
        .writeStream.format("memory")
        .queryName("totals_mb")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    final = (
        spark.table("totals_mb")
        .groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value")).alias("s"))
        .select("user_id", F.col("s.n_events").alias("n_events"))
    )
    want = events.groupBy("user_id").agg(F.count("*").alias("n_events"))
    mismatches = final.join(want, "user_id").where(final.n_events != want.n_events).count()
    assert mismatches == 0
    assert final.count() == want.count()
    # >1 emission per key proves multiple micro-batches actually ran
    assert spark.table("totals_mb").count() > final.count()


def test_range_sorted_layout_files_are_disjoint(spark, sf_dir):
    """The layout claim, proven at the parquet-footer level: after
    repartitionByRange + sortWithinPartitions, per-file o_orderdate
    min/max envelopes must not overlap across files."""
    import glob
    import hashlib
    import os
    import tempfile

    import pyarrow.parquet as pq

    from shopify_youtube_etl_spark.plans.registry import all_queries

    all_queries()["range_sorted_layout"].fn(spark, sf_dir).collect()
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = os.path.join(tempfile.gettempdir(), f"sye_rangesort_{key}")
    envelopes = []
    for f in glob.glob(f"{out}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        col_idx = next(
            i
            for i in range(md.schema.to_arrow_schema().remove_metadata().names.__len__())
            if md.schema.column(i).name == "o_orderdate"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        if mins:
            envelopes.append((min(mins), max(maxs)))
    assert len(envelopes) >= 4
    envelopes.sort()
    for (lo1, hi1), (lo2, hi2) in zip(envelopes, envelopes[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: ({lo1},{hi1}) vs ({lo2},{hi2})"


def test_pagestore_pushdown_gate_and_page_pruning(spark, tmp_path):
    """The pushdown reader is opt-in (a reader that merely implements
    pushFilters hard-errors under the default-false session conf, so
    the plain path must never get one); once opted in, the min/max
    sidecars prune refuted pages at planning and claimed filters apply
    source-side with SQL null semantics."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        IsNotNull,
    )
    from pyspark.sql.types import StructType

    from shopify_youtube_etl_spark.sources.pagestore import (
        PageStoreDataSource,
        PageStorePushdownReader,
        PageStoreReader,
        write_page_store,
    )

    d = str(tmp_path / "pages")
    rows = [{"doc_id": i, "lang": f"l{i % 3}"} for i in range(1000)]
    rows[500]["doc_id"] = None  # null lands mid-store
    write_page_store(rows, d, page_size=100, stats_cols=["doc_id"])

    # Gate: no option -> base reader (safe under pushdown-disabled conf).
    src = PageStoreDataSource(options={"path": d})
    schema = StructType.fromDDL("doc_id BIGINT, lang STRING")
    assert type(src.reader(schema)) is PageStoreReader
    src2 = PageStoreDataSource(options={"path": d, "pushdown": "true"})
    assert type(src2.reader(schema)) is PageStorePushdownReader

    # Page pruning: doc_id >= 750 refutes pages 0-6 of 10 by sidecar.
    r = PageStorePushdownReader({"path": d}, schema)
    assert list(r.pushFilters([GreaterThanOrEqual(("doc_id",), 750)])) == []
    assert len(r.partitions()) == 3

    # Nested/unsupported attributes are NOT claimed.
    r2 = PageStorePushdownReader({"path": d}, schema)
    nested = EqualTo(("a", "b"), 1)
    assert list(r2.pushFilters([nested])) == [nested]

    # Row filtering: null doc_id fails a comparison (SQL semantics)
    # but passes nothing silently — IsNotNull claims it explicitly.
    r3 = PageStorePushdownReader({"path": d}, schema)
    r3.pushFilters([GreaterThan(("doc_id",), 498), IsNotNull(("doc_id",))])
    got = [
        row
        for part in r3.partitions()
        for row in r3.read(part)
    ]
    ids = {t[0] for t in got}
    assert None not in ids
    assert ids == set(range(499, 1000)) - {500}


def test_pagestore_pruned_query_plan_and_parity(spark, sf_dir):
    """End-to-end: the pruned-ingest query's optimized plan carries NO
    Filter node (the predicate was fully claimed by the source), and
    its result equals the plain unpushed pagestore read with the same
    predicate applied Spark-side."""
    qs = all_queries()
    df = qs["pagestore_pruned_ingest"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter" not in plan.split("Aggregate")[-1], plan
    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id")).first()[0]
    split = int((mx + 1) * 4 // 5)
    want = {
        (r["lang"], r["n_docs"], r["total_chars"])
        for r in docs.where(F.col("doc_id") < split)
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .collect()
    }
    got = {(r["lang"], r["n_docs"], r["total_chars"]) for r in df.collect()}
    assert got == want
