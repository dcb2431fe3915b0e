"""The persisted-state store (``plans.common.StateStore``) under faults,
for every family that persists state.  Each family's query runs once to
leave state behind, then meets the four faults in two steps:

1. a corpus parquet file rewritten in place, with a crash injected
   inside the next build right after its first table commit, then a
   retry;
2. a bumped ``STATE_LAYOUT_VERSION``, met by two concurrent calls on
   threads.

After each step the query must return the rows of its full recompute
(the DuckDB oracle, the full-recompute twin, or a build in a store
nothing has touched before), every store must resolve to a fresh
directory, and under concurrency each store must build once.  Three
full builds per family are the floor: the funnel families dominate the
test's run time."""

from __future__ import annotations

import os
import shutil
import threading
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from shopify_youtube_etl_spark.operators.upsert import ParquetTable
from shopify_youtube_etl_spark.plans import common
from shopify_youtube_etl_spark.plans.common import StateStore, day_str, stream_state_partitions
from shopify_youtube_etl_spark.plans.registry import all_queries
from shopify_youtube_etl_spark.sources.tables import load_table
from tests.conftest import normalize_frame

SPECS = all_queries()


def _funnel_full(spark, d):
    return SPECS["curation_funnel_report"].fn(spark, d)


def _hll_full(spark, d):
    return (
        load_table(spark, d, "events")
        .select(day_str(F.col("ts")).alias("day"), "user_id")
        .groupBy("day")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).cast("long").alias("users_est"))
    )


def _kll_full(spark, d):
    # Per-day counts here sit far below the sketch's exact-mode limit,
    # so one sketch over all values equals the merged partials.
    merged = (
        load_table(spark, d, "events")
        .where(F.col("value").isNotNull())
        .groupBy(day_str(F.col("ts")).alias("day"))
        .agg(
            F.expr("kll_sketch_agg_double(value)").alias("msk"),
            F.count("*").alias("n_events"),
        )
    )
    return merged.select(
        "day",
        "n_events",
        F.round(F.expr("kll_sketch_get_quantile_double(msk, 0.5)"), 4).alias("p50"),
        F.round(F.expr("kll_sketch_get_quantile_double(msk, 0.95)"), 4).alias("p95"),
    )


ORACLE = "oracle"  # the query's DuckDB oracle over the corpus
FRESH = "fresh"    # a build in a store nothing has touched before

# family -> (query, reference, table rewritten in place, its id column)
FAMILIES = {
    "funnel": ("incremental_curation_funnel", _funnel_full, "documents", "doc_id"),
    "funnel_two_batch": ("incremental_funnel_two_batch", _funnel_full, "documents", "doc_id"),
    "bm25": ("bm25_incremental_index", ORACLE, "documents", "doc_id"),
    "hll": ("incremental_hll_maintenance", _hll_full, "events", "event_id"),
    "kll": ("incremental_kll_maintenance", _kll_full, "events", "event_id"),
    "attribution": ("incremental_attribution_revenue", ORACLE, "events", "event_id"),
    "components": ("incremental_component_maintenance", ORACLE, "lineitem", "l_orderkey"),
    "components_delete": ("incremental_component_delete", ORACLE, "lineitem", "l_orderkey"),
    "ann_pq": ("pq_ann_topk", FRESH, "embeddings", "vec_id"),
    "ann_ivf_ivfpq": ("ivfpq_ann_topk", FRESH, "embeddings", "vec_id"),
    # ivfbase, ivfsplit, ivfpqbase, ivfsplitcodes and ivferasure.
    "ann_maintenance": ("ann_erasure_maintenance", FRESH, "embeddings", "vec_id"),
    "stream_state": ("stream_state_inspection", ORACLE, "events", "event_id"),
    "stream_join": ("stream_stream_join_attribution", ORACLE, "events", "event_id"),
}


class Crash(RuntimeError):
    pass


@pytest.fixture()
def builds(monkeypatch):
    """Records the store path of every build; ``arm()`` makes the next
    build crash right after its first table commit (or, for a build
    that commits no table, right after it returns — before its
    marker)."""
    real_open, real_rebuild = StateStore.open, StateStore.rebuild
    real_commit = ParquetTable._commit
    guard = threading.Lock()
    rec = {"paths": [], "armed": False}

    def commit_then_crash(tbl, compute):
        real_commit(tbl, compute)
        raise Crash(f"after the first commit of {tbl.path}")

    def wrap(build):
        def counted(store):
            with guard:
                rec["paths"].append(store.path)
                armed, rec["armed"] = rec["armed"], False
            if not armed:
                return build(store)
            monkeypatch.setattr(ParquetTable, "_commit", commit_then_crash)
            try:
                build(store)
            finally:
                monkeypatch.setattr(ParquetTable, "_commit", real_commit)
            raise Crash(f"after the build of {store.path}")

        return counted

    monkeypatch.setattr(StateStore, "open", lambda self, build: real_open(self, wrap(build)))
    monkeypatch.setattr(StateStore, "rebuild", lambda self, build: real_rebuild(self, wrap(build)))

    def take() -> list[str]:
        with guard:
            out, rec["paths"] = rec["paths"], []
        return out

    rec["take"] = take
    rec["arm"] = lambda: rec.update(armed=True)
    return rec


def _rewrite_in_place(path: str, id_col: str) -> None:
    """Drop every row whose id is 3 mod 7 (the max id stays, so the
    history/batch splits do not move) and write the file over itself."""
    tbl = pq.read_table(path)
    ids = tbl.column(id_col).to_pylist()
    top = max(i for i in ids if i is not None)
    keep = [i is None or i % 7 != 3 or i == top for i in ids]
    pq.write_table(tbl.filter(pa.array(keep)), path)


def _frame(df) -> pd.DataFrame:
    return normalize_frame(df.toPandas())


def _same(got: pd.DataFrame, want: pd.DataFrame) -> None:
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want), f"row counts differ: {len(got)} vs {len(want)}"
    pd.testing.assert_frame_equal(
        got, want, check_dtype=False, check_exact=False, rtol=1e-9, atol=1e-9
    )


def _oracle(sql: str, d: str) -> pd.DataFrame:
    con = duckdb.connect()
    for f in os.listdir(d):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{d}/{f}')"
            )
    try:
        return normalize_frame(con.execute(sql).df())
    finally:
        con.close()


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_state_store_faults(family, spark, sf_dir, tmp_path, monkeypatch, builds):
    name, ref, table, id_col = FAMILIES[family]
    fn = SPECS[name].fn
    monkeypatch.setattr("tempfile.tempdir", str(tmp_path / "state"))
    os.makedirs(tmp_path / "state")
    d = str(tmp_path / "corpus")
    os.makedirs(d)
    for f in os.listdir(sf_dir):
        shutil.copyfile(os.path.join(sf_dir, f), os.path.join(d, f))

    def reference():
        if ref is ORACLE:
            return _oracle(SPECS[name].oracle, d)
        if ref is FRESH:
            return None
        return _frame(ref(spark, d))

    fn(spark, d).collect()  # state to go stale
    stale = set(builds["take"]())
    assert stale, f"{name} opened no StateStore"

    # Corpus rewritten in place + a crash inside the rebuild: the crashed
    # store stays unmarked, and the retry rebuilds it from scratch.
    _rewrite_in_place(os.path.join(d, f"{table}.parquet"), id_col)
    builds["arm"]()
    with pytest.raises(Crash):
        fn(spark, d).collect()
    crashed = builds["take"]()
    assert crashed and not set(crashed) & stale, "a rewritten corpus reused stale state"
    assert not any(os.path.exists(os.path.join(p, "_BUILT")) for p in crashed)
    got = _frame(fn(spark, d))
    assert set(crashed) <= set(builds["take"]()), "the retry did not rebuild"
    want = reference()
    if want is not None:
        _same(got, want)

    # Bumped layout version, met by two concurrent calls.
    monkeypatch.setattr(common, "STATE_LAYOUT_VERSION", common.STATE_LAYOUT_VERSION + 1)
    with ThreadPoolExecutor(max_workers=2) as pool:
        a, b = pool.map(lambda _: _frame(fn(spark, d)), range(2))
    fresh = Counter(builds["take"]())
    assert fresh and not set(fresh) & set(crashed), "a bumped version reused old state"
    assert set(fresh.values()) == {1}, f"a store built more than once: {fresh}"
    _same(a, b)
    _same(a, got if want is None else want)


def test_stream_state_partitions_env_and_nested_sizes(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)
    nested = tmp_path / "src" / "day=1"
    nested.mkdir(parents=True)
    with open(nested / "part-0.json", "wb") as fh:
        fh.truncate(5 * 32 * 1024 * 1024 + 1)  # sparse: 5 widths and a byte
    (tmp_path / "src" / "_SUCCESS").write_bytes(b"")
    assert stream_state_partitions(str(tmp_path / "src")) == 6
    assert stream_state_partitions(str(tmp_path / "missing")) == 4

    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "12")
    assert stream_state_partitions(str(tmp_path / "src")) == 12
    for bad in ("eight", "0", "-3", "2.5"):
        monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_STREAM_STATE_PARTITIONS"):
            stream_state_partitions(str(tmp_path / "src"))
