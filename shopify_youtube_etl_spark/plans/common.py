"""Shared helpers for declared queries (Spark side + oracle-SQL side)."""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager, suppress

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from shopify_youtube_etl_spark.sources.tables import load_table

# Decimal places used when rounding double aggregates so that
# summation-order float residue can't flip the driver's value hash
# (SURVEY §7 risk: DuckDB and Spark sum doubles in different orders).
MONEY_ROUND = 2
RATIO_ROUND = 6

# Microsecond-precision formats: events.ts is ns in parquet; Spark
# truncates to µs on read, DuckDB keeps ns — oracles must CAST(ts AS
# TIMESTAMP) (µs) first, then these two formats agree (FIXTURES.md A).
SPARK_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
DUCK_TS_FMT = "%Y-%m-%d %H:%M:%S.%f"

# Layout version of every persisted state family (IVM state tables, the
# BM25 index, ANN models, staged stream sources).  The one rule: BUMP
# THIS whenever any persisted structure's layout or semantics change.
# It is part of every ``StateStore`` key, so a bump resolves each store
# to a fresh directory that builds from scratch; the stale directory is
# orphaned for temp-dir cleanup.  Always read it via this module
# (``common.STATE_LAYOUT_VERSION``), not a ``from``-import, so tests can
# monkeypatch the bump.
STATE_LAYOUT_VERSION = 2


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Shorthand testdata table loader."""
    return load_table(spark, sf_dir, name)


def staging_dir(kind: str, sf_dir: str) -> str:
    """Deterministic per-(kind, sf_dir) staging dir, cleared on reuse —
    repeated invocations overwrite one directory instead of leaking a
    fresh mkdtemp per call (the written files must outlive the calling
    function: returned DataFrames read them lazily at execution)."""
    import hashlib
    import os
    import shutil
    import tempfile

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"sye_{kind}_{key}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


def _corpus_fingerprint(sf_dir: str) -> str:
    """Cheap content fingerprint of a testdata corpus: name, size, and
    mtime of every parquet file under ``sf_dir``.  O(#files) stats, no
    data read — enough to catch the real hazard (ADVICE r7): the SAME
    path regenerated with different contents (a rebuilt SF1 dir, fresh
    testdata), which a path-keyed marker would silently serve stale."""
    import hashlib
    import os

    parts = []
    try:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(sf_dir, f))
                parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    except FileNotFoundError:
        parts.append("missing")
    return hashlib.md5("|".join(parts).encode()).hexdigest()


class StateStore:
    """One persisted-state store: a directory under the temp dir keyed
    by ``(family, sf_dir, slice, STATE_LAYOUT_VERSION, corpus
    fingerprint)``, holding named ParquetTables (``store[name]``) or
    free-form files under ``store.path``.  A bumped layout version or a
    corpus regenerated in place resolves to a fresh directory, so stale
    state is never served.

    ``open(build)`` takes an exclusive flock on the directory and, if
    the ``_BUILT`` marker is absent, wipes whatever an earlier build
    left (sparing ``cp_*`` streaming checkpoints), runs ``build(store)``
    and writes the marker with tmp + ``os.replace``.  The marker is the
    only commit point: the tables commit through independent manifests,
    so a build that dies between two of them leaves no marker and the
    next ``open`` rebuilds from scratch.  The body of the ``with`` runs
    under the same lock, so per-call merges into built state serialize
    instead of racing.  ``rebuild(build)`` is the forced form (a
    retrain): it builds over the current tables and re-marks.

    Scope: one host; the flock serializes threads and processes on one
    mount, as ``ParquetTable._commit`` does."""

    def __init__(self, spark: SparkSession, family: str, sf_dir: str, slice_="") -> None:
        import hashlib
        import tempfile

        key = hashlib.md5(
            f"{family}|{sf_dir}|{slice_}|v{STATE_LAYOUT_VERSION}|"
            f"{_corpus_fingerprint(sf_dir)}".encode()
        ).hexdigest()[:8]
        self.spark = spark
        self.path = os.path.join(tempfile.gettempdir(), f"sye_{family}_{key}")
        self._tables: dict = {}

    def __getitem__(self, name: str):
        from shopify_youtube_etl_spark.operators.upsert import ParquetTable

        if name not in self._tables:
            self._tables[name] = ParquetTable(self.spark, os.path.join(self.path, name))
        return self._tables[name]

    @contextmanager
    def _lock(self):
        import fcntl

        os.makedirs(self.path, exist_ok=True)
        with open(os.path.join(self.path, "_LOCK"), "w") as fh:
            fcntl.flock(fh, fcntl.LOCK_EX)
            yield

    def _build(self, build, force: bool) -> None:
        """Caller holds the lock.  Unmarked content is a torn or
        foreign build: wipe it, sparing streaming checkpoints."""
        marker = os.path.join(self.path, "_BUILT")
        if os.path.exists(marker):
            if not force:
                return
            os.remove(marker)
        else:
            for f in os.listdir(self.path):
                full = os.path.join(self.path, f)
                if f == "_LOCK" or f.startswith("cp_"):
                    continue
                if os.path.isdir(full):
                    shutil.rmtree(full)
                else:
                    os.remove(full)
            for tbl in self._tables.values():  # handed out before the wipe
                os.makedirs(tbl.path, exist_ok=True)
        build(self)
        tmp = f"{marker}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            fh.write(self.path + "\n")
        os.replace(tmp, marker)

    @contextmanager
    def open(self, build):
        with self._lock():
            self._build(build, force=False)
            yield self

    def rebuild(self, build) -> None:
        with self._lock():
            self._build(build, force=True)


def stream_state_partitions(src_dir: str) -> int:
    """Shuffle-partition width for a BOUNDED stateful availableNow
    drain, derived from the staged source's byte volume instead of
    inherited from the batch session's scan width (guide §2.2 "fewer,
    larger partitions", applied to streaming state stores).

    Every shuffle partition mints its state stores per stateful
    operator, and their open/commit cost dominates a short drain:
    measured on stream_stream_join_attribution at sf0.1 (same rows
    out), 32 partitions ≈ 9s, 8 ≈ 3.7s, 4 ≈ 2.9s at quiet minima.
    One partition per ~32 MB of staged NDJSON with a floor of 4 keeps
    the width data-proportional — a 100 TB/day stream sizes itself
    into hundreds of partitions, and the env override
    (SPARK_GRAFT_STREAM_STATE_PARTITIONS) pins it where an operator
    knows the join-state volume better than the source size proxy."""
    import math

    env = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
    if env:
        try:
            n = int(env)
        except ValueError:
            n = 0
        if n < 1:
            raise ValueError(
                "SPARK_GRAFT_STREAM_STATE_PARTITIONS must be a positive "
                f"integer, got {env!r}"
            )
        return n
    total = 0
    for root, dirs, files in os.walk(src_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                with suppress(OSError):
                    total += os.path.getsize(os.path.join(root, f))
    return max(4, math.ceil(total / (32 * 1024 * 1024)))


# (sf_dir, name, parallelism) -> whether the scan needs spreading; the
# probe (df.rdd.getNumPartitions) costs a plan conversion, so pay it
# once.  Parallelism is part of the key so a session with a different
# core count re-probes instead of reusing a stale decision.
_SPREAD_CACHE: dict[tuple[str, str, int], bool] = {}


def spread(spark: SparkSession, sf_dir: str, name: str, *cols: str) -> DataFrame:
    """Load a table, repartitioning ONLY when the scan yields fewer
    partitions than the cluster has cores — i.e., a small single-file
    input whose heavy map-side work (shingling, hashing) would
    otherwise run serially.  At real scale the file scan is already
    split past core count and this is a no-op, so no shuffle of raw
    text ever happens there."""
    df = t(spark, sf_dir, name)
    p = spark.sparkContext.defaultParallelism
    key = (sf_dir, name, p)
    if key not in _SPREAD_CACHE:
        _SPREAD_CACHE[key] = df.rdd.getNumPartitions() < p
    if _SPREAD_CACHE[key]:
        return df.repartition(p, *cols) if cols else df.repartition(p)
    return df


def table_row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Exact unfiltered row count of a testdata table from the parquet
    footer (no Spark job) — equals ``count(*)`` over the raw table.
    Falls back to the Spark count if the footer is unreadable."""
    import os

    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(
            os.path.join(sf_dir, f"{name}.parquet")
        ).metadata.num_rows
    except Exception:  # noqa: BLE001
        return t(spark, sf_dir, name).count()


def table_col_max(spark: SparkSession, sf_dir: str, name: str, col: str):
    """Exact MAX of an integer column of a testdata table, from parquet
    FOOTER statistics — no Spark job (guide §1: don't pay a full column
    scan for a number the metadata already holds; at 100 TB a max() agg
    over an id column is a full-table pass).  Integer footer stats are
    exact by the parquet spec, so this equals the Spark aggregate
    bit-for-bit; any surprise (missing stats, non-integer type, missing
    file) falls back to the aggregate."""
    import os

    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(os.path.join(sf_dir, f"{name}.parquet"))
        idx = pf.schema_arrow.get_field_index(col)
        if idx >= 0 and pa.types.is_integer(pf.schema_arrow.field(idx).type):
            md = pf.metadata
            hi = None
            ok = True
            for rg in range(md.num_row_groups):
                group = md.row_group(rg)
                chunk = next(
                    (
                        group.column(ci)
                        for ci in range(group.num_columns)
                        if group.column(ci).path_in_schema == col
                    ),
                    None,
                )
                st = chunk.statistics if chunk is not None else None
                if st is None or not st.has_min_max:
                    if (
                        st is not None
                        and st.has_null_count
                        and st.null_count == chunk.num_values
                    ):
                        continue  # all-null chunk: contributes nothing
                    ok = False
                    break
                hi = st.max if hi is None else max(hi, st.max)
            if ok:
                return hi
    except Exception:  # noqa: BLE001 — any surprise → the Spark agg
        pass
    return t(spark, sf_dir, name).agg(F.max(col).alias("m")).first()["m"]


def epoch_day(col: Column) -> Column:
    """Days since 1970-01-01 as a long — the numeric ordering key used
    by RANGE-framed windows and calendar queries (DuckDB twin:
    ``date_diff('day', DATE '1970-01-01', ...)``)."""
    return F.datediff(col, F.lit("1970-01-01").cast("date")).cast("long")


def money(col: Column) -> Column:
    """Round a double aggregate for hash-stable comparison."""
    return F.round(col, MONEY_ROUND)


def ts_str(col: Column) -> Column:
    """Format a timestamp to a µs string (matches DUCK_TS_FMT on µs-cast)."""
    return F.date_format(col, SPARK_TS_FMT)


def day_str(col: Column) -> Column:
    """Format a timestamp to its day key 'YYYY-MM-DD' (reference F7)."""
    return F.date_format(col, "yyyy-MM-dd")


def distributed_row_number(
    df: DataFrame, order_cols: list[Column], rank_col: str, partitions: int = 32
) -> tuple[DataFrame, int]:
    """Global ``row_number() OVER (ORDER BY ...)`` without the
    single-partition window: range-partition on the total order, rank
    WITHIN each range partition, and add each partition's exclusive
    row-count offset (a bounded ≤``partitions``-row collect) — the
    two-phase scan parallelization.  Row counts are exact integers, so
    the result is bit-identical to the global window at any scale.
    The ranked frame is localCheckpointed: the count probe and the
    caller's plan must see the SAME (nondeterministic) range-sampler
    partition assignment.  Returns (frame with ``rank_col``, total row
    count).  ``order_cols`` must be a TOTAL order (tie-broken) for the
    rank to be deterministic."""
    ranked = (
        df.repartitionByRange(partitions, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = {
        r["__pid"]: r["n"]
        for r in ranked.groupBy("__pid").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    if not offsets:
        offsets = [(0, 0)]
    spark = df.sparkSession
    off = spark.createDataFrame(offsets, "__pid INT, __off LONG")
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("__pid").orderBy(*order_cols)
    out = (
        ranked.join(F.broadcast(off), "__pid")
        .withColumn(rank_col, (F.col("__off") + F.row_number().over(w)).cast("int"))
        .drop("__pid", "__off")
    )
    return out, acc


def ntile_from_rank(rank_col: str, n: int, k: int) -> Column:
    """SQL-standard NTILE(k) derived from a global 1-based row number
    and the exact total row count: the first ``n mod k`` buckets carry
    ``n//k + 1`` rows, the rest ``n//k`` — closed-form integer math,
    bit-identical to the engine's NTILE over the same total order.
    Pairs with :func:`distributed_row_number` to replace the
    single-partition NTILE window."""
    q, r = divmod(max(n, 1), k)
    if q == 0:
        return F.col(rank_col).cast("int")
    boundary = r * (q + 1)
    return (
        F.when(
            F.col(rank_col) <= F.lit(boundary),
            F.ceil(F.col(rank_col) / F.lit(q + 1)),
        )
        .otherwise(F.lit(r) + F.ceil((F.col(rank_col) - F.lit(boundary)) / F.lit(q)))
        .cast("int")
    )


def ntile_from_rank_cols(rank: Column, n: Column, k: int) -> Column:
    """Column form of :func:`ntile_from_rank` for PARTITIONED ntile:
    ``rank`` is the 1-based rank WITHIN the partition and ``n`` the
    partition's exact row count (both columns, e.g. joined from a
    per-partition census).  Same SQL-standard bucket math, integer
    exact."""
    q = F.floor(n / k).cast("long")
    r = (n - q * F.lit(k)).cast("long")
    boundary = r * (q + F.lit(1))
    return (
        F.when(q == F.lit(0), rank)
        .when(rank <= boundary, F.ceil(rank / (q + F.lit(1))))
        .otherwise(r + F.ceil((rank - boundary) / q))
        .cast("int")
    )
