"""The benchmark's workloads.  Each one is driven in a closed loop by
``run.py``: one client, and the next operation starts only after the
previous one returned.

A workload has three phases:

* ``setup`` makes its inputs, warms the session, builds any cold state
  and records what a correct result looks like;
* ``ops`` prepares one timed phase and returns its fixed list of
  operations (``rounds`` passes over a mix), in an order drawn from the
  seed; ``run_op`` runs one
  operation and says whether its result was correct; ``before_trace``
  sets up anything only the traced phase needs;
* ``finish`` checks the end state after the timed phases.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orders import COLUMNS, FALLBACK_START, TIMESTAMP_COLUMNS, Expected, OrderFeed, write_batch

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Workload:
    def __init__(self, spark, root: str, rng):
        self.spark = spark
        self.root = root
        self.rng = rng
        self.tracer = None  # set for the traced loop
        self.input_bytes = 0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def before_trace(self) -> None:
        pass

    def finish(self) -> bool:
        return True

    def ledger_rows(self) -> int:
        return 0


# --------------------------------------------------------------------------
# order_sync: the reference's write path
# --------------------------------------------------------------------------


@dataclass
class Batch:
    path: str
    input_bytes: int
    ingested: int  # rows the pipeline must read after the watermark filter
    tables: dict  # final table -> {key: row} once this batch is merged


class OrderSync(Workload):
    """One op is one ``IncrementalPipeline.execute`` over a freshly landed
    batch of generated nested orders.  An op costs about ten seconds
    whatever the batch size (some 150 Spark jobs), so the batches stay
    small and a timed phase runs a fixed number of them.

    Batches are written and replayed into the expectation before the
    timed phase, so the benchmark's own work is not timed."""

    name = "order_sync"
    BATCH_ORDERS = 1000
    TIMED_BATCHES = 1
    # ``SyncControl.record_run`` compacts the ledger once it holds this
    # many segments.  Before the traced phase the ledger gets rows of
    # another synced table up to one segment short of it, so the traced
    # batch compacts it, as one run in every fifteen does.  The untraced
    # phase skips this: the compaction takes about 2% of a batch, less
    # than the batch's run-to-run spread, and topping the ledger up takes
    # several seconds of set-up.
    LEDGER_COMPACT_AT = 16

    def setup(self, seed: int) -> None:
        from shopify_youtube_etl_spark.streaming.pipeline import IncrementalPipeline

        self.feed = OrderFeed(seed, self.BATCH_ORDERS)
        self.expected = Expected()
        self.batches: list[Batch] = []
        self.last = -1
        t = time.perf_counter()
        self.pipeline = IncrementalPipeline(self.spark, os.path.join(self.root, "warehouse"))
        log(f"empty tables: {time.perf_counter() - t:.3f}s")
        # The first batch is cold (JVM, codegen, empty finals): set-up.
        (first,) = self._land(1)
        t = time.perf_counter()
        if not self.run_op(first):
            raise RuntimeError("the set-up batch returned a wrong result")
        log(f"cold batch: {time.perf_counter() - t:.3f}s")

    def _land(self, n: int) -> list[int]:
        """Write ``n`` more batches and replay each into the expectation."""
        out = []
        for _ in range(n):
            b = len(self.batches)
            path = os.path.join(self.root, "input", f"batch-{b:04d}")
            pages = self.feed.batch(b)
            nbytes = write_batch(pages, path)
            ingested = self.expected.apply(pages)
            tables = {name: dict(rows) for name, rows in self.expected.tables.items()}
            self.batches.append(Batch(path, nbytes, ingested, tables))
            out.append(b)
        return out

    def ops(self, rounds: int | None = None) -> list[int]:
        return self._land(self.TIMED_BATCHES)

    def before_trace(self) -> None:
        control = self.pipeline.control
        while len(control.table.segments()) < self.LEDGER_COMPACT_AT - 1:
            control.record_run("products", FALLBACK_START, 0, "success", notes="earlier sync")

    def run_op(self, b: int) -> bool:
        batch = self.batches[b]
        self.last = b
        self.input_bytes += batch.input_bytes
        res = self.pipeline.execute(batch.path)
        ver = res.get("verification") or {}
        uniq = ver.get("uniqueness") or {}
        ok = (
            res.get("status") == "success"
            and res.get("records_processed") == batch.ingested
            and set(uniq) == set(COLUMNS)
            and all(
                r["is_unique"] and r["total_records"] == len(batch.tables[name])
                for name, r in uniq.items()
            )
            and all(v == 0 for v in (ver.get("foreign_keys") or {}).values())
        )
        if not ok:
            log(f"order_sync batch {b}: wrong result {res}")
        return ok

    def finish(self) -> bool:
        """The six final tables equal the replayed expectation after the
        last batch run, row for row."""
        expected = self.batches[self.last].tables
        ok = True
        for name, cols in COLUMNS.items():
            df = self.pipeline.finals[name].read().select(
                *[F.unix_micros(c).alias(c) if c in TIMESTAMP_COLUMNS else F.col(c) for c in cols]
            )
            got = sorted((tuple(r) for r in df.collect()), key=repr)
            if got != sorted(expected[name].values(), key=repr):
                log(f"order_sync final table {name} differs from the expectation")
                ok = False
        return ok

    def ledger_rows(self) -> int:
        from spans import _seg_rows

        table = self.pipeline.control.table
        return sum(_seg_rows(table.path, os.path.basename(s)) for s in table.segments())


# --------------------------------------------------------------------------
# corpus_curation: registry ops over fixed tables, the seed orders them
# --------------------------------------------------------------------------


def _rounded(df: DataFrame) -> list:
    """Columns with floating point cast to float32, so a different
    summation order cannot change the checksum of a correct result."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        t = f.dataType
        if isinstance(t, (T.DoubleType, T.FloatType)):
            c = c.cast("float")
        elif isinstance(t, T.ArrayType) and isinstance(t.elementType, (T.DoubleType, T.FloatType)):
            c = c.cast("array<float>")
        cols.append(c.alias(f.name))
    return cols


def checked_eval(df: DataFrame) -> tuple[int, int]:
    """Row count and an order-insensitive checksum of every output
    column, in one pass: the shape of ``bench.force_eval``, which
    returns only the count."""
    row = df.select(*_rounded(df)).agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.struct(*[F.col(f"`{c}`") for c in df.columns]))).alias("c"),
    ).first()
    return row["n"], row["c"]


def frames_match(spark_pdf, duck_pdf, rtol: float = 1e-9) -> bool:
    """Order-insensitive comparison as the parity tests make it: columns
    by name, rows sorted by every column, floats within ``rtol``."""
    import numpy as np

    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns) or len(spark_pdf) != len(duck_pdf):
        return False

    def canon(pdf):
        out = pdf[sorted(pdf.columns)].copy()
        for c in out.columns:
            if out[c].dtype == object or str(out[c].dtype).startswith("datetime"):
                out[c] = out[c].astype(str)
        return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)

    a, b = canon(spark_pdf), canon(duck_pdf)
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind in "fiub" and y.dtype.kind in "fiub":
            if not np.allclose(x.astype(float), y.astype(float), rtol=rtol, atol=1e-9, equal_nan=True):
                return False
        elif list(x.astype(str)) != list(y.astype(str)):
            return False
    return True


class CorpusCuration(Workload):
    """LLM-data operators: text and similarity functions, the curation
    funnel (components), BM25 index maintenance (persisted state merged
    through ``upsert_matching``), the Arrow path, and a stream-stream join
    drained with ``availableNow``.

    One op is one registry query: build its plan with ``QuerySpec.fn``
    over the fixed tables, then evaluate it in one pass.  A timed phase
    runs the mix twice, each time in a fresh seeded order: ops keep
    getting faster for several runs after the cold one, and the median
    of a single round of unlike ops swings with whichever op sits in the
    middle."""

    name = "corpus_curation"
    QUERIES = [
        "dedup_exact",
        "simhash_neardup",
        "ann_cosine_topk",
        "tfidf_top_terms",
        "curation_funnel_report",
        "bm25_incremental_index",
        "stream_stream_join_attribution",
    ]
    ROUNDS = 2

    def setup(self, seed: int) -> None:
        import duckdb

        from shopify_youtube_etl_spark.plans.registry import all_queries

        specs = all_queries()
        self.specs = {name: specs[name] for name in self.QUERIES}
        self.input_bytes = sum(
            os.path.getsize(os.path.join(DATA_DIR, f"{t}.parquet")) for t in TABLES
        )
        duck = duckdb.connect()
        for t in TABLES:
            path = os.path.join(DATA_DIR, f"{t}.parquet")
            duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        # Cold round: the first run of each query builds its persisted
        # state and is checked against its DuckDB oracle.  Later runs
        # must reproduce its row count and checksum exactly.
        self.reference: dict[str, tuple[int, int] | None] = {}
        for name in self.rng.sample(self.QUERIES, len(self.QUERIES)):
            spec = self.specs[name]
            t = time.perf_counter()
            df = spec.fn(self.spark, DATA_DIR)
            self.reference[name] = checked_eval(df)
            log(f"{name}: cold {time.perf_counter() - t:.3f}s")
            if spec.oracle and not frames_match(df.toPandas(), duck.execute(spec.oracle).fetchdf()):
                log(f"{name}: result differs from its DuckDB oracle")
                self.reference[name] = None
        duck.close()

    def ops(self, rounds: int | None = None) -> list[str]:
        return [
            name for _ in range(rounds or self.ROUNDS)
            for name in self.rng.sample(self.QUERIES, len(self.QUERIES))
        ]

    def run_op(self, name: str) -> bool:
        with self.span("plans.build"):
            df = self.specs[name].fn(self.spark, DATA_DIR)
        with self.span("plans.execute"):
            got = checked_eval(df)
        if got != self.reference[name]:
            log(f"{name}: got {got}, expected {self.reference[name]}")
            return False
        return True


WORKLOADS = {w.name: w for w in (OrderSync, CorpusCuration)}
