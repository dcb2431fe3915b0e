"""Per-layer tracing for the traced run: spans recorded around the
package's public entry points, and a stdlib-``json`` parser of Spark's
uncompressed event log that attributes jobs, tasks and SQL metrics to
those spans.

Every span sets the Spark job group to its own id, so each job in the
event log names the span that was innermost when it was submitted.
Streaming queries run their jobs in a stream thread whose job group is
the query's run id; ``DataStreamWriter.start`` is wrapped to map that run
id back to the span that started the query.

Nothing here changes the engine: wrappers are installed on classes and
modules at run time, from this file, and only in the traced run.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field

SPANS = [
    "streaming.pipeline",
    "operators.watermark",
    "operators.upsert.append",
    "operators.upsert.merge",
    "operators.upsert.compact",
    "operators.verify",
    "plans.build",
    "plans.execute",
    "operators.components",
    "streaming.query",
]
COUNTERS = [
    "calls", "wall_s", "self_s", "jobs", "tasks", "failed_tasks",
    "job_s", "gap_s", "cpu_s", "shuffle_mb", "spill_mb",
]
OTHER = [
    "operators.upsert.segments_rewritten",
    "operators.upsert.bytes_written_mb",
    "operators.upsert.rewrite_ratio",
    "operators.watermark.ledger_rows",
    "python.bytes_sent_mb",
    "python.bytes_returned_mb",
    "python.exec_s",
    "streaming.add_batch_ms",
    "streaming.planning_ms",
    "streaming.wal_commit_ms",
    "streaming.state_rows",
    "session.start_s",
    "session.jvm_peak_rss_mb",
    "op.wall_s",
    "op.self_s",
    "trace.overhead_s",
]
ROOT = "op"
MB = 1024 * 1024


def per_layer_names() -> list[str]:
    return [f"{s}.{c}" for s in SPANS for c in COUNTERS] + OTHER


def unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    return "ratio" if name.endswith("_ratio") else "count"


@dataclass
class Span:
    name: str
    sid: str
    parent: "Span | None"
    start: float
    end: float = 0.0
    children_s: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall - self.children_s


@dataclass
class Commits:
    """ParquetTable commit counts gathered while tracing."""

    bytes_written: int = 0
    segments_rewritten: int = 0
    rows_replaced: int = 0
    rows_written: int = 0
    rows_staged: int = 0


def _seg_rows(table_path: str, seg: str) -> int:
    import pyarrow.parquet as pq

    d = os.path.join(table_path, seg)
    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )


def _seg_bytes(table_path: str, seg: str) -> int:
    d = os.path.join(table_path, seg)
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.stack: list[Span] = []
        self.spans: list[Span] = []
        self.run_ids: dict[str, str] = {}  # streaming run id -> span id
        self.queries: list = []
        self.commits = Commits()
        self.merge_target: str | None = None  # table an upsert_matching call writes
        self._n = 0

    @contextlib.contextmanager
    def span(self, name: str):
        """Open a span; a call nested in a span of the same name (e.g.
        ``merge_from`` -> ``upsert_matching``) is part of the outer one."""
        if self.stack and self.stack[-1].name == name:
            yield self.stack[-1]
            return
        self._n += 1
        parent = self.stack[-1] if self.stack else None
        s = Span(name, f"perfbench-span-{self._n}", parent, time.time())
        self.stack.append(s)
        self.sc.setJobGroup(s.sid, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self.stack.pop()
            self.spans.append(s)
            if parent is not None:
                parent.children_s += s.wall
                self.sc.setJobGroup(parent.sid, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                if before is not None:
                    before(args)
                out = None
                try:
                    out = orig(*args, **kwargs)
                    return out
                finally:
                    if after is not None:
                        after(args, out)

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

        from shopify_youtube_etl_spark import operators
        from shopify_youtube_etl_spark.operators import components
        from shopify_youtube_etl_spark.operators.upsert import ParquetTable
        from shopify_youtube_etl_spark.operators.watermark import SyncControl
        from shopify_youtube_etl_spark.streaming.pipeline import IncrementalPipeline

        self.wrap(IncrementalPipeline, "execute", "streaming.pipeline")
        self.wrap(IncrementalPipeline, "verify_table_data", "operators.verify")
        for attr in ("read", "last_sync_timestamp", "start_date", "record_run"):
            self.wrap(SyncControl, attr, "operators.watermark")
        self.wrap(ParquetTable, "append", "operators.upsert.append")
        self.wrap(ParquetTable, "merge_from", "operators.upsert.merge")
        self.wrap(
            ParquetTable, "upsert_matching", "operators.upsert.merge",
            before=self._merge_begins, after=self._merge_ends,
        )
        self.wrap(ParquetTable, "delete_matching", "operators.upsert.merge")
        self.wrap(ParquetTable, "compact", "operators.upsert.compact")
        self._wrap_commit(ParquetTable)
        for mod in (components, operators):
            self.wrap(mod, "connected_components", "operators.components")
        self.wrap(DataStreamWriter, "start", "streaming.query", after=self._started)
        self.wrap(StreamingQuery, "awaitTermination", "streaming.query")
        self.wrap(StreamingQuery, "processAllAvailable", "streaming.query")

    def _started(self, _args, query) -> None:
        if query is not None:
            self.queries.append(query)
            self.run_ids[str(query.runId)] = self.stack[-1].sid

    def _merge_begins(self, args) -> None:
        self.merge_target = args[0].path

    def _merge_ends(self, _args, _out) -> None:
        self.merge_target = None

    def _wrap_commit(self, cls) -> None:
        """Count what every ParquetTable commit wrote and replaced: the
        commit's new manifest against the one it superseded."""
        orig = cls._commit
        tracer = self

        def _commit(table, compute_segments):
            seen = {}

            def compute(prior):
                seen["prior"], seen["new"] = list(prior), compute_segments(prior)
                return seen["new"]

            ok = orig(table, compute)
            if ok and seen.get("new") is not None:
                tracer._on_commit(table.path, seen["prior"], seen["new"])
            return ok

        cls._commit = _commit

    def _on_commit(self, path: str, prior: list[str], new: list[str]) -> None:
        c = self.commits
        added = [s for s in new if s not in prior]
        removed = [s for s in prior if s not in new]
        c.bytes_written += sum(_seg_bytes(path, s) for s in added)
        # Only the merge's own commit: not the staging truncate merge_from
        # issues in the same span, nor a compaction the merge triggers.
        if path == self.merge_target and self.stack[-1].name == "operators.upsert.merge":
            c.segments_rewritten += len(removed)
            c.rows_replaced += sum(_seg_rows(path, s) for s in removed)
            c.rows_written += sum(_seg_rows(path, s) for s in added)
            if added:
                c.rows_staged += _seg_rows(path, added[-1])  # the batch lands last

    def op_spans(self) -> list[Span]:
        return [s for s in self.spans if s.name == ROOT]


# --------------------------------------------------------------------------
# Event log
# --------------------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"


def _is_python_node(node_name: str) -> bool:
    return any(k in node_name for k in ("Python", "Pandas", "InArrow"))


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", []):
        yield from _walk(child)


@dataclass
class Job:
    group: str | None
    start: float
    end: float = 0.0
    execution: int | None = None


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)  # job id -> Job
    stage_group: dict = field(default_factory=dict)  # stage id -> group
    tasks: dict = field(default_factory=dict)  # group -> counters
    python_accums: dict = field(default_factory=dict)  # accum id -> (execution, name, type)
    accum_values: dict = field(default_factory=dict)  # accum id -> value


def parse_event_log(lines) -> EventLog:
    """Fold Spark listener events (one JSON object per line) into jobs,
    per-group task counters and Python-node SQL metric values."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exe = props.get("spark.sql.execution.id")
            log.jobs[ev["Job ID"]] = Job(
                props.get("spark.jobGroup.id"),
                ev["Submission Time"] / 1000.0,
                execution=int(exe) if exe is not None else None,
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            log.stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
        elif kind == "SparkListenerStageCompleted":
            for acc in ev["Stage Info"].get("Accumulables", []):
                _note_accum(log, acc.get("ID"), acc.get("Value"))
        elif kind == "SparkListenerTaskEnd":
            group = log.stage_group.get(ev["Stage ID"])
            t = log.tasks.setdefault(group, {"tasks": 0, "failed": 0, "cpu_ns": 0, "shuffle": 0, "spill": 0})
            t["tasks"] += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            if reason != "Success" or (ev.get("Task Info") or {}).get("Failed"):
                t["failed"] += 1
            m = ev.get("Task Metrics") or {}
            t["cpu_ns"] += m.get("Executor CPU Time", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            t["shuffle"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                + wr.get("Shuffle Bytes Written", 0)
            )
            t["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            exe = ev.get("executionId")
            for node in _walk(ev.get("sparkPlanInfo") or {}):
                if _is_python_node(node.get("nodeName", "")):
                    for metric in node.get("metrics", []):
                        log.python_accums[metric["accumulatorId"]] = (
                            exe, metric["name"], metric.get("metricType"),
                        )
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev.get("accumUpdates", []):
                _note_accum(log, acc_id, value)
    return log


def _note_accum(log: EventLog, acc_id, value) -> None:
    # Stage-level values are the accumulator's running total, so the
    # largest value seen is its final one.
    try:
        v = float(value)
    except (TypeError, ValueError):
        return
    if acc_id is not None and v > log.accum_values.get(acc_id, float("-inf")):
        log.accum_values[acc_id] = v


def read_event_log(directory: str) -> EventLog:
    files = sorted(os.listdir(directory))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {files}")
    with open(os.path.join(directory, files[0])) as fh:
        return parse_event_log(fh)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(spans: list[Span], run_ids: dict[str, str], log: EventLog) -> dict[str, dict]:
    """Totals per span name: the 11 span counters, summed over spans."""
    by_id = {s.sid: s for s in spans}

    def owner(group, at=None):
        if group in by_id:
            return by_id[group]
        starter = by_id.get(run_ids.get(group))
        if starter is None or at is None:
            return starter
        # A stream-thread job belongs to the span of the starter's name
        # that was open when it ran (e.g. the awaitTermination drain).
        live = [s for s in spans if s.name == starter.name and s.start <= at <= s.end]
        return live[-1] if live else starter

    out = {name: dict.fromkeys(COUNTERS, 0.0) for name in {s.name for s in spans} | set(SPANS)}
    for s in spans:
        out[s.name]["calls"] += 1
        out[s.name]["wall_s"] += s.wall
        out[s.name]["self_s"] += s.self_s
    own_jobs: dict[str, list[tuple[float, float]]] = {}
    for job in log.jobs.values():
        s = owner(job.group, job.start)
        if s is None:
            continue
        out[s.name]["jobs"] += 1
        out[s.name]["job_s"] += max(0.0, job.end - job.start)
        own_jobs.setdefault(s.sid, []).append(
            (max(job.start, s.start), min(max(job.end, job.start), s.end))
        )
    for s in spans:
        covered = _union_length([iv for iv in own_jobs.get(s.sid, []) if iv[1] > iv[0]])
        out[s.name]["gap_s"] += max(0.0, s.self_s - covered)
    for group, t in log.tasks.items():
        s = owner(group)
        if s is None:
            continue
        c = out[s.name]
        c["tasks"] += t["tasks"]
        c["failed_tasks"] += t["failed"]
        c["cpu_s"] += t["cpu_ns"] / 1e9
        c["shuffle_mb"] += t["shuffle"] / MB
        c["spill_mb"] += t["spill"] / MB
    return out


def python_rollup(log: EventLog, groups: set[str]) -> dict[str, float]:
    """Bytes to and from Python workers and Python time, over the SQL
    executions whose jobs ran in one of ``groups``."""
    executions = {j.execution for j in log.jobs.values() if j.group in groups}
    sent = returned = run_s = 0.0
    for acc_id, (exe, name, kind) in log.python_accums.items():
        if exe not in executions:
            continue
        v = log.accum_values.get(acc_id, 0.0)
        if name == PY_SENT:
            sent += v
        elif name == PY_RETURNED:
            returned += v
        elif name == PY_RUN:
            run_s += v / (1e9 if kind == "nsTiming" else 1e3)
    return {
        "python.bytes_sent_mb": sent / MB,
        "python.bytes_returned_mb": returned / MB,
        "python.exec_s": run_s,
    }


def streaming_rollup(queries) -> dict[str, float]:
    """Phase durations and state rows summed over every progress report."""
    out = {
        "streaming.add_batch_ms": 0.0,
        "streaming.planning_ms": 0.0,
        "streaming.wal_commit_ms": 0.0,
        "streaming.state_rows": 0.0,
    }
    for q in queries:
        for p in q.recentProgress:
            p = json.loads(p.json) if hasattr(p, "json") else p
            d = p.get("durationMs") or {}
            out["streaming.add_batch_ms"] += d.get("addBatch", 0)
            out["streaming.planning_ms"] += d.get("queryPlanning", 0)
            out["streaming.wal_commit_ms"] += d.get("walCommit", 0)
            out["streaming.state_rows"] += sum(
                op.get("numRowsTotal", 0) for op in p.get("stateOperators") or []
            )
    return out
