"""Tests of the benchmark's own parts, without Spark:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import datetime as dt
import json

import orders
import run
import spans
import workloads


def _events():
    """A tiny event log: one span ran two jobs (one with a failed task
    and a Python node), a stream thread ran one job, one job had no
    group."""
    ms = lambda s: int(s * 1000)  # noqa: E731
    plan = {
        "nodeName": "Project",
        "metrics": [],
        "children": [{
            "nodeName": "ArrowEvalPython",
            "metrics": [
                {"name": spans.PY_SENT, "accumulatorId": 7, "metricType": "size"},
                {"name": spans.PY_RETURNED, "accumulatorId": 8, "metricType": "size"},
                {"name": spans.PY_RUN, "accumulatorId": 9, "metricType": "timing"},
            ],
            "children": [],
        }],
    }
    task = lambda stage, cpu, reason="Success": {  # noqa: E731
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": reason}, "Task Info": {"Failed": reason != "Success"},
        "Task Metrics": {
            "Executor CPU Time": cpu,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": spans.MB},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": spans.MB},
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
        },
    }
    props = lambda group, exe=None: {  # noqa: E731
        "spark.jobGroup.id": group, **({"spark.sql.execution.id": str(exe)} if exe is not None else {})
    }
    return [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 3, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": ms(10.0),
         "Properties": props("g1", 3)},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}, "Properties": props("g1", 3)},
        task(0, 2_000_000_000),
        task(0, 1_000_000_000, reason="ExceptionFailure"),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Accumulables": [{"ID": 7, "Value": "1024"}, {"ID": 8, "Value": 512}, {"ID": 9, "Value": 250}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": ms(11.0)},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": ms(11.5), "Properties": props("g1")},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": ms(12.0)},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": ms(13.0), "Properties": props("run-1")},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}, "Properties": props("run-1")},
        task(1, 500_000_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": ms(14.0)},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": ms(20.0), "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": ms(21.0)},
    ]


def _spans():
    op = spans.Span("op", "g0", None, 9.0, 15.0)
    build = spans.Span("plans.build", "g1", op, 10.0, 12.5)
    query = spans.Span("streaming.query", "g2", op, 12.5, 14.5)
    op.children_s = build.wall + query.wall
    return [build, query, op]


def test_event_log_attribution():
    log = spans.parse_event_log(json.dumps(e) for e in _events())
    out = spans.attribute(_spans(), {"run-1": "g2"}, log)
    b = out["plans.build"]
    assert (b["calls"], b["jobs"], b["tasks"], b["failed_tasks"]) == (1, 2, 2, 1)
    assert abs(b["job_s"] - 1.5) < 1e-9
    assert abs(b["cpu_s"] - 3.0) < 1e-9
    assert abs(b["shuffle_mb"] - 4.0) < 1e-9
    # 2.5 s of self time, 1.5 s of it covered by the span's own jobs.
    assert abs(b["gap_s"] - 1.0) < 1e-9
    q = out["streaming.query"]
    assert (q["jobs"], q["tasks"]) == (1, 1)
    assert abs(q["gap_s"] - 1.0) < 1e-9
    op = out["op"]
    assert abs(op["self_s"] - 1.5) < 1e-9 and op["jobs"] == 0
    # The ungrouped job belongs to no span.
    assert sum(c["jobs"] for c in out.values()) == 3


def test_python_rollup_keeps_only_traced_executions():
    log = spans.parse_event_log(json.dumps(e) for e in _events())
    py = spans.python_rollup(log, {"g1"})
    assert py["python.bytes_sent_mb"] == 1024 / spans.MB
    assert py["python.bytes_returned_mb"] == 512 / spans.MB
    assert py["python.exec_s"] == 0.25
    assert spans.python_rollup(log, {"other"})["python.bytes_sent_mb"] == 0


def test_per_layer_names_are_unique_and_short():
    names = spans.per_layer_names()
    assert len(names) == len(set(names)) == 126
    assert all(len(n) <= 64 for n in names)


class _Stub:
    """A workload whose second op returns a wrong result and whose third raises."""

    def run_op(self, op):
        if op == "raises":
            raise ValueError("boom")
        return op == "good"


def test_wrong_results_count_as_failed():
    loop = run.closed_loop(_Stub(), ["good", "wrong", "raises"], 60.0, None)
    assert (loop["attempted"], loop["failed"], len(loop["times"])) == (3, 2, 1)


def test_no_op_starts_past_the_ceiling():
    loop = run.closed_loop(_Stub(), ["good", "good"], 0.0, None)
    assert loop["attempted"] == 0


def test_registry_op_with_a_changed_checksum_fails(monkeypatch):
    class Spec:
        fn = staticmethod(lambda spark, sf_dir: "frame")

    mix = workloads.CorpusCuration(None, "", None)
    mix.specs, mix.reference = {"q": Spec()}, {"q": (5, 42)}
    monkeypatch.setattr(workloads, "checked_eval", lambda df: (5, 42))
    assert mix.run_op("q")
    monkeypatch.setattr(workloads, "checked_eval", lambda df: (5, 43))
    assert not mix.run_op("q")


def test_order_sync_op_checks_counts_and_verification():
    t = dt.datetime(2024, 3, 1, 12, tzinfo=dt.timezone.utc)
    pages = [[_order(1, t), _order(2, t)]]

    class Pipeline:
        def __init__(self, result):
            self.result = result

        def execute(self, path):
            return self.result

    replay = orders.Expected()
    replay.apply(pages)

    def verification(orders_total):
        uniq = {
            name: {"is_unique": True, "total_records": len(rows)}
            for name, rows in replay.tables.items()
        }
        uniq["orders"]["total_records"] = orders_total
        return {"uniqueness": uniq, "foreign_keys": {"line_items->orders": 0}}

    def op(result):
        work = workloads.OrderSync(None, "", None)
        work.batches = [workloads.Batch("p", 1, 2, replay.tables)]
        work.pipeline = Pipeline(result)
        return work.run_op(0)

    good = {"status": "success", "records_processed": 2, "verification": verification(2)}
    assert op(good)
    assert not op({**good, "records_processed": 1})
    assert not op({**good, "verification": verification(3)})
    orphaned = verification(2)
    orphaned["foreign_keys"]["line_items->orders"] = 1
    assert not op({**good, "verification": orphaned})


def _order(oid, upd, price="1.00", customer=7):
    return {
        "id": oid, "updated_at": upd.isoformat(), "created_at": upd.isoformat(),
        "processed_at": upd.isoformat(), "total_price": price,
        "customer": {"id": customer, "first_name": f"F{oid}"},
        "line_items": [{"product_id": 1, "variant_id": 2, "name": "p", "price": "2.50", "quantity": 1}],
    }


def test_expected_tables_follow_pipeline_semantics():
    t = dt.datetime(2024, 3, 1, 12, tzinfo=dt.timezone.utc)
    exp = orders.Expected()
    first = [[_order(1, t), _order(2, t + dt.timedelta(minutes=1)),
              _order(1, t + dt.timedelta(minutes=5), price="999999.99")]]
    assert exp.apply(first) == 3
    prices = {r[0]: r[6] for r in exp.rows("orders")}
    assert prices == {"1": 1.0, "2": 1.0}  # keep-first inside a batch
    assert exp.rows("customers")[0][3] == "F1"  # the customer's earliest order wins
    late = t + dt.timedelta(minutes=5) - dt.timedelta(hours=2)  # older than watermark - 1 h
    second = [[_order(2, t + dt.timedelta(days=1), price="5.00", customer=8)], [_order(3, late)]]
    assert exp.apply(second) == 1
    prices = {r[0]: r[6] for r in exp.rows("orders")}
    assert prices == {"1": 1.0, "2": 5.0}  # latest batch wins; the late page is dropped
    assert {r[0] for r in exp.rows("customers")} == {"7", "8"}


def test_feed_is_seeded_and_expected_replays_it():
    def replay(seed):
        feed, exp = orders.OrderFeed(seed, 200), orders.Expected()
        counts = [exp.apply(feed.batch(b)) for b in range(3)]
        return counts, {name: exp.rows(name) for name in orders.COLUMNS}

    assert replay(5) == replay(5)
    counts, tables = replay(5)
    assert replay(6)[1] != tables
    feed = orders.OrderFeed(5, 200)
    batches = [feed.batch(b) for b in range(3)]
    rows = [r for b in batches for page in b for r in page]
    assert sum(map(len, (page for b in batches for page in b))) > sum(counts)  # late rows dropped
    assert len(tables["orders"]) < len({r["id"] for r in rows})
    assert any(r["total_price"] == "999999.99" for r in rows)
    assert all(r[6] != 999999.99 for r in tables["orders"])
