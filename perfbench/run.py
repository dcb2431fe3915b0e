#!/usr/bin/env python3
"""Seeded closed-loop benchmark of the engine.

    python3 perfbench/run.py --workload order_sync --seed 1 --seconds 30 --trace 0

Run it from the repository root.  One process, one client: the next
operation starts only after the previous one returned.  Spark runs on
``local[$SPARK_GRAFT_CPUS]`` (default: the cores this process may use).

Each run gets a fresh root under ``.perfbench_runs/`` holding its
inputs, the tables it writes, ``TMPDIR`` (so every persisted ``sye_*``
state directory is private to the run) and ``SPARK_LOCAL_DIRS``.  The
root is removed at exit.

The timed phase runs the workload's fixed list of ops once, so every
run of a workload times the same operations; ``--seconds`` is only a
ceiling: no op starts once that much time has passed.

With ``--trace 0`` the last line of stdout carries the end-to-end
metrics:

* ``setup_s``: process start to the first timed op: session start,
  input generation, the cold ops (warm-up, persisted-state builds,
  oracle checks);
* ``op_p50_s``: median wall time of a correct op;
* ``ops_per_s``: correct ops per wall second of the timed phase;
* ``stored_bytes_per_input_byte``: input bytes plus the bytes the
  program left under the run's root (tables, retained generations,
  persisted state, checkpoints), over input bytes, taken after the
  untraced timed phase.

With ``--trace 1`` the loop runs once untraced and once traced (one
round of a mix each), and the last line carries the per-layer metrics
of ``spans.py``, per traced op.  ``trace.overhead_s`` is the traced
``op_p50_s`` minus the untraced one.

The line before the last is the full record: every metric, the failed
fraction, and the host sentinels (cores, loadavg, steal ticks).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
RUNS_DIR = os.path.join(REPO, ".perfbench_runs")
SCRATCH = ("spark-local", "jvm-tmp", "eventlog")  # Spark's own scratch, not stored data
WORKLOAD_NAMES = ["order_sync", "corpus_curation"]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def check_program() -> None:
    """Fail fast, before any session starts, when the engine is absent."""
    sys.path.insert(0, REPO)
    try:
        import bench  # noqa: F401
        import shopify_youtube_etl_spark.streaming.pipeline  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {REPO}: {exc}", file=sys.stderr)
        sys.exit(2)


def isolate(root: str) -> dict[str, str]:
    """Point every scratch and state location at the run's root."""
    tmp = os.path.join(root, "tmp")
    for d in ("tmp", *SCRATCH):
        os.makedirs(os.path.join(root, d), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    # Python workers import the package from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # No hsperfdata files in the system temp dir, from the launcher or the Spark JVM.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(root, 'jvm-tmp')}"
        ),
        "spark.sql.warehouse.dir": os.path.join(root, "spark-warehouse"),
    }


def event_log_conf(root: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.join(root, "eventlog"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def tree_bytes(path: str, skip: tuple[str, ...] = ()) -> int:
    total = 0
    for top in os.listdir(path):
        if top in skip:
            continue
        p = os.path.join(path, top)
        if os.path.isfile(p):
            total += os.path.getsize(p)
        for r, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(r, f)) for f in files)
    return total


def closed_loop(work, ops: list, seconds: float, tracer) -> dict:
    times: list[float] = []
    attempted = failed = 0
    t0 = time.perf_counter()
    for op in ops:
        if time.perf_counter() - t0 >= seconds:
            print(f"# ceiling of {seconds}s reached after {attempted} ops", file=sys.stderr, flush=True)
            break
        attempted += 1
        s = time.perf_counter()
        try:
            with tracer.span("op") if tracer is not None else contextlib.nullcontext():
                ok = work.run_op(op)
        except Exception:  # noqa: BLE001 - a raising op counts as failed
            traceback.print_exc()
            ok = False
        took = time.perf_counter() - s
        print(f"# {op}: {took:.3f}s{'' if ok else ' FAILED'}", file=sys.stderr, flush=True)
        if ok:
            times.append(took)
        else:
            failed += 1
    return {"times": times, "attempted": attempted, "failed": failed,
            "wall_s": time.perf_counter() - t0}


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM (and its Python workers)
    have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=120)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def per_layer(tracer, event_log, streaming: dict, extra: dict) -> dict[str, float]:
    """Every per-layer metric, per traced op (``ledger_rows``, ``rewrite_ratio``
    and the session figures are per run)."""
    import spans

    ops = max(1, len(tracer.op_spans()))
    counters = spans.attribute(tracer.spans, tracer.run_ids, event_log)
    out = {f"{name}.{c}": counters[name][c] / ops for name in spans.SPANS for c in spans.COUNTERS}
    groups = {s.sid for s in tracer.spans} | set(tracer.run_ids)
    out.update({k: v / ops for k, v in spans.python_rollup(event_log, groups).items()})
    out.update({k: v / ops for k, v in streaming.items()})
    c = tracer.commits
    out["operators.upsert.segments_rewritten"] = c.segments_rewritten / ops
    out["operators.upsert.bytes_written_mb"] = c.bytes_written / spans.MB / ops
    out["operators.upsert.rewrite_ratio"] = (
        (c.rows_replaced + c.rows_written) / c.rows_staged if c.rows_staged else 0.0
    )
    out["op.wall_s"] = counters["op"]["wall_s"] / ops
    out["op.self_s"] = counters["op"]["self_s"] / ops
    out.update(extra)
    missing = set(spans.per_layer_names()) - set(out)
    if missing:
        raise RuntimeError(f"per-layer metrics not computed: {sorted(missing)}")
    return out


def self_times_add_up(tracer) -> bool:
    """Self times of the spans under each op add up to the op's wall time."""
    total = {s.sid: 0.0 for s in tracer.op_spans()}
    for s in tracer.spans:
        root = s
        while root.parent is not None:
            root = root.parent
        if root.sid in total:
            total[root.sid] += s.self_s
    return all(abs(total[o.sid] - o.wall) <= 1e-6 * (1 + o.wall) for o in tracer.op_spans())


def end_to_end(setup_s: float, loop: dict, stored_ratio: float) -> dict:
    times = loop["times"] or [0.0]  # no correct op: zeros, and correct is false
    values = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(times), "s"),
        "ops_per_s": (len(loop["times"]) / loop["wall_s"], "1/s"),
        "stored_bytes_per_input_byte": (stored_ratio, "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def run(args, root: str) -> tuple[dict, dict]:
    from shopify_youtube_etl_spark.session import get_spark

    import bench
    import spans
    from workloads import WORKLOADS

    conf = isolate(root)
    if args.trace:
        conf.update(event_log_conf(root))
    load_start, steal_start = os.getloadavg(), bench._steal_ticks()
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    session_start_s = time.perf_counter() - t
    print(f"# session start: {session_start_s:.3f}s", file=sys.stderr, flush=True)
    tracer = traced = None
    try:
        spark.sparkContext.setLogLevel("ERROR")
        work = WORKLOADS[args.workload](spark, root, random.Random(args.seed))
        work.setup(args.seed)
        # A traced run times two phases; one round of a mix each keeps it
        # within the time a run may take.
        rounds = 1 if args.trace else None
        ops = work.ops(rounds)
        setup_s = time.perf_counter() - T_START
        loop = closed_loop(work, ops, args.seconds, None)
        written = tree_bytes(root, skip=SCRATCH + ("input",))
        stored_ratio = (work.input_bytes + written) / work.input_bytes
        if args.trace:
            ops = work.ops(rounds)
            work.before_trace()
            tracer = work.tracer = spans.Tracer(spark)
            tracer.install()
            traced = closed_loop(work, ops, args.seconds, tracer)
        final_ok = work.finish()
        if not final_ok:  # a wrong end state cannot be pinned on one op
            loop["failed"], loop["times"] = loop["attempted"], []
        if tracer is not None:  # progress reports and RSS live in the JVM
            streaming = spans.streaming_rollup(tracer.queries)
            session = {
                "operators.watermark.ledger_rows": float(work.ledger_rows()),
                "session.start_s": session_start_s,
                "session.jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
            }
    finally:
        stop_spark(spark)  # also completes the event log

    metrics = end_to_end(setup_s, loop, stored_ratio)
    attempted, failed = loop["attempted"], loop["failed"]
    correct = final_ok and failed == 0
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "ops_timed": len(loop["times"]),
        "failed_frac": failed / attempted,
        "session_start_s": session_start_s,
        "host": {
            "cores_used": int(os.environ["SPARK_GRAFT_CPUS"]),
            "cpu_count": os.cpu_count(),
            "loadavg_start": [round(x, 2) for x in load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "steal_ticks_delta": (
                bench._steal_ticks() - steal_start if steal_start is not None else None
            ),
        },
        "metrics": metrics,
    }
    if tracer is not None:
        p50 = metrics["op_p50_s"]["value"]
        traced_p50 = statistics.median(traced["times"]) if traced["times"] else p50
        session["trace.overhead_s"] = traced_p50 - p50
        event_log = spans.read_event_log(os.path.join(root, "eventlog"))
        layer = per_layer(tracer, event_log, streaming, session)
        record["traced_ops"] = len(traced["times"])
        record["self_times_add_up"] = self_times_add_up(tracer)
        record["per_layer"] = layer
        attempted += traced["attempted"]
        failed += traced["failed"]
        correct = correct and traced["failed"] == 0 and record["self_times_add_up"]
        metrics = {n: {"value": layer[n], "unit": spans.unit(n)} for n in spans.per_layer_names()}
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return record, result


def main(argv=None) -> None:
    args = parse_args(argv)
    check_program()
    os.makedirs(RUNS_DIR, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=RUNS_DIR)
    try:
        record, result = run(args, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(RUNS_DIR)  # only when no other run is using it
    print(json.dumps(record))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
