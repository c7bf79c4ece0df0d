"""One measured run, inside an isolated run root prepared by ``run.py``.

Started as a fresh process so that ``setup_s`` covers the whole start of
an engine process: from the parent's spawn until the engine is imported
and ``get_spark()`` returned. It then runs a first pass, the workload's
warm-up passes, and measured passes for ``--seconds`` seconds (an odd
number of them, so the median is one pass), checking every output, and
prints one JSON object as its last line.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402


def _setup() -> tuple[object, dict]:
    spawn = float(os.environ.get("PERFBENCH_SPAWN", T_START))
    from bonobo_sqlalchemy_spark import session
    from bonobo_sqlalchemy_spark.queries import REGISTRY  # noqa: F401  (engine import)

    t_imported = time.time()
    spark = session.get_spark()
    t_ready = time.time()
    return spark, {
        "setup_s": t_ready - spawn,
        "session.import_s": t_imported - spawn,
        "session.start_s": t_ready - t_imported,
    }


class Pass:
    """Timings and counts of one pass over the workload's operations."""

    def __init__(self) -> None:
        self.wall = self.cpu = self.worker_cpu = 0.0
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.failures: list[str] = []
        self.op_walls: list[float] = []
        self.layers: dict[str, float] = {}
        self.detail: list[dict] = []


def run_pass(spark, ops, after, tracer, cpu, etl) -> Pass:
    from perfbench import trace

    p = Pass()
    floor = tracer.stage_floor() if tracer.enabled else -1
    cg0 = trace.codegen(tracer.codegen_log) if tracer.enabled else (0, 0.0)
    first_span = len(tracer.spans) if tracer.enabled else 0
    op_spans = []
    for op in ops:
        if etl:
            etl.restore()
        c0, w0 = cpu.read()
        t0 = time.perf_counter()
        n0 = len(tracer.spans) if tracer.enabled else 0
        try:
            op.run(spark, tracer)
        except Exception as exc:  # a failed operation is counted, not fatal
            p.failed += 1
            p.failures.append(f"{op.name}: {type(exc).__name__}: {str(exc)[:300]}")
            continue
        finally:
            p.op_walls.append(time.perf_counter() - t0)
            p.wall += p.op_walls[-1]
            c1, w1 = cpu.read()
            p.cpu += c1 - c0
            p.worker_cpu += w1 - w0
            p.attempted += 1
            if tracer.enabled:
                op_spans.append((op, n0, len(tracer.spans)))
        p.problems += op.check()
    if tracer.enabled:
        p.layers = _layers(spark, tracer, floor, cg0, first_span, op_spans, p, etl)
    for op in after:  # untimed, and left out of the layer numbers
        p.attempted += 1
        try:
            op.run(spark, tracer)
            p.problems += op.check()
        except Exception as exc:
            p.failed += 1
            p.failures.append(f"{op.name}: {str(exc)[:200]}")
    if etl is not None and tracer.enabled:
        from perfbench import dbcount

        dbcount.drain(etl.count_dir)
    return p


def _layers(spark, tracer, floor, cg0, first_span, op_spans, p, etl) -> dict:
    """Per-layer numbers of one traced pass (timed operations only)."""
    from perfbench import dbcount, trace

    spans = tracer.spans[first_span:]
    tracer.attribute(spans, floor)
    totals = trace.subtree_totals(spans)
    cg1 = trace.codegen(tracer.codegen_log)
    timed = {i for _, a, b in op_spans for i in range(a, b)}

    def top(name: str) -> list[dict]:
        """Spans called ``name`` in timed operations, not nested in one
        of the same name."""
        out = []
        for rec in spans:
            if rec["id"] not in timed or rec["name"] != name:
                continue
            parent = rec["parent"]
            while parent is not None and tracer.spans[parent]["name"] != name:
                parent = tracer.spans[parent]["parent"]
            if parent is None:
                out.append(rec)
        return out

    def dur(name: str) -> float:
        return sum(r["end"] - r["start"] for r in top(name))

    def tot(names: tuple[str, ...], key: str) -> float:
        return sum(totals[r["id"]][key] for n in names for r in top(n))

    q = ("queries.build", "queries.exec")
    executor_cpu = tot(q, "executorCpuTime") / 1e9
    out = {
        "trace.pass_s": p.wall,
        "queries.build_s": dur("queries.build"),
        "queries.build_jobs": tot(("queries.build",), "jobs"),
        "queries.exec_s": dur("queries.exec"),
        "queries.jobs": tot(q, "jobs"),
        "queries.stages": tot(q, "stages"),
        "queries.tasks": tot(q, "numCompleteTasks"),
        "queries.shuffle_read_bytes": tot(q, "shuffleReadBytes"),
        "queries.shuffle_write_bytes": tot(q, "shuffleWriteBytes"),
        "queries.input_bytes": tot(q, "inputBytes"),
        "queries.spill_bytes": tot(q, "memoryBytesSpilled") + tot(q, "diskBytesSpilled"),
        "queries.executor_run_s": tot(q, "executorRunTime") / 1e3,
        "queries.executor_cpu_s": executor_cpu,
        "queries.jvm_gc_s": tot(q, "jvmGcTime") / 1e3,
        "queries.planning_cpu_s": p.cpu - executor_cpu,
        "queries.codegen_compiles": cg1[0] - cg0[0],
        "queries.codegen_compile_s": cg1[1] - cg0[1],
        "operators.graphalgo.call_s": dur("operators.graphalgo"),
        "operators.graphalgo.jobs": tot(("operators.graphalgo",), "jobs"),
        "operators.graphalgo.tasks": tot(("operators.graphalgo",), "numCompleteTasks"),
        "cache.builds": len(top("cache.build")),
        "cache.hits": len(top("cache.hit")),
        "cache.build_s": dur("cache.build"),
        "sources.select_s": dur("sources.select"),
        "sources.jdbc_rows_read": 0,
        "plans.graph.run_s": dur("plans.graph.run"),
        "operators.upsert.dbapi_write_s": dur("operators.upsert.dbapi_write"),
        "operators.upsert.path_write_s": dur("operators.upsert.path_write"),
        "operators.upsert.dbapi_statements": 0,
        "operators.upsert.dbapi_commits": 0,
        "operators.upsert.inserts": 0,
        "operators.upsert.updates": 0,
        "operators.upsert.dead_letters": 0,
        "python_workers.cpu_s": p.worker_cpu,
    }
    for op, a, b in op_spans:
        sink = getattr(op, "sink", None)
        if sink is not None:
            out["operators.upsert.inserts"] += sink.last_stats.get("insert", 0)
            out["operators.upsert.updates"] += sink.last_stats.get("update", 0)
            out["operators.upsert.dead_letters"] += sum(e["n"] for e in sink.last_errors)
        if op.name == "orders_to_sqlite":
            out["sources.jdbc_rows_read"] = sum(
                totals[r["id"]]["inputRecords"] for r in spans[a - first_span : b - first_span]
                if r["parent"] is None
            )
    if etl is not None:
        counts = dbcount.drain(etl.count_dir)
        out["operators.upsert.dbapi_statements"] = counts["statements"]
        out["operators.upsert.dbapi_commits"] = counts["commits"]
    p.detail = [
        {
            "op": op.name,
            **{k: totals[r["id"]][k] for k in ("jobs", "stages", "numCompleteTasks",
                                             "shuffleReadBytes", "shuffleWriteBytes",
                                             "inputBytes")},
            "span": r["name"],
            "s": r["end"] - r["start"],
        }
        for op, a, b in op_spans
        for r in spans[a - first_span : b - first_span]
        if r["parent"] is None
    ]
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-root", required=True)
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--smoke", action="store_true", help="one checked pass, no timing")
    args = ap.parse_args()

    spark, session_m = _setup()

    from perfbench import procstat, trace, workloads

    w = workloads.WORKLOADS[args.workload]
    run_root, data_dir = Path(args.run_root), Path(args.data_dir)
    staged = json.loads((run_root / "expected.json").read_text())
    etl = (
        workloads.EtlContext(run_root, data_dir, staged, counting=bool(args.trace))
        if w.etl
        else None
    )
    ops, after = workloads.operations(w, data_dir, staged, etl)
    tracer = trace.tracer_for(spark, bool(args.trace), str(run_root / "codegen.log"))
    cpu = procstat.TreeCpu()

    passes = [run_pass(spark, ops, after, tracer, cpu, etl)]
    if not args.smoke:
        for _ in range(w.warmup):
            passes.append(run_pass(spark, ops, after, tracer, cpu, etl))
        measured: list[Pass] = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < args.seconds or len(measured) % 2 == 0:
            measured.append(run_pass(spark, ops, after, tracer, cpu, etl))
        passes += measured
    else:
        measured = passes

    jvm = cpu.jvm_pid()
    result = {
        "attempted": sum(p.attempted for p in passes),
        "failed": sum(p.failed for p in passes),
        "problems": sorted({x for p in passes for x in p.problems}),
        "failures": sorted({x for p in passes for x in p.failures}),
        "passes": len(passes),
        "pass_walls": [round(p.wall, 4) for p in passes],
        "op_walls": [[round(w, 3) for w in p.op_walls] for p in passes],
        "metrics": {
            "setup_s": session_m["setup_s"],
            "first_pass_s": passes[0].wall,
            "pass_s": statistics.median(p.wall for p in measured),
            "pass_cpu_s": statistics.median(p.cpu for p in measured),
        },
    }
    if args.trace:
        layers = {
            k: statistics.median(p.layers[k] for p in measured)
            for k in measured[0].layers
        }
        layers["session.import_s"] = session_m["session.import_s"]
        layers["session.start_s"] = session_m["session.start_s"]
        layers["session.jvm_peak_rss_mb"] = procstat.peak_rss_mb(jvm) if jvm else 0.0
        result["layers"] = layers
        result["per_pass"] = [p.layers for p in passes]
        result["detail"] = [p.detail for p in passes]
        result["first_measured"] = len(passes) - len(measured)
        result["spans"] = tracer.spans
    spark.stop()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    sys.exit(main())
