"""Benchmark entry point.

    python3 perfbench/run.py --workload graph_loops --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout generates the
input tables and the DuckDB expectations under ``.bench_build/perfbench``;
later runs reuse them. Each run then works in a fresh run root under that
directory: the engine process gets it as its working directory, its
``TMPDIR`` and its Spark local directory, and the root is removed at the
end. The run fails if it left any ``bss_*`` entry in the system temp
directory or changed ``spark-warehouse/``, ``metastore_db/`` or
``BENCH_DETAIL.md`` in the repository.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
#: every run must end within this many seconds
DEADLINE_S = 170

END_TO_END = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s", "pass_cpu_s": "CPU-s"}
PER_LAYER = {
    "session.import_s": "s",
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.exec_s": "s",
    "queries.jobs": "count",
    "queries.stages": "count",
    "queries.tasks": "count",
    "queries.shuffle_read_bytes": "bytes",
    "queries.shuffle_write_bytes": "bytes",
    "queries.input_bytes": "bytes",
    "queries.spill_bytes": "bytes",
    "queries.executor_run_s": "s",
    "queries.executor_cpu_s": "s",
    "queries.jvm_gc_s": "s",
    "queries.planning_cpu_s": "s",
    "queries.codegen_compiles": "count",
    "queries.codegen_compile_s": "s",
    "operators.graphalgo.call_s": "s",
    "operators.graphalgo.jobs": "count",
    "operators.graphalgo.tasks": "count",
    "cache.builds": "count",
    "cache.hits": "count",
    "cache.build_s": "s",
    "sources.select_s": "s",
    "sources.jdbc_rows_read": "rows",
    "plans.graph.run_s": "s",
    "operators.upsert.dbapi_write_s": "s",
    "operators.upsert.path_write_s": "s",
    "operators.upsert.dbapi_statements": "count",
    "operators.upsert.dbapi_commits": "count",
    "operators.upsert.inserts": "count",
    "operators.upsert.updates": "count",
    "operators.upsert.dead_letters": "count",
    "python_workers.cpu_s": "CPU-s",
    "trace.pass_s": "s",
}
#: state the engine keeps between processes when left to its defaults
REPO_STATE = ("spark-warehouse", "metastore_db", "BENCH_DETAIL.md")


def _fingerprint() -> dict:
    """Names of ``bss_*`` entries in the system temp directory, and the
    files of the repository's own engine state."""
    try:
        tmp = sorted(n for n in os.listdir(tempfile.gettempdir()) if n.startswith("bss_"))
    except OSError:
        tmp = []
    files = []
    for name in REPO_STATE:
        p = ROOT / name
        for f in sorted([p, *p.rglob("*")] if p.is_dir() else [p]):
            if f.exists():
                st = f.stat()
                files.append((str(f.relative_to(ROOT)), st.st_size, st.st_mtime_ns))
    return {"tmp": tmp, "repo": files}


def _leftovers(before: dict, after: dict) -> list[str]:
    out = [f"left {n} in the system temp directory" for n in after["tmp"] if n not in before["tmp"]]
    if before["repo"] != after["repo"]:
        out.append("changed engine state in the repository: " + ", ".join(REPO_STATE))
    return out


def _stop_session(proc: subprocess.Popen) -> None:
    """Stop every process of the worker's session (the JVM and Spark's
    Python daemon, which moves to a process group of its own) and wait
    until none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _session(proc.pid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            continue
        deadline = time.time() + 10
        while time.time() < deadline and _session(proc.pid):
            time.sleep(0.1)
        if not _session(proc.pid):
            return


def _session(sid: int) -> list[int]:
    """Live processes of session ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            fields = raw[raw.rindex(")") + 2 :].split()
            if int(fields[3]) == sid and fields[0] != "Z":
                out.append(int(name))
    return out


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _slots() -> int:
    """Task slots: one core is left to the driver, JIT and GC threads."""
    return max(1, min(3, len(os.sched_getaffinity(0)) - 1))


def _engine_env(run_root: Path, trace: bool) -> dict:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    tmp = run_root / "tmp"
    # the JVM's perf-data file would go to /tmp whatever the temp dir
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if trace:
        java += (
            f" -Dlog4j.configurationFile={HERE / 'log4j2-trace.properties'}"
            f" -Dperfbench.codegen.log={run_root / 'codegen.log'}"
        )
    env.update(
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(run_root / "spark-local"),
        JAVA_TOOL_OPTIONS=java,
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        PYTHONHASHSEED="0",
        SPARK_GRAFT_CPUS=str(_slots()),
    )
    return env


def _spawn(args: list[str], run_root: Path, trace: bool, deadline: float) -> dict:
    env = _engine_env(run_root, trace)
    env["PERFBENCH_SPAWN"] = repr(time.time())
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "worker.py"), *args],
        cwd=run_root / "work",
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        start_new_session=True,
    )
    try:
        out, err = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        _stop_session(proc)
        raise RuntimeError("the engine process overran the run's deadline")
    finally:
        _stop_session(proc)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(err[-4000:])
        raise RuntimeError(f"the engine process exited with {proc.returncode}")
    return json.loads(lines[-1])


def run_one(workload: str, seed: int, seconds: float, trace: bool, smoke: bool = False) -> dict:
    """One isolated run; returns the worker's result plus ``correct``."""
    from perfbench import inputs, oracles, workloads

    deadline = time.time() + DEADLINE_S
    w = workloads.WORKLOADS[workload]
    cache = workloads.cache_dir()
    data_dir = inputs.build(cache / "data", workloads.SMOKE_SF if smoke else workloads.SF)
    run_root = cache / "runs" / f"{workload}-{seed}-{uuid.uuid4().hex[:8]}"
    for sub in ("tmp", "spark-local", "work"):
        (run_root / sub).mkdir(parents=True)
    try:
        if w.etl:
            staged = workloads.seed_targets(data_dir, run_root / "pristine", seed)
        else:
            staged = oracles.expected(list(w.rows), data_dir, cache)
        (run_root / "expected.json").write_text(json.dumps(staged))
        before, ticks = _fingerprint(), _cpu_ticks()
        argv = [
            f"--workload={workload}",
            f"--seed={seed}",
            f"--seconds={seconds}",
            f"--trace={int(trace)}",
            f"--run-root={run_root}",
            f"--data-dir={data_dir}",
        ] + (["--smoke"] if smoke else [])
        result = _spawn(argv, run_root, trace, deadline)
        leftovers = _leftovers(before, _fingerprint())
        ticks = [b - a for a, b in zip(ticks, _cpu_ticks())]
        # share of the host's CPU time the hypervisor gave to other guests
        # while the engine ran; on a shared host, the main source of spread
        result["host_steal_pct"] = round(100 * ticks[7] / max(1, sum(ticks)), 1)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
    result["problems"] += leftovers
    result["correct"] = not result["problems"]
    if trace:
        out = cache / "traces" / f"{workload}-seed{seed}.json"
        out.parent.mkdir(parents=True, exist_ok=True)
        keys = ("spans", "detail", "per_pass", "first_measured")
        out.write_text(json.dumps({k: result.pop(k) for k in keys}, indent=1))
        result["trace_file"] = str(out)
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description="engine benchmark (see perfbench/README.md)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "bonobo_sqlalchemy_spark" / "__init__.py").is_file():
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    result = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    for p in result["problems"] + result["failures"]:
        print(f"perfbench: {p}", file=sys.stderr)
    units = PER_LAYER if args.trace else END_TO_END
    values = result["layers"] if args.trace else result["metrics"]
    print(json.dumps({k: v for k, v in result.items() if k not in ("layers", "metrics")}))
    print(
        json.dumps(
            {
                "correct": result["correct"],
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
