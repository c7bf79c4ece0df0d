"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON line as the LAST line of stdout:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The driver captures only a 2000-char tail of stdout, so the stdout line is
deliberately compact (per-query min only, 2-decimal values, hard-capped at
1950 chars with a degrade ladder that drops the load/noise fields, then
decimal places, before ever dropping per-query names).  The full
min/median/spread/first-run detail — which outgrew the tail in round 5 and
cost that round its official perf artifact — is written to BENCH_DETAIL.md
in the repo instead of stdout.

Each query is fully executed (collect of the final result — every query
here returns an aggregated/limited result, so collect is driver-safe)
inside a ``metrics.trace`` span, so BENCH_DETAIL.md can also say where a
row's time goes: plan build vs execution, Spark jobs, tasks and shuffle
bytes (its ``queries_profile`` entry).

Timing protocol (variance-hardened, round 5): queries run in INTERLEAVED
rounds — round 1 runs A,B,C,...; round 2 runs A,B,C,... again — for
$SPARK_GRAFT_BENCH_RUNS rounds (default 5).  Interleaving means a transient
machine-load spike hits one *round*, not one *query*, so no single query's
number is hostage to when the spike happened.  The reported `queries` value
is the per-query min (steady-state, the standard warm-measurement
discipline for JIT-compiled engines — first runs are dominated by one-time
Janino codegen compilation and Python-worker spin-up, which amortize to
zero on any real workload).  `queries_median` and `queries_spread`
(max-min over warm runs) are also emitted so measurement noise is
visible in the artifact itself rather than inferred from round-to-round
deltas.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


#: stdout-line budget, sized to the driver's 2000-char stdout tail (the
#: JSON is guaranteed the LAST stdout line, so anything under ~1950 chars
#: survives the tail intact). The old 1500 cap fired at 55 rows and
#: replaced the whole per-query map with {"truncated": 55}, blinding the
#: driver's per-query regression and scaling checks (r15 verdict item 1).
STDOUT_LINE_CAP = 1950


def compact_stdout_line(out: dict, load_fields: dict, cap: int = STDOUT_LINE_CAP) -> str:
    """Render the one-line JSON under ``cap`` chars. Degrade ladder,
    mildest first — per-query NAMES must survive as long as possible:
    (1) drop the load/noise trust fields + detail pointer (still in
    BENCH_DETAIL.md), (2) shorten error entries to ``"ERR"``, (3)
    1-decimal values, (4) only then the wholesale truncation marker, which
    brings the detail pointer back: with no per-query map left, the line
    must still say where the numbers are."""
    n_queries = len(out["queries"])
    steps = (
        lambda o: {k: v for k, v in o.items() if k not in (*load_fields, "detail")},
        lambda o: {**o, "queries": {
            n: v if isinstance(v, (int, float)) else "ERR" for n, v in o["queries"].items()
        }},
        lambda o: {**o, "queries": {
            n: round(v, 1) if isinstance(v, (int, float)) else v
            for n, v in o["queries"].items()
        }},
        lambda o: {**o, "queries": {"truncated": n_queries}, "detail": "BENCH_DETAIL.md"},
    )
    line = json.dumps(out, separators=(",", ":"))
    for step in steps:
        if len(line) <= cap:
            break
        out = step(out)
        line = json.dumps(out, separators=(",", ":"))
    return line


def summary_line(spark, timings: dict, rounds_done: int, sf_val, n_errors: int, load_fields: dict) -> str:
    """The stdout line: per-query min, 2-decimal values, and the live
    session's parallelism (``cpus``): what the timings ran on, which need
    not be what SPARK_GRAFT_CPUS asked for."""
    compact_queries = {
        n: (round(v, 2) if isinstance(v, (int, float)) else {"err": "see BENCH_DETAIL.md"})
        for n, v in timings.items()
    }
    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(v for v in timings.values() if isinstance(v, (int, float))), 2),
        "unit": "sec",
        "queries": compact_queries,
        "runs_per_query": rounds_done,
        "agg": "min_warm" if rounds_done > 1 else "cold",
        "sf": sf_val,
        "cpus": spark.sparkContext.defaultParallelism,
        "errors": n_errors,
        **load_fields,
        "detail": "BENCH_DETAIL.md",
    }
    return compact_stdout_line(out, load_fields)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_rounds = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    from bonobo_sqlalchemy_spark.metrics import trace
    from bonobo_sqlalchemy_spark.queries import REGISTRY
    from bonobo_sqlalchemy_spark.session import get_spark

    spark = get_spark(app_name="bench")

    names = [n for n, s in sorted(REGISTRY.items()) if s.bench]
    # Warm the JVM + file listing so timings measure query execution. A
    # failed warmup must not kill the run — per-query isolation below.
    try:
        REGISTRY[names[0]].spark(spark, sf_dir).collect()
    except Exception:
        pass

    # per query and round: the run's span and its plan-build seconds
    runs: dict[str, list[tuple]] = {n: [] for n in names}
    errors: dict[str, dict] = {}
    # Interleaved rounds: one pass over ALL queries per round, so transient
    # machine load perturbs a round, not a query. The wall budget stops
    # STARTING new rounds when exceeded — interleaving means every query
    # still has the same number of measurements, so stats stay comparable.
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "480"))
    # Hard wall cap: the driver (and /verify) run bench.py under an
    # external ~580 s timeout. The soft budget alone can overrun it — it
    # only stops rounds from STARTING, so a round beginning at 479 s with
    # a ~120 s warm pass ends past the kill. Predict the next round's
    # cost from the last completed round and refuse to start a round the
    # cap can't absorb (min 1 round always runs).
    hard_cap_s = float(os.environ.get("SPARK_GRAFT_BENCH_HARD_CAP", "550"))
    # Box-load indicator (round 9): in-bench numbers have repeatedly been
    # re-litigated against cross-round drift that SCALING.md's solo runs
    # later showed was machine load. Record the load average around the
    # run plus a per-query noise ratio so the artifact carries its own
    # trust signal instead of leaving it to forensic re-runs.
    try:
        load1_start = round(os.getloadavg()[0], 1)
    except OSError:
        load1_start = None
    bench_t0 = time.perf_counter()
    rounds_done = 0
    last_round_s = 0.0
    for _ in range(n_rounds):
        elapsed = time.perf_counter() - bench_t0
        if rounds_done >= 1 and (
            elapsed > budget_s or elapsed + last_round_s > hard_cap_s
        ):
            break
        round_t0 = time.perf_counter()
        rounds_done += 1
        for name in names:
            if name in errors:
                continue
            try:
                # the span's wall time (build + collect) is the row's
                # timing; its counters are read after its clock stops
                with trace(spark, name) as span:
                    t0 = time.perf_counter()
                    df = REGISTRY[name].spark(spark, sf_dir)
                    build_s = time.perf_counter() - t0
                    df.collect()
            except Exception as exc:  # one broken query must not zero the round
                errors[name] = {"err": f"{type(exc).__name__}: {exc}"[:300]}
                continue
            runs[name].append((span, build_s))
        last_round_s = time.perf_counter() - round_t0

    timings: dict[str, object] = {}
    medians: dict[str, object] = {}
    spreads: dict[str, object] = {}
    first_run: dict[str, object] = {}
    profile: dict[str, object] = {}
    for name in names:
        r = [round(span.wall_s, 3) for span, _ in runs[name]]
        if name in errors or not r:
            err = errors.get(name) or {"err": "no successful runs"}
            for stat in (timings, medians, spreads, first_run, profile):
                stat[name] = err
            continue
        first_run[name] = r[0]
        warm = r[1:] if len(r) > 1 else r  # drop the cold round from stats
        timings[name] = min(warm)
        # where the reported (min warm) run's time went
        span, build_s = runs[name][len(r) - len(warm) + warm.index(min(warm))]
        profile[name] = {
            "build_s": round(build_s, 3),
            "exec_s": round(span.wall_s - build_s, 3),
            "jobs": span.jobs,
            "tasks": span.tasks,
            "shuffle_read_bytes": span.shuffle_read_bytes,
            "shuffle_write_bytes": span.shuffle_write_bytes,
        }
        medians[name] = round(statistics.median(warm), 3)
        spreads[name] = round(max(warm) - min(warm), 3)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "", 1).isdigit() else sf
    ok = [v for v in timings.values() if isinstance(v, (int, float))]
    try:
        load1_end = round(os.getloadavg()[0], 1)
    except OSError:
        load1_end = None
    # median over queries of (warm spread / warm median): ~0 on a quiet
    # box; >0.3 means single-query deltas this run are mostly noise
    ratios = [
        spreads[n] / medians[n]
        for n in names
        if isinstance(medians.get(n), (int, float)) and medians[n] > 0
        and isinstance(spreads.get(n), (int, float))
    ]
    noise = round(statistics.median(ratios), 3) if ratios else None
    load_fields = {
        "load1_start": load1_start,
        "load1_end": load1_end,
        "noise_spread_over_median": noise,
    }
    detail = {
        **load_fields,
        "metric": "headline_queries_total_wall",
        "value": round(sum(ok), 3),
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "queries_spread": spreads,
        "queries_first_run": first_run,
        "queries_profile": profile,
        "runs_per_query": rounds_done,
        "rounds_requested": n_rounds,
        "interleaved": True,
        "agg": "min_warm" if rounds_done > 1 else "cold",
        "sf": sf_val,
        "cpus": spark.sparkContext.defaultParallelism,
        "errors": len(errors),
    }
    # Full detail goes to a repo artifact, NOT stdout — the driver keeps only
    # a 2000-char stdout tail, which truncated round 5's detail line.
    detail_path = Path(__file__).resolve().parent / "BENCH_DETAIL.md"
    try:
        detail_path.write_text(
            "# BENCH_DETAIL — full per-query timing detail\n\n"
            "Written by bench.py on each run. `queries` = per-query min of "
            "warm runs; `queries_median`/`queries_spread` expose measurement "
            "noise; `queries_first_run` includes one-time codegen/JIT cost; "
            "`queries_profile` splits the min warm run into plan build and "
            "execution and gives its Spark jobs, tasks and shuffle bytes "
            "(`bonobo_sqlalchemy_spark/metrics.py::trace`).\n\n"
            "```json\n" + json.dumps(detail, indent=1) + "\n```\n"
        )
    except OSError:
        pass  # read-only checkout must not kill the perf signal

    print(summary_line(spark, timings, rounds_done, sf_val, len(errors), load_fields))


if __name__ == "__main__":
    main()
