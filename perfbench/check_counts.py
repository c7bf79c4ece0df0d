"""Check that the traced run's deterministic counts repeat exactly.

    python3 perfbench/check_counts.py [--workload NAME] [--seed N] [--seconds S]

Makes two traced runs of each workload (or of the one named) and compares
what must not change between them: in the first pass and in every
measured pass, the Spark jobs, stages and tasks of each operation, the
codegen compiles and cache builds, upsert inserts, updates and dead
letters, and DBAPI statements and commits. Warm-up passes are not
compared. Exits 1 and prints the differences when any count differs.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

PASS_COUNTS = (
    "queries.codegen_compiles",
    "cache.builds",
    "operators.upsert.inserts",
    "operators.upsert.updates",
    "operators.upsert.dead_letters",
    "operators.upsert.dbapi_statements",
    "operators.upsert.dbapi_commits",
)
OP_COUNTS = ("jobs", "stages", "numCompleteTasks")


def counts(trace: dict) -> dict:
    """Per pass: the counts of each operation's top-level spans, and the
    per-pass layer counts. The first pass is kept apart from the measured
    ones, which must all agree with one another."""
    passes = [
        {
            "ops": [[d["op"], d["span"], *(d[k] for k in OP_COUNTS)] for d in detail],
            **{k: layers[k] for k in PASS_COUNTS},
        }
        for detail, layers in zip(trace["detail"], trace["per_pass"])
    ]
    return {"first": passes[0], "later": passes[trace["first_measured"] :]}


def main() -> int:
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from perfbench import workloads
    from perfbench.run import run_one

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=4)
    args = ap.parse_args()
    differences = []
    for name in [args.workload] if args.workload else list(workloads.WORKLOADS):
        seen = []
        for _ in range(2):
            result = run_one(name, args.seed, args.seconds, trace=True)
            seen.append(counts(json.loads(Path(result["trace_file"]).read_text())))
        a, b = seen
        later = a["later"] + b["later"]
        found = []
        if a["first"] != b["first"]:
            found.append(f"{name}: first pass {a['first']} != {b['first']}")
        found += [f"{name}: measured pass {p} != {later[0]}" for p in later if p != later[0]]
        differences += found
        print(f"{name}: {'DIFFERS' if found else 'repeats'}; "
              f"first pass {json.dumps(a['first'])}; "
              f"measured passes {json.dumps(later[0] if later else None)}")
    for d in differences:
        print(d)
    return 1 if differences else 0


if __name__ == "__main__":
    sys.exit(main())
