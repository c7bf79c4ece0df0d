"""Regenerate PARITY_LOCAL.md: a full-registry correctness verdict.

The driver's CORRECTNESS gate checks only the first 50 sorted registry names;
this script runs the SAME comparison (oracle.compare_query — strictly harsher
than the driver's hash: exact canonical string equality) over EVERY registered
query at sf0.01 and writes the verdict table to PARITY_LOCAL.md, so the third
of the engine outside the driver's window still has a recorded hard signal.

Usage: python parity_report.py [sf_dir]
"""

from __future__ import annotations

import datetime
import hashlib
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent
sys.path.insert(0, str(ROOT))


def stamp() -> tuple[str, str]:
    """The short HEAD commit, and the exact stamp of the verified code (the
    commit can only name the parent of the commit an artifact lands in): a
    content hash of every engine source file as it is now. Every generated
    artifact carries both; ``tests/test_registry.py`` recomputes the hash."""
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, cwd=ROOT,
        ).stdout.strip()
    except Exception:
        commit = "?"
    h = hashlib.sha256()
    for p in sorted((ROOT / "bonobo_sqlalchemy_spark").rglob("*.py")) + [
        ROOT / "__spark_entry__.py"
    ]:
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return commit, h.hexdigest()[:12]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from bonobo_sqlalchemy_spark.oracle import compare_all
    from bonobo_sqlalchemy_spark.session import get_spark

    spark = get_spark(app_name="parity_report")
    t0 = time.perf_counter()
    results = compare_all(spark, sf_dir)
    wall = time.perf_counter() - t0

    n_oracle = sum(1 for r in results if r.oracle_rows >= 0)
    n_rows_only = len(results) - n_oracle
    n_fail = sum(1 for r in results if not r.ok)
    commit, src_hash = stamp()

    lines = [
        "# PARITY_LOCAL — full-registry oracle parity",
        "",
        f"Generated {datetime.date.today().isoformat()} at commit `{commit}` "
        f"(engine source sha256 `{src_hash}` over "
        "`bonobo_sqlalchemy_spark/**/*.py` + `__spark_entry__.py` — exact "
        "for the tree verified, independent of the commit that records it) "
        f"against `{sf_dir}` ({wall:.0f}s wall).",
        "",
        "The driver's CORRECTNESS gate windows to the first 50 sorted registry "
        "names; this artifact is the same Spark-vs-DuckDB comparison (strictly "
        "harsher: exact canonical value equality, `bonobo_sqlalchemy_spark/"
        "oracle.py`) over the FULL registry, so every query has a recorded "
        "verdict each round.",
        "",
        f"**{len(results)} queries: {len(results) - n_fail} pass "
        f"({n_oracle} with full value-level oracles, {n_rows_only} rows-only "
        f"by design), {n_fail} fail.**",
        "",
        "| # | Query | Verdict | Spark rows | Oracle rows |",
        "|---|---|---|---|---|",
    ]
    for i, r in enumerate(results, 1):
        if r.oracle_rows < 0:
            verdict = "pass (rows-only)" if r.ok else "FAIL"
            oracle_rows = "—"
        else:
            verdict = "pass" if r.ok else "FAIL"
            oracle_rows = str(r.oracle_rows)
        lines.append(f"| {i} | `{r.name}` | {verdict} | {r.spark_rows} | {oracle_rows} |")
        if not r.ok and r.mismatches:
            detail = r.mismatches[0][:200].replace("|", "\\|").replace("\n", " ")
            lines.append(f"|   |   | ↳ {detail} |   |   |")
    lines.append("")

    out = ROOT / "PARITY_LOCAL.md"
    out.write_text("\n".join(lines))
    print(f"{len(results) - n_fail}/{len(results)} pass -> {out}")
    if n_fail:
        for r in results:
            if not r.ok:
                print(str(r))
        sys.exit(1)


if __name__ == "__main__":
    main()
