"""Expected results for the registry rows, computed by DuckDB.

Each row's expected result is its registry oracle SQL run by DuckDB over
the same parquet tables the engine reads, reduced to the comparison shape
of ``bonobo_sqlalchemy_spark/oracle.py``: column names sorted, and the
sorted multiset of canonical cell strings with columns in name order.
The canonical form is restated here so the expectation does not run
through engine code.

Results are cached in ``<cache>/oracles/<key>.json``; the key hashes the
oracle SQL text and the bytes of every input table, so a changed query or
changed inputs never reuse a stale expectation.

Recompute every cached expectation from scratch::

    python3 perfbench/oracles.py --recompute
"""

from __future__ import annotations

import argparse
import datetime as dt
import decimal
import hashlib
import json
import math
import os
import sys
import time
from pathlib import Path

#: DuckDB memory cap; some oracles (the seed-expansion PPR) exhaust far
#: more than this, which is why those rows are not in any workload.
DUCKDB_MEMORY = "3GB"


def canon(v) -> str:
    """Canonical cell string, same rules as the engine's oracle module."""
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def multiset(columns: list[str], rows) -> dict:
    order = [columns.index(c) for c in sorted(columns)]
    return {
        "columns": sorted(columns),
        "rows": sorted([canon(r[i]) for i in order] for r in rows),
    }


def data_hash(data_dir: Path) -> str:
    from perfbench.inputs import TABLES

    h = hashlib.sha256()
    for name in TABLES:
        h.update(name.encode())
        h.update((data_dir / f"{name}.parquet").read_bytes())
    return h.hexdigest()


def _threads() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def compute(sql: str, data_dir: Path, spill_dir: Path) -> dict:
    import duckdb

    spill_dir.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect(
        config={
            "memory_limit": DUCKDB_MEMORY,
            "threads": _threads(),
            "temp_directory": str(spill_dir),
        }
    )
    try:
        from perfbench.inputs import TABLES

        for name in TABLES:
            p = data_dir / f"{name}.parquet"
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
        cur = con.execute(sql)
        columns = [d[0] for d in cur.description]
        return multiset(columns, cur.fetchall())
    finally:
        con.close()


def expected(
    names: list[str], data_dir: Path, cache: Path, recompute: bool = False
) -> dict[str, dict]:
    """``{row name: expected multiset}``, from the cache where possible."""
    from bonobo_sqlalchemy_spark.queries import REGISTRY

    out_dir = cache / "oracles"
    out_dir.mkdir(parents=True, exist_ok=True)
    dhash = data_hash(data_dir)
    result = {}
    for name in names:
        sql = REGISTRY[name].oracle
        if sql is None:
            raise ValueError(f"{name} has no oracle")
        key = hashlib.sha256(f"{sql}\0{dhash}".encode()).hexdigest()[:24]
        path = out_dir / f"{key}.json"
        if recompute or not path.exists():
            value = compute(sql, data_dir, cache / "duckdb_spill")
            tmp = path.with_suffix(f".tmp{os.getpid()}")
            tmp.write_text(json.dumps(value))
            os.replace(tmp, path)
        result[name] = json.loads(path.read_text())
    return result


def main() -> int:
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from perfbench import inputs, workloads

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--recompute", action="store_true", help="ignore the cache")
    args = ap.parse_args()
    cache = workloads.cache_dir()
    for sf in (workloads.SF, workloads.SMOKE_SF):
        data_dir = inputs.build(cache / "data", sf)
        for name in workloads.oracle_rows():
            t0 = time.perf_counter()
            got = expected([name], data_dir, cache, recompute=args.recompute)[name]
            print(f"sf{sf} {name}: {len(got['rows'])} rows, {time.perf_counter() - t0:.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
