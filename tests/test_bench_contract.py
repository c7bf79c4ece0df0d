"""bench.py stdout-contract tests (pure python, no Spark).

The driver parses ONE compact JSON line from a 2000-char stdout tail; its
per-query regression detection and core-count scaling block read
``queries`` by NAME. Round 15 lost both: the registry grew to 55 rows,
the old 1500-char cap fired on every run, and the map degraded to
``{"truncated": 55}`` (r15 verdict item 1). These tests pin the r16 fix:
the cap is sized to the driver tail and the degrade ladder sacrifices
trust fields, error text and decimal places BEFORE per-query names, and
that the line reports the live session's parallelism as ``cpus``.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path
from types import SimpleNamespace

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import STDOUT_LINE_CAP, compact_stdout_line, summary_line

LOAD_FIELDS = {"load1_start": 3.5, "load1_end": 7.4, "noise_spread_over_median": 0.266}


def _out_line_for(n_rows: int, val: float = 3.187) -> dict:
    from bonobo_sqlalchemy_spark.queries import REGISTRY

    real = sorted(n for n, s in REGISTRY.items() if s.bench)
    names = (real * (n_rows // len(real) + 1))[:n_rows]
    names = [f"{n}_{i}" if i else n for i, n in ((i // len(real), nm) for i, nm in enumerate(names))]
    queries = {n: round(val, 2) for n in names}
    return {
        "metric": "headline_queries_total_wall",
        "value": round(val * n_rows, 2),
        "unit": "sec",
        "queries": queries,
        "runs_per_query": 5,
        "agg": "min_warm",
        "sf": 0.1,
        "cpus": 8,
        "errors": 0,
        **LOAD_FIELDS,
        "detail": "BENCH_DETAIL.md",
    }


def test_current_registry_emits_all_names_with_full_fields():
    """At today's 55 bench rows the line must carry every per-query name,
    2-decimal values, AND the load/noise trust fields — no degradation."""
    from bonobo_sqlalchemy_spark.queries import REGISTRY

    names = sorted(n for n, s in REGISTRY.items() if s.bench)
    out = _out_line_for(len(names))
    line = compact_stdout_line(out, LOAD_FIELDS)
    assert len(line) <= STDOUT_LINE_CAP
    parsed = json.loads(line)
    assert set(parsed["queries"]) == set(names)
    assert parsed["queries"][names[0]] == 3.19  # 2-decimal survived
    assert "load1_start" in parsed and "noise_spread_over_median" in parsed


def test_ladder_drops_fields_then_decimals_before_names():
    """A registry ~1.3x today's size must still emit NAMED entries (by
    shedding trust fields, then decimal places); only far beyond that may
    the wholesale truncation marker appear — and the line always fits."""
    out = _out_line_for(70)
    line = compact_stdout_line(out, LOAD_FIELDS)
    assert len(line) <= STDOUT_LINE_CAP
    parsed = json.loads(line)
    assert "truncated" not in parsed["queries"]
    assert len(parsed["queries"]) == 70

    huge = _out_line_for(400)
    line = compact_stdout_line(huge, LOAD_FIELDS)
    assert len(line) <= STDOUT_LINE_CAP
    assert json.loads(line)["queries"] == {"truncated": 400}


def test_cap_fits_driver_tail():
    assert STDOUT_LINE_CAP <= 1999  # 2000-char tail minus the newline


def _spark_with(cpus: int):
    return SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=cpus))


def test_line_reports_the_live_session_parallelism():
    """``cpus`` is read back from the session the timings ran on, not from
    the environment that asked for it, and survives every ladder step."""
    timings = {"q_a": 1.234, "q_b": {"err": "ValueError: boom"}}
    parsed = json.loads(summary_line(_spark_with(3), timings, 5, 0.1, 1, LOAD_FIELDS))
    assert parsed["cpus"] == 3
    assert parsed["queries"] == {"q_a": 1.23, "q_b": {"err": "see BENCH_DETAIL.md"}}
    assert parsed["value"] == 1.23 and parsed["errors"] == 1
    assert parsed["detail"] == "BENCH_DETAIL.md"
    huge = json.loads(compact_stdout_line(_out_line_for(400), LOAD_FIELDS))
    assert huge["cpus"] == 8


def test_ladder_shortens_errors_before_the_truncation_marker():
    """Error entries shrink to "ERR" (their text is in BENCH_DETAIL.md)
    before the per-query map is given up, and before any decimal place."""
    out = _out_line_for(55)
    names = list(out["queries"])
    for n in names[:20]:
        out["queries"][n] = {"err": "see BENCH_DETAIL.md"}
    line = compact_stdout_line(out, LOAD_FIELDS)
    assert len(line) <= STDOUT_LINE_CAP
    parsed = json.loads(line)
    assert parsed["queries"][names[0]] == "ERR"
    assert parsed["queries"][names[-1]] == 3.19  # 2-decimal survived
    assert len(parsed["queries"]) == 55


def test_truncation_keeps_the_detail_pointer():
    """With the per-query map gone, the line still says where it went."""
    parsed = json.loads(compact_stdout_line(_out_line_for(400), LOAD_FIELDS))
    assert parsed["queries"] == {"truncated": 400}
    assert parsed["detail"] == "BENCH_DETAIL.md"
    assert "load1_start" not in parsed
