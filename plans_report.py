"""Regenerate PLANS.md: formatted physical plans + scale-property audit.

For each bench-tagged query this records `explain("formatted")` output plus
a mechanical audit of the properties that decide 100 TB behavior:

- **pushed filters / pruned scans**: parquet scans show PushedFilters and a
  ReadSchema narrower than the table when the query allows it;
- **broadcast joins**: dimension joins use BroadcastHashJoin, not
  SortMergeJoin (and never BroadcastNestedLoopJoin / CartesianProduct);
- **whole-stage codegen**: relational hot paths run inside codegen spans;
- **exchange reuse**: self-join pipelines (dedup) scan the corpus once.

Usage: python plans_report.py [sf_dir]
"""

from __future__ import annotations

import datetime
import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from parity_report import stamp  # noqa: E402

FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin")

#: queries where a BroadcastNestedLoopJoin is the intended plan, with why.
#: Anything NOT listed here that produces one fails the audit.
NESTED_LOOP_OK = {
    "sim_cosine_topk": "brute-force exact baseline: tiny broadcast query set "
    "x corpus on a non-equi predicate (id != id) — the all-pairs scan IS the "
    "operator; the scale path is sim_lsh_topk / sim_ivf_topk",
    "text_tfidf": "1-row broadcast scalar join (corpus doc count) — constant "
    "broadcast, no quadratic term",
    "z_text_unigram_logprob": "1-row broadcast scalar join (total token "
    "count) — constant broadcast, no quadratic term",
    "z_pipeline_curate": "1-row broadcast scalar join (total token count, "
    "the fluency stage's unigram denominator) — constant broadcast, no "
    "quadratic term",
    "dedup_bloom_prefilter": "1-row broadcast Bloom filter "
    "(map<word,bits>, O(m_bits) regardless of corpus size) crossed into "
    "the probed corpus — the probe is map-side-only; the probed side "
    "never shuffles",
    "dedup_bloom_merge": "same 1-row broadcast Bloom filter shape, built "
    "by merging two snapshot filters (word-map OR) — the merged filter is "
    "still O(m_bits); the probed corpus never shuffles",
    "text_bigram_logprob": "1-row broadcast scalar join (total token "
    "count, the interpolated bigram model's unigram denominator) — "
    "constant broadcast, no quadratic term",
    "search_hybrid_rrf": "two documented constant build sides: BM25's "
    "1-row (n_docs, avgdl) stats broadcast and the exact-cosine leg's "
    "1-row query vector — fusion joins themselves are candidate-sized "
    "equi-joins",
    "z_text_segment_outliers": "1-row broadcast scalar join (corpus total "
    "token count, the unigram LM denominator) — constant broadcast, no "
    "quadratic term; the token→count lookup rides the hot/cold zipf "
    "guard's broadcast+union",
    "z_graph_pagerank": "1-row broadcast scalar join (graph node count, "
    "PageRank's 1/n initial rank and damping base) — constant broadcast, "
    "no quadratic term; every per-round join is a broadcast equi-join on "
    "src",
    "z_sketch_kmv_setops": "group-pair expansion over the per-group theta "
    "table (groups-cardinality, broadcast, ordering predicate) — the "
    "corpus never enters the nested loop; everything downstream is "
    "sketch-sized (groups² × k rows). Same shape as source_overlap_kmv.",
}


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def simple_plan_text(df) -> str:
    """Executed (AQE-final) physical tree — the only rendering that shows
    ``WholeStageCodegen (N)`` / ``*(N)`` span markers: under AQE the
    pre-execution plan is an unplanned AdaptiveSparkPlan shell, so the
    query runs first (sf0.01 — cheap) and the final plan is inspected."""
    df.collect()
    return (
        df._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    )


def audit(name: str, text: str, simple_text: str = "") -> list[str]:
    notes = []
    for bad in FORBIDDEN:
        if bad in text:
            if bad == "BroadcastNestedLoopJoin" and name in NESTED_LOOP_OK:
                notes.append(
                    f"BroadcastNestedLoopJoin (intended: {NESTED_LOOP_OK[name]})"
                )
            else:
                notes.append(f"!! {bad} present")
    joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", text)
    if joins:
        from collections import Counter

        notes.append(
            "joins: " + ", ".join(f"{k}×{v}" for k, v in Counter(joins).items())
        )
    # Codegen markers only render in simple mode: `*(N) Node` prefixes (and
    # `WholeStageCodegen (N)` wrappers pre-AQE) — counted from simple_text.
    n_codegen = len(
        set(re.findall(r"WholeStageCodegen \((\d+)\)", simple_text))
        | set(re.findall(r"\*\((\d+)\)", simple_text))
    )
    notes.append(f"codegen spans: {n_codegen}")
    if "ReusedExchange" in text:
        notes.append("reuses exchange (input scanned once)")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", text)
    real = [p for p in pushed if p.strip()]
    if real:
        notes.append(f"pushed filters on {len(real)} scan(s)")
    return notes


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from bonobo_sqlalchemy_spark.queries import REGISTRY
    from bonobo_sqlalchemy_spark.session import get_spark

    spark = get_spark(app_name="plans_report")
    names = [n for n, s in sorted(REGISTRY.items()) if s.bench]
    commit, src_hash = stamp()

    lines = [
        "# PLANS — physical-plan audit of the bench query set",
        "",
        f"Generated {datetime.date.today().isoformat()} at commit `{commit}` "
        f"(engine source sha256 `{src_hash}`) "
        f"against `{sf_dir}` (plans are scale-invariant apart from AQE's "
        "runtime join/partition choices; the structural audit below is what "
        "holds at 100 TB).",
        "",
        "Audited properties: no cartesian/nested-loop joins anywhere; "
        "broadcast joins for dimension sides; filters pushed into parquet "
        "scans; whole-stage codegen on relational hot paths; exchange reuse "
        "in self-join (dedup) pipelines. `tests/test_plans.py` gates the "
        "same properties in CI.",
        "",
    ]
    bad_total = 0
    for name in names:
        df = REGISTRY[name].spark(spark, sf_dir)
        text = plan_text(df)
        notes = audit(name, text, simple_plan_text(df))
        bad_total += sum(1 for n in notes if n.startswith("!!"))
        lines.append(f"## {name}")
        lines.append("")
        for n in notes:
            lines.append(f"- {n}")
        lines.append("")
        lines.append("```")
        lines.append(text.rstrip())
        lines.append("```")
        lines.append("")

    out = Path(__file__).parent / "PLANS.md"
    out.write_text("\n".join(lines))
    print(f"{len(names)} plans -> {out}; forbidden-operator hits: {bad_total}")
    if bad_total:
        sys.exit(1)


if __name__ == "__main__":
    main()
