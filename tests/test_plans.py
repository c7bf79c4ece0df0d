"""Physical-plan quality gates: these assertions encode the 100 TB posture —
filters reach the parquet scan, scans prune columns, dimension joins
broadcast, global top-k avoids full sorts, and nothing degenerates into a
cartesian product. A regression here is a scale bug even when sf0.001
results stay correct."""

from __future__ import annotations

import re

import pytest

from bonobo_sqlalchemy_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].spark(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushdown_and_column_pruning(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # only the 7 needed columns reach the scan, not all 11
    rs = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_orderkey" not in rs and "l_partkey" not in rs
    assert "l_quantity" in rs and "l_returnflag" in rs


def test_q6_all_predicates_pushed(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    pushed = plan.split("PushedFilters: ")[1].split("]")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed to scan: {pushed}"


@pytest.mark.parametrize("name", ["q3_shipping_priority", "q5_region_revenue", "q10_returned_items"])
def test_dimension_joins_broadcast(spark, name):
    plan = plan_of(spark, name)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_uses_take_ordered(spark):
    plan = plan_of(spark, "q_topk_orders")
    assert "TakeOrderedAndProject" in plan  # no global sort materialization


def test_aggregates_are_partial(spark):
    """Map-side partial aggregation: two HashAggregate phases around the
    exchange, so the shuffle moves group states, not raw rows."""
    plan = plan_of(spark, "q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2


def test_semi_anti_joins_stay_joins(spark):
    for name in ("q_semi_join", "q_anti_join"):
        plan = plan_of(spark, name)
        assert "LeftSemi" in plan or "LeftAnti" in plan


NO_CARTESIAN_EXEMPT = {
    # brute-force ANN baseline intentionally broadcasts 8 query rows against
    # the corpus via a (tiny) nested-loop join
    "sim_cosine_topk",
    # same brute-force top-k shape, run in PCA-projected space — the
    # broadcast side is the 8 projected query rows
    "z_emb_pca_ann",
    # scalar corpus-size aggregate broadcast-crossed into every row (the
    # oracle's scalar subquery) — a 1-row build side, not a data join
    "text_tfidf",
    # same shape: 1-row (total, n_langs) aggregate crossed into the tiny
    # per-language counts
    "text_mix_weights",
    # same shape again: 1-row (total, nkeys) aggregate broadcast into the
    # per-key counts (asserted directly in test_skew_report_partial_agg_and_topk)
    "z_skew_report",
    # 1-row total-token-count aggregate broadcast into the token stream
    # (the unigram probability denominator) — constant build side
    "z_text_unigram_logprob",
    # 1-row average-balance aggregate broadcast-crossed into the customer
    # filter (TPC-H Q22's scalar subquery) — not a data join
    "q22_dormant_customers",
    # 1-row total-value threshold aggregate broadcast-crossed into the
    # per-part values (TPC-H Q11's scalar subquery) — not a data join
    "z_q11_value_concentration",
    # 1-row total-token-count aggregate broadcast into the token stream
    # (the unigram denominator reused for quality scoring) — same
    # scalar-subquery shape as z_text_unigram_logprob, constant build side
    "z_sample_by_quality",
    # 1-row total-token-count broadcast into the token stream (the unigram
    # score feeding the sweep) — same shape as z_text_unigram_logprob
    "z_quality_threshold_sweep",
    # same unigram-denominator broadcast inside the per-language
    # auto-threshold composition
    "z_quality_auto_threshold",
    # same 1-row unigram-denominator broadcast inside the curation
    # composition's fluency stage
    "z_pipeline_curate",
    # 1-row total-token-count broadcast (the interpolated bigram model's
    # unigram-term denominator) — same scalar-subquery shape
    "text_bigram_logprob",
    # 1-row Bloom-filter broadcast (map<word,bits>, O(m_bits) regardless of
    # corpus size) crossed into the probed corpus — the zero-shuffle
    # membership screen's constant build side (operators/dedup.bloom_probe)
    "dedup_bloom_prefilter",
    # same 1-row filter broadcast, merged from two snapshot filters — the
    # incremental-ingest variant of the membership screen
    "dedup_bloom_merge",
    # 1-row (deficit mass, eligible weight) aggregate broadcast into the
    # source-cardinality plan table (operators/scale.scalar_attach) —
    # constant build side, bounded probe side
    "profile_mixture_respread",
    # 1-row total-token-count broadcast (the chunk-LM probability
    # denominator) — same scalar-subquery shape as z_text_unigram_logprob
    "z_text_segment_outliers",
    # the source-pair expansion crosses the distinct GROUP LIST with
    # itself (sources^2 rows, data-independent); everything data-sized is
    # equi-joined (operators/profile.source_overlap_kmv)
    "profile_source_overlap",
    # hybrid retrieval: the exact-cosine baseline leg's 1-row query-vector
    # broadcast (BM25's scalar subquery folded to driver literals in r15)
    # — documented constant build side; fusion joins are candidate-sized
    "search_hybrid_rrf",
    # group-pair expansion over the per-group THETA table (groups², data-
    # independent, broadcast, ordering predicate); the corpus enters only
    # the distinct+bottom-k sketch stage and every later stage is
    # sketch-sized — the source_overlap_kmv shape
    # (operators/sketch.kmv_set_cardinalities)
    "z_sketch_kmv_setops",
}


# Queries that EXECUTE a streaming job on call (writeStream + awaitTermination
# returns a materialized memory table) — their "plan" is a LocalTableScan, so
# sweeping them proves nothing and costs a full streaming run each. Their
# plan quality is covered by the streaming suite's state-metrics gates.
EXECUTES_ON_CALL_PREFIXES = ("stream", "z_stream")


def test_no_accidental_cartesian_products(spark):
    """Neither CartesianProduct nor an unexempted BroadcastNestedLoopJoin:
    both are the signature of a join that lost its equi-condition.

    ZERO tolerated exceptions: every registered query must either be in a
    documented skip set or produce a plan — a formerly-planning query that
    starts throwing fails the sweep instead of silently dropping out (the
    round-5 `except: continue` hole)."""
    offenders, broke = [], []
    swept = 0
    for name in REGISTRY:
        if name in NO_CARTESIAN_EXEMPT or name.startswith(EXECUTES_ON_CALL_PREFIXES) \
                or "alias" in REGISTRY[name].tags:  # target swept under its own name
            continue
        try:
            plan = plan_of(spark, name)
        except Exception as exc:
            broke.append(f"{name}: {type(exc).__name__}: {exc}")
            continue
        swept += 1
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            offenders.append(name)
    assert not broke, f"queries no longer plan-constructible: {broke}"
    assert swept >= 100, f"sweep shrank to {swept} queries — skip set too wide?"
    assert not offenders, f"cartesian/nested-loop products in: {offenders}"


#: Queries allowed to keep a Window partitioned solely by a low-cardinality
#: data column (lang/source) because the window's INPUT is provably bounded
#: (never the corpus itself) — the rationale must name the bound.
LOWCARD_WINDOW_EXEMPT = {
    # cumulative sweep windows run over the DISTINCT-SCORE table, bounded
    # by the 6dp score-rounding grid, not the corpus (operators/selection.py)
    "z_quality_threshold_sweep",
    "z_quality_auto_threshold",
    # run-length cumulative window over the DISTINCT (source, n_chars)
    # table — bounded by the value domain; per-doc work is partitioned by
    # (source, n_chars), see the query docstring
    "z_sample_top_p",
}

_LOWCARD_WINDOW = re.compile(r"\bWindow \[.*\], \[(?:lang|source)#\d+\], \[")


def test_no_lowcard_data_sized_window_partitions(spark):
    """The decile-ntile lesson as a standing gate: a Window partitioned by
    ONLY a language/source column puts every row of that group into one
    task — on a language-skewed corpus that is a single task sorting tens
    of TB at 100x scale. Every registered query must avoid that shape
    unless (a) Spark's rank-limit pushdown bounds the per-group work (a
    Partial WindowGroupLimit appears below the window), or (b) the window
    input is provably bounded and the query is exempted with the bound
    named above. Mirrors the no-cartesian sweep: formerly-planning queries
    that start throwing fail loudly."""
    offenders, broke = [], []
    for name in REGISTRY:
        if name in LOWCARD_WINDOW_EXEMPT or name.startswith(EXECUTES_ON_CALL_PREFIXES) \
                or "alias" in REGISTRY[name].tags:
            continue
        try:
            plan = plan_of(spark, name)
        except Exception as exc:
            broke.append(f"{name}: {type(exc).__name__}: {exc}")
            continue
        if _LOWCARD_WINDOW.search(plan) and "Partial" not in "".join(
            l for l in plan.splitlines() if "WindowGroupLimit" in l
        ):
            offenders.append(name)
    assert not broke, f"queries no longer plan-constructible: {broke}"
    assert not offenders, (
        "data-sized low-cardinality window partitions (lang/source) in: "
        f"{offenders} — use operators.selection.grouped_decile (boundary "
        "broadcast) or a WindowGroupLimit-eligible literal rank filter"
    )


@pytest.mark.parametrize("name,max_scans", [("dedup_ngram_jaccard", 2), ("dedup_minhash_lsh", 2)])
def test_exchange_reuse_or_single_scan_in_self_joins(spark, name, max_scans):
    """The shingle self-joins must not scan+shingle the corpus more than
    twice (one per side at worst). AQE's exchange reuse only shows in the
    *final* adaptive plan, so execute first and inspect that: the shared
    repartition-by-id exchange must be reused, not recomputed per consumer."""
    spark.catalog.clearCache()  # other suites cache the fixture tables
    df = REGISTRY[name].spark(spark, SF)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    assert final.count("FileScan parquet") <= max_scans, final
    assert "Reused" in final, "no exchange reuse in final plan"


def test_skew_report_partial_agg_and_topk(spark):
    """skew_report must be one map-side-partial agg + a TakeOrdered top-k
    with the totals riding as a broadcast — never a full sort or a
    cartesian re-scan of the counts."""
    plan = plan_of(spark, "z_skew_report")
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row totals x counts
    assert "CartesianProduct" not in plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


def test_profile_corpus_single_scan(spark):
    """Profiling must read the table ONCE regardless of how many columns
    are profiled (single agg + Expand for multi-distinct, then unpivot)."""
    plan = plan_of(spark, "z_profile_corpus")
    assert plan.count("FileScan parquet") == 1
    assert "Expand" in plan  # multi-column COUNT(DISTINCT) form


def test_mixture_sample_single_shuffle_no_join(spark):
    """The quota map compiles into the plan as literals: no join, no extra
    exchange beyond the one window shuffle on the group key."""
    plan = plan_of(spark, "z_sample_mixture")
    assert "Join" not in plan
    assert plan.count("Exchange") == 1
    assert "Window" in plan


def test_gopher_rules_zero_shuffle(spark):
    """gopher_rules computes document-local metrics, so its plan must be a
    single codegen scan: no Window, and no hash-partitioned Exchange (the
    only allowed exchange is the registered query's final presentation
    sort). The round-8 shape paid a full token-stream shuffle
    (posexplode + repartition + lead window) for per-row facts."""
    plan = plan_of(spark, "text_gopher_rules")
    assert "Window" not in plan
    assert "hashpartitioning" not in plan
    assert "posexplode" not in plan.lower()


def test_query_collects_are_annotated_bounded():
    """Driver-materialization gate (the z_export_incremental lesson as a
    standing check, like the cartesian and lowcard-window sweeps): every
    ``.collect()`` / ``.toPandas()`` inside a registered-query module must
    carry a ``# bounded-collect: <why it is not data-sized>`` annotation
    on the same or one of the two preceding lines. A data-sized driver
    materialization inside a query is a driver OOM at 100x scale even
    when sf0.01 results stay correct — new sites must state their bound
    to pass, which forces the size question at review time."""
    import pathlib

    qdir = pathlib.Path(__file__).resolve().parents[1] / (
        "bonobo_sqlalchemy_spark/queries"
    )
    offenders = []
    for p in sorted(qdir.glob("*.py")):
        lines = p.read_text().splitlines()
        for i, ln in enumerate(lines):
            if ".collect()" in ln or ".toPandas()" in ln:
                window = "\n".join(lines[max(0, i - 2) : i + 1])
                if "bounded-collect:" not in window:
                    offenders.append(f"{p.name}:{i + 1}")
    assert not offenders, (
        "unannotated driver materialization in registered-query modules: "
        f"{offenders} — state the size bound with '# bounded-collect: ...' "
        "or keep the data distributed"
    )


def test_containment_shares_jaccard_plan_shape(spark):
    """Containment must inherit the Jaccard path's plan properties: the
    shingle inverted-index join stays an equi-join (ShuffledHashJoin on the
    shingle key), never a nested-loop/cartesian degeneration."""
    plan = plan_of(spark, "z_dedup_containment")
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


#: Unpartitioned global-sort windows whose INPUT is provably bounded but
#: carries no Limit node in-plan — each entry must name the bound.
UNPARTITIONED_WINDOW_EXEMPT: dict[str, str] = {
    # the pos window ranks the PageRank output of the event-type transition
    # graph: one row per DISTINCT event_type (the type vocabulary — tens to
    # thousands of rows at any corpus size), never the event log itself; a
    # limit would drop types the query's contract says to rank in full
    "z_events_markov_rank": "event-type vocabulary cardinality",
}


def _toplevel_bracket_groups(line: str) -> list[str]:
    """Top-level ``[...]`` group contents on one plan line — WindowExec
    prints ``Window [exprs], [partitionSpec], [orderSpec]`` and OMITS an
    empty spec, so an unpartitioned-but-ordered window shows two groups
    with sort directions in the second, while a partition-only window
    shows two groups with bare expressions in the second."""
    depth = 0
    groups: list[str] = []
    buf: list[str] = []
    for ch in line:
        if ch == "[":
            if depth == 0:
                buf = []
            depth += 1
            if depth == 1:
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(buf))
                continue
            depth = max(0, depth)
        if depth >= 1:
            buf.append(ch)
    return groups


_BOUNDED_BELOW = (
    "TakeOrderedAndProject",  # orderBy().limit(k) — the repo's top-k idiom
    "GlobalLimit",
    "CollectLimit",
    "WindowGroupLimit",       # rank-limit pushdown bounds per-group rows
    "LocalTableScan",         # literal frame
)


def test_no_unpartitioned_window_over_unbounded_input(spark):
    """An unpartitioned Window sorts its ENTIRE input on one task — fine
    over the <=k survivors of a TakeOrderedAndProject, fatal over a
    corpus-sized table (1e8+ vocab rows on one partition at 100 TB — the
    text_vocab_topk lesson, r14 verdict item 4). Gate: every unpartitioned
    WindowExec in every registered query must sit above a bounding limit
    node, or the query must be exempted with the bound named."""
    offenders, broke = [], []
    for name in REGISTRY:
        if name in UNPARTITIONED_WINDOW_EXEMPT or name.startswith(
            EXECUTES_ON_CALL_PREFIXES
        ) or "alias" in REGISTRY[name].tags:
            continue
        try:
            plan = plan_of(spark, name)
        except Exception as exc:
            broke.append(f"{name}: {type(exc).__name__}: {exc}")
            continue
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            stripped = line.lstrip(" :+-")
            if not stripped.startswith("Window "):
                continue
            groups = _toplevel_bracket_groups(stripped)
            # 3 groups = partitioned (low-card gate's turf). 2 groups whose
            # second carries no sort direction = partition-only running agg
            # (partitioned, order spec omitted) — also not this gate's shape.
            if len(groups) != 2 or not re.search(r"\b(ASC|DESC)\b", groups[1]):
                continue
            indent = len(line) - len(stripped)
            subtree = []
            for below in lines[i + 1:]:
                s2 = below.lstrip(" :+-")
                if len(below) - len(s2) <= indent:
                    break
                subtree.append(below)
            if not any(m in b for b in subtree for m in _BOUNDED_BELOW):
                offenders.append(name)
                break
    assert not broke, f"queries no longer plan-constructible: {broke}"
    assert not offenders, (
        "unpartitioned Window over unbounded input in: "
        f"{offenders} — use orderBy().limit(k) (TakeOrderedAndProject) "
        "below the window, or exempt with the input bound named"
    )
