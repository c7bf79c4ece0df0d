"""Streaming heavy-hitters sketch: sharded Misra-Gries over
``applyInPandasWithState``.

Exact per-key streaming counts (``stateful.running_user_stats``) hold one
state row per key — at 100 TB key cardinalities (users, URLs, n-grams)
that is the thing that does NOT scale. The Misra-Gries / space-saving
sketch bounds state at ``capacity`` counters per shard TOTAL and still
guarantees every key with true frequency > N/capacity survives, with
``est <= true <= est + max_err`` (max_err = the shard's cumulative
decrement) — the mergeable-summaries result (Agarwal et al., PODS'12).

Distributed shape: the stream hash-shards by key (each key lives in
exactly ONE shard, so shard sketches union without cross-shard merging),
each shard's sketch lives in the state store keyed by shard id, and every
micro-batch folds in ONE pandas ``value_counts`` (exact within the batch)
followed by a deterministic merge + eviction — counts first, then key, so
the sketch content is independent of row order within the batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OUTPUT_SCHEMA = (
    "shard int, key string, est_count bigint, max_err bigint, batch_seq bigint"
)
STATE_SCHEMA = (
    "keys array<string>, counts array<bigint>, dec bigint, seq bigint"
)


def _mg_merge(
    sketch: dict[str, int], batch_counts: dict[str, int], capacity: int, dec: int
) -> tuple[dict[str, int], int]:
    """Merge exact batch counts into a Misra-Gries sketch of ``capacity``.

    Deterministic: batch keys fold in (count desc, key asc) order, and the
    overflow decrement removes the same keys regardless of dict order.
    Returns the new sketch and the cumulative decrement (the error bound).
    """
    for key, cnt in sorted(batch_counts.items(), key=lambda kv: (-kv[1], kv[0])):
        sketch[key] = sketch.get(key, 0) + cnt
    # Evict down to capacity: repeatedly subtract the (capacity+1)-th
    # largest count from everyone and drop non-positive counters — the
    # batched form of MG's one-at-a-time decrement, same guarantees.
    while len(sketch) > capacity:
        bar = sorted(sketch.values(), reverse=True)[capacity]
        dec += bar
        sketch = {k: c - bar for k, c in sketch.items() if c - bar > 0}
    return sketch, dec


def heavy_hitters_stream(
    events: DataFrame,
    key_col: str = "user_id",
    capacity: int = 16,
    n_shards: int = 4,
) -> DataFrame:
    """Per-shard Misra-Gries heavy hitters over a stream.

    Emits each shard's full sketch every micro-batch (update mode):
    ``(shard, key, est_count, max_err, batch_seq)``; a sketch that
    eviction has emptied emits one key-less row (``key`` null,
    ``est_count`` 0). Collapse with :func:`final_sketch` after the run.
    State per shard is exactly ``capacity`` counters + one decrement
    total — bounded regardless of key cardinality or stream length.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            keys, counts, dec, seq = state.get
            sketch = dict(zip(keys, (int(c) for c in counts)))
        else:
            sketch, dec, seq = {}, 0, 0
        batch: dict[str, int] = {}
        for pdf in pdfs:
            if not len(pdf):
                continue
            for k, c in pdf["__key"].value_counts().items():
                batch[str(k)] = batch.get(str(k), 0) + int(c)
        if not batch and not state.exists:
            return
        sketch, dec = _mg_merge(sketch, batch, capacity, dec)
        seq += 1
        ks = sorted(sketch)  # deterministic state + emission order
        state.update((ks, [sketch[k] for k in ks], dec, seq))
        # an emptied sketch still emits (one key-less row) so this batch_seq
        # supersedes the shard's older rows in final_sketch
        yield pd.DataFrame(
            [
                {
                    "shard": key[0],
                    "key": k,
                    "est_count": sketch.get(k, 0),
                    "max_err": dec,
                    "batch_seq": seq,
                }
                for k in ks or [None]
            ]
        )

    sharded = events.select(
        F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(n_shards))
        .cast("int")
        .alias("shard"),
        F.col(key_col).cast("string").alias("__key"),
    )
    return sharded.groupBy("shard").applyInPandasWithState(
        fold,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


BOTTOMK_OUTPUT_SCHEMA = (
    "shard int, key string, h string, val double, batch_seq bigint"
)
BOTTOMK_STATE_SCHEMA = (
    "keys array<string>, hashes array<string>, vals array<double>, seq bigint"
)


def bottomk_sample_stream(
    events: DataFrame,
    key_col: str = "event_id",
    k: int = 32,
    n_shards: int = 4,
    value_col: str | None = None,
) -> DataFrame:
    """Streaming bottom-k sample: keep the ``k`` keys with the SMALLEST
    md5 hash per shard — a uniform-without-replacement sample of an
    unbounded stream with ``k`` rows of state per shard, ever.

    This is the deterministic answer to streaming reservoir sampling:
    random reservoirs need per-event RNG state and aren't reproducible
    across retries/repartitioning; hash-ordered bottom-k is (a) uniform
    (md5 is uniform on keys), (b) mergeable (union = k smallest of the
    concatenation — same property the dedup/export md5 buckets rely on),
    and (c) EXACTLY equal to the batch query ``ORDER BY md5(key) LIMIT k``
    — so unlike any RNG reservoir it has a value-exact oracle. Emits each
    shard's current sample every micro-batch (update mode); collapse with
    :func:`final_bottomk`.

    ``value_col``: carry a numeric column with each sampled key — the
    sample then doubles as a streaming QUANTILE sketch (the carried
    values are a uniform value sample, so their empirical quantiles
    estimate the stream's with ~O(1/sqrt(k·n_shards)) error; collapse
    with :func:`quantiles_from_bottomk`)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        import hashlib

        import pandas as pd

        if state.exists:
            keys, hashes, vals, seq = state.get
            best = {kk: (h, v) for kk, h, v in zip(keys, hashes, vals)}
        else:
            best, seq = {}, 0
        touched = False
        for pdf in pdfs:
            for kv, val in zip(pdf["__key"], pdf["__val"]):
                kv = str(kv)
                if kv not in best:
                    best[kv] = (
                        hashlib.md5(kv.encode("utf-8")).hexdigest(),
                        float(val),
                    )
                    touched = True
        if not touched and not state.exists:
            return
        # keep the k hash-smallest (key tiebreak for identical hashes)
        kept = sorted(best.items(), key=lambda it: (it[1][0], it[0]))[:k]
        seq += 1
        state.update(
            (
                [kv for kv, _ in kept],
                [h for _, (h, _) in kept],
                [v for _, (_, v) in kept],
                seq,
            )
        )
        yield pd.DataFrame(
            [
                {"shard": key[0], "key": kv, "h": h, "val": v, "batch_seq": seq}
                for kv, (h, v) in kept
            ]
        )

    val = F.col(value_col).cast("double") if value_col else F.lit(0.0)
    sharded = events.select(
        F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(n_shards))
        .cast("int")
        .alias("shard"),
        F.col(key_col).cast("string").alias("__key"),
        val.alias("__val"),
    )
    return sharded.groupBy("shard").applyInPandasWithState(
        fold,
        outputStructType=BOTTOMK_OUTPUT_SCHEMA,
        stateStructType=BOTTOMK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def final_bottomk(update_log: DataFrame, k: int = 32) -> DataFrame:
    """Collapse a bottom-k update log to the GLOBAL k-sample: latest rows
    per shard, then the k hash-smallest across shards (mergeability —
    every global bottom-k member is its shard's bottom-k member too).
    Returns ``(key, h)`` — exactly the batch ``ORDER BY md5(key) LIMIT
    k`` result."""
    from pyspark.sql import Window as W

    w = W.partitionBy("shard")
    return (
        update_log.withColumn("__mx", F.max("batch_seq").over(w))
        .where(F.col("batch_seq") == F.col("__mx"))
        .orderBy("h", "key")
        .limit(k)
        .select("key", "h", "val")
    )


def quantiles_from_bottomk(
    update_log: DataFrame,
    k: int = 32,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9),
) -> DataFrame:
    """Streaming quantile estimates from the GLOBAL bottom-k value sample
    (:func:`final_bottomk`): the k hash-smallest keys' values form a
    uniform value sample, and exact percentiles OVER THE SAMPLE estimate
    the stream's quantiles with the standard ~O(1/sqrt(k)) sampling
    error. One row: ``(n_sample, q_25, q_50, ...)``.

    This is the bounded-state answer to streaming percentiles: the exact
    answer needs every value; the sample needs k doubles, ever. The
    GLOBAL prefix (not the per-shard union) is used so sample membership
    equals the batch ``ORDER BY md5(key) LIMIT k`` — shard boundaries
    (engine-private xxhash) never affect the result, which is what makes
    the estimate deterministic AND oracle-checkable."""
    sample = final_bottomk(update_log, k=k).select("val")
    aggs = [F.count(F.lit(1)).alias("n_sample")] + [
        F.round(F.percentile("val", F.lit(p)), 6).alias(
            f"q_{str(p).replace('0.', '')}"
        )
        for p in probs
    ]
    return sample.agg(*aggs)


HLL_OUTPUT_SCHEMA = "shard int, registers array<int>, batch_seq bigint"
HLL_STATE_SCHEMA = "registers array<int>, seq bigint"


def _hll_hash(key: str) -> int:
    """Stable 64-bit hash for HLL register updates: the first 8 bytes of
    md5, big-endian. md5 (not blake2b) so the register contents are
    ENGINE-PORTABLE — DuckDB reproduces the identical value with
    ``('0x' || substr(md5(key), 1, 16))::UBIGINT``, which is what gives
    the streaming HLL query a value-exact SQL oracle. Still independent
    of the xxhash64 used for sharding, so shard membership doesn't bias
    register indices."""
    import hashlib

    return int.from_bytes(hashlib.md5(key.encode("utf-8")).digest()[:8], "big")


def hll_distinct_stream(
    events: DataFrame,
    key_col: str = "user_id",
    p: int = 10,
    n_shards: int = 4,
) -> DataFrame:
    """Streaming HyperLogLog distinct count: ``2**p`` registers per shard
    TOTAL, regardless of key cardinality or stream length.

    The companion to :func:`heavy_hitters_stream`: Misra-Gries answers
    "which keys are frequent", HLL answers "how many keys are there" —
    the two cardinality questions exact per-key streaming state cannot
    answer at 100 TB. Registers are max-mergeable (Flajolet et al. 2007),
    so shard sketches — and sketches from separate runs — union by
    element-wise max with no accuracy loss; relative error is the
    standard ``~1.04/sqrt(2**p)`` (≈3.2% at p=10).

    Each micro-batch folds the batch's keys into the shard's registers in
    one pandas pass and emits the full register array (update mode);
    collapse + merge + estimate with :func:`hll_estimate` after the run.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    m = 1 << p

    def fold(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            regs, seq = state.get
            regs = list(regs)
        else:
            regs, seq = [0] * m, 0
        touched = False
        for pdf in pdfs:
            for k in pdf["__key"]:
                h = _hll_hash(str(k))
                idx = h & (m - 1)
                w = h >> p
                rho = (64 - p) - w.bit_length() + 1
                if rho > regs[idx]:
                    regs[idx] = rho
                touched = True
        if not touched and not state.exists:
            return
        seq += 1
        state.update((regs, seq))
        yield pd.DataFrame(
            [{"shard": key[0], "registers": regs, "batch_seq": seq}]
        )

    sharded = events.select(
        F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(n_shards))
        .cast("int")
        .alias("shard"),
        F.col(key_col).cast("string").alias("__key"),
    )
    return sharded.groupBy("shard").applyInPandasWithState(
        fold,
        outputStructType=HLL_OUTPUT_SCHEMA,
        stateStructType=HLL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def hll_estimate(update_log: DataFrame, p: int = 10) -> DataFrame:
    """Collapse an HLL update log to ONE cardinality estimate row:
    ``(n_registers, n_zero_registers, estimate)``.

    Latest register array per shard (shards partition the key space but
    max-merge is correct for arbitrary unions), element-wise max across
    shards via one explode + m-row aggregate, then the standard HLL
    estimator with the small-range linear-counting correction. Everything
    stays register-table-sized (m rows) after the per-shard collapse."""
    from pyspark.sql import Window as W

    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    w = W.partitionBy("shard")
    latest = (
        update_log.withColumn("__max_seq", F.max("batch_seq").over(w))
        .where(F.col("batch_seq") == F.col("__max_seq"))
        .select("shard", "registers")
    )
    merged = (
        latest.select(F.posexplode("registers").alias("idx", "r"))
        .groupBy("idx")
        .agg(F.max("r").alias("r"))
    )
    agg = merged.agg(
        F.count(F.lit(1)).alias("n_registers"),
        F.sum((F.col("r") == 0).cast("int")).alias("n_zero_registers"),
        F.sum(F.pow(F.lit(2.0), -F.col("r"))).alias("__inv_sum"),
    )
    raw = alpha * m * m / F.col("__inv_sum")
    linear = m * F.log(F.lit(float(m)) / F.col("n_zero_registers"))
    est = F.when(
        (raw <= 2.5 * m) & (F.col("n_zero_registers") > 0), linear
    ).otherwise(raw)
    return agg.select(
        "n_registers",
        F.col("n_zero_registers").cast("bigint").alias("n_zero_registers"),
        F.round(est).cast("bigint").alias("estimate"),
    )


WINDOWED_HH_OUTPUT_SCHEMA = (
    "window_start timestamp, shard int, key string, est_count bigint, "
    "max_err bigint, final boolean"
)
WINDOWED_HH_STATE_SCHEMA = STATE_SCHEMA


def windowed_heavy_hitters_stream(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    window: str = "1 hour",
    watermark: str = "2 hours",
    capacity: int = 16,
    n_shards: int = 2,
) -> DataFrame:
    """Per-WINDOW Misra-Gries heavy hitters with event-time state
    EVICTION — the piece the global sketches don't need but any
    windowed sketch does: state is keyed by (window_start, shard), and
    when the watermark passes a window's end the state times out, the
    window's FINAL sketch is emitted exactly once (``final=true``), and
    the state is removed. Without the timeout, per-window state
    accumulates forever — the unbounded-state bug this operator exists
    to avoid; with it, live state is bounded by (windows inside the
    watermark horizon) x n_shards x capacity counters.

    Interim (``final=false``) rows stream out each micro-batch for
    monitoring; the ``final`` row is the one a consumer trusts
    (late data inside the watermark still folds in before it fires).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        import pandas as pd

        win_start, shard = key
        if state.hasTimedOut:
            keys, counts, dec, seq = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "window_start": win_start,
                        "shard": shard,
                        "key": k,
                        "est_count": int(c),
                        "max_err": int(dec),
                        "final": True,
                    }
                    for k, c in zip(keys, counts)
                ]
            )
            return
        if state.exists:
            keys, counts, dec, seq = state.get
            sketch = dict(zip(keys, (int(c) for c in counts)))
        else:
            sketch, dec, seq = {}, 0, 0
        batch: dict[str, int] = {}
        win_end_ms = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            for k, c in pdf["__key"].value_counts().items():
                batch[str(k)] = batch.get(str(k), 0) + int(c)
            win_end_ms = int(pdf["__win_end_ms"].iloc[0])
        if not batch and not state.exists:
            return
        sketch, dec = _mg_merge(sketch, batch, capacity, dec)
        seq += 1
        ks = sorted(sketch)
        state.update((ks, [sketch[k] for k in ks], dec, seq))
        # evict when the watermark passes this window's END: late rows
        # within the watermark still arrive before the timeout fires
        if win_end_ms is not None:
            state.setTimeoutTimestamp(win_end_ms)
        yield pd.DataFrame(
            [
                {
                    "window_start": win_start,
                    "shard": shard,
                    "key": k,
                    "est_count": sketch[k],
                    "max_err": dec,
                    "final": False,
                }
                for k in ks
            ]
        )

    win = F.window(F.col(ts_col), window)
    keyed = (
        events.withWatermark(ts_col, watermark)
        .select(
            # the watermarked event-time column must survive the projection
            # or the stateful operator loses the watermark it times out on
            F.col(ts_col),
            win["start"].alias("__win_start"),
            (F.unix_timestamp(win["end"]) * 1000).alias("__win_end_ms"),
            F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(n_shards))
            .cast("int")
            .alias("__shard"),
            F.col(key_col).cast("string").alias("__key"),
        )
    )
    return keyed.groupBy("__win_start", "__shard").applyInPandasWithState(
        fold,
        outputStructType=WINDOWED_HH_OUTPUT_SCHEMA,
        stateStructType=WINDOWED_HH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def final_sketch(update_log: DataFrame) -> DataFrame:
    """Collapse the update-mode emission log to each shard's FINAL sketch:
    rows from the shard's highest batch_seq (keys evicted earlier are
    correctly absent), minus the key-less row an emptied sketch emits.
    Shards partition the key space, so the union of final shard sketches
    IS the global sketch."""
    from pyspark.sql import Window as W

    w = W.partitionBy("shard")
    return (
        update_log.withColumn("__max_seq", F.max("batch_seq").over(w))
        .where(F.col("batch_seq") == F.col("__max_seq"))
        .where(F.col("key").isNotNull())
        .select("shard", "key", "est_count", "max_err")
    )


def cms_stream_fold(
    stream: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
):
    """Fold a stream into an accumulated Count-Min sketch via
    ``foreachBatch``: each micro-batch builds its own CMS DISTRIBUTED
    (``operators/sketch.py::cms_build`` — one explode + one
    map-side-combined agg inside the batch), and the driver integer-adds
    the batch's ≤ depth·width counter cells into the running sketch —
    ``cms_merge``'s union+sum applied incrementally, exact by counter
    linearity. The per-batch driver transfer is bounded by the sketch
    GEOMETRY, never by batch size, so a 100 TB/day feed costs the same
    ``depth·width`` integers per trigger.

    Returns ``(sink, cells, batches)``: pass ``sink`` to
    ``writer.foreachBatch``; after the query completes, ``cells`` maps
    ``(row, pos) -> count`` and ``batches`` lists per-batch cell counts
    (its length = micro-batches processed)."""
    from ..operators.sketch import cms_build

    cells: dict[tuple[int, int], int] = {}
    batches: list[int] = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        rows = cms_build(batch_df, key_col, depth=depth, width=width).collect()
        for r in rows:
            k = (r.row, r.pos)
            cells[k] = cells.get(k, 0) + r.cnt
        batches.append(len(rows))

    return sink, cells, batches


def cms_from_cells(spark, cells: dict, depth: int, width: int) -> DataFrame:
    """Materialize an accumulated cell dict back into the sketch-DataFrame
    shape ``cms_estimate`` consumes."""
    rows = [
        (int(r), int(p), int(c), int(depth), int(width))
        for (r, p), c in sorted(cells.items())
    ]
    return spark.createDataFrame(
        rows, "row int, pos bigint, cnt bigint, depth int, width bigint"
    )


def kmv_stream_fold(stream: DataFrame, key_col: str, k: int = 64):
    """Fold a stream into a bottom-k KMV/theta sketch via ``foreachBatch``:
    each micro-batch computes its own bottom-k DISTRIBUTED (distinct
    40-bit md5 fingerprints → ``orderBy(hv).limit(k)``, a
    TakeOrderedAndProject — partition-local top-k then one k-row
    reduction), and the driver merges ≤ k values per trigger into the
    running bottom-k. Mergeability (bottom-k of a union == bottom-k of
    concatenated bottom-k's, asserted batch-side in tests/test_sketch.py)
    makes the fold EXACTLY equal to one bottom-k over the concatenated
    feed, so per-trigger driver transfer is bounded by ``k`` — never the
    feed.

    Returns ``(sink, state, batches)``: pass ``sink`` to
    ``writer.foreachBatch``; afterwards ``state["vals"]`` holds the
    folded bottom-k hash values (ascending) and ``batches`` the
    per-batch sketch sizes (length = micro-batches processed)."""
    from ..operators.sketch import _kmv_hash

    state: dict[str, list[int]] = {"vals": []}
    batches: list[int] = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        rows = (
            batch_df.select(_kmv_hash(F.col(key_col)).alias("hv"))
            .distinct()
            .orderBy("hv")
            .limit(k)
            .collect()
        )
        merged = sorted(set(state["vals"]) | {r.hv for r in rows})
        state["vals"] = merged[:k]
        batches.append(len(rows))

    return sink, state, batches


def kmv_distinct_estimate(vals: list[int], k: int) -> tuple[int, int]:
    """KMV distinct-count estimate from a folded bottom-k: ``(k_used,
    est)`` — exact count when the sketch is unfull, else the classical
    ``((k-1) * M) div theta`` with theta the k-th smallest value
    (BIGINT floor arithmetic, the `operators/sketch.py` estimator)."""
    from ..operators.sketch import _KMV_M

    n = len(vals)
    if n < k:
        return n, n
    return n, ((k - 1) * _KMV_M) // vals[-1]
