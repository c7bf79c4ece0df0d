"""Structured Streaming tests: streaming results must agree with their
batch twins; foreachBatch landing reuses the upsert sink idempotently."""

from __future__ import annotations

import sqlite3
from functools import partial

import pytest
from pyspark.sql import functions as F

from bonobo_sqlalchemy_spark import DbapiService, InsertOrUpdate
from bonobo_sqlalchemy_spark.sources.files import load_table
from bonobo_sqlalchemy_spark.streaming import (
    read_events_stream,
    session_aggregate,
    sliding_avg,
    stream_to_upsert,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def events_path(sf_small):
    return f"{sf_small}/events.parquet"


def _run_to_memory(spark, stream_df, name, mode="complete", timeout=300):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout)
    return spark.table(name)


def test_stream_tumbling_equals_batch(spark, sf_small, events_path):
    got = _run_to_memory(
        spark, tumbling_counts(read_events_stream(spark, events_path)), "t_tumble"
    ).collect()
    batch = (
        load_table(spark, sf_small, "events")
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))


def test_stream_sliding_window_counts(spark, events_path):
    got = _run_to_memory(
        spark,
        sliding_avg(read_events_stream(spark, events_path), "1 hour", "30 minutes"),
        "t_slide",
    )
    rows = got.collect()
    assert rows
    # every event lands in exactly width/slide = 2 sliding windows
    total = sum(r.n_events for r in rows)
    assert total > 0 and total % 2 == 0


def test_stream_session_agg_covers_all_events(spark, sf_small, events_path):
    got = _run_to_memory(
        spark,
        session_aggregate(read_events_stream(spark, events_path), gap="30 minutes"),
        "t_sess",
    )
    rows = got.collect()
    n_events = load_table(spark, sf_small, "events").count()
    assert sum(r.n_events for r in rows) == n_events
    # sessions are per-user disjoint intervals
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.session_start, r.session_end))
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert e1 <= s2


def test_stream_to_upsert_idempotent(spark, sf_small, events_path, tmp_path):
    dbfile = str(tmp_path / "stream.db")
    con = sqlite3.connect(dbfile)
    con.execute(
        "CREATE TABLE hourly (window_start VARCHAR, event_type VARCHAR, "
        "n_events INTEGER, total_value DOUBLE, PRIMARY KEY (window_start, event_type))"
    )
    con.commit(); con.close()
    services = {"sqlalchemy.engine": DbapiService(partial(sqlite3.connect, dbfile))}
    sink = InsertOrUpdate("hourly", discriminant=("window_start", "event_type"))

    def state():
        con = sqlite3.connect(dbfile)
        try:
            return sorted(
                con.execute(
                    "SELECT window_start, event_type, n_events, total_value FROM hourly"
                ).fetchall()
            )
        finally:
            con.close()

    states = []
    for i in range(2):  # full replay twice: target state must be identical
        q = stream_to_upsert(
            tumbling_counts(read_events_stream(spark, events_path)),
            sink,
            spark,
            services,
            checkpoint=str(tmp_path / f"ckpt{i}"),
        )
        q.awaitTermination(300)
        states.append(state())

    assert states[0] == states[1]  # idempotent under redelivery
    total = sum(r[2] for r in states[1])
    assert total == load_table(spark, sf_small, "events").count()


def test_stateful_running_stats_across_batches(spark, sf_small, tmp_path):
    """applyInPandasWithState must carry state ACROSS micro-batches: the
    events replay as two files -> two batches with maxFilesPerTrigger=1, and
    the final per-user rows must equal the batch aggregate (distinct types
    seen in batch 1 must not re-count in batch 2)."""
    from bonobo_sqlalchemy_spark.streaming.stateful import (
        final_rows,
        running_user_stats,
    )

    ev = load_table(spark, sf_small, "events")
    half1 = ev.where(F.col("event_id") % 2 == 0)
    half2 = ev.where(F.col("event_id") % 2 == 1)
    src = str(tmp_path / "ev_src")
    half1.write.parquet(src)
    half2.write.mode("append").parquet(src)

    raw = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )
    name = "t_stateful_running"
    q = (
        running_user_stats(raw)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    log = spark.table(name)
    n_users = ev.select("user_id").distinct().count()
    # multiple emissions per user proves >1 micro-batch touched the state
    assert log.count() > n_users

    got = {
        (r.user_id, r.n_events, r.total_value, r.n_event_types)
        for r in final_rows(log).collect()
    }
    batch = {
        (r.user_id, r.n_events, r.total_value, r.n_event_types)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
            F.countDistinct("event_type").alias("n_event_types"),
        )
        .collect()
    }
    assert got == batch


def test_stream_dedup_ingest_exactly_once(spark, sf_small, tmp_path):
    """Idempotent landing under redelivery: the same events file arrives
    twice (e.g. an at-least-once upstream); streaming dropDuplicates on the
    event id keyed state must land each row exactly once."""
    ev = load_table(spark, sf_small, "events")
    src = str(tmp_path / "dup_src")
    ev.write.parquet(src)
    ev.write.mode("append").parquet(src)  # full redelivery

    raw = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .format("parquet")
        .load(src)
    )
    deduped = raw.withWatermark(
        "ts", "24 hours"
    ).dropDuplicatesWithinWatermark(["event_id"])
    name = "t_dedup_ingest"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    landed = spark.table(name)
    assert landed.count() == ev.count()
    assert landed.select("event_id").distinct().count() == ev.count()


def test_stateful_fold_skips_empty_chunks():
    """pd.Timestamp(NaT).value is -2**63; an empty pandas chunk from
    applyInPandasWithState must not poison max_us/last_ts."""
    import pandas as pd

    from bonobo_sqlalchemy_spark.streaming.stateful import _fold_chunks

    empty = pd.DataFrame({"value": [], "event_type": [], "ts": pd.to_datetime([])})
    full = pd.DataFrame(
        {
            "value": [1.25, 2.50],
            "event_type": ["view", "purchase"],
            "ts": pd.to_datetime(["2024-01-01 00:00:05", "2024-01-01 00:00:09"]),
        }
    )
    n, cents, types, max_us = _fold_chunks(0, 0, set(), None, [empty, full, empty])
    assert (n, cents) == (2, 375)
    assert types == {"view", "purchase"}
    assert max_us == int(pd.Timestamp("2024-01-01 00:00:09").value // 1000)
    # all-empty iterator: no timestamp fabricated
    assert _fold_chunks(0, 0, set(), None, [empty]) == (0, 0, set(), None)


def test_sessionize_oracle_tie_stability(spark, tmp_path):
    """Duplicate timestamps within a user must sessionize identically on the
    Spark side and the DuckDB oracle: both order the gaps-and-islands windows
    by (ts, event_id), so ties cannot flip a row's session id (VERDICT r4
    latent-parity-trap fix). The fixture puts two events at the SAME instant
    straddling a 30-min gap boundary: whichever is deemed 'first' decides
    whether the next event opens a new session."""
    import datetime as dt

    from bonobo_sqlalchemy_spark.oracle import compare_query

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    for uid in (1, 2):
        rows += [
            # two events at the exact same instant — the tie
            (uid * 10 + 1, t0, uid, "view", 1.0, "{}"),
            (uid * 10 + 2, t0, uid, "click", 2.0, "{}"),
            # exactly 30min+1s later: new session iff gap measured from the
            # *latest* of the tied pair — tie order decides prev_ts chains
            (uid * 10 + 3, t0 + dt.timedelta(minutes=30, seconds=1), uid, "view", 3.0, "{}"),
            (uid * 10 + 4, t0 + dt.timedelta(minutes=90), uid, "purchase", 4.0, "{}"),
        ]
    import pandas as pd

    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    fixture_dir = tmp_path / "tie_fixture"
    fixture_dir.mkdir()
    # single flat file so both Spark and DuckDB read the same path
    pdf.to_parquet(str(fixture_dir / "events.parquet"), index=False)

    for name in ("q_events_sessionize", "q_events_session_attach"):
        result = compare_query(spark, name, str(fixture_dir))
        assert result.ok, str(result)


def test_stateful_checkpoint_restart_carries_state(spark, tmp_path):
    """Crash/redeploy resilience: a NEW streaming query resumed from the
    same checkpoint must carry per-key state across the restart — batch-2
    events fold into totals that include batch 1, and already-committed
    input is not reprocessed."""
    import shutil

    from pyspark.sql import functions as F

    from bonobo_sqlalchemy_spark.streaming.stateful import final_rows, running_user_stats

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    land = str(tmp_path / "landed")

    def mk_events(rows):
        return spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
        )

    import datetime as dt

    t = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    batch1 = mk_events(
        [
            (1, t("2024-01-01 00:00:01"), 1, "view", 1.25),
            (2, t("2024-01-01 00:00:02"), 1, "click", 2.50),
            (3, t("2024-01-01 00:00:03"), 2, "view", 4.00),
        ]
    )
    batch2_rows = [
        (4, t("2024-01-01 00:10:00"), 1, "view", 0.25),  # type seen in run 1
        (5, t("2024-01-01 00:11:00"), 2, "purchase", 6.00),
    ]

    def run_once(write_df):
        write_df.coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(batch1.schema).parquet(src)
        out = running_user_stats(stream)
        q = (
            out.writeStream.foreachBatch(
                lambda bdf, bid: bdf.write.mode("append").parquet(land)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once(batch1)
    run_once(mk_events(batch2_rows))  # NEW query object, same checkpoint

    final = {r.user_id: r for r in final_rows(spark.read.parquet(land)).collect()}
    # user 1: 3 events, 1.25+2.50+0.25, types {view, click} (view NOT re-counted)
    assert final[1].n_events == 3
    assert final[1].total_value == 4.0
    assert final[1].n_event_types == 2
    # user 2: 2 events across the restart, types {view, purchase}
    assert final[2].n_events == 2
    assert final[2].total_value == 10.0
    assert final[2].n_event_types == 2
    # restart did NOT reprocess batch 1: landed log has at most one
    # emission per (user, state version)
    emissions = spark.read.parquet(land).count()
    assert emissions == 4  # 2 users x 2 runs

    # a third restart with no new input commits nothing new
    shutil.rmtree(land)
    stream = spark.readStream.schema(batch1.schema).parquet(src)
    q = (
        running_user_stats(stream)
        .writeStream.foreachBatch(lambda bdf, bid: bdf.write.mode("append").parquet(land))
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    import os

    assert not os.path.exists(land) or spark.read.parquet(land).where(F.lit(True)).count() == 0


def test_stream_join_state_is_watermark_bounded(spark, sf_small):
    """The 100 TB claim behind stream-stream joins is EVICTION: after a
    bounded replay, the state store must hold only rows within the
    watermark+interval horizon — a fraction of the stream — not the whole
    input. Read the engine's own state metrics to prove it."""
    from bonobo_sqlalchemy_spark.streaming.joins import stream_interval_join
    from bonobo_sqlalchemy_spark.streaming.windows import read_events_stream

    ev = read_events_stream(spark, f"{sf_small}/events.parquet")
    p = ev.where(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    e = ev.where(F.col("event_type") == "error").select("user_id", "event_id", "ts")
    j = stream_interval_join(
        p, e, on=["user_id"], max_delay="1 hour", watermark="2 hours"
    )
    q = (
        j.writeStream.format("memory")
        .queryName("t_state_bound")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    progress = [pr for pr in q.recentProgress if pr.get("stateOperators")]
    assert progress, "no state metrics reported"
    final = progress[-1]["stateOperators"][0]
    n_state = final["numRowsTotal"]
    n_input = load_table(spark, sf_small, "events").where(
        F.col("event_type").isin("purchase", "error")
    ).count()
    # rows older than watermark(2h) + interval(1h) are gone: over a 30-day
    # stream the surviving horizon is a tiny fraction of the input
    assert n_state < 0.25 * n_input, (
        f"state holds {n_state} of {n_input} input rows — eviction not working"
    )
    assert final["numRowsRemoved"] > 0  # eviction actually ran


def test_stream_join_outer_matrix_null_emission(spark, tmp_path):
    """Hand fixture proving BOTH sides' watermark null-emission rules (the
    rules the z_stream_join_{left,right,full} oracles encode):

    - watermark W = min(max left ts, max right ts) - 2h = t0+38h here;
    - unmatched LEFT (purchase) emits iff its match window closed before W
      (ts + 1h < W): P2 (10h) emits, P3 (40h) is withheld;
    - unmatched RIGHT (error) emits iff W passed its own event time
      (ts < W): E2 (12h), E4 (5h) emit, E9 (41h) is withheld;
    - join keys survive null-padded rows on either side (regression for
      the left-copy-only key bug).
    """
    from bonobo_sqlalchemy_spark.streaming.joins import stream_interval_join

    t0 = "2026-01-01 00:00:00"
    p_rows = [("u1", "P1", 0.0), ("u2", "P2", 10.0), ("u3", "P3", 40.0)]
    e_rows = [("u1", "E1", 0.5), ("u2", "E2", 12.0), ("u4", "E4", 5.0), ("u9", "E9", 41.0)]
    for name, rows in (("p", p_rows), ("e", e_rows)):
        spark.createDataFrame(rows, "user_id string, event_id string, h double").select(
            "user_id",
            "event_id",
            F.expr(f"timestamp'{t0}' + make_interval(0,0,0,0,0,0, h*3600)").alias("ts"),
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
    schema = "user_id string, event_id string, ts timestamp"
    want = {
        "left_outer": {("P1", "E1", "u1"), ("P2", None, "u2")},
        "right_outer": {("P1", "E1", "u1"), (None, "E2", "u2"), (None, "E4", "u4")},
        "full_outer": {
            ("P1", "E1", "u1"), ("P2", None, "u2"),
            (None, "E2", "u2"), (None, "E4", "u4"),
        },
    }
    for how, expect in want.items():
        sp = spark.readStream.schema(schema).parquet(str(tmp_path / "p"))
        se = spark.readStream.schema(schema).parquet(str(tmp_path / "e"))
        j = stream_interval_join(
            sp, se, on=["user_id"], max_delay="1 hour", watermark="2 hours", how=how
        )
        qn = f"t_matrix_{how}"
        q = (
            j.writeStream.format("memory").queryName(qn)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {
            (r.event_id_l, r.event_id_r, r.user_id)
            for r in spark.table(qn).collect()
        }
        assert got == expect, (how, got)


def test_heavy_hitters_sketch_guarantees(spark, tmp_path):
    """Misra-Gries invariants on a planted-skew stream, replayed in
    MULTIPLE micro-batches (cross-batch state merge):

    - bounded state: each shard's final sketch has <= capacity rows;
    - the planted heavy key (50% of the stream) survives eviction;
    - estimates honestly bracket truth: est <= true <= est + max_err.
    """
    from bonobo_sqlalchemy_spark.streaming.sketches import (
        final_sketch,
        heavy_hitters_stream,
    )

    heavy = [("hot",)] * 600
    light = [(f"u{i % 120}",) for i in range(600)]
    rows = heavy + light
    df = spark.createDataFrame(rows, "user_id string")
    # several files -> several availableNow micro-batches with
    # maxFilesPerTrigger=1, exercising the cross-batch sketch merge
    df.repartition(4).write.mode("overwrite").parquet(str(tmp_path / "s"))
    stream = (
        spark.readStream.schema("user_id string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "s"))
    )
    sk = heavy_hitters_stream(stream, key_col="user_id", capacity=8, n_shards=2)
    q = (
        sk.writeStream.format("memory").queryName("t_hh")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    final = final_sketch(spark.table("t_hh")).collect()
    per_shard = {}
    for r in final:
        per_shard.setdefault(r.shard, []).append(r)
    assert all(len(v) <= 8 for v in per_shard.values()), "state not bounded"
    truth = {str(k): c for (k,), c in
             __import__("collections").Counter(rows).items()}
    got = {r.key: r for r in final}
    assert "hot" in got, "planted heavy hitter evicted"
    for key, r in got.items():
        t = truth[key]
        assert r.est_count <= t <= r.est_count + r.max_err, (key, r, t)
    # the heavy key's estimate must dominate every surviving light key.
    # Whether any light key survives depends on the core count (it sets
    # createDataFrame's slicing, hence each file's mix); on 4 cores none does.
    assert got["hot"].est_count > max(
        (r.est_count for k, r in got.items() if k != "hot"), default=0
    )


def test_heavy_hitters_final_sketch_drops_emptied_shard(spark, tmp_path):
    """A batch whose eviction empties the sketch must supersede the
    shard's earlier rows: with capacity=8, batch 1 = {a:1} keeps ``a``,
    batch 2 = {a:1, k0..k8: 2 each} evicts everything (the 9th-largest
    count, 2, clears all ten keys). ``a`` (true count 2) must not come
    back from ``final_sketch`` with batch 1's est_count=1, max_err=0."""
    import os
    from collections import Counter

    from bonobo_sqlalchemy_spark.streaming.sketches import (
        final_sketch,
        heavy_hitters_stream,
    )

    batches = [["a"], ["a"] + [f"k{i}" for i in range(9) for _ in range(2)]]
    src = tmp_path / "src"
    src.mkdir()
    for i, keys in enumerate(batches):
        stage = tmp_path / f"stage{i}"
        df = spark.createDataFrame([(k,) for k in keys], "user_id string")
        df.coalesce(1).write.parquet(str(stage))
        (part,) = stage.glob("part-*.parquet")
        dest = src / f"b{i}.parquet"
        part.rename(dest)
        # the file source orders files by modification time
        os.utime(dest, (1_000_000 + i, 1_000_000 + i))
    stream = (
        spark.readStream.schema("user_id string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sk = heavy_hitters_stream(stream, key_col="user_id", capacity=8, n_shards=1)
    q = (
        sk.writeStream.format("memory").queryName("t_hh_empty")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert [p["numInputRows"] for p in q.recentProgress] == [1, 19]
    final = final_sketch(spark.table("t_hh_empty")).collect()
    truth = Counter(k for keys in batches for k in keys)
    assert "a" not in {r.key for r in final}, final
    for r in final:
        t = truth[r.key]
        assert r.est_count <= t <= r.est_count + r.max_err, (r, t)


def test_hll_distinct_sketch_accuracy_and_merge(spark, tmp_path):
    """HyperLogLog invariants on a multi-batch stream:

    - bounded state: each shard emits exactly 2^p registers;
    - the merged estimate lands within the standard error of the true
      cardinality (generous 4x sigma to keep the test deterministic-ish:
      the hash is fixed, so this either always passes or flags a real
      regression);
    - max-mergeability: merging the shard registers element-wise equals
      the sketch a single-shard run would produce over the same keys.
    """
    from bonobo_sqlalchemy_spark.streaming.sketches import (
        _hll_hash,
        hll_distinct_stream,
        hll_estimate,
    )

    n_true = 700
    rows = [(f"user{i % n_true}",) for i in range(3000)]
    df = spark.createDataFrame(rows, "user_id string")
    df.repartition(4).write.mode("overwrite").parquet(str(tmp_path / "h"))
    stream = (
        spark.readStream.schema("user_id string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "h"))
    )
    p = 10
    sk = hll_distinct_stream(stream, key_col="user_id", p=p, n_shards=4)
    q = (
        sk.writeStream.format("memory").queryName("t_hll")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    log = spark.table("t_hll")
    # bounded state: every emission is a full 2^p register array
    assert {r[0] for r in log.select(F.size("registers")).distinct().collect()} == {1 << p}
    est = hll_estimate(log, p=p).collect()[0]
    assert est.n_registers == 1 << p
    sigma = 1.04 / (1 << p) ** 0.5 * n_true
    assert abs(est.estimate - n_true) <= 4 * sigma, (est.estimate, n_true)

    # mergeability: element-wise max of shard registers == single sketch
    # computed directly from the same keys (reference in pure Python)
    m = 1 << p
    ref = [0] * m
    for i in range(n_true):
        h = _hll_hash(f"user{i}")
        idx = h & (m - 1)
        rho = (64 - p) - (h >> p).bit_length() + 1
        ref[idx] = max(ref[idx], rho)
    from pyspark.sql import Window as W

    w = W.partitionBy("shard")
    latest = (
        log.withColumn("__mx", F.max("batch_seq").over(w))
        .where(F.col("batch_seq") == F.col("__mx"))
        .select("shard", "registers")
        .collect()
    )
    merged = [0] * m
    for r in latest:
        for i, v in enumerate(r.registers):
            merged[i] = max(merged[i], v)
    assert merged == ref


def test_bottomk_sample_bounded_state_and_batch_equivalence(spark, tmp_path):
    """Bottom-k streaming sample over several micro-batches: per-shard
    state stays <= k rows, and the collapsed global sample equals the
    batch ORDER BY md5(key) LIMIT k on the same keys exactly."""
    import hashlib

    from bonobo_sqlalchemy_spark.streaming.sketches import (
        bottomk_sample_stream,
        final_bottomk,
    )

    keys = [f"ev{i}" for i in range(500)]
    df = spark.createDataFrame([(x,) for x in keys], "event_id string")
    df.repartition(4).write.mode("overwrite").parquet(str(tmp_path / "b"))
    stream = (
        spark.readStream.schema("event_id string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "b"))
    )
    k = 16
    sk = bottomk_sample_stream(stream, key_col="event_id", k=k, n_shards=2)
    q = (
        sk.writeStream.format("memory").queryName("t_bk")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    log = spark.table("t_bk")
    per_batch = (
        log.groupBy("shard", "batch_seq").count().agg(F.max("count")).first()[0]
    )
    assert per_batch <= k, "state not bounded"
    got = [r.key for r in final_bottomk(log, k=k).collect()]
    want = sorted(keys, key=lambda x: (hashlib.md5(x.encode()).hexdigest(), x))[:k]
    assert got == want


def test_rate_anomaly_ewma_flags_planted_spike(spark, tmp_path):
    """EWMA control chart over micro-batches: a steady key is never
    flagged; a 10x spike after warm-up is; the spike then shifts the
    baseline alpha-weighted instead of being discarded."""
    import shutil
    import time

    from bonobo_sqlalchemy_spark.streaming.anomaly import rate_anomaly_stream

    watch = tmp_path / "watch"
    watch.mkdir()
    batches = [50, 50, 50, 50, 500, 50]  # spike in batch 5
    for i, n in enumerate(batches):
        rows = [("steady",)] * 50 + [("spiky",)] * n
        df = spark.createDataFrame(rows, "event_type string")
        stage = tmp_path / f"stage{i}"
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = next(p for p in stage.iterdir() if p.name.endswith(".parquet"))
        shutil.copy(part, watch / f"b{i:02d}.parquet")
        time.sleep(0.05)  # strictly increasing mod-times -> batch order
    stream = (
        spark.readStream.schema("event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(watch))
    )
    out = rate_anomaly_stream(stream, alpha=0.3, z=3.0, min_batches=3)
    q = (
        out.writeStream.format("memory").queryName("t_anom")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.table("t_anom").collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.key, {})[r.batch_seq] = r
    # steady key: constant counts, never anomalous, zero variance
    steady = by_key["steady"]
    assert len(steady) == len(batches)
    assert not any(r.is_anomaly for r in steady.values())
    assert steady[len(batches)].ewma_std == 0.0
    # spiky key: flagged exactly at the spike batch (post-warm-up),
    # and the baseline then moved toward the spike
    spiky = by_key["spiky"]
    flagged = [s for s, r in spiky.items() if r.is_anomaly]
    assert flagged == [5], (flagged, spiky)
    assert spiky[5].ewma_mean > spiky[4].ewma_mean  # baseline absorbed it


def test_windowed_heavy_hitters_evicts_on_watermark(spark, tmp_path):
    """Per-window MG sketch with event-time timeout: once the watermark
    passes a window's end, that window emits its FINAL sketch exactly
    once and its state is removed; late data inside the watermark still
    folds in before the final fires."""
    import shutil
    import time

    from bonobo_sqlalchemy_spark.streaming.sketches import (
        windowed_heavy_hitters_stream,
    )

    def batch(rows, i):
        df = spark.createDataFrame(rows, "ts timestamp, user_id string")
        stage = tmp_path / f"s{i}"
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = next(p for p in stage.iterdir() if p.name.endswith(".parquet"))
        shutil.copy(part, tmp_path / "w" / f"b{i:02d}.parquet")
        time.sleep(0.05)

    (tmp_path / "w").mkdir()
    import datetime as dt

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    # window A = [10:00, 11:00): hot user 12x across two batches + late row
    batch([(t(10, 5), "hot")] * 6 + [(t(10, 10), "u1")], 0)
    batch([(t(10, 30), "hot")] * 6 + [(t(10, 40), "u2")], 1)
    # batch 3 jumps event time to 13:00 -> watermark (10 min lag) passes
    # 11:00; also carries a LATE row for window A at 10:50 (inside the
    # horizon at the time it arrives in the same batch)
    batch([(t(13, 0), "b1"), (t(10, 50), "hot")], 2)
    # batch 4 only advances the clock so A's timeout fires
    batch([(t(13, 30), "b2")], 3)

    stream = (
        spark.readStream.schema("ts timestamp, user_id string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "w"))
    )
    out = windowed_heavy_hitters_stream(
        stream, window="1 hour", watermark="10 minutes", capacity=8, n_shards=1
    )
    q = (
        out.writeStream.format("memory").queryName("t_whh")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    rows = spark.table("t_whh").collect()
    finals = [r for r in rows if r.final]
    a_start = t(10, 0)
    a_finals = [r for r in finals if r.window_start == a_start]
    assert a_finals, "window A never emitted a final sketch"
    assert all(r.window_start == a_start for r in finals), (
        "only the watermark-passed window may finalize"
    )
    got = {r.key: r.est_count for r in a_finals}
    # capacity 8 >= distinct keys, so counts are exact — incl. the late row
    assert got["hot"] == 13 and got["u1"] == 1 and got["u2"] == 1
    # exactly one final emission per key (state removed after timeout)
    assert len(a_finals) == len(got)
