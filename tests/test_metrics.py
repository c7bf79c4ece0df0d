"""metrics.trace: the jobs and stage volumes of a block are its own."""

from __future__ import annotations

from pyspark.sql import functions as F

from bonobo_sqlalchemy_spark.metrics import trace


def test_trace_captures_shuffle(spark):
    df = spark.range(0, 100_000).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("v")
    )
    with trace(spark, "groupBy") as span:
        df.groupBy("k").agg(F.sum("v")).collect()
    assert span.stages >= 2  # map + reduce at minimum
    assert span.tasks >= span.stages
    assert span.shuffle_write_bytes > 0
    assert span.shuffle_read_bytes > 0
    assert span.wall_s > 0


def test_trace_zero_shuffle_for_scan_only(spark):
    df = spark.range(0, 10_000)
    df.count()  # warm anything lazy
    with trace(spark, "scan") as span:
        df.select((F.col("id") * 2).alias("x")).where(F.col("x") < 100).collect()
    assert span.jobs >= 1
    assert span.shuffle_write_bytes == 0
    assert span.shuffle_read_bytes == 0


def test_trace_counts_only_work_inside_the_span(spark):
    """Work done before and after the span is not charged to it: an empty
    span after a query counts nothing, and the same query measured between
    two others counts what it counts alone."""
    df = spark.range(0, 50_000).select((F.col("id") % 13).alias("k"))
    df.groupBy("k").count().collect()  # before
    with trace(spark, "empty") as empty:
        pass
    with trace(spark, "alone") as alone:
        df.groupBy("k").count().collect()
    df.count()  # between
    with trace(spark, "between") as between:
        df.groupBy("k").count().collect()
    df.groupBy("k").count().collect()  # after
    assert (empty.jobs, empty.stages, empty.shuffle_write_bytes) == (0, 0, 0)
    assert alone.jobs >= 1
    assert (alone.jobs, alone.stages, alone.shuffle_write_bytes) == (
        between.jobs, between.stages, between.shuffle_write_bytes
    )


def test_nested_span_jobs_are_a_subset_of_the_outer_span(spark):
    df = spark.range(0, 20_000).select((F.col("id") % 7).alias("k"))
    with trace(spark, "outer") as outer:
        df.count()
        with trace(spark, "inner") as inner:
            df.groupBy("k").count().collect()
        df.distinct().count()
    assert inner.jobs >= 1
    assert set(inner.job_ids) < set(outer.job_ids)
    assert outer.stages > inner.stages


def test_outer_job_group_still_sees_every_job_of_a_span(spark):
    """A caller that charges jobs to its own job group (as perfbench's
    tracer does) keeps seeing the jobs a span submits, and its group is
    still set when the span closes."""
    sc = spark.sparkContext
    group = "test-metrics-outer-group"
    df = spark.range(0, 20_000).select((F.col("id") % 7).alias("k"))
    try:
        sc.setJobGroup(group, "outer")
        with trace(spark, "inside a job group") as span:
            df.groupBy("k").count().collect()
        assert sc.getLocalProperty("spark.jobGroup.id") == group
        seen = set(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert span.jobs >= 1
    assert set(span.job_ids) == seen
