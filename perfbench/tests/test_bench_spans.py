"""Span self-time arithmetic and Spark job-group attribution."""

from __future__ import annotations

import os

import pytest

from spans import Job, Span, Tracer, attribute, covered, self_times


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_subtracts_child_coverage_once():
    spans = [
        Span(0, 1, "op", "load", "w/load/load", None, 0.0, 10.0),
        Span(1, 1, "plans.dag", "load_data", "w/load/load_data", 0, 1.0, 9.0),
        Span(2, 1, "sources.sinks", "overwrite_parquet", "g", 1, 2.0, 5.0),
        Span(3, 1, "sources.sinks", "overwrite_parquet", "g", 1, 4.0, 6.0),  # overlaps 2
        Span(4, 1, "functions.country", "iso3_column", "g", 1, 8.5, 9.5),  # past parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(2.0)
    assert st[1] == pytest.approx(8.0 - 4.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)


def test_attribute_picks_innermost_matching_span():
    spans = [
        Span(0, 1, "op", "q", "w/q/q", None, 0.0, 10.0),
        Span(1, 1, "queries", "build", "w/q/build", 0, 1.0, 4.0),
        Span(2, 1, "exec", "noop_write", "w/q/noop_write", 0, 4.0, 9.0),
    ]
    jobs = [Job(0, "w/q/build", 2.0, 3.0), Job(1, "w/q/noop_write", 5.0, 8.0),
            Job(2, "w/q/q", 9.5, 9.9), Job(3, None, 5.0, 6.0)]
    attribute(jobs, spans)
    assert [j.span for j in jobs] == [1, 2, 0, None]


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    os.environ.setdefault("PYSPARK_PYTHON", "python3")
    s = (SparkSession.builder.master("local[2]").appName("perfbench-test")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()


def test_known_job_lands_in_its_span(spark):
    sc = spark.sparkContext
    t = Tracer(sc, "w", enabled=True)
    spark.range(5).count()  # a job before tracing starts
    t.skip_jobs()
    with t.op("q"):
        with t.span("queries", "build"):
            pass
        with t.span("exec", "noop_write"):
            spark.range(1000).selectExpr("id % 3 AS k").groupBy("k").count().collect()
    t.harvest(wait_s=5.0)
    assert sc.getLocalProperty("spark.jobGroup.id") is None  # parent's group restored
    assert t.jobs and all(j.group == "w/q/noop_write" for j in t.jobs)
    summary = t.summary()
    assert summary["jobs.exec.noop_write"] == len(t.jobs)
    assert "jobs.queries.build" not in summary
    assert summary["spark.tasks"] >= 1
    exec_span = next(s for s in t.spans if s.name == "noop_write")
    assert all(j.span == exec_span.id for j in t.jobs)
    assert 0 <= summary["spark.job_wall_s"] <= exec_span.duration + 0.01
