"""How many Spark jobs each ``lakehouse`` entry launches while it is
built, before its result is executed.  Each job pays planning, stage
scheduling and JIT warm-up whatever the data size, so a job that comes
back should fail a test, not only show in a benchmark.  The ceilings are
the counts the entries launch today: ``src_delta_merge`` its create
(with the range-layout sampling job) and its merge,
``src_delta_merge_clauses`` the same create and its four-clause merge
(whose clause metrics ride on the data write instead of a second run
of the join), ``dp_corpus_to_lakehouse`` its one partitioned write;
the stream sink's batches run on the stream's own thread and job group,
and its empty create, replay check and ``dp_text_stats`` launch none."""

from __future__ import annotations

import pytest

from incubator_gluten_spark.plans import collect_all

BUILD_JOBS = {
    "src_delta_merge": 9,
    "src_delta_merge_clauses": 9,
    "stream_delta_sink": 0,
    "dp_corpus_to_lakehouse": 3,
    "dp_text_stats": 0,
}


@pytest.mark.parametrize("name", sorted(BUILD_JOBS))
def test_build_jobs_at_most(spark, sf_dir, name):
    entry = collect_all()[name]
    entry.build(spark, sf_dir)  # warm: the catalog's schema memo, the JIT
    sc = spark.sparkContext
    group = f"job-ledger-{name}"
    sc.setJobGroup(group, group)
    try:
        df = entry.build(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= BUILD_JOBS[name], sorted(jobs)
    assert df.columns  # built, not executed
