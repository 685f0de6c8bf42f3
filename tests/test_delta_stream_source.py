"""Delta wire-format table as a STREAMING SOURCE: version offsets,
exactly-once replay, the delete/rewrite option contract, DV-aware
emission, column-mapping refusal.

Unit-level pins drive the stream reader directly, one micro-batch at a
time through the ``micro_batch`` fixture (latestOffset -> partitions ->
read, without an engine); end-to-end pins run real readStream ->
availableNow -> memory/foreachBatch queries including a
checkpoint-restart exactly-once round trip.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from incubator_gluten_spark.sources import delta_protocol as dp
from incubator_gluten_spark.sources.delta_stream import (
    _DeltaStreamReader,
    register_delta_stream_source,
)


def _rows(df):
    return sorted(map(tuple, df.collect()), key=lambda t: tuple(map(str, t)))


def _orders(spark, sf_dir, year):
    from incubator_gluten_spark.catalog import load_tables

    return (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .filter(F.year("o_orderdate") == year)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )


@pytest.fixture()
def table(spark, sf_dir, tmp_path):
    root = str(tmp_path / "dstream")
    dp.create_table(
        _orders(spark, sf_dir, 1996),
        root,
        partition_cols=["o_orderpriority"],
    )
    dp.append(_orders(spark, sf_dir, 1997), root)
    return root


# ---------------------------------------------------------------------------
# reader unit pins (no engine)


def test_offsets_and_replay_are_deterministic(
    table, spark, sf_dir, micro_batch
):
    r = _DeltaStreamReader({"path": table})
    assert r.initialOffset() == {"version": -1}
    rows, off = micro_batch(r, {"version": -1})
    rows = sorted(rows)
    assert off == {"version": 1}  # create=0, append=1
    want = _rows(
        _orders(spark, sf_dir, 1996).unionByName(_orders(spark, sf_dir, 1997))
    )
    assert sorted(map(tuple, rows), key=lambda t: tuple(map(str, t))) == want
    # replay of the same window is byte-identical (exactly-once lever)
    replay = sorted(micro_batch(r, {"version": -1}, {"version": 1})[0])
    assert replay == rows
    # caught-up read advances nothing and emits nothing
    rows2, off2 = micro_batch(r, off)
    assert list(rows2) == [] and off2 == off


def test_incremental_batch_sees_only_new_version(
    table, spark, sf_dir, micro_batch
):
    r = _DeltaStreamReader({"path": table})
    _, off = micro_batch(r, {"version": -1})
    dp.append(_orders(spark, sf_dir, 1995), table)
    rows, off2 = micro_batch(r, off)
    assert off2 == {"version": 2}
    got = sorted(map(tuple, rows), key=lambda t: tuple(map(str, t)))
    assert got == _rows(_orders(spark, sf_dir, 1995))


def test_max_versions_per_batch_paces_the_backlog(table, micro_batch):
    r = _DeltaStreamReader({"path": table, "maxversionsperbatch": "1"})
    _, off = micro_batch(r)  # from initialOffset: {"version": -1}
    assert off == {"version": 0}
    _, off = micro_batch(r, off)
    assert off == {"version": 1}


def test_delete_commit_requires_opt_in(table, spark, micro_batch):
    dp.delete_where(spark, table, "o_totalprice > 150000")  # COW rewrite
    r = _DeltaStreamReader({"path": table})
    with pytest.raises(ValueError, match="ignoreChanges"):
        micro_batch(r, {"version": -1})
    # ignoreChanges re-emits the restaged survivors (delta's contract)
    r2 = _DeltaStreamReader({"path": table, "ignorechanges": "true"})
    rows, off = micro_batch(r2, {"version": -1})
    assert off == {"version": 2}
    emitted = list(rows)
    survivors = dp.read_table(spark, table).count()
    total_v01 = sum(
        1 for _ in micro_batch(
            _DeltaStreamReader({"path": table, "ignorechanges": "true"}),
            {"version": -1},
            {"version": 1},
        )[0]
    )
    assert len(emitted) == total_v01 + survivors  # duplicates, documented


def test_dv_commit_needs_ignore_changes_and_emits_live_rows(
    table, spark, micro_batch
):
    out = dp.delete_where_dv(spark, table, "o_totalprice > 150000")
    assert out["rows_deleted"] > 0
    # a DV delete RE-ADDS existing paths: an update of already-delivered
    # data — refused without ignoreChanges even though no remove exists
    with pytest.raises(ValueError, match="ignoreChanges"):
        micro_batch(
            _DeltaStreamReader({"path": table}),
            {"version": 1},
            {"version": 2},
        )
    r = _DeltaStreamReader({"path": table, "ignorechanges": "true"})
    rows = micro_batch(r, {"version": 1}, {"version": 2})[0]
    # emitted = live rows of exactly the re-added (DV-carrying) files
    import pyarrow.parquet as pq
    import os

    snap = dp.resolve(spark, table)
    expect = sum(
        pq.read_metadata(
            os.path.join(table, a["path"].replace("/", os.sep))
        ).num_rows
        - a["deletionVector"]["cardinality"]
        for a in snap.adds
        if a.get("deletionVector")
    )
    assert len(rows) == expect
    # and none of the deleted rows leaked through (predicate column = idx 1)
    assert all(v[1] <= 150000 for v in rows)


def test_column_mapped_table_is_refused(spark, sf_dir, tmp_path, micro_batch):
    root = str(tmp_path / "mapped")
    dp.create_table(
        _orders(spark, sf_dir, 1996), root, column_mapping="name"
    )
    with pytest.raises(ValueError, match="column-mapped"):
        micro_batch(
            _DeltaStreamReader({"path": root}), {"version": -1}, {"version": 0}
        )


# ---------------------------------------------------------------------------
# per-file input partitions planned driver-side from the log alone,
# parquet decode executor-side


def test_partitioned_reader_plans_one_partition_per_add(table, spark, sf_dir):
    r = _DeltaStreamReader({"path": table})
    assert r.initialOffset() == {"version": -1}
    assert r.latestOffset() == {"version": 1}
    parts = r.partitions({"version": -1}, {"version": 1})
    n_adds = len(dp.resolve(spark, table).adds)
    assert len(parts) == n_adds  # one split per add-action
    # decoding every partition (what executors do) == the batch read
    rows = []
    for p in parts:
        for item in r.read(p):
            if hasattr(item, "columns"):  # pyarrow RecordBatch
                rows.extend(zip(*[c.to_pylist() for c in item.columns]))
            else:
                rows.append(tuple(item))
    want = _rows(dp.read_table(spark, table))
    assert sorted(rows, key=lambda t: tuple(map(str, t))) == want


def test_partitioned_reader_validation_happens_at_planning(table, spark):
    dp.delete_where(spark, table, "o_totalprice > 150000")
    r = _DeltaStreamReader({"path": table})
    with pytest.raises(ValueError, match="ignoreChanges"):
        r.partitions({"version": -1}, {"version": 2})


def test_partitioned_reader_paces_with_max_versions(table):
    r = _DeltaStreamReader(
        {"path": table, "maxversionsperbatch": "1"}
    )
    r.initialOffset()
    assert r.latestOffset() == {"version": 0}
    r.partitions({"version": -1}, {"version": 0})
    assert r.latestOffset() == {"version": 1}


def test_stream_microbatch_is_partitioned_per_file(table, spark):
    """Executor-side instrumentation: the micro-batch DataFrame must
    carry one partition per planned add-file (a simple reader's
    prefetched driver list collapses to a single partition) — proof the
    engine took streamReader() and the decode ran where partitions run."""
    register_delta_stream_source(spark)
    n_adds = len(dp.resolve(spark, table).adds)
    assert n_adds >= 2
    seen: list[int] = []

    def grab(df, _):
        seen.append(df.rdd.getNumPartitions())

    sq = (
        spark.readStream.format("graft_delta")
        .option("path", table)
        .load()
        .writeStream.foreachBatch(grab)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()
    assert seen and seen[0] == n_adds


# ---------------------------------------------------------------------------
# end-to-end through the engine


def test_readstream_available_now_matches_batch(table, spark, sf_dir):
    register_delta_stream_source(spark)
    name = f"ds_{uuid.uuid4().hex[:8]}"
    sq = (
        spark.readStream.format("graft_delta")
        .option("path", table)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()
    assert _rows(spark.table(name)) == _rows(dp.read_table(spark, table))


def test_checkpoint_restart_is_exactly_once(table, spark, sf_dir, tmp_path):
    register_delta_stream_source(spark)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def run():
        sq = (
            spark.readStream.format("graft_delta")
            .option("path", table)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination()

    run()
    n1 = spark.read.parquet(sink).count()
    assert n1 == dp.read_table(spark, table).count()
    run()  # nothing new: the restart must deliver ZERO duplicate rows
    assert spark.read.parquet(sink).count() == n1
    dp.append(_orders(spark, sf_dir, 1995), table)
    run()  # only the new commit streams
    got = spark.read.parquet(sink)
    assert got.count() == n1 + _orders(spark, sf_dir, 1995).count()
    want = dp.read_table(spark, table)
    assert _rows(got) == _rows(want)


def test_pacing_resumes_after_checkpoint_restart(table, spark, sf_dir):
    """maxVersionsPerBatch across a simulated restart (r10 verdict
    caveat): the engine hands a restarted reader the checkpointed
    offset only via partitions(start, end), so the FIRST post-restart
    batch is uncapped (documented best-effort, exactly-once exact) —
    but from the SECOND batch on, pacing must hold again."""
    for yr in (1992, 1993, 1994, 1995):  # versions 2..5
        dp.append(_orders(spark, sf_dir, yr), table)
    # fresh reader, initialOffset NEVER called = engine restart path
    r = _DeltaStreamReader(
        {"path": table, "maxVersionsPerBatch": "1"}
    )
    # first post-restart batch: no hwm -> uncapped to the true latest
    end1 = r.latestOffset()
    assert end1 == {"version": 5}
    r.partitions({"version": 1}, end1)  # checkpointed start was v1
    # second batch: hwm restored, a burst of new commits must pace 1/batch
    for yr in (1998, 1992, 1993):  # versions 6..8
        dp.append(_orders(spark, sf_dir, yr), table)
    end2 = r.latestOffset()
    assert end2 == {"version": 6}  # hwm 5 + maxVersionsPerBatch 1
    r.partitions(end1, end2)
    assert r.latestOffset() == {"version": 7}  # still pacing
