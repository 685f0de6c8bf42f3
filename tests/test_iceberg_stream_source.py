"""Iceberg table as a STREAMING SOURCE: snapshot-id offsets,
deterministic replay, non-append refusal, schema-evolution NULL fill,
end-to-end checkpoint-restart exactly-once."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from incubator_gluten_spark.sources import iceberg_format as ice
from incubator_gluten_spark.sources.iceberg_stream import (
    _IcebergStreamReader,
    register_iceberg_stream_source,
)


def _rows(df):
    return sorted(map(tuple, df.collect()), key=lambda t: tuple(map(str, t)))


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k bigint, grp string").coalesce(1)


@pytest.fixture()
def table(spark, tmp_path):
    root = str(tmp_path / "istream")
    ice.create_table(_mk(spark, [(1, "a"), (2, "b")]), root, partition_cols=["grp"])
    ice.append(_mk(spark, [(3, "c")]), root)
    return root


def test_offsets_and_replay(table, spark, micro_batch):
    r = _IcebergStreamReader({"path": table})
    assert r.initialOffset() == {"snapshot": 0}
    rows, off = micro_batch(r, {"snapshot": 0})
    rows = sorted(rows)
    assert off == {"snapshot": 2}
    assert rows == [(1, "a"), (2, "b"), (3, "c")]
    replay = micro_batch(r, {"snapshot": 0}, {"snapshot": 2})[0]
    assert sorted(replay) == rows
    empty, off2 = micro_batch(r, off)
    assert list(empty) == [] and off2 == off
    # incremental: a new append streams alone
    ice.append(_mk(spark, [(4, "d")]), table)
    inc, off3 = micro_batch(r, off)
    assert sorted(inc) == [(4, "d")] and off3 == {"snapshot": 3}


def test_identity_partition_values_present(table, spark, micro_batch):
    # Iceberg data files carry the partition column — the stream reads
    # it straight from parquet (delta would need log injection)
    r = _IcebergStreamReader({"path": table})
    rows = sorted(micro_batch(r, {"snapshot": 0}, {"snapshot": 1})[0])
    assert rows == [(1, "a"), (2, "b")]


def test_non_append_snapshot_refuses_without_opt_in(table, spark, micro_batch):
    ice.delete_partition(table, {"grp": "a"})
    r = _IcebergStreamReader({"path": table})
    with pytest.raises(ValueError, match="ignoreChanges"):
        micro_batch(r, {"snapshot": 2}, {"snapshot": 3})
    r2 = _IcebergStreamReader({"path": table, "ignorechanges": "true"})
    # the delete snapshot ADDED no files -> zero rows, stream continues
    assert micro_batch(r2, {"snapshot": 2}, {"snapshot": 3})[0] == []


def test_schema_evolution_nulls_for_old_files(table, spark, micro_batch):
    ice.add_column(table, "note", "string")
    ice.append(
        spark.createDataFrame(
            [(9, "z", "hi")], "k bigint, grp string, note string"
        ).coalesce(1),
        table,
    )
    r = _IcebergStreamReader({"path": table})
    rows = sorted(
        micro_batch(r, {"snapshot": 0}, {"snapshot": 3})[0],
        key=lambda t: t[0],
    )
    assert rows == [
        (1, "a", None),
        (2, "b", None),
        (3, "c", None),
        (9, "z", "hi"),
    ]


def test_checkpoint_restart_is_exactly_once(table, spark, tmp_path):
    register_iceberg_stream_source(spark)
    ckpt, sink = str(tmp_path / "ckpt"), str(tmp_path / "sink")

    def run():
        sq = (
            spark.readStream.format("graft_iceberg")
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
    assert spark.read.parquet(sink).count() == 3
    run()  # no new snapshots: zero duplicates
    assert spark.read.parquet(sink).count() == 3
    ice.append(_mk(spark, [(4, "d")]), table)
    run()
    got = spark.read.parquet(sink)
    assert got.count() == 4
    assert _rows(got) == _rows(ice.read_table(spark, table))


def test_partitioned_reader_per_file_and_executor_decode(table, spark):
    """The reader plans one InputPartition per ADDED data_file; the engine-side micro-batch DataFrame carries one
    partition per file (proof the decode ran where partitions run)."""
    r = _IcebergStreamReader({"path": table})
    r.initialOffset()
    end = r.latestOffset()
    parts = r.partitions({"snapshot": 0}, end)
    n_files = len(ice.plan_files(table))
    assert len(parts) == n_files >= 2
    rows = []
    for p in parts:
        for item in r.read(p):
            if hasattr(item, "columns"):  # pyarrow RecordBatch
                rows.extend(zip(*[c.to_pylist() for c in item.columns]))
            else:
                rows.append(tuple(item))
    assert sorted(rows) == [(1, "a"), (2, "b"), (3, "c")]
    # engine-side: one micro-batch partition per planned file
    register_iceberg_stream_source(spark)
    seen: list[int] = []
    sq = (
        spark.readStream.format("graft_iceberg")
        .option("path", table)
        .load()
        .writeStream.foreachBatch(lambda df, _: seen.append(df.rdd.getNumPartitions()))
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()
    assert seen and seen[0] == n_files


def test_partitioned_reader_validates_at_planning(table, spark):
    ice.delete_partition(table, {"grp": "a"})
    r = _IcebergStreamReader({"path": table})
    with pytest.raises(ValueError, match="ignoreChanges"):
        r.partitions({"snapshot": 0}, {"snapshot": 3})
