"""Hudi COW table as a streaming source (sources/hudi_stream.py):
commit-instant offsets, record-level incremental batches, checkpoint
resume exactly-once, upsert change-capture without re-delivery of
untouched records."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from incubator_gluten_spark.sources import hudi_format as hf
from incubator_gluten_spark.sources.hudi_stream import (
    register_hudi_stream_source,
)


def _run_available_now(spark, root: str, sink: str, ckpt: str) -> None:
    sq = (
        spark.readStream.format("graft_hudi")
        .option("path", root)
        .load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()


def test_checkpoint_resume_delivers_exactly_new_commit(spark, tmp_path):
    """First run delivers the bootstrap commit; after an insert-only
    upsert, resuming from the SAME checkpoint delivers exactly the new
    records — the offset-log exactly-once contract."""
    register_hudi_stream_source(spark)
    root = str(tmp_path / "resume")
    sink, ckpt = f"{root}_sink", f"{root}_ckpt"
    df1 = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    hf.create_table(df1, root, key_col="k")
    _run_available_now(spark, root, sink, ckpt)
    got1 = spark.read.parquet(sink)
    assert got1.count() == 10
    df2 = spark.range(10, 15).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    hf.upsert(spark, df2, root, key_col="k")
    _run_available_now(spark, root, sink, ckpt)
    got2 = spark.read.parquet(sink)
    assert got2.count() == 15
    assert {r.k for r in got2.collect()} == set(range(15))


def test_upsert_delivers_changed_records_only(spark, tmp_path):
    """An upsert touching 3 of 10 records delivers exactly those 3 (at
    their NEW values) on the next batch — untouched records of the
    rewritten file group are not re-delivered (commit-time
    preservation, the record-level incremental contract)."""
    register_hudi_stream_source(spark)
    root = str(tmp_path / "changed_only")
    sink, ckpt = f"{root}_sink", f"{root}_ckpt"
    df1 = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    hf.create_table(df1, root, key_col="k")
    _run_available_now(spark, root, sink, ckpt)
    upd = spark.createDataFrame(
        [(1, 1000), (3, 3000), (5, 5000)], "k long, v long"
    )
    hf.upsert(spark, upd, root, key_col="k")
    _run_available_now(spark, root, sink, ckpt)
    rows = spark.read.parquet(sink).collect()
    assert len(rows) == 13  # 10 inserts + exactly the 3 changed records
    delivered_twice = sorted(
        k for k in {r.k for r in rows}
        if sum(1 for r in rows if r.k == k) == 2
    )
    assert delivered_twice == [1, 3, 5]
    assert {r.v for r in rows if r.k == 1} == {2, 1000}


def test_max_commits_per_batch_paces_backlog(spark, micro_batch, tmp_path):
    """Three commits with maxCommitsPerBatch=1: each micro-batch
    advances one instant (paced backlog drain)."""
    register_hudi_stream_source(spark)
    root = str(tmp_path / "paced")
    df1 = spark.range(3).select(F.col("id").alias("k"), F.col("id").alias("v"))
    hf.create_table(df1, root, key_col="k")
    for lo in (3, 6):
        hf.upsert(
            spark,
            spark.range(lo, lo + 3).select(
                F.col("id").alias("k"), F.col("id").alias("v")
            ),
            root,
            key_col="k",
        )
    from incubator_gluten_spark.sources.hudi_stream import _HudiStreamReader

    rd = _HudiStreamReader({"path": root, "maxCommitsPerBatch": "1"})
    committed = hf.completed_instants(root)
    off = rd.initialOffset()
    seen = []
    for expect in committed:
        it, off = micro_batch(rd, off)
        seen.append((off["instant"], len(list(it))))
    assert [i for i, _ in seen] == committed
    assert [n for _, n in seen] == [3, 3, 3]
    # drained: a further read is empty and holds the offset
    it, off2 = micro_batch(rd, off)
    assert list(it) == [] and off2 == off


def test_replay_between_offsets_is_deterministic(spark, micro_batch, tmp_path):
    """Re-planning (start, end] replays the same rows the live
    micro-batch delivered — the exactly-once recovery path."""
    register_hudi_stream_source(spark)
    root = str(tmp_path / "replay")
    df1 = spark.range(4).select(F.col("id").alias("k"), F.col("id").alias("v"))
    hf.create_table(df1, root, key_col="k")
    hf.upsert(
        spark,
        spark.createDataFrame([(9, 9), (2, 222)], "k long, v long"),
        root,
        key_col="k",
    )
    from incubator_gluten_spark.sources.hudi_stream import _HudiStreamReader

    c = hf.completed_instants(root)
    rd = _HudiStreamReader({"path": root})
    live, end = micro_batch(rd, {"instant": c[0]})
    assert end == {"instant": c[1]}
    live = sorted(live)
    replay = sorted(micro_batch(rd, {"instant": c[0]}, {"instant": c[1]})[0])
    assert live == replay
    assert sorted(r[0] for r in live) == [2, 9]


def test_mor_table_refuses(spark, micro_batch, tmp_path):
    """A MERGE_ON_READ table refuses at schema/plan time instead of
    returning base-file-only wrong answers."""
    register_hudi_stream_source(spark)
    root = str(tmp_path / "mor_refuse")
    df1 = spark.range(3).select(F.col("id").alias("k"), F.col("id").alias("v"))
    hf.create_table(df1, root, key_col="k")
    props_path = os.path.join(root, ".hoodie", "hoodie.properties")
    with open(props_path) as f:
        props = f.read()
    with open(props_path, "w") as f:
        f.write(props.replace("COPY_ON_WRITE", "MERGE_ON_READ"))
    from incubator_gluten_spark.sources.hudi_format import HudiFormatError
    from incubator_gluten_spark.sources.hudi_stream import _HudiStreamReader

    rd = _HudiStreamReader({"path": root})
    with pytest.raises(HudiFormatError, match="MERGE_ON_READ"):
        micro_batch(rd, {"instant": ""}, {"instant": "99999999999999999"})


def test_newest_base_file_by_instant_not_basename():
    """Base-file names start with the md5 file_id, so lexicographic max
    picks an arbitrary file GROUP; the schema source must be the latest
    INSTANT (r9 ADVICE)."""
    from incubator_gluten_spark.sources.hudi_stream import _newest_base_file

    files = [
        "/t/ff000000_0_20240101000000000.parquet",  # big id, old instant
        "/t/00000000_0_20240301000000000.parquet",  # small id, newest
        "/t/aa000000_0_20240201000000000.parquet",
    ]
    assert _newest_base_file(files).endswith("00000000_0_20240301000000000.parquet")
    assert max(files, key=os.path.basename) != _newest_base_file(files)


def test_partitioned_reader_per_file_and_executor_decode(spark, tmp_path):
    """One InputPartition per candidate base file; the engine-side
    micro-batch carries one partition per file and the record-level
    commit-time filter runs executor-side."""
    from incubator_gluten_spark.sources.hudi_stream import _HudiStreamReader

    root = str(tmp_path / "part_reader")
    df1 = spark.range(4).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    hf.create_table(df1, root, key_col="k")
    hf.upsert(
        spark,
        spark.range(4, 8).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
        root,
        key_col="k",
    )
    r = _HudiStreamReader({"path": root})
    r.initialOffset()
    end = r.latestOffset()
    parts = r.partitions({"instant": ""}, end)
    assert len(parts) >= 1
    rows = []
    for p in parts:
        for item in r.read(p):
            if hasattr(item, "columns"):
                rows.extend(zip(*[c.to_pylist() for c in item.columns]))
            else:
                rows.append(tuple(item))
    assert sorted(r[0] for r in rows) == list(range(8))
    register_hudi_stream_source(spark)
    seen: list[int] = []
    sq = (
        spark.readStream.format("graft_hudi")
        .option("path", root)
        .load()
        .writeStream.foreachBatch(lambda df, _: seen.append(df.rdd.getNumPartitions()))
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()
    assert seen and seen[0] == len(parts)
