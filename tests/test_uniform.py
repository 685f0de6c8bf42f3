"""Delta UniForm (sources/uniform.py): Iceberg metadata over Delta data
files — zero copy, name-mapped reads with partition-value injection,
EXISTING/ADDED manifest statuses, honest refusals."""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from incubator_gluten_spark.session import remove_at_exit
from incubator_gluten_spark.sources import delta_protocol as dp
from incubator_gluten_spark.sources import iceberg_format as ice
from incubator_gluten_spark.sources import uniform as uf
from incubator_gluten_spark.sources.avro import read_container

BASE = f"/tmp/spark_graft_uniform_{os.getpid()}"
remove_at_exit(BASE)


def _fresh(name: str) -> str:
    root = os.path.join(BASE, name)
    shutil.rmtree(root, ignore_errors=True)
    return root


def _mk(spark, root, n=20, partitioned=True):
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"),
        (F.col("id") * 2.0).alias("v"),
    )
    dp.create_table(df, root, partition_cols=["p"] if partitioned else None)
    return df


def test_enable_is_zero_copy_and_reads_equal(spark):
    root = _fresh("zero_copy")
    _mk(spark, root)
    before = sorted(glob.glob(root + "/**/*.parquet", recursive=True))
    uf.enable_uniform(spark, root)
    after = sorted(glob.glob(root + "/**/*.parquet", recursive=True))
    assert before == after  # not one data byte moved or copied
    d = [(r.k, r.p, r.v) for r in dp.read_table(spark, root).orderBy("k").collect()]
    i = [(r.k, r.p, r.v) for r in ice.read_table(spark, root).orderBy("k").collect()]
    assert d == i
    # the manifests reference the DELTA paths verbatim
    files = {f["file_path"] for f in ice.plan_files(root)}
    snap = dp.resolve(spark, root)
    assert files == {a["path"] for a in snap.adds}


def test_partition_values_injected_including_null(spark):
    """Delta strips partition columns from data files; the name-mapped
    read re-injects them from manifest tuples — including the null
    partition (Hive default sentinel round trip)."""
    root = _fresh("null_part")
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 2.0), (3, "b", 3.0)],
        "k long, p string, v double",
    )
    dp.create_table(df, root, partition_cols=["p"])
    uf.enable_uniform(spark, root)
    got = {(r.k, r.p) for r in ice.read_table(spark, root).collect()}
    assert got == {(1, "a"), (2, None), (3, "b")}


def test_sync_marks_existing_vs_added(spark):
    """Carried-over files stay EXISTING under their original snapshot
    id; only genuinely new Delta files are ADDED at the new id — the
    property Iceberg incremental consumers depend on."""
    root = _fresh("statuses")
    _mk(spark, root)
    uf.enable_uniform(spark, root)
    dp.append(
        spark.range(20, 25).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("string").alias("p"),
            (F.col("id") * 2.0).alias("v"),
        ),
        root,
    )
    snap2 = uf.sync_uniform(spark, root)
    meta = ice._current_metadata(root)
    ml = ice._resolve_path(root, ice._snapshot(meta, None)["manifest-list"])
    statuses = {}
    for mf in read_container(ml):
        for status, snap_id, data_file in read_container(
            ice._resolve_path(root, mf[0])
        ):
            statuses[data_file["file_path"]] = (status, snap_id)
    first = {a["path"] for a in dp.resolve(spark, root, version=0).adds}
    assert all(statuses[p] == (uf.EXISTING, 1) for p in first)
    added = {p for p, (s, i) in statuses.items() if s == uf.ADDED}
    assert added and all(statuses[p][1] == snap2["snapshot-id"] for p in added)


def test_stream_source_delivers_each_file_once(spark, micro_batch):
    """The Iceberg streaming source over a UniForm table: after a sync,
    only the NEW files' rows stream (EXISTING entries skipped)."""
    from incubator_gluten_spark.sources.iceberg_stream import (
        _IcebergStreamReader,
    )

    root = _fresh("stream_once")
    _mk(spark, root, n=10)
    uf.enable_uniform(spark, root)
    dp.append(
        spark.range(10, 14).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("string").alias("p"),
            (F.col("id") * 2.0).alias("v"),
        ),
        root,
    )
    uf.sync_uniform(spark, root)
    rd = _IcebergStreamReader({"path": root})
    batch1 = micro_batch(rd, {"snapshot": 0}, {"snapshot": 1})[0]
    batch2 = micro_batch(rd, {"snapshot": 1}, {"snapshot": 2})[0]
    assert len(batch1) == 10 and len(batch2) == 4
    assert {r[0] for r in batch2} == {10, 11, 12, 13}
    # UniForm data files lack identity partition columns; the stream
    # source must inject them from the manifest partition tuple exactly
    # like the batch path — NULL-filling them silently corrupts every
    # partition-filtered consumer (r9 ADVICE)
    assert all(r[1] == str(r[0] % 3) for r in batch1 + batch2)


def test_remove_only_commit_becomes_overwrite_snapshot(spark):
    root = _fresh("overwrite_op")
    _mk(spark, root)
    uf.enable_uniform(spark, root)
    dp.delete_where(spark, root, "p = '1'")
    snap = uf.sync_uniform(spark, root)
    assert snap["summary"]["operation"] == "overwrite"
    got = ice.read_table(spark, root)
    assert got.filter(F.col("p") == "1").count() == 0
    assert got.count() == dp.read_table(spark, root).count()


def test_time_travel_reads_pre_sync_state(spark):
    root = _fresh("time_travel")
    _mk(spark, root, n=10)
    uf.enable_uniform(spark, root)
    dp.append(
        spark.range(10, 15).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("string").alias("p"),
            (F.col("id") * 2.0).alias("v"),
        ),
        root,
    )
    uf.sync_uniform(spark, root)
    assert ice.read_table(spark, root, snapshot_id=1).count() == 10
    assert ice.read_table(spark, root).count() == 15


def test_refusals(spark):
    # DV-carrying table
    root = _fresh("refuse_dv")
    _mk(spark, root)
    dp.delete_where_dv(spark, root, "k = 5")
    with pytest.raises(dp.DeltaProtocolError, match="deletion vectors"):
        uf.enable_uniform(spark, root)
    # column-mapped table
    root = _fresh("refuse_cm")
    df = spark.range(5).select(F.col("id").alias("k"))
    dp.create_table(df, root, column_mapping="name")
    with pytest.raises(dp.DeltaProtocolError, match="column-mapped"):
        uf.enable_uniform(spark, root)
    # schema drift after enable (raw metaData commit widens the schema
    # — add_column needs column mapping, which UniForm refuses anyway)
    root = _fresh("refuse_drift")
    _mk(spark, root)
    uf.enable_uniform(spark, root)
    snap = dp.resolve(spark, root)
    meta_action = dict(snap.metadata)
    schema = json.loads(meta_action["schemaString"])
    schema["fields"].append(
        {"name": "extra", "type": "integer", "nullable": True, "metadata": {}}
    )
    meta_action["schemaString"] = json.dumps(schema)
    dp._commit(root, snap.version, [{"metaData": meta_action}])
    with pytest.raises(ValueError, match="schema changed"):
        uf.sync_uniform(spark, root)


def test_sync_refuses_partition_column_drift(spark):
    """Partition drift is schema-invisible: a metaData commit can change
    partitionColumns without touching any field, and the old spec would
    then inject NULL partition values for every new file (r9 ADVICE) —
    sync must refuse."""
    root = _fresh("refuse_part_drift")
    _mk(spark, root)
    uf.enable_uniform(spark, root)
    snap = dp.resolve(spark, root)
    meta_action = dict(snap.metadata)
    meta_action["partitionColumns"] = []
    dp._commit(root, snap.version, [{"metaData": meta_action}])
    with pytest.raises(ValueError, match="partition columns"):
        uf.sync_uniform(spark, root)


def test_name_mapped_read_refuses_evolved_schema(spark):
    """An Iceberg-side schema evolution on a name-mapped table makes
    name binding unsound — the read path refuses instead of
    mis-binding."""
    root = _fresh("refuse_evolved")
    _mk(spark, root)
    uf.enable_uniform(spark, root)
    ice.rename_column(root, "v", "val")
    with pytest.raises(ValueError, match="name-mapped read with evolved"):
        ice.read_table(spark, root)


def test_mapping_property_survives_sync(spark):
    root = _fresh("prop_survives")
    _mk(spark, root)
    uf.enable_uniform(spark, root)
    dp.append(
        spark.range(20, 22).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("string").alias("p"),
            (F.col("id") * 2.0).alias("v"),
        ),
        root,
    )
    uf.sync_uniform(spark, root)
    props = ice._current_metadata(root).get("properties") or {}
    mapping = json.loads(props["schema.name-mapping.default"])
    assert {m["names"][0] for m in mapping} == {"k", "p", "v"}
