"""Iceberg METADATA TABLES (the tbl$files / tbl$snapshots inspection
surface): built from manifests/metadata only, consistent with the data
they describe."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from incubator_gluten_spark.sources import iceberg_format as ice


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k bigint, grp string").coalesce(1)


@pytest.fixture()
def table(spark, tmp_path):
    root = str(tmp_path / "meta")
    ice.create_table(
        _mk(spark, [(1, "a"), (2, "b"), (3, "a")]), root, partition_cols=["grp"]
    )
    ice.append(_mk(spark, [(4, "b")]), root)
    ice.create_tag(root, "v1", snapshot_id=1)
    return root


def test_files_record_counts_match_data(table, spark):
    files = ice.read_meta_table(spark, table, "files")
    total = files.agg(F.sum("record_count")).first()[0]
    assert total == ice.read_table(spark, table).count() == 4
    # per-partition counts from METADATA equal the data's group-by
    per_part = {
        r.partition: r.n
        for r in files.groupBy("partition")
        .agg(F.sum("record_count").alias("n"))
        .collect()
    }
    assert per_part == {'{"grp": "a"}': 2, '{"grp": "b"}': 2}


def test_snapshots_history_refs(table, spark):
    snaps = ice.read_meta_table(spark, table, "snapshots")
    assert [r.operation for r in snaps.orderBy("snapshot_id").collect()] == [
        "append",
        "append",
    ]
    hist = ice.read_meta_table(spark, table, "history")
    # snapshot 1 IS an ancestor of current (2) — lineage, not identity
    # (r11: history walks parent-snapshot-id like Iceberg's procedure)
    assert {r.snapshot_id: r.is_current_ancestor for r in hist.collect()} == {
        1: True,
        2: True,
    }
    refs = {r.name: (r.type, r.snapshot_id) for r in
            ice.read_meta_table(spark, table, "refs").collect()}
    assert refs == {"v1": ("tag", 1), "main": ("branch", 2)}


def test_manifests_table_lists_current_snapshot_manifests(table, spark):
    m = ice.read_meta_table(spark, table, "manifests")
    assert m.count() == 2  # carried-over + new manifest
    assert {r.partition_spec_id for r in m.collect()} == {0}
    with pytest.raises(ValueError, match="unknown metadata table"):
        ice.read_meta_table(spark, table, "nope")


# ---------------------------------------------------------------------------
# rewrite_manifests (r10)


def test_rewrite_manifests_coalesces_metadata_only(spark, tmp_path):
    """After N small appends the snapshot carries N manifests; the
    procedure must coalesce them into one per spec WITHOUT touching a
    data file, keep the read identical, keep time travel, and preserve
    EXISTING provenance so streams see zero new rows."""
    import glob

    from pyspark.sql import functions as F

    from incubator_gluten_spark.sources import iceberg_format as ice
    from incubator_gluten_spark.sources.avro import read_container

    root = str(tmp_path / "rm")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, str(i % 2)) for i in range(lo, hi)], "k long, p string"
    ).coalesce(1)
    ice.create_table(mk(0, 4), root, partition_cols=["p"])
    for j in range(3):
        ice.append(mk(4 * (j + 1), 4 * (j + 2)), root)
    data_before = sorted(glob.glob(root + "/**/*.parquet", recursive=True))
    out = ice.rewrite_manifests(root)
    assert out["manifests_before"] == 4 and out["manifests_after"] == 1
    data_after = sorted(glob.glob(root + "/**/*.parquet", recursive=True))
    assert data_before == data_after  # not one data byte moved
    got = sorted(r.k for r in ice.read_table(spark, root).collect())
    assert got == list(range(16))
    assert ice.read_table(spark, root, snapshot_id=2).count() == 8
    # every entry re-stated EXISTING under its ORIGINAL snapshot id
    meta = ice._current_metadata(root)
    ml = ice._resolve_path(root, ice._snapshot(meta, None)["manifest-list"])
    ids = set()
    for mf in read_container(ml):
        for status, snap_id, _df in read_container(
            ice._resolve_path(root, mf[0])
        ):
            assert status == ice.EXISTING
            ids.add(snap_id)
    assert ids == {1, 2, 3, 4}


def test_rewrite_manifests_invisible_to_stream_source(
    spark, tmp_path, micro_batch
):
    from incubator_gluten_spark.sources import iceberg_format as ice
    from incubator_gluten_spark.sources.iceberg_stream import (
        _IcebergStreamReader,
    )

    root = str(tmp_path / "rm_stream")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i,) for i in range(lo, hi)], "k long"
    ).coalesce(1)
    ice.create_table(mk(0, 3), root)
    ice.append(mk(3, 6), root)
    rd = _IcebergStreamReader({"path": root})
    rows, off = micro_batch(rd, {"snapshot": 0})
    assert len(list(rows)) == 6
    ice.rewrite_manifests(root)  # replace snapshot, zero new rows
    rows2, off2 = micro_batch(rd, off)
    assert list(rows2) == []  # silently skipped, no refusal
    ice.append(mk(6, 8), root)
    rows3, _ = micro_batch(rd, off2)
    assert sorted(r[0] for r in rows3) == [6, 7]


def test_partitions_table_aggregates_manifest_entries(table, spark):
    parts = ice.read_meta_table(spark, table, "partitions")
    got = {
        r["partition"]: (r["record_count"], r["file_count"])
        for r in parts.collect()
    }
    assert got['{"grp": "a"}'][0] == 2
    assert got['{"grp": "b"}'] == (2, 2)  # create + append files
    total_sz = parts.agg(F.sum("total_size_in_bytes")).first()[0]
    files_sz = (
        ice.read_meta_table(spark, table, "files")
        .agg(F.sum("file_size_in_bytes"))
        .first()[0]
    )
    assert total_sz == files_sz


def test_history_excludes_staged_and_rolled_past(table, spark):
    staged = ice.append(_mk(spark, [(9, "z")]), table, wap_id="w")
    hist = {
        r["snapshot_id"]: r["is_current_ancestor"]
        for r in ice.read_meta_table(spark, table, "history").collect()
    }
    assert hist[staged["snapshot-id"]] is False
    assert hist[1] is True and hist[2] is True
    ice.rollback_to_snapshot(table, 1)
    hist = {
        r["snapshot_id"]: r["is_current_ancestor"]
        for r in ice.read_meta_table(spark, table, "history").collect()
    }
    assert hist[2] is False and hist[1] is True


def test_files_readable_metrics(table, spark):
    """r12: the files table exposes the manifests' per-column
    bounds/null counts decoded as readable_metrics JSON (Iceberg's
    files-table column) — layout health without a data read."""
    import json as _json

    files = ice.read_meta_table(spark, table, "files")
    assert "readable_metrics" in files.columns
    rows = files.collect()
    metrics = [_json.loads(r["readable_metrics"]) for r in rows]
    assert all("k" in m for m in metrics)
    for m in metrics:
        assert m["k"]["null_value_count"] == 0
        assert int(m["k"]["lower_bound"]) <= int(m["k"]["upper_bound"])
