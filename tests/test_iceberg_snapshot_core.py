"""The one Iceberg snapshot writer, for format versions 1 and 2: snapshot
ids stay unique after ``expire_snapshots``, a commit carries the
table's refs and properties forward and records its parent, manifest
entries are stamped with the id of the snapshot that adds them, and
manifest lists are read by field name (a v2 list has ``content`` and
``sequence_number`` in front of ``added_snapshot_id``)."""

from __future__ import annotations

import os

import pytest

from incubator_gluten_spark.sources import iceberg_format as ice
from incubator_gluten_spark.sources import iceberg_v2 as v2
from incubator_gluten_spark.sources import uniform
from incubator_gluten_spark.sources.avro import read_container, read_header


def _mk(spark, ks):
    return spark.createDataFrame([(k,) for k in ks], "k bigint").coalesce(1)


def _manifests(root: str, snap: dict) -> list[dict]:
    path = ice._resolve_path(root, snap["manifest-list"])
    names = [f["name"] for f in read_header(path)[0]["fields"]]
    return [dict(zip(names, row)) for row in read_container(path)]


def _added_stamps(root: str, snap: dict) -> set[int]:
    """Snapshot ids on the ADDED entries of the manifests ``snap`` added."""
    out = set()
    for mf in _manifests(root, snap):
        if mf["added_snapshot_id"] != snap["snapshot-id"]:
            continue
        for status, sid, _f in read_container(
            ice._resolve_path(root, mf["manifest_path"])
        ):
            if status == ice.ADDED:
                out.add(sid)
    return out


_FORMATS = {
    "v1": (ice.create_table, ice.append, ice.read_table),
    "v2": (v2.create_table, v2.append, v2.read_table),
}


@pytest.mark.parametrize("fmt", sorted(_FORMATS))
def test_expire_then_append_keeps_rows_and_unique_ids(spark, tmp_path, fmt):
    create, append, read = _FORMATS[fmt]
    root = str(tmp_path / fmt)
    create(_mk(spark, [0]), root)
    for k in (1, 2, 3):
        append(_mk(spark, [k]), root)
    out = ice.expire_snapshots(root, retain_last=1)
    assert out["expired_snapshot_ids"] == [1, 2, 3]
    for k in (4, 5, 6, 7):
        append(_mk(spark, [k]), root)
    meta = ice._current_metadata(root)
    ids = [s["snapshot-id"] for s in meta["snapshots"]]
    assert ids == [4, 5, 6, 7, 8]
    assert sorted(r.k for r in read(spark, root).collect()) == list(range(8))
    for s in meta["snapshots"][1:]:
        assert _added_stamps(root, s) == {s["snapshot-id"]}


def test_v2_commit_keeps_refs_properties_and_parent(spark, tmp_path):
    root = str(tmp_path / "v2_state")
    v2.create_table(_mk(spark, [1, 2]), root)
    ice.create_branch(root, "audit")
    uniform._set_properties(root, {"owner": "x"})
    v2.append(_mk(spark, [3]), root)
    v2.position_delete(spark, root, "k = 1")
    meta = v2._current_metadata(root)
    assert meta["refs"] == {"audit": {"snapshot-id": 1, "type": "branch"}}
    assert meta["properties"] == {"owner": "x"}
    assert [s.get("parent-snapshot-id") for s in meta["snapshots"]] == [
        None,
        1,
        2,
    ]
    assert [s["sequence-number"] for s in meta["snapshots"]] == [1, 2, 3]
    assert sorted(r.k for r in v2.read_table(spark, root).collect()) == [2, 3]


def test_v2_append_after_expire_stamps_its_own_snapshot_id(spark, tmp_path):
    root = str(tmp_path / "v2_stamp")
    v2.create_table(_mk(spark, [1]), root)
    v2.append(_mk(spark, [2]), root)
    v2.append(_mk(spark, [3]), root)
    ice.expire_snapshots(root, retain_last=1)
    snap = v2.append(_mk(spark, [4]), root)
    assert snap["snapshot-id"] == 4
    assert _added_stamps(root, snap) == {4}
    # the incremental changelog finds the rows under the snapshot's id
    ch = ice.read_changelog(spark, root, 3)
    assert [(r.k, r._commit_snapshot_id) for r in ch.collect()] == [(4, 4)]


def test_v2_manifests_meta_table_reports_added_snapshot_id(spark, tmp_path):
    root = str(tmp_path / "v2_manifests")
    v2.create_table(_mk(spark, [1]), root)
    v2.append(_mk(spark, [2]), root)
    v2.position_delete(spark, root, "k = 1")
    rows = ice.read_meta_table(spark, root, "manifests").collect()
    assert sorted(r.added_snapshot_id for r in rows) == [1, 2, 3]
    assert all(
        os.path.exists(ice._resolve_path(root, r.path)) for r in rows
    )


def test_commit_refuses_a_live_snapshot_id(spark, tmp_path):
    root = str(tmp_path / "live_id")
    ice.create_table(_mk(spark, [1]), root)
    meta = ice._current_metadata(root)
    with pytest.raises(ValueError, match="already live"):
        ice._commit_snapshot(
            root,
            meta,
            1,
            ice._manifest_list(root, ice._snapshot(meta, None)),
            "append",
            meta["schema"],
            ice._default_spec(meta),
        )
    assert ice._current_metadata(root) == meta


def test_v1_readers_skip_v2_delete_files(spark, tmp_path):
    """``plan_files`` lists data files only: after a v2 position delete,
    the files meta table shows the one data file (the delete file is not
    data), and the merge-on-read view still applies the delete."""
    root = str(tmp_path / "v2_deletes")
    v2.create_table(_mk(spark, [1, 2, 3, 4, 5]), root)
    v2.position_delete(spark, root, "k = 1")
    files = ice.read_meta_table(spark, root, "files").collect()
    assert [f.record_count for f in files] == [5]
    assert not any(f.file_path.endswith("-deletes.parquet") for f in files)
    assert [f["content"] for f in ice.plan_files(root)] == [0]
    assert sorted(r.k for r in v2.read_table(spark, root).collect()) == [2, 3, 4, 5]


def test_v1_reader_and_rewrites_refuse_v2_deletes(spark, tmp_path):
    """The v1 reader and its copy-on-write rewrites plan through
    ``plan_files`` and never apply delete files: on a snapshot with live
    deletes they refuse instead of returning (or re-stating as live) the
    deleted row.  The snapshot before the delete still reads."""
    root = str(tmp_path / "v2_deletes_v1_reader")
    v2.create_table(_mk(spark, [1, 2, 3, 4, 5]), root)
    first = ice._current_metadata(root)["current-snapshot-id"]
    v2.position_delete(spark, root, "k = 1")
    with pytest.raises(ValueError, match=r"iceberg_v2\.read_table"):
        ice.read_table(spark, root).count()
    with pytest.raises(ValueError, match="delete files"):
        ice.delete_where(spark, root, [("k", "=", 2)])
    with pytest.raises(ValueError, match="delete files"):
        ice.delete_partition(root, {"k": 2})
    with pytest.raises(ValueError, match="delete files"):
        ice.merge(spark, root, _mk(spark, [1, 6]), ["k"])
    assert ice.read_table(spark, root, snapshot_id=first).count() == 5
    assert v2.read_table(spark, root).count() == 4
    v2.rewrite_data_files(spark, root)
    assert sorted(r.k for r in ice.read_table(spark, root).collect()) == [2, 3, 4, 5]
