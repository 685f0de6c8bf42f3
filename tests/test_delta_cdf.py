"""Delta Change Data Feed WIRE-FORMAT pins (PROTOCOL.md "Add CDC File" /
"Change Data Files"): cdc actions under ``_change_data/``, derivation
rules (adds = inserts when no cdc; cdc EXCLUSIVE when present; removes
without cdc refused), update pre/postimages, merge insert+update images,
DV deletes captured without data rewrite, mid-stream enablement, and the
protocol gate (minWriterVersion 4).

Reference test analog: gluten-delta/src/test/scala/org/apache/gluten/
execution/DeltaSuite.scala (delta surface exercised through the scan).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from incubator_gluten_spark.sources import delta_protocol as dp
from incubator_gluten_spark.sources.delta_protocol import DeltaProtocolError

CDF = {"delta.enableChangeDataFeed": "true"}


def _rows(df):
    return sorted(map(tuple, df.collect()), key=lambda t: tuple(map(str, t)))


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "k bigint, price double, grp string"
    ).coalesce(1)


def _commit_actions(root, v):
    with open(os.path.join(root, "_delta_log", f"{v:020d}.json")) as f:
        return [json.loads(line) for line in f if line.strip()]


def test_insert_commits_derive_inserts(spark, tmp_path):
    """Commits with only dataChange=true adds carry no cdc action; the
    reader derives every added row as an insert at that commit."""
    root = str(tmp_path / "cdf_ins")
    dp.create_table(_mk(spark, [(1, 10.0, "a"), (2, 20.0, "b")]), root,
                    configuration=CDF)
    dp.append(_mk(spark, [(3, 30.0, "a")]), root)
    assert not any("cdc" in a for a in _commit_actions(root, 0))
    ch = dp.table_changes(spark, root, 0, 1)
    assert _rows(ch.select("k", "_change_type", "_commit_version")) == [
        (1, "insert", 0),
        (2, "insert", 0),
        (3, "insert", 1),
    ]


def test_delete_where_emits_cdc_delete(spark, tmp_path):
    root = str(tmp_path / "cdf_del")
    dp.create_table(
        _mk(spark, [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "a")]),
        root,
        configuration=CDF,
    )
    dp.delete_where(spark, root, "grp = 'a'")
    acts = _commit_actions(root, 1)
    cdc = [a["cdc"] for a in acts if "cdc" in a]
    assert cdc and all(c["path"].startswith("_change_data/") for c in cdc)
    assert all(c["dataChange"] is False for c in cdc)
    ch = dp.table_changes(spark, root, 1, 1)
    assert _rows(ch.select("k", "_change_type")) == [
        (1, "delete"),
        (3, "delete"),
    ]
    # table state unaffected by the change files
    assert _rows(dp.read_table(spark, root).select("k")) == [(2,)]


def test_update_where_emits_pre_and_post_images(spark, tmp_path):
    root = str(tmp_path / "cdf_upd")
    dp.create_table(
        _mk(spark, [(1, 10.0, "a"), (2, 20.0, "b")]), root, configuration=CDF
    )
    dp.update_where(spark, root, "grp = 'a'", {"price": "price * 2"})
    ch = dp.table_changes(spark, root, 1, 1)
    assert _rows(ch.select("k", "price", "_change_type")) == [
        (1, 10.0, "update_preimage"),
        (1, 20.0, "update_postimage"),
    ]


def test_merge_emits_update_images_and_inserts(spark, tmp_path):
    root = str(tmp_path / "cdf_mrg")
    dp.create_table(
        _mk(spark, [(1, 10.0, "a"), (2, 20.0, "b")]), root, configuration=CDF
    )
    src = _mk(spark, [(2, 99.0, "b"), (7, 70.0, "c"), (None, 5.0, "n")])
    dp.merge(spark, root, src, "k")
    ch = dp.table_changes(spark, root, 1, 1)
    assert _rows(ch.select("k", "price", "_change_type")) == sorted(
        [
            (2, 20.0, "update_preimage"),
            (2, 99.0, "update_postimage"),
            (7, 70.0, "insert"),
            (None, 5.0, "insert"),
        ],
        key=lambda t: tuple(map(str, t)),
    )


def test_dv_delete_emits_cdc_without_rewriting_data(spark, tmp_path):
    """delete_where_dv's remove/re-add-with-DV pair is not derivable as
    CDF; the commit must carry explicit cdc delete rows while the data
    files themselves stay byte-identical (merge-on-read)."""
    root = str(tmp_path / "cdf_dv")
    dp.create_table(
        _mk(spark, [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "a")]),
        root,
        configuration=CDF,
    )
    before = {a["path"] for a in dp.resolve(spark, root).adds}
    dp.delete_where_dv(spark, root, "k >= 2")
    after = {a["path"] for a in dp.resolve(spark, root).adds}
    assert before == after  # no data rewrite, only DV attachment
    ch = dp.table_changes(spark, root, 1, 1)
    assert _rows(ch.select("k", "_change_type")) == [
        (2, "delete"),
        (3, "delete"),
    ]
    # second DV delete must capture ONLY the newly deleted row
    dp.delete_where_dv(spark, root, "k >= 1")
    ch2 = dp.table_changes(spark, root, 2, 2)
    assert _rows(ch2.select("k", "_change_type")) == [(1, "delete")]


def test_cdc_actions_are_exclusive(spark, tmp_path):
    """PROTOCOL.md: when a commit contains cdc actions they define its
    change data EXCLUSIVELY — add/remove in the same commit are ignored
    by the CDF reader (a COW delete's kept-row re-adds would otherwise
    read as inserts)."""
    root = str(tmp_path / "cdf_excl")
    dp.create_table(
        _mk(spark, [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "a")]),
        root,
        configuration=CDF,
    )
    out = dp.delete_where(spark, root, "k = 1")
    assert out["files_rewritten"] == 1
    acts = _commit_actions(root, 1)
    # the COW commit re-adds kept rows (2, 3) as dataChange=true adds...
    assert any("add" in a for a in acts)
    # ...but the CDF shows only the deleted row
    ch = dp.table_changes(spark, root, 1, 1)
    assert _rows(ch.select("k", "_change_type")) == [(1, "delete")]


def test_remove_without_cdc_is_refused(spark, tmp_path):
    """A CDF-enabled commit that removes data files with dataChange=true
    but wrote no cdc action violates the writer contract — refuse
    instead of misderiving."""
    root = str(tmp_path / "cdf_bad")
    dp.create_table(_mk(spark, [(1, 10.0, "a")]), root, configuration=CDF)
    snap = dp.resolve(spark, root)
    dp._commit(
        root,
        snap.version,
        [
            {
                "remove": {
                    "path": snap.adds[0]["path"],
                    "deletionTimestamp": 0,
                    "dataChange": True,
                }
            }
        ],
    )
    with pytest.raises(DeltaProtocolError, match="no cdc action"):
        dp.table_changes(spark, root, 1, 1).collect()


def test_non_cdf_table_refused(spark, tmp_path):
    root = str(tmp_path / "cdf_off")
    dp.create_table(_mk(spark, [(1, 10.0, "a")]), root)
    with pytest.raises(DeltaProtocolError, match="not enabled"):
        dp.table_changes(spark, root, 0, 0).collect()


def test_enable_cdf_midstream(spark, tmp_path):
    """enable_cdf is a metadata-only commit; changes are captured from
    that version forward, and ranges reaching before it are refused —
    no change data exists for those commits."""
    root = str(tmp_path / "cdf_mid")
    dp.create_table(_mk(spark, [(1, 10.0, "a"), (2, 20.0, "b")]), root)
    v = dp.enable_cdf(spark, root)  # version 1
    snap = dp.resolve(spark, root)
    assert snap.protocol["minWriterVersion"] >= 4
    dp.delete_where(spark, root, "k = 1")  # version 2
    ch = dp.table_changes(spark, root, v + 1, v + 1)
    assert _rows(ch.select("k", "_change_type")) == [(1, "delete")]
    with pytest.raises(DeltaProtocolError, match="not enabled"):
        dp.table_changes(spark, root, 0, 2).collect()


def test_partitioned_cdc_layout(spark, tmp_path):
    """cdc actions carry partitionValues like adds; the change files do
    NOT contain the partition column but DO physically contain
    _change_type."""
    root = str(tmp_path / "cdf_part")
    dp.create_table(
        _mk(spark, [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "a")]),
        root,
        partition_cols=["grp"],
        configuration=CDF,
    )
    dp.delete_where(spark, root, "grp = 'a'")
    cdc = [a["cdc"] for a in _commit_actions(root, 1) if "cdc" in a]
    assert cdc and all(c["partitionValues"] == {"grp": "a"} for c in cdc)
    sample = spark.read.parquet(os.path.join(root, cdc[0]["path"]))
    assert "_change_type" in sample.columns
    assert "grp" not in sample.columns
    ch = dp.table_changes(spark, root, 1, 1)
    assert _rows(ch.select("k", "grp", "_change_type")) == [
        (1, "a", "delete"),
        (3, "a", "delete"),
    ]


def test_cdf_protocol_version_at_create(spark, tmp_path):
    root = str(tmp_path / "cdf_proto")
    dp.create_table(_mk(spark, [(1, 10.0, "a")]), root, configuration=CDF)
    snap = dp.resolve(spark, root)
    assert snap.protocol["minWriterVersion"] == 4
    assert snap.metadata["configuration"]["delta.enableChangeDataFeed"] == "true"


def test_missing_commit_in_range_raises(spark, tmp_path):
    root = str(tmp_path / "cdf_gap")
    dp.create_table(_mk(spark, [(1, 10.0, "a")]), root, configuration=CDF)
    with pytest.raises(ValueError, match="absent"):
        dp.table_changes(spark, root, 0, 3).collect()


def test_empty_merge_range_yields_no_changes(spark, tmp_path):
    """An empty-source merge writes an empty commit: the CDF over that
    version is empty, not an error."""
    root = str(tmp_path / "cdf_empty")
    dp.create_table(_mk(spark, [(1, 10.0, "a")]), root, configuration=CDF)
    src = _mk(spark, []).filter("k IS NOT NULL").limit(0)
    dp.merge(spark, root, src, "k")
    assert dp.table_changes(spark, root, 1, 1).count() == 0


def test_cdf_flag_survives_checkpoint(spark, tmp_path):
    """The checkpoint's metaData row must carry the LIVE configuration:
    the r9 column-mapping work found it writing {} — a checkpointed CDF
    table silently stopped recording changes (delete_where would skip
    the cdc files, then table_changes refused the commit)."""
    root = str(tmp_path / "cdf_ck")
    dp.create_table(_mk(spark, [(1, 10.0, "a"), (2, 20.0, "b")]), root,
                    configuration=CDF)
    dp.checkpoint(spark, root)
    snap = dp.resolve(spark, root)
    assert snap.metadata["configuration"]["delta.enableChangeDataFeed"] == "true"
    dp.delete_where(spark, root, "k = 1")
    ch = dp.table_changes(spark, root, 1, 1)
    assert _rows(ch.select("k", "_change_type")) == [(1, "delete")]


def test_table_changes_plan_width_constant_in_commits(
    spark, tmp_path, monkeypatch
):
    """r13 (extends the r12-verdict plan-width fix to CDF): the change
    scan is O(schema generations) plan subtrees, never O(commits) —
    all change files of one generation read in ONE scan per kind, with
    _commit_version riding the basename broadcast map.  Below the
    bounded-width cap the scan may use per-version literal injection
    (width <= _GROUPED_SCAN_UNION_MAX, a constant); the cap is forced
    down here so 9 commits exercise the map path."""
    root = str(tmp_path / "cdf_width")
    dp.create_table(_mk(spark, [(1, 10.0, "a")]), root, configuration=CDF)
    for v in range(1, 9):
        dp.append(_mk(spark, [(v * 10, float(v), "b")]), root)
    want = sorted(
        [(1, "insert", 0)] + [(v * 10, "insert", v) for v in range(1, 9)]
    )
    # small-range path: bounded width, same rows
    small = dp.table_changes(spark, root, 0)
    assert sorted(
        (r.k, r._change_type, r._commit_version) for r in small.collect()
    ) == want
    monkeypatch.setattr(dp, "_GROUPED_SCAN_UNION_MAX", 2)
    ch = dp.table_changes(spark, root, 0)
    phys = ch._jdf.queryExecution().executedPlan().toString()
    assert phys.count("FileScan parquet") == 1  # 9 commits, ONE scan
    got = sorted(
        (r.k, r._change_type, r._commit_version) for r in ch.collect()
    )
    assert got == want
    # mixed kinds: a DELETE adds cdc files -> still <=2 scans per
    # generation (one cdc, one derived-insert), not one per commit
    dp.delete_where(spark, root, "k = 10")
    ch2 = dp.table_changes(spark, root, 0)
    phys2 = ch2._jdf.queryExecution().executedPlan().toString()
    assert phys2.count("FileScan parquet") <= 2
    assert ("10", "delete") in {
        (str(r.k), r._change_type) for r in ch2.collect()
    }
