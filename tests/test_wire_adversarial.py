"""Adversarial wire-format fixtures (r7 verdict #6): inputs a spec-
conformant but hostile WRITER could produce — out-of-creation-order
Delta commit files, a mixed v1/v2 Iceberg manifest list, a Hudi MOR log
carrying an unknown block type.  Readers must honor the SPEC's ordering
and skip rules, not incidental file-system order.

Reference conformance analogs: gluten-delta / gluten-iceberg /
gluten-hudi suite roots (each replays upstream's connector suites)."""

from __future__ import annotations

import json
import os
import struct

import pytest
from pyspark.sql import functions as F

from incubator_gluten_spark.sources import delta_protocol as dp
from incubator_gluten_spark.sources import hudi_mor as mor
from incubator_gluten_spark.sources import iceberg_format as ice
from incubator_gluten_spark.sources import iceberg_v2 as v2


def _rows(df):
    return sorted(map(tuple, df.collect()), key=str)


# ---------------------------------------------------------------------------
# Delta: replay must be VERSION-ordered, never file-creation-ordered


def test_delta_commits_replay_in_version_order_not_mtime(spark, tmp_path):
    """Commit v2 is written to disk BEFORE v1 (as a concurrent writer
    losing a race could leave it); v1 adds a file, v2 removes it.  A
    creation-order replay would apply remove-then-add and resurrect the
    file — the spec's replay is by version number."""
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id int, s string")
    root = str(tmp_path / "delta_order")
    dp.create_table(df, root)
    snap0 = dp.resolve(spark, root)
    victim_add = snap0.adds[0]
    victim = victim_add["path"]
    # v2 FIRST on disk (oldest mtime): re-ADDS the file v1 removes.
    # Version-ordered replay: remove (v1) then add (v2) -> file LIVE.
    # Creation-ordered replay would apply add then remove -> file dead.
    with open(dp._commit_path(root, 2), "w") as f:
        f.write(json.dumps({"add": victim_add}) + "\n")
    os.utime(dp._commit_path(root, 2), (1, 1))
    with open(dp._commit_path(root, 1), "w") as f:
        f.write(json.dumps({"remove": {"path": victim,
                                       "deletionTimestamp": 0,
                                       "dataChange": True}}) + "\n")
    snap = dp.resolve(spark, root)
    assert snap.version == 2
    assert victim in {a["path"] for a in snap.adds}
    # time travel: at version 1 the file is removed
    assert victim not in {a["path"] for a in dp.resolve(spark, root, 1).adds}
    # full data roundtrip at head
    assert _rows(dp.read_table(spark, root)) == _rows(df)


def test_delta_version_gap_refused(spark, tmp_path):
    """A missing middle commit (vacuumed or lost) must raise, not
    silently skip — a skipped remove would return deleted rows."""
    df = spark.createDataFrame([(1, "x")], "id int, s string")
    root = str(tmp_path / "delta_gap")
    dp.create_table(df, root)
    with open(dp._commit_path(root, 2), "w") as f:
        f.write(json.dumps({"txn": {"appId": "gap", "version": 2}}) + "\n")
    with pytest.raises(ValueError, match="log gap"):
        dp.resolve(spark, root)


# ---------------------------------------------------------------------------
# Iceberg: a v2 manifest list may reference manifests written by a v1
# writer (entries lacking the v2 data_file fields) — spec: treat them as
# data files, sequence number inherited from the manifest-list entry


def test_iceberg_mixed_v1_v2_manifest_entries(spark, sf_dir, tmp_path):
    from incubator_gluten_spark.catalog import load_tables

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    base = (
        orders.filter("o_orderkey < 600")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )
    extra = (
        orders.filter("o_orderkey >= 600 AND o_orderkey < 1200")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )
    root = str(tmp_path / "ice_mixed")
    v2.create_table(base, root)
    meta = v2._current_metadata(root)
    spec = meta["partition-specs"][0]
    pschema = ice._partition_avro_schema(meta["schema"], spec)
    # a V1 writer appends: entry schema WITHOUT content/equality_ids
    data_files = ice._write_data_files(spark, extra, root, [])
    manifest = ice._write_manifest(
        root, [(1, 99, d) for d in data_files], pschema, "v1mix"
    )
    ice._commit_snapshot(
        root, meta, ice._next_snapshot_id(meta),
        ice._manifest_list(root, ice._snapshot(meta, None)) + [manifest],
        "append", meta["schema"], spec,
    )
    scan = v2.plan_scan(root)
    # v1 entries joined the data bucket with the inherited sequence number
    seqs = {seq for _f, seq in scan["data"]}
    assert seqs == {1, 2}
    got = v2.read_table(spark, root)
    assert _rows(got) == _rows(base.unionAll(extra))
    # and a later position delete still applies across BOTH generations
    v2.position_delete(spark, root, "o_totalprice < 50000")
    want = base.unionAll(extra).filter("o_totalprice >= 50000")
    assert _rows(v2.read_table(spark, root)) == _rows(want)


# ---------------------------------------------------------------------------
# Hudi MOR: unknown block types are skipped (forward compatibility),
# the spec's corrupt-magic case still raises


def test_hudi_mor_unknown_block_type_skipped(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k int, v double"
    )
    root = str(tmp_path / "mor_unknown")
    mor.create_table(df, root, key_col="k")
    before = _rows(mor.read_table(spark, root))
    # splice a well-framed block of an UNKNOWN type (6 ~ a future/HFile
    # block this reader does not implement) into a fresh log file next
    # to the base file
    part, file_id, base_instant, _v, _p = (
        mor._log_files(root) or [(None,) * 5]
    )[0]
    if file_id is None:  # no log yet: fabricate one against the base file
        bases = mor._base_files(root)
        part, file_id, base_instant, _path = bases[0]
    blob = mor.pack_log_block(6, {0: base_instant}, b"\x00opaque-future-bytes")
    log_dir = os.path.join(root, part) if part else root
    log_name = f".{file_id}_{base_instant}.log.9_0-1-0"
    with open(os.path.join(log_dir, log_name), "wb") as f:
        f.write(blob)
    assert _rows(mor.read_table(spark, root)) == before
    # a DELETE block (type 1, Kryo-serialized, no public spec) refuses
    bad = mor.pack_log_block(1, {0: base_instant}, b"kryo")
    with pytest.raises(mor.HudiFormatError, match="DELETE blocks"):
        mor.unpack_log_blocks(bad)


def test_hudi_mor_bad_magic_refused():
    with pytest.raises(mor.HudiFormatError, match="bad log magic"):
        mor.unpack_log_blocks(b"#NOPE#" + b"\x00" * 16)
