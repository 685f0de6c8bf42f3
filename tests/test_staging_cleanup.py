"""A data write that fails while Spark executes it leaves the table as
it found it: every format stages through ``table_core.write_staged``,
which removes its ``_staging_<token>`` directory on the way out, and no
commit is made.  Delta's ``vacuum`` never looks inside ``_staging_*``,
so a leftover staging directory would never be reclaimed.  A Delta
commit names no 0-row file: the empty files Spark writes for empty tasks
stay in the staging directory and go with it.  A provably empty frame
(``session.local_frame(spark, [], ...)``) stages nothing at all: no job,
no staging directory; Hudi still writes its 0-row base file."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from incubator_gluten_spark.session import local_frame
from incubator_gluten_spark.sources import delta_protocol as dp
from incubator_gluten_spark.sources import hudi_format as hf
from incubator_gluten_spark.sources import iceberg_format as ice


def _listing(root: str) -> list[str]:
    out = []
    for dirpath, dirnames, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        out += [os.path.join(rel, n) + "/" for n in dirnames]
        out += [os.path.join(rel, n) for n in files]
    return sorted(out)


def _good(spark):
    return spark.createDataFrame([(1, 1.0), (2, 2.0)], "k bigint, v double")


def _failing(spark):
    """Same schema; raises only once its one task evaluates ``v`` (one
    task, so no sibling task is still writing when the job aborts)."""
    return spark.range(0, 3, 1, 1).select(
        F.col("id").alias("k"),
        F.when(F.col("id") >= 0, F.raise_error(F.lit("staged write boom")))
        .cast("double")
        .alias("v"),
    )


_WRITERS = {
    "delta": (dp.create_table, lambda s, df, root: dp.append(df, root)),
    "iceberg": (ice.create_table, lambda s, df, root: ice.append(df, root)),
    "hudi": (
        lambda df, root: hf.create_table(df, root, key_col="k"),
        lambda s, df, root: hf.upsert(s, df, root, "k"),
    ),
}


@pytest.mark.parametrize("fmt", sorted(_WRITERS))
def test_failed_write_leaves_the_table_untouched(spark, tmp_path, fmt):
    create, write = _WRITERS[fmt]
    root = str(tmp_path / fmt)
    create(_good(spark), root)
    before = _listing(root)
    with pytest.raises(Exception, match="staged write boom"):
        write(spark, _failing(spark), root)
    assert _listing(root) == before


def _stats(root: str, version: int) -> list[dict]:
    return [
        json.loads(a["add"]["stats"])
        for a in dp._read_commit_actions(root, version)
        if a.get("add")
    ]


def test_delta_commits_no_empty_data_file(spark, tmp_path):
    root = str(tmp_path / "sparse")
    rows = spark.sparkContext.parallelize([(1, 1.0), (2, 2.0), (3, 3.0)], 4)
    dp.create_table(spark.createDataFrame(rows, "k bigint, v double"), root)
    stats = _stats(root, 0)
    assert stats and all(s["numRecords"] > 0 for s in stats)
    assert sum(s["numRecords"] for s in stats) == 3
    assert dp.read_table(spark, root).count() == 3
    data = [n for n in _listing(root) if n.endswith(".parquet")]
    assert len(data) == len(stats)


def _jobs(spark, group: str, fn) -> int:
    """Run ``fn()`` under job group ``group``; the number of Spark jobs
    it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _log_shape(root: str) -> list:
    """Commit 0's actions without the per-table id and clock."""
    out = []
    for a in dp._read_commit_actions(root, 0):
        (kind, body), = a.items()
        if kind == "metaData":
            body = {k: v for k, v in body.items() if k not in ("id", "createdTime")}
        out.append((kind, body))
    return out


_EMPTY_DDL = "k bigint, s string, ts timestamp"


def test_delta_empty_create_commits_no_add(spark, tmp_path):
    """Python-row and Arrow empty frames commit the same log (protocol
    and metaData, no add); only the Arrow frame, an empty
    ``LocalRelation`` after optimization, skips the Spark write."""
    for part in ([], ["s"]):
        roots, launched = {}, {}
        for kind, empty in (
            ("rows", spark.createDataFrame([], _EMPTY_DDL)),
            ("local", local_frame(spark, [], _EMPTY_DDL)),
        ):
            root = roots[kind] = str(tmp_path / f"{kind}{len(part)}")
            launched[kind] = _jobs(
                spark, root, lambda: dp.create_table(empty, root, part)
            )
            assert _stats(root, 0) == []
            assert not [n for n in os.listdir(root) if n.startswith("_staging_")]
            df = dp.read_table(spark, root)
            assert df.schema.simpleString() == empty.schema.simpleString()
            assert df.count() == 0
        assert launched["rows"] >= 1 and launched["local"] == 0
        assert _log_shape(roots["local"]) == _log_shape(roots["rows"])
        assert _listing(roots["local"]) == [
            "./_delta_log/",
            "_delta_log/00000000000000000000.json",
        ]


def test_iceberg_empty_create_stages_nothing(spark, tmp_path):
    """Partitioned too: the hash repartition by the partition columns
    hides the empty ``LocalRelation`` from ``write_staged``."""
    for part in ([], ["s"]):
        rows_root = str(tmp_path / f"rows{len(part)}")
        local_root = str(tmp_path / f"local{len(part)}")
        rows = spark.createDataFrame([], _EMPTY_DDL)
        local = local_frame(spark, [], _EMPTY_DDL)
        create = lambda df, root: ice.create_table(df, root, part)
        assert _jobs(spark, rows_root, lambda: create(rows, rows_root)) >= 1
        assert _jobs(spark, local_root, lambda: create(local, local_root)) == 0
        for root in (rows_root, local_root):
            meta = ice._current_metadata(root)
            assert meta["current-snapshot-id"] is not None
            assert ice.plan_files(root) == []
            assert not [n for n in os.listdir(root) if n.startswith("_staging_")]
            assert os.listdir(os.path.join(root, "data")) == []
            df = ice.read_table(spark, root)
            assert df.schema.simpleString() == local.schema.simpleString()
            assert df.count() == 0
        assert ice._current_metadata(local_root)["schemas"] == (
            ice._current_metadata(rows_root)["schemas"]
        )


def test_hudi_empty_create_keeps_its_empty_base_file(spark, tmp_path):
    """A Hudi snapshot is its base files, so an empty create still writes
    one 0-row base file, from an Arrow frame as from Python rows."""
    for kind, empty in (
        ("rows", spark.createDataFrame([], _EMPTY_DDL)),
        ("local", local_frame(spark, [], _EMPTY_DDL)),
    ):
        root = str(tmp_path / kind)
        hf.create_table(empty, root, key_col="k")
        files = hf.snapshot_files(root)
        assert len(files) == 1 and files[0].endswith(".parquet")
        df = hf.read_table(spark, root)
        assert df.schema.simpleString() == empty.schema.simpleString()
        assert df.count() == 0
        assert not [n for n in os.listdir(root) if n.startswith("_staging_")]


def test_delta_cdf_rewrite_without_changes_reads_no_change(spark, tmp_path):
    """With no empty cdc file staged, a CDF delete that matches no row
    commits a pure rewrite (dataChange false), which the change feed
    skips instead of refusing."""
    root = str(tmp_path / "cdf_noop")
    dp.create_table(
        _good(spark), root, configuration={"delta.enableChangeDataFeed": "true"}
    )
    dp.delete_where(spark, root, "k = 99")
    assert dp.table_changes(spark, root, 1, 1).count() == 0
    assert dp.read_table(spark, root).count() == 2
