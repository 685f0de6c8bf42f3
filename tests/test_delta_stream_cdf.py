"""Delta streaming CHANGE DATA FEED source (readChangeFeed=true on
graft_delta): micro-batches carry _change_type / _commit_version, cdc
actions define a commit's changes exclusively, plain appends derive
inserts, CDF-off tables refuse.  Planning stays metadata-bounded;
decode runs in the partition-planned executor path."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from incubator_gluten_spark.sources import delta_protocol as dp
from incubator_gluten_spark.sources.delta_stream import (
    _DeltaStreamReader,
    register_delta_stream_source,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v string").coalesce(1)


@pytest.fixture()
def table(spark, tmp_path):
    root = str(tmp_path / "cdf_stream")
    dp.create_table(
        _mk(spark, [(1, "a"), (2, "b"), (3, "c")]),
        root,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    dp.append(_mk(spark, [(4, "d")]), root)                       # v1 insert
    dp.update_where(spark, root, "k = 1", {"v": "'a2'"})          # v2 update
    dp.delete_where(spark, root, "k = 2")                         # v3 delete
    return root


def _all_changes(micro_batch, root, lo=-1, hi=None):
    """The change rows of ``(lo, hi]`` (``hi`` defaults to the latest
    version), planned and decoded as one micro-batch."""
    r = _DeltaStreamReader({"path": root, "readChangeFeed": "true"})
    end = None if hi is None else {"version": hi}
    rows, _ = micro_batch(r, {"version": lo}, end)
    return sorted(rows)


def test_plan_and_decode_full_history(table, micro_batch):
    got = _all_changes(micro_batch, table)
    kinds = sorted((k, ct, cv) for k, _v, ct, cv in got)
    assert (1, "insert", 0) in kinds and (3, "insert", 0) in kinds
    assert (4, "insert", 1) in kinds
    assert (1, "update_preimage", 2) in kinds
    assert (1, "update_postimage", 2) in kinds
    assert (2, "delete", 3) in kinds
    # the postimage carries the new value
    post = [r for r in got if r[2] == "update_postimage"]
    assert post == [(1, "a2", "update_postimage", 2)]


def test_cdc_commits_are_exclusive(table, micro_batch):
    # v2 (update) rewrote files: its adds/removes must NOT leak as
    # inserts — only the cdc images appear for that commit
    got = [r for r in _all_changes(micro_batch, table, lo=1, hi=2)]
    assert {r[2] for r in got} == {"update_preimage", "update_postimage"}


def test_cdf_off_refuses(spark, tmp_path, micro_batch):
    root = str(tmp_path / "no_cdf")
    dp.create_table(_mk(spark, [(1, "a")]), root)
    dp.append(_mk(spark, [(2, "b")]), root)
    with pytest.raises(ValueError, match="not enabled"):
        _all_changes(micro_batch, root, -1, 1)


def test_engine_driven_cdf_stream(table, spark, tmp_path):
    register_delta_stream_source(spark)
    sink = f"cdf_sink_{uuid.uuid4().hex[:8]}"
    sq = (
        spark.readStream.format("graft_delta")
        .option("path", table)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()
    got = spark.table(sink)
    assert got.columns == ["k", "v", "_change_type", "_commit_version"]
    by_type = {
        r["_change_type"]: r["n"]
        for r in got.groupBy("_change_type").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert by_type == {
        "insert": 4,
        "update_preimage": 1,
        "update_postimage": 1,
        "delete": 1,
    }
    # batch CDF agrees with the streamed feed (same contract)
    batch = dp.table_changes(spark, table, 0)
    assert sorted(
        map(tuple, batch.select(*got.columns).collect())
    ) == sorted(map(tuple, got.collect()))
