"""``delta_protocol.resolve`` reads a checkpoint with pyarrow: the
snapshot equals the one replayed from a Spark read of the same
checkpoint, and the resolve launches no Spark job."""

from __future__ import annotations

from incubator_gluten_spark.sources import delta_protocol as dp


def _table(spark, root: str) -> None:
    """Partitioned, row-tracked (baseRowId + the row-id domainMetadata),
    a deletion vector, a streaming txn, then a checkpoint and one commit
    after it."""
    base = spark.range(60).selectExpr(
        "id AS k", "CAST(id % 3 AS STRING) AS p", "id * 0.5 AS x"
    )
    dp.create_table(base, root, partition_cols=["p"], row_tracking=True)
    dp.delete_where_dv(spark, root, "k % 7 = 0")
    more = spark.range(60, 70).selectExpr(
        "id AS k", "CAST(id % 3 AS STRING) AS p", "id * 0.5 AS x"
    )
    assert dp.append_stream_batch(more, root, "app-1", 4)
    dp.checkpoint(spark, root)
    dp.append(more.selectExpr("k + 100 AS k", "p", "x"), root)


def _spark_replay(spark, root: str) -> dp.Snapshot:
    """The snapshot as resolve built it from a Spark read of the
    checkpoint: ``Row.asDict(recursive=True)`` per row, then the JSON
    commits after it."""
    ck = dp._read_last_checkpoint(root)
    live: dict = {}
    state: dict = {}
    for row in spark.read.parquet(dp._checkpoint_path(root, ck)).collect():
        d = row.asDict(recursive=True)
        dp._apply_action(live, state, {k: v for k, v in d.items() if v})
    version = ck
    for v in dp._list_commit_versions(root):
        if v > ck:
            for action in dp._read_commit_actions(root, v):
                dp._apply_action(live, state, action)
            version = v
    return dp.Snapshot(
        version,
        state["metaData"],
        sorted(live.values(), key=lambda a: a["path"]),
        state.get("protocol"),
        state.get("txn"),
        state.get("domainMetadata"),
    )


def test_checkpoint_resolve_matches_spark_read_and_runs_no_job(spark, tmp_path):
    root = str(tmp_path / "t")
    _table(spark, root)
    sc = spark.sparkContext
    sc.setJobGroup("ck-resolve", "ck-resolve")
    try:
        snap = dp.resolve(spark, root)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("ck-resolve") == []

    want = _spark_replay(spark, root)
    assert snap.version == want.version
    assert snap.metadata == want.metadata
    assert snap.protocol == want.protocol
    assert snap.txns == want.txns == {"app-1": 4}
    assert snap.domains == want.domains
    assert snap.domains
    assert snap.adds == want.adds
    assert any(a.get("deletionVector") for a in snap.adds)
    assert all(isinstance(a["partitionValues"], dict) for a in snap.adds)
    assert isinstance(snap.metadata["configuration"], dict)
    assert snap.metadata["format"]["options"] == {}
    assert dp.read_table(spark, root).count() == 60 - 9 + 10 + 10
