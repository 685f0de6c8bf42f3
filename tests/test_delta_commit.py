"""The one Delta commit (``delta_protocol._commit``) under concurrent
writers: blind appends and disjoint deletes from several processes all
land, an overlapping delete conflicts and cleans up after itself, and a
schema change planned on a stale snapshot never overwrites the one that
beat it.  The race runs Spark-free in ``spawn`` workers (the pytest
process may already host a JVM), over real parquet files with
fabricated add/remove actions."""

from __future__ import annotations

import json
import multiprocessing
import os

import pytest

from incubator_gluten_spark.sources import delta_protocol as dp

N_PROCS, N_APPENDS, DELETE_EVERY = 4, 10, 5


def _v0(root: str) -> None:
    dp._commit(
        root,
        -1,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": "race",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": '{"type":"struct","fields":[{"name":"k",'
                    '"type":"long","nullable":true,"metadata":{}}]}',
                    "partitionColumns": [],
                    "configuration": {},
                }
            },
        ],
    )


def _add(root: str, name: str, k: int) -> dict:
    """Write a one-row parquet file holding key ``k``; its add action."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(root, name)
    pq.write_table(pa.table({"k": pa.array([k], pa.int64())}), path)
    stats = {
        "numRecords": 1,
        "minValues": {"k": k},
        "maxValues": {"k": k},
        "nullCount": {"k": 0},
    }
    return {
        "add": {
            "path": name,
            "partitionValues": {},
            "size": os.path.getsize(path),
            "modificationTime": 0,
            "dataChange": True,
            "stats": json.dumps(stats),
        }
    }


def _race_worker(root: str, wid: int, start) -> None:
    """Append N_APPENDS files with keys in this worker's own range; every
    DELETE_EVERY appends, delete this worker's two oldest live files
    with a predicate over that range alone."""
    start.wait(timeout=60)
    lo = wid * 100
    live = []
    for i in range(N_APPENDS):
        add = _add(root, f"w{wid}-{i}.parquet", lo + i)
        dp._commit(root, dp.current_version(root), [add])
        live.append(add["add"]["path"])
        if (i + 1) % DELETE_EVERY == 0:
            gone, live = live[:2], live[2:]
            removes = [
                {"remove": {"path": p, "deletionTimestamp": 0, "dataChange": True}}
                for p in gone
            ]
            dp._commit(
                root,
                dp.current_version(root),
                removes,
                [("k", ">=", lo), ("k", "<=", lo + 99)],
            )


def test_concurrent_appends_and_disjoint_deletes_all_land(tmp_path):
    root = str(tmp_path / "race")
    _v0(root)
    ctx = multiprocessing.get_context("spawn")
    start = ctx.Event()
    procs = [
        ctx.Process(target=_race_worker, args=(root, w, start))
        for w in range(N_PROCS)
    ]
    for p in procs:
        p.start()
    try:
        start.set()
        for p in procs:
            p.join(timeout=120)
    finally:
        for p in procs:
            if p.is_alive():
                p.terminate()
    assert [p.exitcode for p in procs] == [0] * N_PROCS
    n_deletes = N_APPENDS // DELETE_EVERY
    n = 1 + N_PROCS * (N_APPENDS + n_deletes)
    assert dp._list_commit_versions(root) == list(range(n))
    live = {a["path"] for a in dp.resolve(None, root).adds}
    assert live == {
        f"w{w}-{i}.parquet"
        for w in range(N_PROCS)
        for i in range(N_APPENDS)
        if i >= 2 * n_deletes
    }
    logged = {
        a["add"]["path"]
        for v in range(n)
        for a in dp._read_commit_actions(root, v)
        if "add" in a
    }
    on_disk = {f for f in os.listdir(root) if f.endswith(".parquet")}
    assert on_disk == logged


def _listing(root: str) -> set[str]:
    return {
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    }


def test_overlapping_delete_conflicts_and_leaves_no_orphan(spark, tmp_path):
    """The winner removed the files the loser rewrote (Delta's
    ConcurrentDeleteDelete): the loser raises and deletes the file it
    staged, and the table holds only the winner's delete."""
    root = str(tmp_path / "overlap")
    dp.create_table(
        spark.createDataFrame(
            [(1, "hot"), (2, "cold"), (3, "hot")], "k bigint, temp string"
        ),
        root,
    )
    with pytest.raises(dp.ConcurrentWriteError, match="removed"):
        dp.delete_where(
            spark,
            root,
            "temp = 'hot'",
            _before_commit=lambda: dp.delete_where(spark, root, "temp = 'hot'"),
        )
    assert dp.current_version(root) == 1
    rows = sorted((r.k, r.temp) for r in dp.read_table(spark, root).collect())
    assert rows == [(2, "cold")]
    logged = {
        a["add"]["path"]
        for v in (0, 1)
        for a in dp._read_commit_actions(root, v)
        if "add" in a
    }
    assert _listing(root) == logged


def test_racing_column_defaults_keep_both_or_raise(spark, tmp_path, monkeypatch):
    """A second SET DEFAULT commits between this one's snapshot read and
    its commit: this commit must not write a metaData that drops the
    winner's default."""
    root = str(tmp_path / "defaults")
    dp.create_table(
        spark.createDataFrame([(1, "x", 2)], "k bigint, a string, b bigint"),
        root,
    )
    real_resolve = dp.resolve

    def read_then_lose_the_race(*args, **kwargs):
        snap = real_resolve(*args, **kwargs)
        monkeypatch.setattr(dp, "resolve", real_resolve)
        dp.set_column_default(spark, root, "b", "7")
        return snap

    monkeypatch.setattr(dp, "resolve", read_then_lose_the_race)
    try:
        dp.set_column_default(spark, root, "a", "'dflt'")
        raised = False
    except dp.ConcurrentWriteError:
        raised = True
    defaults = {
        f.name: f.metadata.get("CURRENT_DEFAULT")
        for f in dp.resolve(spark, root).schema.fields
    }
    assert defaults["b"] == "7"
    assert raised or defaults["a"] == "'dflt'"
