"""The Delta, Iceberg and Hudi stream sources share one reader,
``sources/file_stream.FileStreamReader``: the same pacing rule (the
first N committed offsets after the high-water mark, uncapped after a
restart) and the same starting-offset handling for every format, one
read of each Delta commit file per planned micro-batch, and no second
reader or option parser in the format modules.

The readers are taken from each DataSource's ``streamReader()``, the
way the engine takes them."""

from __future__ import annotations

import ast
import collections
import os

import pytest

from incubator_gluten_spark.session import local_frame
from incubator_gluten_spark.sources import delta_protocol as dp
from incubator_gluten_spark.sources import delta_stream
from incubator_gluten_spark.sources import hudi_format as hf
from incubator_gluten_spark.sources import iceberg_format as ice
from incubator_gluten_spark.sources.delta_stream import DeltaStreamDataSource
from incubator_gluten_spark.sources.hudi_stream import HudiStreamDataSource
from incubator_gluten_spark.sources.iceberg_stream import (
    IcebergStreamDataSource,
)

_DDL = "k bigint, v string"

# format -> (DataSource, offset key, pacing option, create, write)
_FORMATS = {
    "delta": (
        DeltaStreamDataSource,
        "version",
        "maxVersionsPerBatch",
        lambda spark, df, root: dp.create_table(df, root),
        lambda spark, df, root: dp.append(df, root),
    ),
    "iceberg": (
        IcebergStreamDataSource,
        "snapshot",
        "maxSnapshotsPerBatch",
        lambda spark, df, root: ice.create_table(df, root),
        lambda spark, df, root: ice.append(df, root),
    ),
    "hudi": (
        HudiStreamDataSource,
        "instant",
        "maxCommitsPerBatch",
        lambda spark, df, root: hf.create_table(df, root, key_col="k"),
        lambda spark, df, root: hf.upsert(spark, df, root, key_col="k"),
    ),
}


def _frame(spark, lo: int):
    return local_frame(spark, [(k, f"v{k}") for k in (lo, lo + 1)], _DDL)


def _table(spark, tmp_path, fmt: str, commits: int = 3) -> str:
    """``commits`` commits of two new keys each: 0-1, 2-3, 4-5, ..."""
    _ds, _key, _pace, create, write = _FORMATS[fmt]
    root = str(tmp_path / fmt)
    create(spark, _frame(spark, 0), root)
    for i in range(1, commits):
        write(spark, _frame(spark, 2 * i), root)
    return root


def _committed(fmt: str, root: str) -> list:
    if fmt == "delta":
        return dp._list_commit_versions(root)
    if fmt == "iceberg":
        snaps = ice._current_metadata(root)["snapshots"]
        return sorted(s["snapshot-id"] for s in snaps)
    return hf.completed_instants(root)


def _reader(fmt: str, root: str, **options):
    return _FORMATS[fmt][0]({"path": root, **options}).streamReader(None)


def _keys(rows) -> list[int]:
    return sorted(r[0] for r in rows)


@pytest.mark.parametrize("fmt", sorted(_FORMATS))
def test_pacing_takes_the_next_committed_offsets(
    spark, tmp_path, fmt, micro_batch
):
    _ds, key, pace, _create, write = _FORMATS[fmt]
    root = _table(spark, tmp_path, fmt)
    r = _reader(fmt, root, **{pace: "1"})
    committed = _committed(fmt, root)
    assert len(committed) == 3
    off, got = None, []
    for _ in committed:
        rows, off = micro_batch(r, off)
        got.append((off[key], _keys(rows)))
    assert got == [
        (committed[0], [0, 1]),
        (committed[1], [2, 3]),
        (committed[2], [4, 5]),
    ]
    rows, end = micro_batch(r, off)  # caught up
    assert rows == [] and end == off
    # a restarted reader (no initialOffset, so no high-water mark) takes
    # the whole backlog once, then paces again
    fresh = _reader(fmt, root, **{pace: "1"})
    rows, end = micro_batch(fresh, {key: committed[0]})
    assert end == {key: committed[2]} and _keys(rows) == [2, 3, 4, 5]
    write(spark, _frame(spark, 6), root)
    write(spark, _frame(spark, 8), root)
    rows, end = micro_batch(fresh, end)
    assert end == {key: _committed(fmt, root)[3]} and _keys(rows) == [6, 7]


@pytest.mark.parametrize(
    "fmt, option", [("delta", "startingVersion"), ("hudi", "startingInstant")]
)
def test_starting_offset_skips_earlier_commits(
    spark, tmp_path, fmt, option, micro_batch
):
    """``startingVersion`` v starts AT version v; ``startingInstant`` t
    starts AFTER instant t.  Both skip the first commit here."""
    _ds, key, _pace, _create, _write = _FORMATS[fmt]
    root = _table(spark, tmp_path, fmt)
    committed = _committed(fmt, root)
    start = "1" if fmt == "delta" else committed[0]
    r = _reader(fmt, root, **{option: start})
    assert r.initialOffset() == {key: committed[0]}
    rows, end = micro_batch(r)
    assert end == {key: committed[2]} and _keys(rows) == [2, 3, 4, 5]


@pytest.mark.parametrize("change_feed", ["false", "true"])
def test_delta_plans_a_micro_batch_in_one_log_walk(
    spark, tmp_path, monkeypatch, change_feed
):
    """Planning one micro-batch over a 20-version log reads each commit
    file once, whether it plans adds or the change feed."""
    root = str(tmp_path / "log20")
    dp.create_table(
        _frame(spark, 0),
        root,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    for i in range(1, 20):
        dp.append(_frame(spark, 2 * i), root)
    n_files = len(dp.resolve(spark, root).adds)
    reads = collections.Counter()
    real = dp._read_commit_actions

    def counting(root_, version):
        reads[version] += 1
        return real(root_, version)

    monkeypatch.setattr(dp, "_read_commit_actions", counting)
    # a module that bound the name at import is counted too
    monkeypatch.setattr(
        delta_stream, "_read_commit_actions", counting, raising=False
    )
    r = DeltaStreamDataSource(
        {"path": root, "readChangeFeed": change_feed}
    ).streamReader(None)
    start = r.initialOffset()
    end = r.latestOffset()
    assert end == {"version": 19}
    parts = r.partitions(start, end)
    assert len(parts) == n_files
    assert sorted(reads) == list(range(20))
    assert max(reads.values()) == 1


_PKG = os.path.join(os.path.dirname(__file__), "..", "incubator_gluten_spark")
_STREAM_MODULES = ("delta_stream.py", "iceberg_stream.py", "hudi_stream.py")


def test_format_stream_sources_share_one_reader():
    """No format module defines a simple reader or its own option
    parser, and each DataSource's ``streamReader()`` returns a
    ``FileStreamReader``."""
    from incubator_gluten_spark.sources.file_stream import FileStreamReader

    found = []
    for name in _STREAM_MODULES:
        path = os.path.join(_PKG, "sources", name)
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name in (
                "simpleStreamReader",
                "_opt",
            ):
                found.append(f"{name}:{node.lineno} {node.name}")
    assert found == []
    for ds in (DeltaStreamDataSource, IcebergStreamDataSource, HudiStreamDataSource):
        reader = ds({"path": "/nonexistent"}).streamReader(None)
        assert isinstance(reader, FileStreamReader), ds.__name__
