"""The shared commit primitive (sources/table_core.py) and the three table
logs that commit through it: put-if-absent semantics, a multi-process
commit race on one Delta log, and crash injection between the temp
write and the publish; plus the ``footer_stats`` contract over fake
parquet footers.  Spark-free: every reader used here replays the log
files directly, and the race runs in ``spawn`` workers because the
pytest process may already host a JVM."""

from __future__ import annotations

import decimal
import multiprocessing
import os
from collections import Counter

import pytest

from incubator_gluten_spark.sources import delta_protocol as dp
from incubator_gluten_spark.sources import hudi_format as hf
from incubator_gluten_spark.sources import iceberg_format as ice
from incubator_gluten_spark.sources import table_core

N_PROCS, N_COMMITS = 8, 25


def test_put_if_absent_refuses_existing_name(tmp_path):
    path = str(tmp_path / "00000000000000000000.json")
    table_core.put_if_absent(path, "first\n")
    with pytest.raises(FileExistsError):
        table_core.put_if_absent(path, "second\n")
    with open(path) as f:
        assert f.read() == "first\n"
    assert os.listdir(tmp_path) == ["00000000000000000000.json"]


def test_replace_overwrites_and_leaves_no_temp(tmp_path):
    path = str(tmp_path / "version-hint.text")
    table_core.replace(path, "1")
    table_core.replace(path, "2")
    with open(path) as f:
        assert f.read() == "2"
    assert os.listdir(tmp_path) == ["version-hint.text"]


def _delta_v0(root: str) -> None:
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


def _race_worker(root: str, wid: int, start, out) -> None:
    """Commit N_COMMITS blind adds; ``_commit`` retries a lost version."""
    start.wait(timeout=60)
    won = []
    for i in range(N_COMMITS):
        add = {
            "add": {
                "path": f"w{wid}-{i}.parquet",
                "partitionValues": {},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
            }
        }
        won.append(dp._commit(root, dp.current_version(root), [add]))
    out.put((wid, won))


def test_delta_commit_race_loses_no_add(tmp_path):
    root = str(tmp_path / "race")
    _delta_v0(root)
    ctx = multiprocessing.get_context("spawn")
    start, out = ctx.Event(), ctx.Queue()
    procs = [
        ctx.Process(target=_race_worker, args=(root, w, start, out))
        for w in range(N_PROCS)
    ]
    for p in procs:
        p.start()
    try:
        start.set()
        results = dict(out.get(timeout=120) for _ in procs)
    finally:
        for p in procs:
            p.join(timeout=30)
            if p.is_alive():
                p.terminate()
    assert all(p.exitcode == 0 for p in procs)
    n = N_PROCS * N_COMMITS
    assert dp._list_commit_versions(root) == list(range(n + 1))
    won = [v for vs in results.values() for v in vs]
    assert sorted(won) == list(range(1, n + 1))  # disjoint across workers
    adds = Counter(
        a["add"]["path"]
        for v in range(1, n + 1)
        for a in dp._read_commit_actions(root, v)
        if "add" in a
    )
    assert set(adds.values()) == {1}
    assert set(adds) == {
        f"w{w}-{i}.parquet" for w in range(N_PROCS) for i in range(N_COMMITS)
    }


class _Crash(Exception):
    pass


def _crash_on_publish(monkeypatch, match=lambda dst: True):
    """Make every publish whose target satisfies ``match`` die after the
    temp file is written and fsynced."""
    real_link, real_replace = os.link, os.replace

    def link(src, dst, *a, **kw):
        if match(dst):
            raise _Crash(dst)
        return real_link(src, dst, *a, **kw)

    def replace(src, dst, *a, **kw):
        if match(dst):
            raise _Crash(dst)
        return real_replace(src, dst, *a, **kw)

    monkeypatch.setattr(os, "link", link)
    monkeypatch.setattr(os, "replace", replace)


def _tree(root: str) -> dict[str, list[str]]:
    return {d: sorted(fs) for d, _, fs in os.walk(root)}


def test_crash_before_publish_keeps_previous_version(tmp_path, monkeypatch):
    delta = str(tmp_path / "delta")
    _delta_v0(delta)

    iceberg = str(tmp_path / "iceberg")
    os.makedirs(ice._meta_dir(iceberg))
    ice._write_metadata(iceberg, {"format-version": 1, "n": 1})

    hudi = str(tmp_path / "hudi")
    os.makedirs(hf._timeline_dir(hudi))
    hf._three_phase(hudi, "20240101000000000", "commit", {"n": 1})

    before = _tree(str(tmp_path))
    _crash_on_publish(monkeypatch)
    with pytest.raises(_Crash):
        dp._commit(delta, 0, [{"metaData": {"configuration": {}}}])
    with pytest.raises(_Crash):
        ice._write_metadata(iceberg, {"format-version": 1, "n": 2})
    with pytest.raises(_Crash):
        hf._three_phase(hudi, "20240101000000001", "commit", {"n": 2})

    assert _tree(str(tmp_path)) == before  # no temp file survives either
    assert dp.current_version(delta) == 0
    assert ice._current_metadata(iceberg)["n"] == 1
    assert hf.completed_instants(hudi) == ["20240101000000000"]


def test_crash_between_hudi_markers_and_completion_stays_pending(
    tmp_path, monkeypatch
):
    hudi = str(tmp_path / "hudi")
    os.makedirs(hf._timeline_dir(hudi))
    hf._three_phase(hudi, "20240101000000000", "commit", {"n": 1})
    _crash_on_publish(monkeypatch, lambda dst: dst.endswith(".commit"))
    with pytest.raises(_Crash):
        hf._three_phase(hudi, "20240101000000001", "commit", {"n": 2})
    assert hf.completed_instants(hudi) == ["20240101000000000"]
    assert hf.pending_instants(hudi) == ["20240101000000001"]
    assert not any(n.endswith(".tmp") for n in os.listdir(hf._timeline_dir(hudi)))


def test_iceberg_crash_after_metadata_put_is_committed(tmp_path, monkeypatch):
    """The metadata put-if-absent is the commit point: a writer that dies
    before repointing the hint still committed, and the next writer
    takes the version after it instead of colliding."""
    root = str(tmp_path / "iceberg")
    os.makedirs(ice._meta_dir(root))
    ice._write_metadata(root, {"format-version": 1, "n": 1})
    with monkeypatch.context() as m:
        _crash_on_publish(m, lambda dst: dst.endswith("version-hint.text"))
        with pytest.raises(_Crash):
            ice._write_metadata(root, {"format-version": 1, "n": 2})
    assert ice._current_metadata(root)["n"] == 2
    assert ice._write_metadata(root, {"format-version": 1, "n": 3}) == 3
    assert ice._current_metadata(root)["n"] == 3


def _mor_log_across_savepoint(root: str) -> str:
    """A Hudi MOR layout built from the log and timeline formats alone:
    two deltacommits whose data blocks share one log file, and a
    savepoint at the first."""
    from incubator_gluten_spark.sources import hudi_mor as mor

    first, second = "20240101000000000", "20240101000000001"
    os.makedirs(hf._timeline_dir(root))
    hf._three_phase(root, first, "deltacommit", {})
    hf._three_phase(root, second, "deltacommit", {})
    hf._three_phase(
        root,
        "20240101000000002",
        "savepoint",
        {"savepointedAt": first, "retainedFiles": []},
    )
    log = os.path.join(root, f".fg1_{first}.log.1_0-1-0")
    with open(log, "wb") as f:
        for instant in (first, second):
            f.write(
                mor.pack_log_block(
                    mor.AVRO_DATA_BLOCK,
                    {mor.HEADER_INSTANT_TIME: instant},
                    instant.encode(),
                )
            )
    return log


def test_crash_while_truncating_hudi_log_keeps_old_bytes(tmp_path, monkeypatch):
    from incubator_gluten_spark.sources import hudi_mor as mor

    root = str(tmp_path / "mor")
    log = _mor_log_across_savepoint(root)
    with open(log, "rb") as f:
        old = f.read()
    before = _tree(root)
    with monkeypatch.context() as m:
        _crash_on_publish(m, lambda dst: ".log." in dst)
        with pytest.raises(_Crash):
            mor.restore_to_savepoint(root, "20240101000000000")
    assert _tree(root) == before  # no temp file either
    with open(log, "rb") as f:
        assert f.read() == old
    out = mor.restore_to_savepoint(root, "20240101000000000")
    assert out["logs_truncated"] == 1
    with open(log, "rb") as f:
        blocks = mor.unpack_log_blocks(f.read())
    assert [h[mor.HEADER_INSTANT_TIME] for _t, h, _c in blocks] == [
        "20240101000000000"
    ]
    # a temp file that a killed restore left behind is not a log file
    open(os.path.join(root, f".{os.path.basename(log)}.0.tmp"), "wb").close()
    assert [p for *_, p in mor._log_files(root)] == [log]


def _sink_commits(path: str) -> dict:
    """name -> (commit(messages), manifest file) of the Python
    DataSource sinks that publish a manifest."""
    from incubator_gluten_spark.sources import avro, pyds

    avro_writer = avro._make_datasource_classes()({"path": path}).writer(
        None, False
    )
    stream = pyds._JsonlStreamWriter({"path": path})
    return {
        "avro": (avro_writer.commit, "_COMMIT"),
        "jsonl": (pyds._JsonlWriter({"path": path}).commit, "_COMMIT"),
        # a replayed micro-batch rewrites its manifest
        "jsonl_stream": (lambda ms: stream.commit(ms, 7), "_BATCH_0000000007"),
    }


@pytest.mark.parametrize("sink", ["avro", "jsonl", "jsonl_stream"])
def test_failed_sink_manifest_publish_keeps_previous(tmp_path, monkeypatch, sink):
    from types import SimpleNamespace

    path = str(tmp_path / sink)
    os.makedirs(path)
    commit, name = _sink_commits(path)[sink]
    commit([SimpleNamespace(path="part-a", n_rows=1)])
    with open(os.path.join(path, name)) as f:
        old = f.read()
    with monkeypatch.context() as m:
        _crash_on_publish(m)
        with pytest.raises(_Crash):
            commit(
                [
                    SimpleNamespace(path="part-a", n_rows=1),
                    SimpleNamespace(path="part-b", n_rows=2),
                ]
            )
    assert sorted(os.listdir(path)) == [name]
    with open(os.path.join(path, name)) as f:
        assert f.read() == old


# ---------------------------------------------------------------------------
# footer_stats over fake footers (the pyarrow FileMetaData surface it reads)


class _St:
    def __init__(self, lo, hi, nulls=None):
        self.has_min_max = lo is not None
        self.min, self.max = lo, hi
        self.has_null_count = nulls is not None
        self.null_count = nulls


class _Col:
    def __init__(self, name, st):
        self.path_in_schema = name
        self.statistics = st


class _RG:
    def __init__(self, cols):
        self._c = cols
        self.num_columns = len(cols)

    def column(self, i):
        return self._c[i]


class _Meta:
    def __init__(self, rgs):
        self._r = rgs
        self.num_row_groups = len(rgs)

    def row_group(self, i):
        return self._r[i]


def test_footer_stats_withholds_bounds_of_partially_covered_columns():
    """Bounds from only the covered row groups would be narrower than the
    file's range: a column missing them in ANY row group gets none."""
    meta = _Meta(
        [
            _RG([_Col("a", _St(1, 5, 0)), _Col("b", _St(1, 5, 0))]),
            _RG([_Col("a", _St(None, None, 2)), _Col("b", _St(3, 9, 1))]),
        ]
    )
    assert table_core.footer_stats(meta) == {
        "a": (None, None, 2),
        "b": (1, 9, 1),
    }


def test_footer_stats_drops_nan_bounds():
    """Spark's writer records NaN as a double column's max; NaN orders
    against nothing, so the column gets no bounds (its count stays)."""
    nan = float("nan")
    meta = _Meta(
        [
            _RG([_Col("f", _St(1.0, nan, 0)), _Col("g", _St(1.0, 2.0, 0))]),
            _RG([_Col("f", _St(0.5, 0.7, 0)), _Col("g", _St(nan, nan, 0))]),
            _RG([_Col("f", _St(0.1, 0.2, 0)), _Col("g", _St(-1.0, 3.0, 0))]),
        ]
    )
    out = table_core.footer_stats(meta)
    assert out == {"f": (None, None, 0), "g": (None, None, 0)}


def test_footer_stats_missing_stats_and_nested_leaves():
    meta = _Meta(
        [
            _RG(
                [
                    _Col("a", None),
                    _Col("s.x", _St(1, 2, 0)),  # nested leaf: skipped
                    _Col("b", _St(3, 4)),  # bounds but no null count
                ]
            )
        ]
    )
    assert table_core.footer_stats(meta) == {
        "a": (None, None, None),
        "b": (3, 4, None),
    }


def test_footer_stats_sums_null_counts_only_when_every_group_counts():
    meta = _Meta(
        [
            _RG([_Col("a", _St(1, 2, 3)), _Col("b", _St(1, 2, 1))]),
            _RG([_Col("a", _St(None, None, 4)), _Col("b", _St(1, 2))]),
            _RG([_Col("a", _St(0, 1, 0)), _Col("b", _St(1, 2, 5))]),
        ]
    )
    out = table_core.footer_stats(meta)
    assert out["a"][2] == 7  # all-null row group: a count, no bounds
    assert out["b"] == (1, 2, None)


def test_footer_stats_passes_decimal_and_bytes_through_raw():
    """The contract hands values over unencoded; each format decides:
    Iceberg serializes decimals, Delta omits decimals and binary."""
    from incubator_gluten_spark.sources import iceberg_format as ice

    d = decimal.Decimal
    meta = _Meta(
        [
            _RG([_Col("d", _St(d("1.50"), d("2.25"), 0)),
                 _Col("b", _St(b"a", b"q", 0))]),
            _RG([_Col("d", _St(d("-3.00"), d("0.10"), 1)),
                 _Col("b", _St(b"c", b"z", 0))]),
        ]
    )
    out = table_core.footer_stats(meta)
    assert out == {"d": (d("-3.00"), d("2.25"), 1), "b": (b"a", b"z", 0)}
    assert dp._footer_min_max(meta) == {
        "minValues": {},
        "maxValues": {},
        "nullCount": {"d": 1, "b": 0},
    }
    schema = {
        "fields": [
            {"id": 1, "name": "d", "type": "decimal(9,2)"},
            {"id": 2, "name": "b", "type": "binary"},
        ]
    }
    lower, upper, nulls = ice._footer_bounds(meta, schema)
    assert ice._bound_deser("decimal(9,2)", lower["1"]) == d("-3.00")
    assert ice._bound_deser("decimal(9,2)", upper["1"]) == d("2.25")
    assert "2" not in lower and nulls == {"1": 1, "2": 0}


def test_footer_stats_unorderable_bounds_are_dropped():
    meta = _Meta(
        [_RG([_Col("m", _St(1, 2, 0))]), _RG([_Col("m", _St("a", "b", 0))])]
    )
    assert table_core.footer_stats(meta) == {"m": (None, None, 0)}
