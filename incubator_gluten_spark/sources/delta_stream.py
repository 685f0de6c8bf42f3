"""Delta table as a STRUCTURED STREAMING SOURCE, on the shared
``file_stream.FileStreamReader``.

``spark.readStream.format("graft_delta").option("path", root)`` tails
the `_delta_log`: offsets are COMMIT VERSIONS (``{"version": v}``), and
each micro-batch is the ``dataChange=true`` add-actions of the versions
in ``(start, end]``, one input partition per add-action — the same
change-set contract as delta's own streaming source:

* append commits stream through as inserts;
* a commit that REMOVES data files raises by default —
  ``ignoreDeletes`` permits remove-only commits (partition deletes),
  ``ignoreChanges`` additionally permits rewrite commits (COW
  update/delete/merge) by re-emitting the commit's restaged adds
  (duplicate delivery, exactly delta's documented semantics);
* an add carrying a DELETION VECTOR is emitted minus its deleted
  positions (the pure-Python Roaring decode, sources/roaring.py);
* column-mapped tables are refused (physical-name streaming would
  silently mis-bind after a rename);
* ``readChangeFeed`` streams the Change Data Feed instead, with
  ``_change_type`` and ``_commit_version`` columns.

Options: ``startingVersion``, ``maxVersionsPerBatch``,
``ignoreDeletes``, ``ignoreChanges``, ``readChangeFeed``.  Planning
reads each commit file of versions <= end once and never opens a data
file; the parquet decode runs in executor workers.

Reference analog: gluten-delta streams through the Delta jar's
DeltaSource (gluten-delta/src/main/scala/org/apache/gluten/execution/
DeltaScanTransformer.scala is the scan side); semantics here are
delta-io PROTOCOL.md + the documented DeltaSource option contract.
"""

from __future__ import annotations

import datetime as _dt
import json
import os

from pyspark.sql.types import LongType, StringType, StructField, StructType

from incubator_gluten_spark.sources import delta_protocol as dp
from incubator_gluten_spark.sources.file_stream import (
    FileStreamDataSource,
    FileStreamReader,
)

__all__ = ["DeltaStreamDataSource", "register_delta_stream_source"]


def _walk(root: str, lo: int, hi: int) -> tuple[dict, set, list]:
    """One pass over the commits up to ``hi``, each read once: the
    metaData in force at ``hi``, the data paths live at ``lo``, and for
    each commit in ``(lo, hi]`` its version, its actions and the
    metaData in force at it.  No checkpoint shortcut — a stream source
    needs the commits anyway."""
    meta, seen, window = None, set(), []
    for v in dp._list_commit_versions(root):
        if v > hi:
            break
        actions = dp._read_commit_actions(root, v)
        for a in actions:
            if a.get("metaData"):
                meta = a["metaData"]
        if v > lo:
            window.append((v, actions, meta))
            continue
        for a in actions:
            if a.get("add"):
                seen.add(a["add"]["path"])
            elif a.get("remove"):
                seen.discard(a["remove"]["path"])
    if meta is None:
        raise ValueError(f"no metaData action in {root} up to v{hi}")
    return meta, seen, window


def _check_not_mapped(meta: dict) -> None:
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if mode != "none":
        raise ValueError(
            "graft_delta streaming source does not support column-mapped "
            f"tables (delta.columnMapping.mode={mode})"
        )


def _data_changes(actions: list[dict]) -> tuple[list[dict], list[dict]]:
    """The ``dataChange`` adds and removes of one commit."""
    adds = [
        a["add"]
        for a in actions
        if a.get("add") and a["add"].get("dataChange", True)
    ]
    removes = [
        a["remove"]
        for a in actions
        if a.get("remove") and a["remove"].get("dataChange", True)
    ]
    return adds, removes


def _plan_adds(
    window: list, seen: set, ignore_deletes: bool, ignore_changes: bool
) -> list[dict]:
    """The add-actions to emit for the walked window, after the
    delete/rewrite option contract.  ``seen`` holds the paths live
    before the window: an add that re-states one of them (a DV delete
    re-adds the same path with a descriptor) is an UPDATE of
    already-delivered data, not an insert — delta's source refuses it
    without ignoreChanges."""
    out: list[dict] = []
    for v, actions, _meta in window:
        adds, removes = _data_changes(actions)
        rewrites = bool(removes and adds) or any(
            a["path"] in seen for a in adds
        )
        if rewrites and not ignore_changes:
            raise ValueError(
                f"version {v} rewrites data files (COW update/delete/"
                "merge or DV delete). Streaming a rewritten table "
                "re-delivers the restaged rows; opt in with "
                ".option('ignoreChanges', 'true') — delta's own "
                "source contract"
            )
        if removes and not adds and not (ignore_deletes or ignore_changes):
            raise ValueError(
                f"version {v} deletes data files. Opt in with "
                ".option('ignoreDeletes', 'true') if downstream "
                "tolerates missing deletes — delta's own source contract"
            )
        for add in adds:
            seen.add(add["path"])
            out.append({"kind": "add", "file": add})
        for r in removes:
            seen.discard(r["path"])
    return out


def _cdf_on(meta: dict | None) -> bool:
    return ((meta or {}).get("configuration") or {}).get(
        "delta.enableChangeDataFeed"
    ) == "true"


def _plan_cdc(window: list) -> list[dict]:
    """CHANGE-FEED entries of the walked window (Delta's streaming
    ``readChangeFeed``): a commit with ``cdc`` actions defines its
    change data exclusively through them; a commit without derives
    inserts from dataChange adds; a dataChange remove without a cdc
    action is a CDF writer-contract violation and refuses.  CDF must be
    enabled at every emitted commit."""
    out: list[dict] = []
    for v, actions, meta in window:
        cdc = [a["cdc"] for a in actions if a.get("cdc")]
        adds, removes = _data_changes(actions)
        if not (cdc or adds or removes):
            continue  # metadata-only commit: nothing to emit
        if not _cdf_on(meta):
            raise ValueError(
                f"version {v}: Change Data Feed is not enabled "
                "(delta.enableChangeDataFeed unset) — no change data "
                "was recorded for this commit"
            )
        if cdc:
            out.extend({"kind": "cdc", "file": c, "version": v} for c in cdc)
            continue
        if removes:
            raise ValueError(
                f"version {v} removes data files but wrote no cdc "
                "action — CDF writer-contract violation; refusing "
                "rather than misderiving deletes"
            )
        out.extend({"kind": "insert", "file": a, "version": v} for a in adds)
    return out


def _coerce_part(v: str | None, spark_type: str):
    if v is None:
        return None
    if spark_type in ("byte", "short", "integer", "long"):
        return int(v)
    if spark_type in ("float", "double"):
        return float(v)
    if spark_type == "boolean":
        return v == "true"
    if spark_type == "date":
        return _dt.date.fromisoformat(v)
    if spark_type == "timestamp":
        return _dt.datetime.fromisoformat(v)
    return v


def _decode_file(root: str, f: dict, fields: list, part_cols: set, extra=()):
    """pyarrow Table for one add or cdc file: parquet decode, DV filter,
    partition-value injection, columns in table-schema order followed
    by the stored ``extra`` columns."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(root, f["path"].replace("/", os.sep))
    table = pq.read_table(
        path,
        columns=[n for n, _ in fields if n not in part_cols] + list(extra),
    )
    dv = f.get("deletionVector")
    if dv:
        deleted = np.fromiter(
            (int(p) for p in dp.load_dv(root, dv)), dtype=np.int64
        )
        keep = np.setdiff1d(
            np.arange(table.num_rows, dtype=np.int64), deleted
        )
        table = table.take(keep)
    pvals = f.get("partitionValues") or {}
    n = table.num_rows
    cols = {
        name: pa.array([_coerce_part(pvals.get(name), typ)] * n)
        if name in part_cols
        else table.column(name)
        for name, typ in fields
    }
    cols.update((c, table.column(c)) for c in extra)
    return pa.table(cols)


def _table_struct(meta: dict) -> StructType:
    return StructType.fromJson(json.loads(meta["schemaString"]))


class _DeltaStreamReader(FileStreamReader):
    FORMAT = "graft_delta"
    KEY = "version"
    PACE = "maxVersionsPerBatch"

    def __init__(self, options: dict) -> None:
        super().__init__(options)
        # startingVersion v: the stream starts after offset v - 1
        self.start = int(self.opt("startingVersion", "0")) - 1
        self.ignore_deletes = self.opt("ignoreDeletes", "false") == "true"
        self.ignore_changes = self.opt("ignoreChanges", "false") == "true"
        self.change_feed = self.opt("readChangeFeed", "false") == "true"
        self._meta: dict | None = None  # metaData at the last planned end

    def committed(self) -> list[int]:
        return dp._list_commit_versions(self.root)

    def plan(self, lo: int, hi: int) -> list[tuple]:
        meta, seen, window = _walk(self.root, lo, hi)
        _check_not_mapped(meta)
        self._meta = meta
        fields = [
            (f.name, f.dataType.simpleString())
            for f in _table_struct(meta).fields
        ]
        part_cols = set(meta.get("partitionColumns") or [])
        if self.change_feed:
            entries = _plan_cdc(window)
        else:
            entries = _plan_adds(
                window, seen, self.ignore_deletes, self.ignore_changes
            )
        return [(self.root, fields, part_cols, e) for e in entries]

    @staticmethod
    def decode(payload):
        import pyarrow as pa

        root, fields, part_cols, entry = payload
        kind = entry["kind"]
        if kind == "add":
            return _decode_file(root, entry["file"], fields, part_cols)
        if kind == "cdc":
            table = _decode_file(
                root, entry["file"], fields, part_cols, ("_change_type",)
            )
        else:  # an insert derived from a plain add
            table = _decode_file(root, entry["file"], fields, part_cols)
            table = table.append_column(
                "_change_type",
                pa.array(["insert"] * table.num_rows, pa.string()),
            )
        return table.append_column(
            "_commit_version",
            pa.array([entry["version"]] * table.num_rows, pa.int64()),
        )

    def struct(self) -> StructType:
        meta = self._meta
        if meta is None:
            vs = self.committed()
            v = vs[-1] if vs else 0
            meta = _walk(self.root, v, v)[0]
            _check_not_mapped(meta)
        struct = _table_struct(meta)
        if self.change_feed:
            struct = StructType(
                list(struct.fields)
                + [
                    StructField("_change_type", StringType()),
                    StructField("_commit_version", LongType()),
                ]
            )
        return struct


class DeltaStreamDataSource(FileStreamDataSource):
    """``spark.readStream.format("graft_delta")`` — version-offset
    micro-batches over a Delta wire-format table."""

    READER = _DeltaStreamReader


def register_delta_stream_source(spark) -> None:
    spark.dataSource.register(DeltaStreamDataSource)
