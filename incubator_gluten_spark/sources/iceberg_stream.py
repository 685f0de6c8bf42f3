"""Iceberg table as a STRUCTURED STREAMING SOURCE, on the shared
``file_stream.FileStreamReader``.

``spark.readStream.format("graft_iceberg").option("path", root)`` tails
the snapshot log: offsets are SNAPSHOT IDS (``{"snapshot": id}``), and
each micro-batch is the ADDED manifest entries of the snapshots in
``(start, end]``, one input partition per data file — the same
incremental-append contract as Iceberg's own Spark streaming source:

* append snapshots stream through as inserts (Iceberg-written data
  files carry EVERY column; name-mapped tables — Hive migrate, Delta
  UniForm — lack identity partition columns in files, and those are
  injected from the manifest partition tuple like the batch path);
* a snapshot whose summary operation is not ``append`` (delete,
  replace/compaction) raises by default; ``ignoreChanges`` skips
  non-append snapshots' effects while still delivering genuinely new
  ADDED files (compactions re-add existing rows — duplicate delivery,
  the documented trade-off Iceberg's source shares);
* column binding is BY NAME against the current schema (fields a data
  file lacks read as NULL) — field-id evolution tables stream with
  their current names.

Options: ``maxSnapshotsPerBatch``, ``ignoreChanges``.  Planning walks
the metadata JSON and the manifest Avro (this repo's pure-Python codec)
on the driver; the parquet decode runs in executor workers.  Pacing
counts snapshot ids, which this library numbers ``max + 1``.

Reference analog: gluten-iceberg streams through the jar's
SparkMicroBatchStream; semantics here are the public spec's.
"""

from __future__ import annotations

import os

from pyspark.sql import types as T

from incubator_gluten_spark.sources.file_stream import (
    FileStreamDataSource,
    FileStreamReader,
)
from incubator_gluten_spark.sources.iceberg_format import (
    ADDED,
    _current_metadata,
    _current_schema,
    _default_spec,
    _manifest_list,
)

__all__ = ["IcebergStreamDataSource", "register_iceberg_stream_source"]

# Iceberg primitive -> pyspark type object.  Built SESSIONLESS: the
# data-source worker has no JVM, so _parse_datatype_string is
# unavailable (the same constraint the Avro source hit).
_ICE_TO_T = {
    "long": T.LongType(),
    "int": T.IntegerType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "string": T.StringType(),
    "boolean": T.BooleanType(),
    "binary": T.BinaryType(),
    "date": T.DateType(),
    "timestamp": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
}


def _part_inject(meta: dict, cur: dict) -> dict[str, str]:
    """Identity partition columns to inject from the manifest tuple.
    Name-mapped tables (Hive migrate, Delta UniForm) strip them from
    EVERY data file: without injection the stream would silently
    NULL-fill them while the batch path (_read_name_mapped) sources them
    from the manifest partition tuple.  Mirrors the batch path's
    refusals too."""
    if not (meta.get("properties") or {}).get("schema.name-mapping.default"):
        return {}
    if len(meta.get("schemas") or [meta["schema"]]) > 1:
        raise ValueError(
            "name-mapped stream with evolved schema history: name "
            "binding cannot track renames/re-adds — refusing"
        )
    spec = _default_spec(meta)
    if any(pf.get("transform", "identity") != "identity" for pf in spec["fields"]):
        raise ValueError(
            "name-mapped stream supports identity partition specs only"
        )
    fld = {f["id"]: f for f in cur["fields"]}
    return {
        fld[pf["source-id"]]["name"]: fld[pf["source-id"]]["type"]
        for pf in spec["fields"]
    }


def _emit_table(root: str, data_file: dict, names: list[str], part_inject: dict):
    """pyarrow Table for one ADDED data_file: by-name binding against
    the current schema, identity partition injection from the manifest
    tuple, NULL-fill for pre-evolution files."""
    import datetime as _dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = data_file["file_path"]
    if not os.path.isabs(path):
        path = os.path.join(root, path)
    table = pq.read_table(path)
    n = table.num_rows
    pvals = data_file.get("partition") or {}
    arrays = []
    for name in names:
        if name in table.schema.names:
            arrays.append(table.column(name))
        elif name in part_inject:
            # identity partition value from the manifest tuple
            # (spec: identity values may be sourced from metadata)
            v = pvals.get(name)
            if v is not None and part_inject[name] == "date":
                v = _dt.date(1970, 1, 1) + _dt.timedelta(days=int(v))
            arrays.append(pa.array([v] * n))
        else:
            arrays.append(pa.nulls(n))  # pre-evolution file
    return pa.table(dict(zip(names, arrays)))


class _IcebergStreamReader(FileStreamReader):
    FORMAT = "graft_iceberg"
    KEY = "snapshot"
    PACE = "maxSnapshotsPerBatch"

    def __init__(self, options: dict) -> None:
        super().__init__(options)
        self.start = 0
        self.ignore_changes = self.opt("ignoreChanges", "false") == "true"
        self._meta: dict | None = None  # table metadata of the last plan

    def committed(self) -> list[int]:
        meta = _current_metadata(self.root)
        return sorted(s["snapshot-id"] for s in meta.get("snapshots", []))

    def plan(self, lo: int, hi: int) -> list[tuple]:
        from incubator_gluten_spark.sources.avro import read_container

        meta = self._meta = _current_metadata(self.root)
        cur = _current_schema(meta)
        names = [f["name"] for f in cur["fields"]]
        part_inject = _part_inject(meta, cur)
        out: list[tuple] = []
        for s in meta.get("snapshots", []):
            sid = s["snapshot-id"]
            if not (lo < sid <= hi):
                continue
            op = s.get("summary", {}).get("operation", "append")
            added = [
                data_file
                for mf in _manifest_list(self.root, s)
                for status, snap_id, data_file in read_container(
                    os.path.join(self.root, mf["manifest_path"])
                )
                if status == ADDED and snap_id == sid
            ]
            if op != "append" and not self.ignore_changes:
                if op == "replace" and not added:
                    # metadata-only manifest rewrite (rewrite_manifests):
                    # zero new rows, nothing lost — safe to pass silently
                    continue
                raise ValueError(
                    f"snapshot {sid} is a {op!r}, not an append. Streaming "
                    "past deletes/compactions loses or re-delivers rows; "
                    "opt in with .option('ignoreChanges', 'true') — "
                    "iceberg's own streaming-source contract"
                )
            out.extend((self.root, df, names, part_inject) for df in added)
        return out

    @staticmethod
    def decode(payload):
        return _emit_table(*payload)

    def struct(self) -> T.StructType:
        cur = _current_schema(self._meta or _current_metadata(self.root))
        return T.StructType(
            [
                T.StructField(f["name"], _ICE_TO_T[f["type"]], not f["required"])
                for f in cur["fields"]
            ]
        )


class IcebergStreamDataSource(FileStreamDataSource):
    """``spark.readStream.format("graft_iceberg")`` — snapshot-id-offset
    micro-batches over an Iceberg v1 table."""

    READER = _IcebergStreamReader


def register_iceberg_stream_source(spark) -> None:
    spark.dataSource.register(IcebergStreamDataSource)
