"""Iceberg ``migrate`` / ``add_files`` — in-place conversion of a
Hive-layout parquet directory into an Iceberg table (the Spark
procedures ``system.migrate`` / ``system.add_files``).

``migrate_hive_dir(spark, root, partition_cols={"p": "string"})``
walks ``root`` for ``key=value`` partition directories, commits Iceberg
metadata referencing the EXISTING parquet files (zero bytes copied),
and publishes ``schema.name-mapping.default`` because Hive-written
files carry no Iceberg field ids — the same Appendix C read path Delta
UniForm uses, including identity-partition-value injection for the
columns the Hive layout strips from data files.

``add_files(spark, root, src_dir)`` appends a foreign directory's
files to an ALREADY-migrated table as a new snapshot (the procedure's
incremental form): schema must match the table's mapping, new files
are ADDED, existing files carry over EXISTING — so incremental/stream
consumers see each file exactly once.

Scale shape: both are metadata-only commits — per-file work is one
parquet FOOTER read (record counts), never data.  A 100 TB Hive
migration is a directory walk + footer reads, not a rewrite; that is
the entire point of the procedure.

Reference analog: gluten-iceberg executes scans over tables produced
by Iceberg's own migrate procedure (jar surface); the procedure
semantics here are the public Iceberg spark-procedures docs + spec
Appendix C.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

from incubator_gluten_spark.sources import table_core
from incubator_gluten_spark.sources.avro import read_container
from incubator_gluten_spark.sources.iceberg_format import (
    _commit_snapshot,
    _current_metadata,
    _current_schema,
    _default_spec,
    _iceberg_schema,
    _manifest_list,
    _meta_dir,
    _next_snapshot_id,
    _partition_avro_schema,
    _partition_spec,
    _resolve_path,
    _snapshot,
    _write_manifest,
)
from incubator_gluten_spark.sources.uniform import (
    ADDED,
    EXISTING,
    _coerce_part_value,
    _set_properties,
)

__all__ = ["migrate_hive_dir", "add_files"]


def _walk_hive(src_dir: str, partition_cols: list[str]) -> list[tuple]:
    """(rel_path, {col: raw-string-or-None}) for every parquet file,
    partition values parsed from key=value segments (writer-escaped,
    Hive null sentinel honored)."""
    out = []
    for dirpath, _, names in os.walk(src_dir):
        rel_dir = os.path.relpath(dirpath, src_dir)
        if "metadata" in rel_dir.split(os.sep):
            continue
        pvals = table_core.partition_values(
            "" if rel_dir == "." else rel_dir.replace(os.sep, "/")
        )
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            missing = [c for c in partition_cols if c not in pvals]
            if missing:
                raise ValueError(
                    f"{os.path.join(dirpath, name)}: no {missing} "
                    "partition directory in its path"
                )
            out.append(
                (
                    os.path.relpath(os.path.join(dirpath, name), src_dir),
                    dict(pvals),
                )
            )
    return out


def _file_entry(
    src_root: str, rel: str, pvals: dict, part_fields: list[tuple]
) -> dict:
    import pyarrow.parquet as pq

    full = os.path.join(src_root, rel)
    return {
        "file_path": rel.replace(os.sep, "/"),
        "file_format": "PARQUET",
        "partition": {
            pname: _coerce_part_value(pvals.get(src), ice_t)
            for pname, src, ice_t in part_fields
        },
        "record_count": pq.read_metadata(full).num_rows,
        "file_size_in_bytes": os.path.getsize(full),
        "block_size_in_bytes": 67108864,
    }


def _schema_from_footer(
    spark: SparkSession, path: str, partition_cols: dict[str, str]
):
    """Table schema = data columns from one parquet footer + the
    partition columns (absent from Hive files) at their declared
    types."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructField, StructType, _parse_datatype_string

    data = from_arrow_schema(pq.read_schema(path))
    clash = [f.name for f in data.fields if f.name in partition_cols]
    if clash:
        raise ValueError(
            f"columns {clash} exist in both the data files and "
            "partition_cols — a Hive layout strips partition columns "
            "from files; this directory is not Hive-partitioned on them"
        )
    return StructType(
        list(data.fields)
        + [
            StructField(c, _parse_datatype_string(t), True)
            for c, t in partition_cols.items()
        ]
    )


def _check_footers_agree(
    src_dir: str, rels: list[str], expected: list[str] | None = None
) -> None:
    """Refuse heterogeneous footers (r9 ADVICE): every parquet file's
    (column name, arrow type) list must agree — with ``expected`` column
    names when given (add_files against an existing mapping), else with
    the first footer (migrate).  A drifting file would otherwise be
    silently NULL-filled or mis-bound by the name-mapped read.
    Footer-only reads: metadata-bounded, no data pages touched."""
    import pyarrow.parquet as pq

    first_cols = None
    for rel in rels:
        sch = pq.read_schema(os.path.join(src_dir, rel))
        cols = [(n, str(t)) for n, t in zip(sch.names, sch.types)]
        if expected is not None:
            missing = [c for c in expected if c not in sch.names]
            if missing:
                raise ValueError(
                    f"{rel}: footer lacks column(s) {missing} required "
                    "by the table's name mapping — refusing (a name-"
                    "mapped read would silently NULL-fill them)"
                )
        if first_cols is None:
            first_cols = cols
        elif cols != first_cols:
            raise ValueError(
                f"heterogeneous parquet footers under {src_dir}: {rel} "
                f"has {cols}, first file has {first_cols} — refusing "
                "(one table schema cannot bind both by name)"
            )


def _part_fields_of(meta_schema: dict, spec: dict) -> list[tuple]:
    by_id = {f["id"]: f for f in meta_schema["fields"]}
    return [
        (
            pf["name"],
            by_id[pf["source-id"]]["name"],
            by_id[pf["source-id"]]["type"],
        )
        for pf in spec["fields"]
    ]


def migrate_hive_dir(
    spark: SparkSession,
    root: str,
    partition_cols: dict[str, str] | None = None,
) -> dict:
    """``system.migrate``: Iceberg metadata IN PLACE over a Hive-layout
    parquet directory.  ``partition_cols`` maps partition column name
    -> spark type string (Hive stores them only in directory names, so
    types cannot be inferred from footers)."""
    if os.path.isdir(_meta_dir(root)):
        raise ValueError(f"{root} already has Iceberg metadata")
    partition_cols = partition_cols or {}
    files = _walk_hive(root, list(partition_cols))
    if not files:
        raise ValueError(f"no parquet files under {root}")
    _check_footers_agree(root, [rel for rel, _ in files])
    schema = _schema_from_footer(
        spark, os.path.join(root, files[0][0]), partition_cols
    )
    ice_schema = _iceberg_schema(schema)
    spec = _partition_spec(ice_schema, list(partition_cols))
    pschema = _partition_avro_schema(ice_schema, spec)
    pf = _part_fields_of(ice_schema, spec)
    snap_id = _next_snapshot_id(None)
    entries = [
        (ADDED, snap_id, _file_entry(root, rel, pvals, pf))
        for rel, pvals in files
    ]
    manifest = _write_manifest(root, entries, pschema)
    committed = _commit_snapshot(
        root,
        None,
        snap_id,
        [manifest],
        "append",
        ice_schema,
        spec,
        summary_extra={"migrated-files": str(len(files))},
    )
    _set_properties(
        root,
        {
            "schema.name-mapping.default": json.dumps(
                [
                    {"field-id": f["id"], "names": [f["name"]]}
                    for f in ice_schema["fields"]
                ]
            ),
            "migrated-from": "hive",
        },
    )
    return committed


def add_files(spark: SparkSession, root: str, src_dir: str) -> dict:
    """``system.add_files``: register a foreign Hive-layout directory's
    parquet files into an already-migrated table as one new snapshot.
    Files already registered carry over EXISTING under their original
    snapshot id; the foreign files are ADDED.  Foreign paths land in
    the manifest as ABSOLUTE paths (the procedure does not copy)."""
    if not os.path.isdir(_meta_dir(root)):
        raise ValueError(
            f"{root} has no Iceberg metadata — add_files requires a "
            "name-mapped table (migrate first)"
        )
    meta = _current_metadata(root)
    if "schema.name-mapping.default" not in (meta.get("properties") or {}):
        raise ValueError(
            "add_files requires a name-mapped table (migrate first)"
        )
    ice_schema = _current_schema(meta)
    spec = _default_spec(meta)
    pschema = _partition_avro_schema(ice_schema, spec)
    pf = _part_fields_of(ice_schema, spec)
    part_names = [src for _, src, _ in pf]
    new = _walk_hive(src_dir, part_names)
    if not new:
        raise ValueError(f"no parquet files under {src_dir}")
    # the foreign footers must COVER the table's name mapping (minus
    # the partition columns Hive strips from files) and agree with each
    # other — r9 ADVICE: registering a mismatched directory previously
    # NULL-filled the unmatched columns instead of refusing
    data_cols = [
        f["name"]
        for f in ice_schema["fields"]
        if f["name"] not in part_names
    ]
    _check_footers_agree(src_dir, [rel for rel, _ in new], data_cols)
    prev = _snapshot(meta, None)
    first_seen: dict[str, int] = {}
    carried = []
    for mf in _manifest_list(root, prev):
        for status, snap_id, data_file in read_container(
            _resolve_path(root, mf["manifest_path"])
        ):
            first_seen[data_file["file_path"]] = snap_id
            carried.append((EXISTING, snap_id, data_file))
    new_id = _next_snapshot_id(meta)
    entries = list(carried)
    for rel, pvals in new:
        e = _file_entry(src_dir, rel, pvals, pf)
        e["file_path"] = os.path.abspath(os.path.join(src_dir, rel))
        if e["file_path"] in first_seen:
            raise ValueError(f"{e['file_path']} already registered")
        entries.append((ADDED, new_id, e))
    manifest = _write_manifest(root, entries, pschema)
    return _commit_snapshot(
        root,
        meta,
        new_id,
        [manifest],
        "append",
        ice_schema,
        spec,
        summary_extra={"added-files": str(len(new))},
    )
