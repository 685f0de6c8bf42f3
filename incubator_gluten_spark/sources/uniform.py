"""Delta UniForm: Iceberg metadata generated over a Delta table's own
data files — ``delta.universalFormat.enabledFormats=iceberg`` re-built
on this repo's two wire-format implementations.

``enable_uniform(spark, root)`` reads the Delta snapshot and commits an
Iceberg ``metadata/`` directory UNDER THE SAME ROOT whose manifests
reference the Delta parquet files byte-for-byte (zero data copied —
asserted by the tests); ``sync_uniform(spark, root)`` emits one Iceberg
snapshot per call reflecting the current Delta live-file set, marking
carried-over files EXISTING under their original snapshot id (so an
Iceberg incremental/stream consumer sees each file ADDED exactly once)
and new files ADDED.

Because Delta data files carry no Iceberg field ids, the table is
published with ``schema.name-mapping.default`` (spec Appendix C) and
read through iceberg_format's name-mapped path, which also re-injects
identity partition values that Delta strips from data files.

Honest refusals (each pinned):

* deletion vectors — a DV-carrying add has no Iceberg representation
  short of position-delete conversion (Databricks shipped DV-UniForm
  only with Iceberg v3 deletion vectors); refuse rather than resurrect
  deleted rows in the Iceberg view;
* column mapping — physical col-<uuid> names would need a physical-name
  mapping layer; out of scope, refuse;
* Delta schema changes after enable — the name-mapped read path refuses
  evolved-schema tables, so sync refuses a schema that drifted from the
  mapping rather than publishing a mapping that silently mis-binds.

Reference analog: delta-io PROTOCOL.md universalFormat section +
Iceberg spec Appendix C; the reference repo reads both formats through
jars (gluten-delta/, gluten-iceberg/) and has no conversion layer —
this module is capability surface those two connectors imply.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

from incubator_gluten_spark.sources import delta_protocol as dp
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
    _write_metadata,
)

ADDED, EXISTING = 1, 0

__all__ = ["enable_uniform", "sync_uniform"]


def _check_convertible(snap: dp.Snapshot) -> None:
    if dp._mapping_mode(snap.metadata) != "none":
        raise dp.DeltaProtocolError(
            "UniForm: column-mapped Delta tables are not supported "
            "(physical col-<uuid> names have no name-mapping layer here)"
        )
    dvs = [a["path"] for a in snap.adds if a.get("deletionVector")]
    if dvs:
        raise dp.DeltaProtocolError(
            f"UniForm: {len(dvs)} add(s) carry deletion vectors; the "
            "Iceberg view would resurrect deleted rows. Run OPTIMIZE "
            "(materializes DVs) before sync_uniform"
        )


def _record_count(root: str, add: dict) -> int:
    stats = add.get("stats")
    if stats:
        n = json.loads(stats).get("numRecords")
        if n is not None:
            return int(n)
    import pyarrow.parquet as pq

    return pq.read_metadata(
        os.path.join(root, add["path"].replace("/", os.sep))
    ).num_rows


def _coerce_part_value(v: str | None, ice_t: str):
    """Delta partitionValues are STRINGS; manifest tuples are typed
    (dates as days-since-epoch, per the identity-tuple convention)."""
    import datetime as _dt

    if v is None:
        return None
    if ice_t in ("int", "long"):
        return int(v)
    if ice_t in ("float", "double"):
        return float(v)
    if ice_t == "boolean":
        return v == "true"
    if ice_t == "date":
        return (_dt.date.fromisoformat(v) - _dt.date(1970, 1, 1)).days
    return v


def _data_file_for(root: str, add: dict, part_fields: list[tuple]) -> dict:
    path = os.path.join(root, add["path"].replace("/", os.sep))
    pvals = add.get("partitionValues") or {}
    return {
        "file_path": add["path"],
        "file_format": "PARQUET",
        "partition": {
            pname: _coerce_part_value(pvals.get(src_name), ice_t)
            for pname, src_name, ice_t in part_fields
        },
        "record_count": _record_count(root, add),
        "file_size_in_bytes": add.get("size") or os.path.getsize(path),
        "block_size_in_bytes": 67108864,
    }


def _part_fields(ice_schema: dict, spec: dict) -> list[tuple]:
    by_id = {f["id"]: f for f in ice_schema["fields"]}
    return [
        (pf["name"], by_id[pf["source-id"]]["name"], by_id[pf["source-id"]]["type"])
        for pf in spec["fields"]
    ]


def enable_uniform(spark: SparkSession, root: str) -> dict:
    """First Iceberg snapshot over the current Delta state + the name
    mapping property.  Refuses DV/column-mapped tables."""
    if os.path.isdir(_meta_dir(root)):
        raise ValueError(f"{root} already has Iceberg metadata")
    snap = dp.resolve(spark, root)
    _check_convertible(snap)
    ice_schema = _iceberg_schema(snap.schema)
    spec = _partition_spec(ice_schema, snap.partition_columns)
    pschema = _partition_avro_schema(ice_schema, spec)
    pf = _part_fields(ice_schema, spec)
    snap_id = _next_snapshot_id(None)
    entries = [(ADDED, snap_id, _data_file_for(root, a, pf)) for a in snap.adds]
    manifest = _write_manifest(root, entries, pschema)
    committed = _commit_snapshot(
        root,
        None,
        snap_id,
        [manifest],
        "append",
        ice_schema,
        spec,
        summary_extra={"delta-version": str(snap.version)},
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
            "universal-format.source": "delta",
        },
    )
    return committed


def sync_uniform(spark: SparkSession, root: str) -> dict:
    """One Iceberg snapshot reflecting the CURRENT Delta live set.
    Carried-over files keep EXISTING status + their original snapshot
    id; files no longer live simply leave the manifest (a remove-only
    Delta commit surfaces as a non-append Iceberg snapshot).  A schema
    that drifted from the published mapping refuses."""
    snap = dp.resolve(spark, root)
    _check_convertible(snap)
    meta = _current_metadata(root)
    ice_schema = _current_schema(meta)
    want = _iceberg_schema(snap.schema)
    if [
        (f["name"], f["type"]) for f in want["fields"]
    ] != [(f["name"], f["type"]) for f in ice_schema["fields"]]:
        raise ValueError(
            "UniForm sync: Delta schema changed since enable; the "
            "published name mapping would mis-bind — refusing"
        )
    spec = _default_spec(meta)
    # partition drift is schema-invisible: a metaData commit can change
    # partitionColumns without touching a field, and _data_file_for
    # would then inject NULL for the old spec's values (r9 ADVICE) —
    # compare the Delta partition columns against the spec's sources
    by_id = {f["id"]: f["name"] for f in ice_schema["fields"]}
    spec_sources = [by_id[pf_["source-id"]] for pf_ in spec["fields"]]
    if list(snap.partition_columns) != spec_sources:
        raise ValueError(
            "UniForm sync: Delta partition columns "
            f"{list(snap.partition_columns)} no longer match the "
            f"published Iceberg spec {spec_sources} — refusing"
        )
    pschema = _partition_avro_schema(ice_schema, spec)
    pf = _part_fields(ice_schema, spec)
    prev = _snapshot(meta, None)
    first_seen: dict[str, int] = {}
    for mf in _manifest_list(root, prev):
        for status, snap_id, data_file in read_container(
            _resolve_path(root, mf["manifest_path"])
        ):
            first_seen[data_file["file_path"]] = snap_id
    new_id = _next_snapshot_id(meta)
    entries, n_new = [], 0
    for a in snap.adds:
        if a["path"] in first_seen:
            entries.append(
                (EXISTING, first_seen[a["path"]], _data_file_for(root, a, pf))
            )
        else:
            entries.append((ADDED, new_id, _data_file_for(root, a, pf)))
            n_new += 1
    live = {a["path"] for a in snap.adds}
    n_gone = len([p for p in first_seen if p not in live])
    op = "append" if n_gone == 0 else "overwrite"
    manifest = _write_manifest(root, entries, pschema)
    return _commit_snapshot(
        root,
        meta,
        new_id,
        [manifest],
        op,
        ice_schema,
        spec,
        summary_extra={"delta-version": str(snap.version)},
    )


def _set_properties(root: str, props: dict) -> None:
    """Merge table properties into a new metadata-only version
    (properties then persist through _commit_snapshot)."""
    meta = _current_metadata(root)
    meta["properties"] = {**(meta.get("properties") or {}), **props}
    _write_metadata(root, meta)
