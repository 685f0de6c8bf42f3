"""Apache Hudi table format (no jar needed): the timeline of both table
types, and the COPY_ON_WRITE reader/writer.

The reference ships Hudi scan offload as a jar module (gluten-hudi/,
HudiSuite.scala) absent from this container; like ``delta_protocol.py``
and ``iceberg_format.py`` this speaks the PUBLIC Hudi table layout
(hudi.apache.org/docs — timeline + file groups) directly:

* ``.hoodie/hoodie.properties`` (table name/type/version),
* timeline instants ``<instant>.<action>`` holding JSON bodies (a write's
  ``partitionToWriteStats``), with ``.requested``/``.inflight`` markers
  written first, the spec's three-phase commit,
* data files named ``<fileId>_<writeToken>_<instantTime>.parquet`` under
  their partition path — a FILE GROUP is every file sharing a fileId,
  and a snapshot read picks each group's newest base file whose
  instant is committed and <= the as-of instant,
* the five ``_hoodie_*`` meta columns real Hudi writes into every
  parquet file (commit time, seqno, record key, partition path, file
  name) — written here too, so the files are Hudi-shaped, not bare
  parquet.

This module owns the timeline of COPY_ON_WRITE and MERGE_ON_READ tables
alike: the instant allocator (``_next_instant``), the committed set
(``completed_instants``), the commit (``_commit_instant``),
``file_slices`` and the table services (clean, rollback, savepoint,
restore).  ``hudi_mor.py`` imports them.

Snapshot queries, time travel (as-of instant) and record-key UPSERT
(COW: rewrite only the file groups holding matched keys) are supported;
reading MERGE_ON_READ tables is REFUSED here and handled by
``hudi_mor.py`` (log files, delta commits, compaction).

Scale note: reads list the TIMELINE (one small directory) plus the
partitions the query touches; the per-group newest-instant pick is pure
metadata. Upserts rewrite only affected file groups — the same bounded
COW write amplification real Hudi COW has.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_gluten_spark.session import local_frame
from incubator_gluten_spark.sources import table_core

_HOODIE = ".hoodie"
META_COLS = [
    "_hoodie_commit_time",
    "_hoodie_commit_seqno",
    "_hoodie_record_key",
    "_hoodie_partition_path",
    "_hoodie_file_name",
]


class HudiFormatError(RuntimeError):
    """Table type/feature this reader does not implement."""


def _timeline_dir(root: str) -> str:
    return os.path.join(root, _HOODIE)


def _properties(root: str) -> dict:
    props = {}
    with open(os.path.join(_timeline_dir(root), "hoodie.properties")) as f:
        for line in f:
            line = line.strip()
            if line and not line.startswith("#"):
                k, _, v = line.partition("=")
                props[k] = v
    return props


def _require_type(root: str, table_type: str, what: str) -> dict:
    """The table's properties, or ``HudiFormatError`` when it is not of
    ``table_type``: COW code planned on base files alone would give wrong
    answers on a MERGE_ON_READ table (or orphan its log files), and the
    MOR code has no work on a COW one."""
    props = _properties(root)
    ttype = props.get("hoodie.table.type", "COPY_ON_WRITE")
    if ttype != table_type:
        raise HudiFormatError(
            f"table type {ttype}: {what} needs a {table_type} table "
            "(hudi_format.py: COPY_ON_WRITE, hudi_mor.py: MERGE_ON_READ)"
        )
    return props


_WRITE_ACTIONS = (".commit", ".deltacommit")


def completed_instants(root: str) -> list[str]:
    """Completed write instants, sorted: ``.commit`` (COW writes, MOR
    compactions) and ``.deltacommit`` (MOR writes)."""
    return sorted(
        name.rpartition(".")[0]
        for name in os.listdir(_timeline_dir(root))
        if name.endswith(_WRITE_ACTIONS)
    )


def _next_instant(root: str) -> str:
    """The instant of the next action of ANY kind: one past the newest
    instant a timeline file names, completed or pending, write or
    service — so no two actions share an instant, and a crashed write's
    leftover markers are stepped over (the spec's yyyyMMddHHmmssSSS
    shape, deterministic here)."""
    named = [
        stem
        for stem in (n.split(".")[0] for n in os.listdir(_timeline_dir(root)))
        if len(stem) == 17 and stem.isdigit()
    ]
    if not named:
        return "20240101000000000"
    return str(int(max(named)) + 1).zfill(17)


def _three_phase(
    root: str, instant: str, action: str, body: dict, placed: list | None = None
) -> None:
    """The timeline's three-phase write of every action (commit,
    deltacommit, clean, rollback, savepoint, restore): requested ->
    inflight markers, then the completed ``<instant>.<action>``, each
    put-if-absent so a second writer of the same instant fails instead
    of overwriting the first.  ``placed`` is a write attempt's undo list
    (``_attempt``): it gets each marker this call lands and is emptied
    once the completed action lands — from then on the attempt's files
    belong to the table."""
    placed = [] if placed is None else placed
    path = os.path.join(_timeline_dir(root), f"{instant}.{action}")
    for suffix in (".requested", ".inflight"):
        table_core.put_if_absent(path + suffix, "{}")
        placed.append(path + suffix)
    table_core.put_if_absent(path, json.dumps(body))
    placed.clear()
    for suffix in (".requested", ".inflight"):
        os.remove(path + suffix)


def _commit_instant(
    root: str,
    instant: str,
    stats: dict,
    action: str = "commit",
    extra_metadata: dict | None = None,
    placed: list | None = None,
) -> None:
    """Three-phase timeline commit of a write: ``.commit`` (COW writes,
    MOR compactions) or ``.deltacommit`` (MOR writes).
    ``extra_metadata`` lands under the commit's ``extraMetadata`` map —
    where hudi's own streaming writers store their checkpoint key."""
    body = {"partitionToWriteStats": stats, "operation": action}
    if extra_metadata:
        body["extraMetadata"] = extra_metadata
    _three_phase(root, instant, action, body, placed)


@contextlib.contextmanager
def _attempt():
    """One write attempt's undo list: the data files and markers it
    placed.  If anything fails before the completed instant lands, they
    are removed and the error re-raised, so a writer that loses a race
    (``FileExistsError`` at a data file or at the timeline) leaves the
    table as it found it."""
    placed: list[str] = []
    try:
        yield placed
    except BaseException:
        for path in placed:
            with contextlib.suppress(FileNotFoundError):
                os.remove(path)
        raise


def _parse_base_file(path: str) -> tuple[str, str] | None:
    """(file_id, instant) of a base file ``<fileId>_<writeToken>_<instant>.parquet``,
    None for any other name — the one parse of the layout."""
    name = os.path.basename(path)
    if not name.endswith(".parquet"):
        return None
    parts = name[: -len(".parquet")].split("_")
    return (parts[0], parts[2]) if len(parts) == 3 else None


def _table_files(root: str):
    """(partition_path, name, full_path) of every file outside the
    ``.hoodie`` timeline and the other dot-directories."""
    for dirpath, dirnames, files in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        rel_dir = os.path.relpath(dirpath, root)
        for name in files:
            yield "" if rel_dir == "." else rel_dir, name, os.path.join(dirpath, name)


def _base_files(root: str) -> list[tuple[str, str, str, str]]:
    """(partition_path, file_id, instant, full_path) for every base file
    on disk — file-group membership comes from the NAME layout."""
    out = []
    for part, name, path in _table_files(root):
        parsed = _parse_base_file(name)
        if parsed is not None:
            out.append((part, *parsed, path))
    return out


def _log_files(root: str) -> list[tuple[str, str, str, int, str]]:
    """(partition_path, file_id, base_instant, version, full_path) for
    every MERGE_ON_READ log file — membership from the NAME layout:
    .<fileId>_<baseInstant>.log.<version>_<writeToken>"""
    out = []
    for part, name, path in _table_files(root):
        # a table_core temp file (.<name>.<n>.tmp) is not a log file
        if name.startswith(".") and ".log." in name and not name.endswith(".tmp"):
            stem, _, tail = name[1:].partition(".log.")
            file_id, _, base_instant = stem.rpartition("_")
            out.append((part, file_id, base_instant, int(tail.split("_")[0]), path))
    return out


def file_slices(root: str, as_of: str | None = None) -> list[dict]:
    """Per file group: the newest committed base file at or before
    ``as_of`` plus the log files ATTACHED TO IT (matching baseInstant;
    a COW slice has none).  Log blocks are instant-filtered at read time
    (a block whose deltacommit is uncommitted or after ``as_of`` is
    invisible)."""
    committed = set(completed_instants(root))
    if as_of is not None:
        committed = {i for i in committed if i <= as_of}
    best: dict[tuple[str, str], tuple[str, str]] = {}
    for part, file_id, instant, path in _base_files(root):
        if instant not in committed:
            continue  # uncommitted/in-flight write, invisible
        key = (part, file_id)
        if key not in best or instant > best[key][0]:
            best[key] = (instant, path)
    logs_by_slice: dict[tuple[str, str, str], list[tuple[int, str]]] = {}
    for part, file_id, base_instant, version, path in _log_files(root):
        logs_by_slice.setdefault((part, file_id, base_instant), []).append(
            (version, path)
        )
    return [
        {
            "partition": part,
            "file_id": file_id,
            "base_instant": instant,
            "base_file": path,
            "log_files": [
                p for _, p in sorted(logs_by_slice.get((part, file_id, instant), []))
            ],
        }
        for (part, file_id), (instant, path) in sorted(best.items())
    ]


def _cow_slices(root: str, as_of: str | None = None) -> list[dict]:
    """``file_slices`` of a COW snapshot, refusing MERGE_ON_READ tables
    and time travel behind the cleaner horizon."""
    _require_type(root, "COPY_ON_WRITE", "a base-file snapshot")
    if as_of is not None:
        horizon = clean_horizon(root)
        # a SAVEPOINTED instant stays readable behind the cleaner
        # horizon — the cleaner retained its file versions (Hudi's
        # savepoint contract); anything else behind the horizon refuses
        if (
            horizon is not None
            and as_of < horizon
            and as_of not in savepoints(root)
        ):
            raise HudiFormatError(
                f"time travel to {as_of} is behind the cleaner horizon "
                f"({horizon}): the file versions were deleted by a .clean "
                "action — refusing rather than returning a partial snapshot"
            )
    return file_slices(root, as_of)


def snapshot_files(root: str, as_of: str | None = None) -> list[str]:
    """COW snapshot: newest committed base file per file group at or
    before the as-of instant."""
    return sorted(s["base_file"] for s in _cow_slices(root, as_of))


def read_table(
    spark: SparkSession,
    root: str,
    as_of: str | None = None,
    drop_meta_cols: bool = True,
) -> DataFrame:
    files = snapshot_files(root, as_of)
    if not files:
        raise ValueError(f"no committed snapshot at or before {as_of!r}")
    df = spark.read.parquet(*files)
    return df.drop(*META_COLS) if drop_meta_cols else df


def _incremental_end(root: str, begin_instant: str, end_instant: str | None) -> str:
    """The end of an incremental pull ``(begin, end]``: the newest
    committed instant unless given."""
    committed = completed_instants(root)
    if not committed:
        raise ValueError("table has no committed instants")
    if end_instant is None:
        end_instant = committed[-1]
    if begin_instant > end_instant:
        raise ValueError(
            f"begin {begin_instant!r} is after end {end_instant!r}"
        )
    return end_instant


def read_incremental(
    spark: SparkSession,
    root: str,
    begin_instant: str,
    end_instant: str | None = None,
    drop_meta_cols: bool = True,
) -> DataFrame:
    """Hudi INCREMENTAL QUERY (hoodie.datasource.query.type=incremental):
    the records inserted or updated in ``(begin_instant, end_instant]``,
    at their end-of-range values — begin EXCLUSIVE, end inclusive, the
    datasource's contract.  Correctness rests on the writer preserving
    untouched rows' ``_hoodie_commit_time`` through COW rewrites
    (``upsert``), so a rewritten file group contributes only the rows
    the upsert actually changed.

    Scale note: base files whose instant is <= begin are pruned from
    the scan by NAME alone (a COW base file written at instant i holds
    only rows with commit time <= i) — an incremental pull off a
    100 TB table reads the recently-written file groups, not the
    table."""
    end_instant = _incremental_end(root, begin_instant, end_instant)
    files = sorted(
        s["base_file"]
        for s in _cow_slices(root, as_of=end_instant)
        if s["base_instant"] > begin_instant
    )
    if not files:
        return local_frame(
            spark, [], read_table(spark, root, drop_meta_cols=drop_meta_cols).schema
        )
    df = spark.read.parquet(*files).filter(
        (F.col("_hoodie_commit_time") > begin_instant)
        & (F.col("_hoodie_commit_time") <= end_instant)
    )
    return df.drop(*META_COLS) if drop_meta_cols else df


# ---------------------------------------------------------------------------
# writer


_WRITE_TOKEN = "0-1-0"


def _stage_base_files(
    df: DataFrame,
    root: str,
    instant: str,
    route_col: str | None,
    group,
    placed: list[str],
) -> dict[str, list]:
    """Stage ``df`` and move each staged segment's ONE file into its file
    group as ``<fid>_0-1-0_<instant>.parquet``; returns the commit's
    ``partitionToWriteStats``.  Each file is placed put-if-absent
    (``os.link``) and recorded in the attempt's ``placed`` list: a
    racing writer's base file of the same name is never replaced, the
    loser gets ``FileExistsError``.  With ``route_col`` the write is one
    ``partitionBy(route_col)`` job over ``repartition(route_col)`` —
    every value's rows land in one task, so one file per segment;
    without it ``coalesce(1)`` writes the single file.  ``group(f)``
    maps a ``table_core.Staged`` file to (raw partition path, on-disk
    directory relative to ``root``, file id).

    On disk the directory keeps Spark's writer-ESCAPED segment: joining
    the raw unescaped value would let a value containing '/' write
    outside the partition dir and '..' escape the table root (r8
    ADVICE).  The RAW value goes into ``_hoodie_partition_path`` (a
    column the caller built) and the commit stats.

    An empty frame still writes its one 0-row base file
    (``write_empty``): a snapshot reads the schema from its base files,
    so a table without one could not be read."""
    if route_col:
        df, by = df.repartition(route_col), [route_col]
    else:
        df, by = df.coalesce(1), []
    stats: dict[str, list] = {}
    segments: set[str] = set()
    abs_root = os.path.abspath(root)
    for f in table_core.write_staged(df, root, by, write_empty=True):
        if f.dir in segments:  # repartition guarantees one task per segment
            raise HudiFormatError(
                f"expected one base file for staged segment {f.dir!r}, got more"
            )
        segments.add(f.dir)
        part_path, disk_dir, fid = group(f)
        out_dir = os.path.abspath(os.path.join(root, disk_dir))
        if os.path.commonpath([abs_root, out_dir]) != abs_root:
            raise HudiFormatError(
                f"partition segment {disk_dir!r} normalizes outside table root"
            )
        os.makedirs(out_dir, exist_ok=True)
        target = os.path.join(out_dir, f"{fid}_{_WRITE_TOKEN}_{instant}.parquet")
        os.link(f.path, target)
        placed.append(target)
        os.unlink(f.path)
        stats.setdefault(part_path, []).append(
            {
                "fileId": fid,
                "path": os.path.relpath(target, root),
                "numWrites": f.meta.num_rows,
                "fileSizeInBytes": os.path.getsize(target),
            }
        )
    return stats


def _insert_file_groups(
    df: DataFrame,
    root: str,
    partition_col: str | None,
    instant: str,
    key_col: str,
    placed: list[str],
) -> dict[str, list]:
    """New base file groups for ``df`` in ONE distributed write, with
    the five _hoodie_* meta columns populated the way real Hudi
    populates them: one group per partition value (repartitioned on the
    partition column, one ``partitionBy`` job — replacing the former
    collect-distinct-values-then-filter loop that ran one sequential
    Spark job per partition value, r7 verdict #4), or one group for an
    unpartitioned table.  ``file_id`` is deterministic in (instant,
    partition value) so ``_hoodie_file_name`` is computable as a COLUMN
    before the write."""
    import hashlib

    if partition_col:
        pp = F.coalesce(
            F.col(partition_col).cast("string"),
            F.lit("__HIVE_DEFAULT_PARTITION__"),
        )
        file_id = F.substring(
            F.md5(F.concat_ws("|", F.lit(instant), pp)), 1, 12
        )
    else:
        pp = F.lit("")
        fid = uuid.uuid4().hex[:12]
        file_id = F.lit(fid)
    with_meta = (
        df.withColumn("_hoodie_commit_time", F.lit(instant))
        .withColumn(
            "_hoodie_commit_seqno",
            F.concat_ws(
                "_", F.lit(instant), F.monotonically_increasing_id().cast("string")
            ),
        )
        .withColumn("_hoodie_record_key", F.col(key_col).cast("string"))
        .withColumn("_hoodie_partition_path", pp)
        .withColumn(
            "_hoodie_file_name",
            F.concat(file_id, F.lit(f"_{_WRITE_TOKEN}_{instant}.parquet")),
        )
        .select(*META_COLS, *df.columns)
    )
    if not partition_col:
        return _stage_base_files(
            with_meta, root, instant, None, lambda f: ("", "", fid), placed
        )

    def group(f):
        val = f.values["__pp"]
        part_path = "__HIVE_DEFAULT_PARTITION__" if val is None else val
        fid = hashlib.md5(f"{instant}|{part_path}".encode()).hexdigest()[:12]
        return part_path, f.dir[len("__pp=") :], fid

    return _stage_base_files(
        with_meta.withColumn("__pp", pp), root, instant, "__pp", group, placed
    )


def _init_table(
    root: str, name: str, table_type: str, key_col: str, partition_col: str | None
) -> None:
    """Drop any table at ``root`` and lay down ``.hoodie`` with its
    ``hoodie.properties``."""
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(_timeline_dir(root), exist_ok=True)
    table_core.replace(
        os.path.join(_timeline_dir(root), "hoodie.properties"),
        f"hoodie.table.name={name}\n"
        f"hoodie.table.type={table_type}\n"
        "hoodie.table.version=6\n"
        f"hoodie.table.recordkey.fields={key_col}\n"
        + (f"hoodie.table.partition.fields={partition_col}\n" if partition_col else ""),
    )


def create_table(
    df: DataFrame,
    root: str,
    key_col: str,
    partition_col: str | None = None,
    name: str = "graft_table",
) -> str:
    """Bootstrap a COW table: properties + first commit.  One file group
    per partition value (or one for the whole table)."""
    _init_table(root, name, "COPY_ON_WRITE", key_col, partition_col)
    instant = _next_instant(root)
    with _attempt() as placed:
        stats = _insert_file_groups(df, root, partition_col, instant, key_col, placed)
        _commit_instant(root, instant, stats, placed=placed)
    return instant


def _rewrite_file_groups(
    spark: SparkSession,
    src: DataFrame,
    root: str,
    hit: list[tuple[str, str, str, str]],
    instant: str,
    key_col: str,
    placed: list[str],
) -> dict[str, list]:
    """ALL matched COW file groups rewritten in ONE distributed job
    (r14 optimization, guide §1.2): one scan over every hit base file,
    one left join against the source, one ``partitionBy(__fid)`` write
    — replacing the former per-group loop that ran one sequential Spark
    job per file group (O(groups) driver-blocking round trips; at
    bench scale 10 rewrite jobs per upsert, at 100 TB a wide upsert
    would serialize hundreds).  Same shape `_insert_file_groups`
    already uses for inserts.  ``hit`` rows are (raw_partition_value,
    escaped_disk_segment, file_id, abs_path).

    Untouched rows KEEP their original commit time + seqno (Hudi's
    record-level incremental contract); only matched rows take the new
    instant — identical expressions to the old per-group loop, applied
    once across the union of hit files (a record key lives in one file
    group, and the per-row join is independent of grouping)."""
    tgt = spark.read.parquet(*[p for *_, p in hit]).alias("t")
    data_cols = [c for c in tgt.columns if c not in META_COLS]
    matched = F.col(f"s.{key_col}").isNotNull()
    fid = F.split(F.col("t._hoodie_file_name"), "_").getItem(0)
    merged = (
        tgt.join(src, F.col(f"t.{key_col}") == F.col(f"s.{key_col}"), "left")
        .select(
            F.when(matched, F.lit(instant))
            .otherwise(F.col("t._hoodie_commit_time"))
            .alias("_hoodie_commit_time"),
            F.when(matched, F.lit(None).cast("string"))
            .otherwise(F.col("t._hoodie_commit_seqno"))
            .alias("__seq0"),
            F.col("t._hoodie_record_key").alias("_hoodie_record_key"),
            F.col("t._hoodie_partition_path").alias("_hoodie_partition_path"),
            F.concat(fid, F.lit(f"_{_WRITE_TOKEN}_{instant}.parquet")).alias(
                "_hoodie_file_name"
            ),
            *[
                F.when(matched, F.col(f"s.{c}"))
                .otherwise(F.col(f"t.{c}"))
                .alias(c)
                for c in data_cols
            ],
            # r15 (r14 ADVICE): key the routing column on the FULL
            # (partition, file_id) pair so a cross-partition fid collision
            # is structurally impossible rather than astronomically
            # unlikely — a collision would silently route one group's rows
            # into another partition's directory.
            F.concat_ws(
                "/", F.col("t._hoodie_partition_path"), fid
            ).alias("__fid"),
        )
        .withColumn(
            "_hoodie_commit_seqno",
            F.coalesce(
                F.col("__seq0"),
                F.concat_ws(
                    "_",
                    F.lit(instant),
                    F.monotonically_increasing_id().cast("string"),
                ),
            ),
        )
        .select(*META_COLS, *data_cols, "__fid")
    )
    # keys mirror the data-side concat_ws("/", partition_path, fid) exactly
    by_fid = {f"{raw}/{fid_v}": (raw, esc, fid_v) for raw, esc, fid_v, _ in hit}

    def group(f):
        # the composite key can carry writer-escaped partition characters
        # (the old bare-fid key never did — md5/uuid hex)
        key_v = f.values["__fid"] or f.dir[len("__fid=") :]
        if key_v not in by_fid:
            raise HudiFormatError(
                f"staged segment {f.dir!r} (key {key_v!r}) matches no "
                "file group this write touched"
            )
        return by_fid[key_v]

    return _stage_base_files(merged, root, instant, "__fid", group, placed)


def upsert(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    key_col: str,
    extra_metadata: dict | None = None,
) -> dict:
    """COW upsert: file groups holding matched record keys are rewritten
    at the new instant (old base files stay for time travel); unmatched
    incoming keys append as a new file group.  Returns the accounting."""
    # the instant is taken before the snapshot is read: a write that
    # commits after this read took the same instant, so one of the two
    # fails put-if-absent
    instant = _next_instant(root)
    slices = _cow_slices(root)
    partition_col = _properties(root).get("hoodie.table.partition.fields") or None
    src = df.alias("s")
    # which file groups hold matched keys? resolve from the meta columns
    # "__hkey" not "k": a user key column literally named after the
    # internal alias must not make the anti-join ambiguous
    existing = spark.read.parquet(*[s["base_file"] for s in slices]).select(
        F.col("_hoodie_record_key").alias("__hkey"),
        F.col("_hoodie_file_name").alias("fname"),
        F.col("_hoodie_partition_path").alias("ppath"),
    )
    hit_groups = {
        (r.ppath, _parse_base_file(r.fname)[0])
        for r in existing.join(
            src.select(F.col(key_col).cast("string").alias("__hkey")),
            "__hkey",
        )
        .select("ppath", "fname")
        .distinct()
        .collect()
    }
    stats: dict[str, list] = {}
    # on-disk dirs keep the writer-escaped segment; hit_groups /
    # commit stats / meta columns use the RAW partition value
    hit = []
    for s in slices:
        part = s["partition"]
        raw = part if part == "" else (table_core.unescape_path_name(part) or part)
        if (raw, s["file_id"]) in hit_groups:
            hit.append((raw, part, s["file_id"], s["base_file"]))
    # pure inserts: keys not present anywhere -> one new file group
    new_rows = src.join(
        existing.select("__hkey").distinct(),
        F.col(f"s.{key_col}").cast("string") == F.col("__hkey"),
        "left_anti",
    )
    with _attempt() as placed:
        if hit:
            for raw, wss in _rewrite_file_groups(
                spark, src, root, hit, instant, key_col, placed
            ).items():
                stats.setdefault(raw, []).extend(wss)
        n_new = new_rows.count()
        if n_new:
            # one distributed write covers every incoming partition value
            for part, wss in _insert_file_groups(
                new_rows, root, partition_col, instant, key_col, placed
            ).items():
                stats.setdefault(part, []).extend(wss)
        _commit_instant(
            root, instant, stats, extra_metadata=extra_metadata, placed=placed
        )
    return {
        "instant": instant,
        "file_groups_rewritten": len(hit),
        "new_rows": n_new,
    }


# ---------------------------------------------------------------------------
# table services: cleaner + rollback (Hudi timeline actions .clean /
# .rollback — the services hudi-client runs to reclaim space and repair
# failed writes; semantics per the public timeline docs).  Each takes
# its instant from ``_next_instant`` before it edits anything.


def clean_horizon(root: str) -> str | None:
    """The newest earliestInstantRetained across completed .clean
    actions — time travel strictly before it cannot be answered."""
    horizon = None
    for name in os.listdir(_timeline_dir(root)):
        if name.endswith(".clean"):
            with open(os.path.join(_timeline_dir(root), name)) as f:
                body = json.load(f)
            e = body.get("earliestInstantRetained")
            if e and (horizon is None or e > horizon):
                horizon = e
    return horizon


def clean(root: str, retain_file_versions: int = 1) -> dict:
    """The CLEANER, KEEP_LATEST_FILE_VERSIONS policy: per file group,
    physically delete all but the newest ``retain_file_versions``
    committed base files, and record a completed ``.clean`` timeline
    action carrying ``earliestInstantRetained`` — the horizon behind
    which time travel refuses (``read_table(as_of=...)`` checks it)
    instead of silently returning a snapshot missing cleaned groups.
    Metadata-only planning: the victim set comes from file NAMES and
    the timeline, no data reads.  COPY_ON_WRITE only: on a
    MERGE_ON_READ table it would orphan the log files of the base files
    it deletes."""
    if retain_file_versions < 1:
        raise ValueError("retain_file_versions must be >= 1")
    _require_type(root, "COPY_ON_WRITE", "clean")
    instant = _next_instant(root)
    committed = set(completed_instants(root))
    # files pinned by savepoints are NEVER cleaned (Hudi's savepoint
    # contract: the savepointed snapshot stays restorable/readable)
    protected: set[str] = set()
    for body in _savepoint_bodies(root).values():
        protected |= set(body.get("retainedFiles") or [])
    groups: dict[tuple[str, str], list[tuple[str, str]]] = {}
    for part, file_id, fi, path in _base_files(root):
        if fi in committed:
            groups.setdefault((part, file_id), []).append((fi, path))
    deleted: list[str] = []
    earliest_retained = None
    for versions in groups.values():
        versions.sort(reverse=True)
        kept = versions[:retain_file_versions]
        for _, path in versions[retain_file_versions:]:
            if os.path.relpath(path, root) in protected:
                continue
            os.remove(path)
            deleted.append(os.path.relpath(path, root))
        oldest_kept = kept[-1][0]
        if earliest_retained is None or oldest_kept > earliest_retained:
            # a snapshot read needs EVERY group at a version <= as_of;
            # the binding horizon is the NEWEST oldest-kept instant
            earliest_retained = oldest_kept
    _three_phase(
        root,
        instant,
        "clean",
        {
            "policy": "KEEP_LATEST_FILE_VERSIONS",
            "retain": retain_file_versions,
            "earliestInstantRetained": earliest_retained,
            "deleted": sorted(deleted),
        },
    )
    return {
        "instant": instant,
        "files_deleted": len(deleted),
        "earliest_instant_retained": earliest_retained,
    }


def pending_instants(root: str) -> list[str]:
    """Instants with a requested/inflight marker and no completed
    action — crashed or in-flight writes (invisible to readers)."""
    tdir = _timeline_dir(root)
    names = os.listdir(tdir)
    completed = {n.split(".")[0] for n in names if not n.endswith((".requested", ".inflight"))}
    pend = {
        n.split(".")[0]
        for n in names
        if n.endswith((".requested", ".inflight"))
    }
    return sorted(pend - completed)


def rollback(root: str, instant: str | None = None) -> dict:
    """ROLLBACK a failed (pending) instant — or, with an explicit
    ``instant``, the LATEST completed commit (Hudi only rolls back from
    the tail of the timeline): delete the base files the write stamped
    with that instant, clear its timeline files, and record a
    completed ``.rollback`` action.  Readers never saw pending files
    (snapshot planning filters to committed instants), so a crash
    rollback is pure garbage collection; rolling back a completed
    commit rewinds the table to the previous instant.  COPY_ON_WRITE
    only, like ``clean``."""
    _require_type(root, "COPY_ON_WRITE", "rollback")
    tdir = _timeline_dir(root)
    # taken before the target goes: the target may be the newest instant
    ri = _next_instant(root)
    if instant is None:
        pend = pending_instants(root)
        if not pend:
            raise ValueError("no pending instants to roll back")
        target, was_completed = pend[-1], False
    else:
        target = instant
        completed = completed_instants(root)
        if target in completed:
            if target != completed[-1]:
                raise ValueError(
                    f"can only roll back the LATEST completed commit "
                    f"({completed[-1]}), not {target}"
                )
            was_completed = True
        elif target in pending_instants(root):
            was_completed = False
        else:
            raise ValueError(f"unknown instant: {target}")
    deleted = []
    for _part, _fid, fi, path in _base_files(root):
        if fi == target:
            os.remove(path)
            deleted.append(os.path.relpath(path, root))
    for name in list(os.listdir(tdir)):
        if name.split(".")[0] == target:
            os.remove(os.path.join(tdir, name))
    _three_phase(
        root,
        ri,
        "rollback",
        {
            "rollbackInstant": target,
            "wasCompleted": was_completed,
            "deleted": sorted(deleted),
        },
    )
    return {
        "instant": ri,
        "rolled_back": target,
        "files_deleted": len(deleted),
    }


# ---------------------------------------------------------------------------
# savepoint / restore (Hudi's savepoint(), delete_savepoint(),
# rollback_to_savepoint() — the table-service trio that makes a snapshot
# restorable no matter what the cleaner or later writers do), for both
# table types: a MERGE_ON_READ slice adds its log files


def _savepoint_bodies(root: str) -> dict[str, dict]:
    """savepointed commit instant -> completed .savepoint body."""
    out: dict[str, dict] = {}
    tdir = _timeline_dir(root)
    for name in os.listdir(tdir):
        if name.endswith(".savepoint"):
            with open(os.path.join(tdir, name)) as f:
                body = json.load(f)
            out[body["savepointedAt"]] = body
    return out


def savepoints(root: str) -> list[str]:
    """Savepointed commit instants, sorted."""
    return sorted(_savepoint_bodies(root))


def savepoint(root: str, instant: str | None = None) -> dict:
    """SAVEPOINT a committed instant (default: the latest commit or
    deltacommit): record a completed ``.savepoint`` timeline action
    pinning the base and log files of that snapshot's file slices.
    The cleaner skips pinned files, time travel to the savepointed
    instant keeps working behind the clean horizon, and
    ``restore_to_savepoint`` can rewind the table to it.  Planning is
    metadata-only (file NAMES + timeline).  Reference analog: Hudi's
    ``create_savepoint`` call used before risky backfills; gluten scans
    Hudi tables those services maintain."""
    committed = completed_instants(root)
    if not committed:
        raise ValueError("no completed commits to savepoint")
    target = committed[-1] if instant is None else instant
    if target not in committed:
        raise ValueError(f"instant {target!r} is not a completed commit")
    if target in _savepoint_bodies(root):
        raise ValueError(f"instant {target!r} is already savepointed")
    horizon = clean_horizon(root)
    if horizon is not None and target < horizon:
        raise ValueError(
            f"cannot savepoint {target}: behind the clean horizon "
            f"({horizon}) — its file versions are already deleted"
        )
    si = _next_instant(root)
    retained = [
        os.path.relpath(p, root)
        for s in file_slices(root, as_of=target)
        for p in (s["base_file"], *s["log_files"])
    ]
    _three_phase(
        root,
        si,
        "savepoint",
        {"savepointedAt": target, "retainedFiles": sorted(retained)},
    )
    return {
        "instant": si,
        "savepointed_at": target,
        "files_retained": len(retained),
    }


def delete_savepoint(root: str, instant: str) -> dict:
    """Unpin a savepoint — its files become ordinary cleaner victims."""
    tdir = _timeline_dir(root)
    for name in list(os.listdir(tdir)):
        if name.endswith(".savepoint"):
            with open(os.path.join(tdir, name)) as f:
                body = json.load(f)
            if body["savepointedAt"] == instant:
                os.remove(os.path.join(tdir, name))
                return {"deleted_savepoint_at": instant}
    raise ValueError(f"no savepoint at instant {instant!r}")


def restore_to_savepoint(root: str, instant: str) -> dict:
    """RESTORE the table to a savepointed instant: physically delete
    every base file written AFTER the savepoint (compaction outputs
    included), cut MERGE_ON_READ log files back to their blocks at or
    before it (``hudi_mor._truncate_logs``: block surgery on a log file
    appended to across the savepoint), remove the later commits and
    deltacommits from the timeline, and record a completed ``.restore``
    action.  Unlike ``rollback`` (latest commit only), restore rewinds
    ANY number of commits — the savepoint's pinned files guarantee the
    target snapshot is complete even if a cleaner ran in between.  Cost
    is O(files + log bytes written since the savepoint).  This is
    Hudi's documented disaster-recovery path (``rollback_to_savepoint``
    procedure); incremental consumers positioned after the savepoint
    lose their window, exactly like upstream."""
    if instant not in _savepoint_bodies(root):
        raise ValueError(
            f"instant {instant!r} is not savepointed — savepoint first "
            "(restore without a savepoint cannot prove the snapshot "
            "is still complete)"
        )
    ri = _next_instant(root)
    doomed = [c for c in completed_instants(root) if c > instant]
    deleted: list[str] = []
    for _part, _fid, fi, path in _base_files(root):
        if fi > instant:
            os.remove(path)
            deleted.append(path)
    logs_truncated = 0
    logs = [path for *_, path in _log_files(root)]
    if logs:
        from incubator_gluten_spark.sources.hudi_mor import _truncate_logs

        removed, logs_truncated = _truncate_logs(logs, instant)
        deleted += removed
    tdir = _timeline_dir(root)
    for name in list(os.listdir(tdir)):
        stem, _, rest = name.partition(".")
        if stem in doomed and rest.split(".")[0] in ("commit", "deltacommit"):
            os.remove(os.path.join(tdir, name))
    deleted = sorted(os.path.relpath(p, root) for p in deleted)
    _three_phase(
        root,
        ri,
        "restore",
        {
            "restoredTo": instant,
            "rolledBackCommits": doomed,
            "deleted": deleted,
            "logsTruncated": logs_truncated,
        },
    )
    return {
        "instant": ri,
        "restored_to": instant,
        "commits_rolled_back": len(doomed),
        "files_deleted": len(deleted),
        "logs_truncated": logs_truncated,
    }


_CHECKPOINT_KEY = "deltastreamer.checkpoint.key"


def append_stream_batch(
    spark: SparkSession, df: DataFrame, root: str, key_col: str,
    app_id: str, batch_id: int,
) -> bool:
    """EXACTLY-ONCE streaming sink: the micro-batch checkpoint rides in
    the commit's ``extraMetadata`` under ``deltastreamer.checkpoint.key``
    — where hudi's own streaming ingest records its checkpoint.  A
    batch at or below the highest committed one for this app is a
    NO-OP returning False; otherwise the batch UPSERTS (record-key
    idempotence on top of checkpoint idempotence)."""
    best = -1
    tdir = _timeline_dir(root)
    for i in completed_instants(root):
        with open(os.path.join(tdir, f"{i}.commit")) as f:
            body = json.load(f)
        ck = (body.get("extraMetadata") or {}).get(_CHECKPOINT_KEY, "")
        if ck.startswith(f"{app_id}:"):
            best = max(best, int(ck.split(":", 1)[1]))
    if best >= batch_id:
        return False
    upsert(
        spark,
        df,
        root,
        key_col,
        extra_metadata={_CHECKPOINT_KEY: f"{app_id}:{batch_id}"},
    )
    return True
