"""What every table format shares: the commit primitive, data-file
staging and footer statistics.

Commits.  Delta commits, Iceberg metadata versions and Hudi timeline
instants are all "publish this text under this name, atomically":

* ``put_if_absent`` — a log entry.  The name appears whole or not at
  all, and a second writer of the same name gets ``FileExistsError``
  instead of overwriting the first (``os.link`` refuses an existing
  target).  This is the put-if-absent the real Delta, Iceberg and Hudi
  libraries build their commit protocols on.
* ``replace`` — a file that is rewritten on purpose: pointer files
  (``version-hint.text``, Delta ``_last_checkpoint``,
  ``hoodie.properties``), the Python DataSource sinks'
  ``_COMMIT`` / ``_BATCH_<id>`` manifests, and Hudi log files that a
  restore truncates (bytes).  Readers see the old or the new contents,
  never a torn mix.

Both write a temp file in the target's directory and fsync it before
publishing it.  Temp names start with ``.`` and end in ``.tmp``, so no
log lister matches them: Delta's ``\\d{20}.json``, Hudi's ``*.commit`` /
``*.deltacommit``; the Hudi log-file lister,
whose names also start with ``.``, skips ``*.tmp``.  A crash between
the temp write and the publish leaves the log at its previous version.

Data files.  ``write_staged`` is the one parquet write every format's
data path goes through: Spark writes the DataFrame (Hive-style
``partitionBy`` directories when asked) into ``<root>/_staging_<token>``,
and each parquet file comes back with its writer-escaped directory, its
decoded partition values and its footer, read once.  The caller moves
the files it keeps into the table under its own names; the staging
directory is removed when the walk ends, including when the write or
the caller fails.  Staging directories are always named ``_staging_<token>``
directly under the table root — Delta's ``vacuum`` skips them and
Iceberg's ``remove_orphan_files`` reclaims any a killed process left.
A provably empty frame (``provably_empty``: built on the driver, and
Catalyst folds it to an empty ``LocalRelation``, as it folds
``session.local_frame(spark, [], schema)``) stages nothing: no Spark
job, no staging directory, no file.  A
write would only have produced the 0-row file that Delta and Iceberg
drop anyway; Hudi, whose snapshot is its base files, asks for that
file with ``write_empty=True``.

``footer_stats`` is the one row-group statistics loop: per top-level
column, (min, max, null_count) over the whole file.  A column's bounds
are ``None`` unless EVERY row group records usable ones — bounds from
only the covered row groups would be narrower than the file's true
range and prune a file that holds matching rows — and NaN or
unorderable bounds count as unusable (Spark's parquet writer records
NaN as a column max).  The null count is ``None`` unless every row
group records one.  Values pass through raw (``Decimal``, ``bytes``,
``date``, ``datetime`` ...); each format encodes the types it stores.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import uuid
from collections.abc import Callable, Iterator
from typing import Any, NamedTuple

__all__ = [
    "Staged",
    "footer_stats",
    "partition_values",
    "provably_empty",
    "put_if_absent",
    "replace",
    "unescape_path_name",
    "write_staged",
]


def _publish(
    path: str, data: str | bytes, publish: Callable[[str, str], None]
) -> None:
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "xb" if isinstance(data, bytes) else "x") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        publish(tmp, path)
    finally:
        # os.link leaves the temp name behind; os.replace consumed it
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)


def put_if_absent(path: str, text: str) -> None:
    """Atomically create ``path`` holding ``text``; raise
    ``FileExistsError`` (leaving the existing bytes untouched) if the
    name is already taken."""
    _publish(path, text, os.link)


def replace(path: str, data: str | bytes) -> None:
    """Atomically set ``path`` to ``data`` (text or bytes), whether or
    not it exists."""
    _publish(path, data, os.replace)


def unescape_path_name(seg: str) -> str | None:
    """Inverse of Spark's ``ExternalCatalogUtils.escapePathName``: the
    writer percent-escapes special chars (``=``, ``:``, ``%``, ...) in
    Hive-style partition directory names and writes nulls as
    ``__HIVE_DEFAULT_PARTITION__``; reading the raw segment back into
    the log would store the escaped text as the typed value (r7 ADVICE).
    Malformed ``%`` sequences pass through literally, matching Spark."""
    if seg == "__HIVE_DEFAULT_PARTITION__":
        return None
    if "%" not in seg:
        return seg
    out = []
    i = 0
    while i < len(seg):
        c = seg[i]
        if c == "%" and i + 2 <= len(seg) - 1:
            hx = seg[i + 1 : i + 3]
            try:
                out.append(chr(int(hx, 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(c)
        i += 1
    return "".join(out)


def partition_values(rel_dir: str) -> dict[str, str | None]:
    """Decoded ``{column: value}`` of a Hive-style relative directory
    (``a=1/b=x%3Dy``); segments without ``=`` carry no value."""
    out: dict[str, str | None] = {}
    for seg in rel_dir.split("/") if rel_dir else ():
        k, eq, v = seg.partition("=")
        if eq:
            out[unescape_path_name(k)] = unescape_path_name(v)
    return out


class Staged(NamedTuple):
    """One parquet file ``write_staged`` wrote."""

    path: str  # the file inside the staging directory
    dir: str  # writer-escaped partition directory, "/"-joined; "" if none
    values: dict[str, str | None]  # decoded partition values of ``dir``
    meta: Any  # pyarrow FileMetaData: num_rows, row-group statistics


def provably_empty(df) -> bool:
    """True when ``df`` is built on the driver (every leaf of its
    analyzed plan is a ``LocalRelation``) and Catalyst's optimized plan
    of it is an empty ``LocalRelation``: the frame holds no row whatever
    runs it, and knowing that launches no Spark job.  A frame over files
    or an RDD is never provably empty, so its write pays no second
    optimizer pass (tens of ms on a merge plan; the write optimizes the
    plan again in its own query).  A Python-row frame
    (``spark.createDataFrame([], ddl)``) is a ``LogicalRDD`` and an
    observed one (``df.observe``) keeps its ``CollectMetrics`` node, so
    neither is provably empty."""
    qe = df._jdf.queryExecution()
    leaves = qe.analyzed().collectLeaves()
    if any(
        leaves.apply(i).getClass().getSimpleName() != "LocalRelation"
        for i in range(leaves.size())
    ):
        return False
    plan = qe.optimizedPlan()
    return (
        plan.getClass().getSimpleName() == "LocalRelation"
        and plan.data().isEmpty()
    )


def write_staged(
    df,
    root: str,
    partition_by=(),
    token: str | None = None,
    *,
    write_empty: bool = False,
) -> Iterator[Staged]:
    """Write ``df`` as parquet into ``<root>/_staging_<token>`` (a fresh
    token unless given) and yield every file it wrote, directories and
    names in sorted order.  The staging directory is removed when the
    iteration ends, is closed, or the write raises; a file the caller
    has not moved out by then goes with it.  A ``provably_empty`` frame
    yields nothing and launches no job, unless ``write_empty`` asks for
    the 0-row file Spark writes for it."""
    import pyarrow.parquet as pq

    if not write_empty and provably_empty(df):
        return
    staging = os.path.join(root, f"_staging_{token or uuid.uuid4().hex[:8]}")
    try:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
        for dirpath, dirnames, names in os.walk(staging):
            dirnames.sort()
            rel = os.path.relpath(dirpath, staging)
            rel = "" if rel == "." else rel.replace(os.sep, "/")
            values = partition_values(rel)
            for name in sorted(names):
                if name.endswith(".parquet"):
                    path = os.path.join(dirpath, name)
                    yield Staged(path, rel, values, pq.read_metadata(path))
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def _row_group_stats(col) -> tuple[Any, Any, int | None]:
    """(min, max, null_count) of one column chunk; None where the chunk
    records none (or pyarrow cannot decode it)."""
    st = col.statistics
    if st is None:
        return None, None, None
    nc = st.null_count if getattr(st, "has_null_count", False) else None
    try:
        if st.has_min_max:
            return st.min, st.max, nc
    except (NotImplementedError, ValueError):
        # pyarrow cannot convert some physical types (INT32/INT64-backed
        # decimals raise ArrowNotImplementedError) or invalid values
        pass
    return None, None, nc


def footer_stats(meta) -> dict[str, tuple[Any, Any, int | None]]:
    """``{column: (min, max, null_count)}`` for every top-level column of
    a parquet footer, per the module docstring's contract."""
    n = meta.num_row_groups
    # name -> [min, max, row groups bounded, null count, row groups counted]
    acc: dict[str, list] = {}
    for rg in range(n):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested leaf: not a top-level column
                continue
            a = acc.setdefault(name, [None, None, 0, 0, 0])
            lo, hi, nc = _row_group_stats(col)
            if nc is not None:
                a[3] += nc
                a[4] += 1
            if lo is None or hi is None or any(
                isinstance(v, float) and math.isnan(v) for v in (lo, hi)
            ):
                continue
            try:
                if a[2] == 0 or lo < a[0]:
                    a[0] = lo
                if a[2] == 0 or hi > a[1]:
                    a[1] = hi
            except TypeError:  # unorderable against an earlier row group
                continue
            a[2] += 1
    return {
        name: (
            lo if bounded == n else None,
            hi if bounded == n else None,
            nulls if counted == n else None,
        )
        for name, (lo, hi, bounded, nulls, counted) in acc.items()
    }
