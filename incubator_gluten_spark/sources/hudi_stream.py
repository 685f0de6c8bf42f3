"""Hudi COW table as a STRUCTURED STREAMING SOURCE, on the shared
``file_stream.FileStreamReader``.

``spark.readStream.format("graft_hudi").option("path", root)`` tails the
timeline: offsets are COMPLETED COMMIT INSTANTS (``{"instant": t}``),
and each micro-batch is the RECORD-LEVEL incremental pull of ``(start,
end]`` — ``hoodie.datasource.query.type=incremental`` semantics, the
contract Hudi's own DeltaStreamer chains on:

* inserts stream through once, at their commit instant;
* an UPSERT delivers exactly the records it changed (at their new
  values) — untouched records of a rewritten file group are NOT
  re-delivered, because the writer preserves their original
  ``_hoodie_commit_time`` through COW rewrites (the property
  ``read_incremental`` already pins); no ``ignoreChanges`` option is
  needed, unlike the Delta twin, because Hudi's change tracking is
  per-record, not per-file;
* record DELETES are invisible to a COW incremental pull (the rewritten
  file group simply lacks the record; real Hudi needs the CDC feature
  for delete capture) — documented parity with hudi's own source;
* MERGE_ON_READ tables refuse (the COW snapshot raises — log-block
  merge belongs to sources/hudi_mor.py).

Options: ``startingInstant``, ``maxCommitsPerBatch``.  Base-file pruning
is by NAME alone: a COW base file written at instant ``i`` holds only
commit times <= ``i``, so files named <= start are skipped without
opening them — an incremental micro-batch off a 100 TB table reads the
recently-written file groups, not the table.  One input partition per
candidate base file; the parquet decode and the record-level
commit-time filter run in executor workers.  The schema is the newest
base file's footer, read once per micro-batch.

Reference analog: gluten-hudi scans through the Hudi jar's relations
(gluten-hudi/src/main/scala/org/apache/gluten/execution/HudiScanTransformer.scala);
semantics here are the public incremental-query contract.
"""

from __future__ import annotations

from incubator_gluten_spark.sources.file_stream import (
    FileStreamDataSource,
    FileStreamReader,
)
from incubator_gluten_spark.sources.hudi_format import (
    META_COLS,
    _cow_slices,
    _parse_base_file,
    completed_instants,
    snapshot_files,
)

__all__ = ["HudiStreamDataSource", "register_hudi_stream_source"]


def _newest_base_file(files: list[str]) -> str:
    """Newest by the COMMIT INSTANT embedded in the base-file name —
    basenames START with the md5 file_id, so lexicographic max picks an
    arbitrary file group, not the latest write."""
    return max(files, key=lambda path: _parse_base_file(path)[1])


def _emit_table(path: str, lo: str, hi: str, names: list[str]):
    """pyarrow Table of one base file's records with commit time in
    ``(lo, hi]`` — the record-level incremental filter."""
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    ct = table.column("_hoodie_commit_time").to_pylist()
    keep = [i for i, c in enumerate(ct) if lo < c <= hi]
    return table.take(keep).select(names)


class _HudiStreamReader(FileStreamReader):
    FORMAT = "graft_hudi"
    KEY = "instant"
    PACE = "maxCommitsPerBatch"

    def __init__(self, options: dict) -> None:
        super().__init__(options)
        self.start = self.opt("startingInstant", "")
        self._struct = None  # footer schema read by the last plan

    def committed(self) -> list[str]:
        return completed_instants(self.root)

    def plan(self, lo: str, hi: str) -> list[tuple]:
        self._struct = None
        names = self.struct().fieldNames()
        # name-pruned candidates of the as_of=hi snapshot: timeline and
        # directory walk only, no parquet read
        return [
            (s["base_file"], lo, hi, names)
            for s in _cow_slices(self.root, as_of=hi)
            if s["base_instant"] > lo
        ]

    @staticmethod
    def decode(payload):
        return _emit_table(*payload)

    def struct(self):
        # built SESSIONLESS from the newest base file's parquet footer
        # (the data-source worker has no JVM); from_arrow_schema is
        # pure Python
        if self._struct is None:
            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import from_arrow_schema
            from pyspark.sql.types import StructType

            files = snapshot_files(self.root)
            if not files:
                raise ValueError(f"no committed snapshot in {self.root}")
            full = from_arrow_schema(pq.read_schema(_newest_base_file(files)))
            self._struct = StructType(
                [f for f in full.fields if f.name not in META_COLS]
            )
        return self._struct


class HudiStreamDataSource(FileStreamDataSource):
    """``spark.readStream.format("graft_hudi")`` — commit-instant-offset
    record-level incremental micro-batches over a Hudi COW table."""

    READER = _HudiStreamReader


def register_hudi_stream_source(spark) -> None:
    spark.dataSource.register(HudiStreamDataSource)
