"""One STRUCTURED STREAMING SOURCE reader for the file-based table
formats (Spark 4 Python DataSource ``DataSourceStreamReader``).

``delta_stream``, ``iceberg_stream`` and ``hudi_stream`` each tail a
table log whose committed offsets sort in commit order (Delta versions,
Iceberg snapshot ids, Hudi instants).  A micro-batch over ``(start,
end]`` is planned on the driver from metadata alone, one
``InputPartition`` per data file, and each file is decoded with pyarrow
in an executor Python worker and shipped as Arrow record batches.  The
offsets are plain dicts ``{KEY: offset}`` that the engine checkpoints;
re-planning the same ``(start, end]`` yields the same files, so the
offset log gives exactly-once delivery.

``FileStreamReader`` owns the DSv2 stream protocol once.  A format
supplies four hooks:

* ``committed()`` — the sorted list of committed offsets;
* ``plan(lo, hi)`` — driver-side and metadata-only: one picklable
  payload per file for the commits in ``(lo, hi]``.  The format's
  refusals raise here, before any executor starts;
* ``decode(payload)`` — a ``pyarrow.Table`` for one payload.  A static
  method: it runs in an executor worker, which sees only the partition;
* ``struct()`` — the Spark ``StructType`` of the decoded rows.  It is
  called right after ``plan`` and may reuse what ``plan`` read; the
  format's ``DataSource.schema()`` returns the same object.

Pacing (the format's ``PACE`` option, 0 = off) takes the first N
committed offsets after the high-water mark of the last planned batch.
After a checkpoint restart Spark hands the start offset only to
``partitions``, so the first batch after a restart is uncapped:
admission control is best effort, exactly-once is exact.

Reference analog: gluten-iceberg's SparkMicroBatchStream plans splits
and never builds rows on the driver; Gluten keeps one scan path
(BatchScanExecTransformer) for every source.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

__all__ = ["FilePartition", "FileStreamDataSource", "FileStreamReader"]


class FilePartition(InputPartition):
    """One data file of a micro-batch: the format's payload plus the
    Arrow schema to cast to (None -> tuple fallback)."""

    def __init__(self, payload, arrow_schema) -> None:
        self.payload = payload
        self.arrow_schema = arrow_schema


class FileStreamReader(DataSourceStreamReader):
    """Offset, pacing, partition and Arrow-emit logic shared by the
    table-format stream sources; subclasses set ``FORMAT`` (the
    DataSource name), ``KEY`` (the offset dict key), ``PACE`` (the
    pacing option), ``start`` (the initial offset) and the four hooks."""

    FORMAT: str
    KEY: str
    PACE: str

    def __init__(self, options: dict) -> None:
        self.options = options
        self.root = self.opt("path")
        if not self.root:
            raise ValueError(f"{self.FORMAT} requires .option('path', <root>)")
        self.max_per_batch = int(self.opt(self.PACE, "0"))
        self.start = None
        self._hwm = None

    def opt(self, name: str, default: str = "") -> str:
        """Option lookup tolerant of case (DSv2 lowercases option keys)."""
        for k in (name, name.lower()):
            if k in self.options:
                return self.options[k]
        return default

    # --- format hooks ----------------------------------------------------
    def committed(self) -> list:
        raise NotImplementedError

    def plan(self, lo, hi) -> list:
        raise NotImplementedError

    @staticmethod
    def decode(payload):
        raise NotImplementedError

    def struct(self):
        raise NotImplementedError

    # --- DSv2 stream protocol --------------------------------------------
    def initialOffset(self) -> dict:
        self._hwm = self.start
        return {self.KEY: self.start}

    def latestOffset(self) -> dict:
        committed = self.committed()
        if self.max_per_batch > 0 and self._hwm is not None:
            newer = [c for c in committed if c > self._hwm]
            newer = newer[: self.max_per_batch]
            return {self.KEY: newer[-1] if newer else self._hwm}
        return {self.KEY: committed[-1] if committed else self.start}

    def partitions(self, start: dict, end: dict) -> list[FilePartition]:
        lo, hi = start[self.KEY], end[self.KEY]
        self._hwm = hi if self._hwm is None else max(self._hwm, hi)
        payloads = self.plan(lo, hi)
        try:
            from incubator_gluten_spark.sources.avro import _arrow_schema_for

            arrow_schema = _arrow_schema_for(self.struct())
        except Exception:  # noqa: BLE001 — complex type: row fallback
            arrow_schema = None
        return [FilePartition(p, arrow_schema) for p in payloads]

    def read(self, partition: FilePartition):
        table = self.decode(partition.payload)
        if partition.arrow_schema is not None:
            try:
                return iter(table.cast(partition.arrow_schema).to_batches())
            except Exception:  # noqa: BLE001 — cast mismatch: row path
                pass
        return zip(*[c.to_pylist() for c in table.columns])

    def commit(self, end: dict) -> None:  # nothing external to ack
        pass


class FileStreamDataSource(DataSource):
    """``spark.readStream.format(READER.FORMAT).option("path", root)``:
    the schema and the stream reader both come from ``READER``."""

    READER: type[FileStreamReader]

    @classmethod
    def name(cls) -> str:
        return cls.READER.FORMAT

    def schema(self):
        return self.READER(self.options).struct()

    def streamReader(self, schema):
        return self.READER(self.options)
