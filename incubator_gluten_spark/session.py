"""SparkSession factory — the engine's "plugin configuration".

Gluten activates by injecting configs + rules into a stock Spark session
(reference: gluten-core/src/main/scala/org/apache/gluten/GlutenPlugin.scala:38,
README.md:70-71 requires off-heap memory, columnar shuffle manager, etc.).
Our analog: one factory that returns a SparkSession tuned for large-scale
columnar analytics. Every config below is chosen for the 100 TB / 1000-executor
case first and merely *works* on local[N]:

* AQE on (+ partition coalescing + skew-join splitting): at 100 TB the only
  sane shuffle sizing is "start high, let AQE coalesce", and skewed join keys
  are a certainty (reference keeps Spark AQE active too — SURVEY §4.2).
* preferSortMergeJoin=false mirrors the reference's RewriteJoin SMJ->shuffled
  hash join rewrite (gluten-substrait/.../extension/columnar/rewrite/RewriteJoin.scala).
  Spark only picks SHJ when the per-partition build side plausibly fits memory,
  so this is safe at scale and avoids two full sorts per join.
* Runtime bloom-filter join pruning = the analog of the reference's
  BloomFilterMightContainJointRewriteRule (backends-velox/.../BloomFilterMightContainJointRewriteRule.scala).
* maxPartitionBytes=256m: 100 TB / 256 MB = ~400k scan tasks — tractable;
  the 128m default doubles task-scheduling overhead for pure-scan stages.
* Arrow batch size 4096 rows mirrors the reference's default columnar batch
  (spark.gluten.sql.columnar.maxBatchSize,
  gluten-substrait/.../config/GlutenConfig.scala:1085).
* legacy.parquet.nanosAsLong: the events fixture carries TIMESTAMP(NANOS)
  which vanilla Spark 4 refuses; we read the raw int64 and convert in
  catalog.load_tables (truncation to micros matches DuckDB's CAST).
* Session timezone pinned UTC so timestamp semantics are engine-independent.
* codegen.cache.maxEntries=4000 (a static conf, so it is set on the
  builder): Spark's default cache holds 100 generated classes, fewer than
  one pass of work needs, so every pass evicted classes and compiled them
  again (74 compiles per warm pass of perfbench's tpch workload, 24 of
  lakehouse).  A cold pass compiles 118 distinct classes on tpch and 88
  on lakehouse (plus 4 in the set-up), and the whole fast test tier (240
  tests) compiles 1,297 in one JVM; 4000 holds all of them, so a warm
  pass compiles none.  Metaspace at the end of a perfbench run is 158 MB
  (tpch) and 171 MB (lakehouse), against 161 and 172 MB with the default.
"""

from __future__ import annotations

import atexit
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


# Per-process scratch roots, each with the pid that registered it: a
# forked child inherits this dict and its exit handlers, and must not
# delete its parent's directories when it exits normally.
_SCRATCH_ROOTS: dict[str, int] = {}


def remove_at_exit(path: str) -> None:
    """Delete ``path`` (a directory this process owns) when the process
    that calls this exits; safe to call more than once per path."""
    _SCRATCH_ROOTS[path] = os.getpid()


@atexit.register
def _remove_scratch_roots() -> None:
    for path, pid in _SCRATCH_ROOTS.items():
        if pid == os.getpid():
            shutil.rmtree(path, ignore_errors=True)


def _default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_session(
    app_name: str = "incubator-gluten-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    streaming: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    shuffle_partitions defaults to 2x cores locally; on a real cluster pass
    a high value (or leave AQE's coalescing to shrink from the initial
    number — spark.sql.adaptive.coalescePartitions.initialPartitionNum).
    """
    cpus = _default_cpus()
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or max(cpus * 2, 8)
    # default: half the physical memory, at most 24g (the local driver JVM
    # is also the executor; Python workers and the page cache need the rest)
    half_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31
    driver_memory = driver_memory or os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", f"{max(1, min(24, half_gib))}g"
    )

    warehouse = f"/tmp/spark_graft_warehouse_{os.getpid()}"
    if "spark.sql.warehouse.dir" not in (extra_conf or {}):
        remove_at_exit(warehouse)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # --- memory: single-JVM local mode => driver is the executor
        .config("spark.driver.memory", driver_memory)
        .config("spark.driver.maxResultSize", "4g")
        # --- adaptive execution: the scale-survival kit
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.localShuffleReader.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # --- join strategy (mirrors reference RewriteJoin + bloom join)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # NOTE: spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled
        # deliberately NOT set — it deadlocks every job on this Spark build
        # (even a bare count()); the bloom-filter config above already covers
        # the reference's BloomFilterMightContainJointRewriteRule analog.
        # --- scan: pushdown + pruning + sane split sizes
        .config("spark.sql.files.maxPartitionBytes", "256m")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- codegen: static conf, so it can only go on the builder;
        # sized to the working set (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        # --- python/arrow boundary (Pandas UDFs ride Arrow batches)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow-optimized Python UDTFs (row-based BatchEvalPython otherwise)
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # --- managed-table warehouse: /tmp, because the in-memory catalog
        # forgets tables between sessions while their directories persist;
        # one per process, so two sessions on a host never share a table,
        # and removed when the process exits
        .config("spark.sql.warehouse.dir", warehouse)
        # --- determinism / interop
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
    )
    if streaming:
        # RocksDB state store: state lives off-heap/on-disk per executor
        # instead of in JVM maps — the production choice once keyed state
        # exceeds executor memory (bundled with Spark 4, no extra jars)
        builder = (
            builder.config(
                "spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
            ).config(
                "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
                "true",
            )
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    # getOrCreate() reuses an existing session and silently drops divergent
    # builder confs; re-apply the runtime-settable ones so later callers
    # (e.g. streaming=True or extra_conf) actually take effect.
    for k, v in (extra_conf or {}).items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a live session — builder already tried
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``schema``'s field
    order, ``[]`` for an empty frame), built as a ``pyarrow.Table``.

    Why not ``spark.createDataFrame(rows, schema)``: that pickles the
    rows into a Python-backed ``LogicalRDD``, so every execution of the
    frame (each join it feeds, each write of an empty table) runs
    Python worker tasks to unpickle them, and Catalyst cannot see that
    an empty frame is empty.  An Arrow table goes to the JVM once, as a
    ``LocalRelation``; past ``spark.sql.execution.arrow.
    localRelationThreshold`` Spark keeps it as an RDD of Arrow batches
    that the JVM decodes.  Neither starts a Python worker.

    ``schema`` is a ``StructType`` (its field metadata is kept) or a
    DDL string.  Values convert as ``pyarrow.array`` converts them: a
    struct from a tuple or dict, a map from a dict, a decimal from a
    ``Decimal``.  A naive ``datetime`` in a TIMESTAMP column is read as
    wall time in the session time zone, as the Arrow path of
    ``createDataFrame`` reads it; TIMESTAMP_NTZ keeps it as is."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import _parse_datatype_string

    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    rows = list(rows)
    columns = list(zip(*rows)) if rows else [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [
            pa.array(col, to_arrow_type(f.dataType, timestamp_utc=False))
            for col, f in zip(columns, struct.fields)
        ],
        names=struct.names,
    )
    return spark.createDataFrame(table, struct)
