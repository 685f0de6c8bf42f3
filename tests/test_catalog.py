"""``catalog.load_table`` infers a table's schema once per path: a second
load of an unchanged path reads with the memoized schema and launches no
Spark job; a changed file listing or inference conf infers again; and
the events ``ts`` conversion holds on both paths.  The events stream
reads with the same memo, so a rewritten events file is re-inferred.
Also the session's codegen class cache size and its per-process
warehouse directory (``session.get_session``)."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from incubator_gluten_spark import catalog


def _load(spark, sf_dir: str, name: str, group: str):
    """load_table under a job group: (frame, ids of the jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df = catalog.load_table(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, sc.statusTracker().getJobIdsForGroup(group)


def test_second_load_launches_no_job(spark, sf_dir, tmp_path):
    shutil.copy(os.path.join(sf_dir, "nation.parquet"), tmp_path)
    d = str(tmp_path)
    first, jobs = _load(spark, d, "nation", "catalog-miss")
    assert jobs, "schema inference should launch a footer job"
    second, jobs = _load(spark, d, "nation", "catalog-hit")
    assert jobs == []
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_added_part_file_reinfers(spark, sf_dir, tmp_path):
    """A table directory that gains a part file with an extra column is
    inferred again; the new file sorts first, so its footer is the one
    Spark infers from."""
    table = tmp_path / "nation.parquet"
    table.mkdir()
    src = os.path.join(sf_dir, "nation.parquet")
    shutil.copy(src, table / "part-00001.parquet")
    d = str(tmp_path)
    before = catalog.load_table(spark, d, "nation")
    assert "n_extra" not in before.columns
    t = pq.read_table(src)
    pq.write_table(
        t.append_column("n_extra", pa.array(range(t.num_rows), pa.int64())),
        table / "part-00000.parquet",
    )
    after = catalog.load_table(spark, d, "nation")
    assert after.columns == before.columns + ["n_extra"]
    assert after.count() == 2 * before.count()


def test_inference_conf_is_part_of_the_stamp(spark, sf_dir):
    path = os.path.join(sf_dir, "nation.parquet")
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    stamp = catalog._stamp(spark, path)
    spark.conf.set(key, "false" if old == "true" else "true")
    try:
        assert catalog._stamp(spark, path) != stamp
    finally:
        spark.conf.set(key, old)
    assert catalog._stamp(spark, path) == stamp


def test_partitioned_layout_is_not_memoized(spark, sf_dir, tmp_path):
    part = tmp_path / "nation.parquet" / "k=1"
    part.mkdir(parents=True)
    shutil.copy(os.path.join(sf_dir, "nation.parquet"), part / "part-0.parquet")
    df = catalog.load_table(spark, str(tmp_path), "nation")
    assert "k" in df.columns
    assert f"{tmp_path}/nation.parquet" not in catalog._SCHEMAS


def test_cached_events_ts_is_timestamp_ntz(spark, sf_dir, tmp_path):
    shutil.copy(os.path.join(sf_dir, "events.parquet"), tmp_path)
    d = str(tmp_path)
    first = catalog.load_table(spark, d, "events")
    second, jobs = _load(spark, d, "events", "catalog-events")
    assert jobs == []
    assert dict(second.dtypes)["ts"] == "timestamp_ntz"
    assert second.orderBy("ts").select("ts").limit(5).collect() == (
        first.orderBy("ts").select("ts").limit(5).collect()
    )


def test_session_sizes_codegen_cache(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == "4000"


def test_session_warehouse_is_per_process(spark):
    """Managed tables of two sessions on one host land in two warehouse
    directories: the default is scoped to the process id."""
    wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    assert wh.endswith(f"/spark_graft_warehouse_{os.getpid()}")


def test_stream_schema_follows_a_rewritten_events_file(spark, sf_dir, tmp_path):
    """Rewriting events.parquet in-process with ``ts`` in the other
    TIMESTAMP unit (NANOS, which Spark reads as a long here, or MICROS):
    the next stream over it infers the new type and reads the same
    instants."""
    from incubator_gluten_spark.streaming.jobs import read_events_stream, run_to_memory

    d = str(tmp_path)
    path = os.path.join(d, "events.parquet")
    shutil.copy(os.path.join(sf_dir, "events.parquet"), path)

    def stream_ts():
        df = run_to_memory(read_events_stream(spark, d).select("ts"))
        return sorted(r.ts for r in df.collect())

    before = stream_ts()
    t = pq.read_table(path)
    i = t.schema.get_field_index("ts")
    unit = "us" if t.schema.field(i).type.unit == "ns" else "ns"
    pq.write_table(
        t.set_column(i, "ts", t["ts"].cast(pa.timestamp(unit), safe=False)), path
    )
    after = stream_ts()
    assert before and before[0].year > 1970
    assert after == before
    want = "long" if unit == "ns" else "timestamp_ntz"
    assert catalog.parquet_schema(spark, path)["ts"].dataType.typeName() == want
