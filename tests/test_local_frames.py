"""``session.local_frame`` builds driver-side rows as an Arrow
``LocalRelation``: the same rows and schema as the row path of
``spark.createDataFrame`` for every type the library uses, field metadata
kept, naive datetimes read in the session time zone, and no
Python-backed ``LogicalRDD`` left in the plans of the table reads that
build such frames.  A source scan keeps the library from calling
``createDataFrame`` outside the helper."""

from __future__ import annotations

import ast
import datetime as dt
import decimal
import os

import pytest
from pyspark.sql import functions as F

from incubator_gluten_spark.session import local_frame
from incubator_gluten_spark.sources import delta_protocol as dp
from incubator_gluten_spark.sources import iceberg_format as ice
from incubator_gluten_spark.sources import iceberg_v2 as v2

_ALL_TYPES = (
    "s string, i int, b bigint, d double, f boolean, m decimal(12,2), "
    "dt date, ts timestamp, tn timestamp_ntz, a array<double>, "
    "mp map<string,string>, st struct<x:int,y:struct<z:string>>"
)
_ROWS = [
    (
        "a",
        1,
        2**40,
        1.5,
        True,
        decimal.Decimal("3.14"),
        dt.date(2020, 1, 2),
        dt.datetime(2020, 1, 2, 3, 4, 5, 6),
        dt.datetime(2021, 6, 7, 8, 9, 10, 11),
        [1.0, None, -2.5],
        {"k": "v", "n": None},
        (7, ("z",)),
    ),
    ("", -1, -(2**62), float("inf"), False, decimal.Decimal("-0.01"),
     dt.date(1969, 12, 31), dt.datetime(1970, 1, 1), dt.datetime(1999, 12, 31),
     [], {}, (None, None)),
    tuple([None] * 12),
]


def test_matches_row_path_for_every_type(spark):
    old = spark.createDataFrame(_ROWS, _ALL_TYPES)
    new = local_frame(spark, _ROWS, _ALL_TYPES)
    assert new.schema == old.schema
    assert new.collect() == old.collect()
    empty = local_frame(spark, [], _ALL_TYPES)
    assert empty.schema == old.schema
    assert empty.collect() == []


def test_naive_datetime_is_session_wall_time(spark):
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        df = local_frame(
            spark,
            [(dt.datetime(2020, 1, 2, 3, 4, 5), dt.datetime(2020, 1, 2, 3, 4, 5))],
            "ts timestamp, tn timestamp_ntz",
        )
        row = df.select(
            F.unix_micros("ts").alias("us"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("wall"),
            F.col("tn").cast("string").alias("ntz"),
        ).first()
    finally:
        spark.conf.set(key, old)
    # 03:04:05 PST is 11:04:05 UTC
    utc = dt.datetime(2020, 1, 2, 11, 4, 5, tzinfo=dt.timezone.utc)
    assert row.us == int(utc.timestamp()) * 1_000_000
    assert row.wall == "2020-01-02 03:04:05"
    assert row.ntz == "2020-01-02 03:04:05"


def test_field_metadata_survives(spark, tmp_path):
    df = spark.range(3).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    iroot = str(tmp_path / "ice")
    ice.create_table(df, iroot)
    istruct = ice._spark_struct_for(ice._current_metadata(iroot)["schema"])
    assert all("parquet.field.id" in f.metadata for f in istruct.fields)
    assert local_frame(spark, [], istruct).schema == istruct
    droot = str(tmp_path / "delta")
    dp.create_table(df, droot, column_mapping="name")
    dstruct = dp.resolve(spark, droot).schema
    assert all("delta.columnMapping.physicalName" in f.metadata for f in dstruct.fields)
    got = local_frame(spark, [(1, "x")], dstruct)
    assert got.schema == dstruct
    assert got.collect() == spark.createDataFrame([(1, "x")], dstruct).collect()


def _python_backed(df) -> list[str]:
    """Lineage of each LogicalRDD leaf of ``df``'s analyzed plan that
    unpickles Python rows (a PythonRDD in its RDD lineage)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD":
            lineage = leaf.rdd().toDebugString()
            if "PythonRDD" in lineage:
                out.append(lineage)
    return out


def _reads(spark, tmp_path):
    """The table reads that build local frames: an empty Delta table, a
    Delta table with more partition tuples than the grouped scan unions
    (so it joins a partition map), a Delta table with a deletion vector,
    a partitioned Iceberg table and an Iceberg v2 merge-on-read table."""
    base = spark.range(200).selectExpr(
        "id AS k", "CAST(id % 40 AS STRING) AS p", "id * 1.5 AS x"
    )
    empty = str(tmp_path / "d_empty")
    dp.create_table(base.limit(0), empty)
    parts = str(tmp_path / "d_parts")
    dp.create_table(base, parts, partition_cols=["p"])
    assert len({a["partitionValues"]["p"] for a in dp.resolve(spark, parts).adds}) > (
        dp._GROUPED_SCAN_UNION_MAX
    )
    dv = str(tmp_path / "d_dv")
    dp.create_table(base, dv)
    dp.delete_where_dv(spark, dv, "k % 3 = 0")
    iparts = str(tmp_path / "i_parts")
    ice.create_table(base, iparts, partition_cols=["p"])
    mor = str(tmp_path / "i_mor")
    v2.create_table(base, mor, partition_cols=["p"])
    v2.position_delete(spark, mor, "k % 5 = 0")
    return {
        "delta_empty": (dp.read_table(spark, empty), 0),
        "delta_partition_map": (dp.read_table(spark, parts), 200),
        "delta_dv": (dp.read_table(spark, dv), 133),
        "iceberg_partitioned": (ice.read_table(spark, iparts), 200),
        "iceberg_v2_mor": (v2.read_table(spark, mor), 160),
    }


@pytest.mark.parametrize("threshold", [None, "1k"])
def test_table_reads_hold_no_python_backed_rdd(spark, tmp_path, threshold):
    key = "spark.sql.execution.arrow.localRelationThreshold"
    if threshold:
        spark.conf.set(key, threshold)
    try:
        reads = _reads(spark, tmp_path)
        for name, (df, n) in reads.items():
            assert _python_backed(df) == [], name
            assert df.count() == n, name
    finally:
        spark.conf.unset(key)


def test_empty_delta_read_is_a_local_relation(spark, tmp_path):
    root = str(tmp_path / "empty")
    dp.create_table(spark.range(0).selectExpr("id AS k"), root)
    plan = dp.read_table(spark, root)._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "LocalRelation"


_PKG = os.path.join(os.path.dirname(__file__), "..", "incubator_gluten_spark")
_GUARDED = ("sources", "datapipe", "streaming", "catalog.py")


def _guarded_files():
    for entry in _GUARDED:
        path = os.path.join(_PKG, entry)
        if entry.endswith(".py"):
            yield path
            continue
        for dirpath, _dirs, files in os.walk(path):
            yield from (os.path.join(dirpath, f) for f in files if f.endswith(".py"))


def test_library_builds_no_row_frames():
    """No ``createDataFrame`` call in the library layers: driver-side
    rows go through ``session.local_frame`` (``plans/`` is exempt, its
    entries exercise Spark's own paths on purpose)."""
    found = []
    for path in _guarded_files():
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                found.append(f"{os.path.relpath(path, _PKG)}:{node.lineno}")
    assert found == []
