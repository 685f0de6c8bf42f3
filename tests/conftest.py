"""Shared fixtures: one SparkSession + one DuckDB connection per test run.

Mirrors the reference's WholeStageTransformerSuite setup (one session, temp
views per parquet dir, differential compare — SURVEY §5).
"""

from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------------
# Fast/slow tiers (r14 verdict directive #2).  The full suite is ~1000
# tests / ~85 min single-process — longer than an external verifier's
# window.  Whole FILES whose median test is multi-second (measured with
# --durations=0 on the full run, see OPTIMIZATION_r15.md) are marked
# `slow`; pytest.ini deselects them by default (`-m "not slow"`), the
# full tier runs with -m "slow or not slow".  Every slow-marked area
# keeps fast smoke coverage through the oracle checks (tools/check.py
# exercises the same operators end-to-end) and the unmarked files.
_SLOW_FILES: set[str] = {
    # per-file minutes from the r15 full --durations=0 run (104 min
    # total wall); files below sum to ~89 min.  Every operator family
    # marked here keeps end-to-end coverage in the driver's own
    # strict-hash oracle gate and fast smoke coverage in the unmarked
    # files (e.g. delta: dv/skipping/clone/ict/row_tracking stay fast).
    "test_delta_merge.py",           # 15.4
    "test_queries.py",               # 11.2 (oracle parity — the driver's
    #                                   check gate runs the same compare)
    "test_delta_protocol.py",        # 5.4
    "test_hudi_services.py",         # 4.2
    "test_hudi_savepoint.py",        # 4.1
    "test_delta_cdf.py",             # 3.2
    "test_delta_constraints.py",     # 3.2
    "test_iceberg_wap.py",           # 3.1
    "test_fuzz.py",                  # 2.8
    "test_hudi_mor_savepoint.py",    # 2.8
    "test_delta_column_mapping.py",  # 2.6
    "test_delta_upsert_sink.py",     # 2.6
    "test_iceberg_meta_tables.py",   # 2.4
    "test_delta_generated.py",       # 2.4
    "test_iceberg_v2.py",            # 2.3
    "test_iceberg_stream_source.py", # 2.2
    "test_iceberg_transforms.py",    # 2.0
    "test_iceberg_evolution.py",     # 1.8
    "test_delta_restore.py",         # 1.7
    "test_iceberg_format.py",        # 1.6
    "test_datapipe.py",              # 1.6
    "test_stream_sinks_lakehouse.py",# 1.5
    "test_iceberg_refs.py",          # 1.4
    "test_delta_dv.py",              # 1.4
    "test_delta_optimize.py",        # 1.3
}
# single outlier tests inside otherwise-fast files
_SLOW_TESTS: set[str] = {
    "test_unpartitioned_windows_are_whitelisted",  # 356 s, test_plans.py
}

# oracle-parity cases that stay in the fast tier although their file is
# slow: the one Delta MERGE (upsert, clause list, streaming upsert sink),
# one per table log that commits through sources/table_core.py,
# the Delta commit's retry/conflict, checkpoint and vacuum paths, the
# Iceberg v2 merge and delete-file rewrite commits, and the Hudi
# timeline's savepoint/restore on both table types
_FAST_ORACLE_CASES: set[str] = {
    f"test_query_matches_oracle[{name}]"
    for name in (
        "src_delta_merge",
        "src_delta_merge_clauses",
        "src_txnlog_merge",
        "stream_delta_upsert_sink",
        "src_iceberg_refs",
        "src_iceberg_mor",
        "src_iceberg_merge_mor",
        "src_iceberg_rewrite_posdel",
        "src_hudi_services",
        "src_hudi_savepoint",
        "src_hudi_mor_savepoint",
        "src_txnlog_conflict",
        "src_txnlog_checkpoint",
        "src_txnlog_vacuum",
        "src_delta_uniform",
    )
}

_slow_env = os.environ.get("SPARK_GRAFT_SLOW_FILES")
if _slow_env:
    _SLOW_FILES = {s.strip() for s in _slow_env.split(",") if s.strip()}


def pytest_collection_modifyitems(config, items):
    import pytest as _pytest

    for item in items:
        if item.name in _FAST_ORACLE_CASES:
            continue
        if (
            os.path.basename(str(item.fspath)) in _SLOW_FILES
            or item.name.split("[", 1)[0] in _SLOW_TESTS
        ):
            item.add_marker(_pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    from incubator_gluten_spark.session import get_session

    spark = get_session(app_name="incubator-gluten-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    from incubator_gluten_spark.testing.compare import duckdb_connection

    con = duckdb_connection(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def _micro_batch(reader, start=None, end=None):
    """Run one micro-batch through a ``DataSourceStreamReader`` the way
    the engine does: ``initialOffset()`` when no ``start`` is given,
    ``latestOffset()`` when no ``end`` is given, then ``partitions(start,
    end)`` on the driver and ``read(p)`` for every partition, as the
    executors would.  Returns the rows as tuples and the end offset."""
    if start is None:
        start = reader.initialOffset()
    if end is None:
        end = reader.latestOffset()
    rows = []
    for p in reader.partitions(start, end):
        for item in reader.read(p):
            if hasattr(item, "columns"):  # pyarrow RecordBatch
                rows.extend(zip(*[c.to_pylist() for c in item.columns]))
            else:
                rows.append(tuple(item))
    return rows, end


@pytest.fixture()
def micro_batch():
    return _micro_batch
