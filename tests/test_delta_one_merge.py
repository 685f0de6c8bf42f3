"""The one Delta MERGE (``merge_clauses``; ``merge`` is its upsert clause
list): an empty source writes nothing, and the clause metrics come from
the data write itself, also when constraint, generated-column and
change-data writes read the same joined frame."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from incubator_gluten_spark.session import local_frame
from incubator_gluten_spark.sources import delta_protocol as dp


def _rows(df):
    return sorted(map(tuple, df.collect()), key=lambda t: tuple(map(str, t)))


def _jobs(spark, name, fn):
    """(fn's result, the number of Spark jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(name))


def test_empty_stream_batch_commits_only_its_txn(spark, tmp_path):
    """A batch that is empty when it runs but not provably empty when it
    is planned: the merge launches only the source aggregate's jobs,
    writes no file and commits the ``txn`` marker alone, so a replay of
    the batch is still a no-op."""
    root = str(tmp_path / "empty_batch")
    dp.create_table(
        spark.range(4).select(
            F.col("id").alias("k"), F.col("id").cast("double").alias("price")
        ),
        root,
    )
    before = dp.current_version(root)
    batch = spark.range(10).filter("id > 100").select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("price")
    )
    _, agg_jobs = _jobs(
        spark,
        "one-merge-agg",
        lambda: batch.agg(
            F.count(F.lit(1)),
            F.count("k"),
            F.count_distinct("k"),
            F.min("k"),
            F.max("k"),
        ).first(),
    )
    done, merge_jobs = _jobs(
        spark,
        "one-merge-empty",
        lambda: dp.merge_stream_batch(spark, batch, root, "k", "app", 0),
    )
    assert done is True
    assert merge_jobs <= agg_jobs
    assert dp.current_version(root) == before + 1
    actions = dp._read_commit_actions(root, before + 1)
    assert [a["txn"]["version"] for a in actions if "txn" in a] == [0]
    assert not [a for a in actions if "add" in a or "remove" in a or "cdc" in a]
    assert dp.merge_stream_batch(spark, batch, root, "k", "app", 0) is False
    assert dp.current_version(root) == before + 1
    assert dp.read_table(spark, root).count() == 4


_CLAUSES = [
    {
        "when": "matched",
        "condition": "s.k % 2 = 0",
        "action": "update",
        "set": {"price": "s.price"},
    },
    {"when": "matched", "action": "delete"},
    {"when": "not_matched", "action": "insert_all"},
]


def _target(spark):
    # eight files, so a short-circuiting check job need not read all
    return spark.range(1, 17, numPartitions=8).select(
        F.col("id").alias("k"), (F.col("id") * 10.0).alias("price")
    )


def _source(spark):
    # matched 2, 4 (even: update), 3, 5 (odd: delete); 20, 21 insert
    return local_frame(
        spark,
        [(2, 2.5), (3, 3.5), (4, 4.5), (5, 5.5), (20, 20.5), (21, 21.5)],
        "k bigint, price double",
    )


_WANT = {"num_updated": 2, "num_deleted": 2, "num_inserted": 2}


@pytest.mark.parametrize("kind", ["check", "generated", "cdf"])
def test_clause_metrics_come_from_the_write(spark, tmp_path, kind):
    root = str(tmp_path / kind)
    if kind == "generated":
        dp.create_table(
            _target(spark),
            root,
            generated_columns={"k2": ("bigint", "k * 2")},
        )
    else:
        conf = {"delta.enableChangeDataFeed": "true"} if kind == "cdf" else None
        dp.create_table(_target(spark), root, configuration=conf)
    if kind == "check":
        dp.add_check_constraint(spark, root, "pos_price", "price > 0")
    src = _source(spark)
    if kind == "generated":
        src = src.withColumn("k2", F.col("k") * 2)
    out = dp.merge_clauses(spark, root, src, "k", _CLAUSES)
    assert {k: out[k] for k in _WANT} == _WANT
    got = _rows(dp.read_table(spark, root).select("k", "price"))
    want = sorted(
        [(k, k * 10.0) for k in range(1, 17) if k not in (2, 3, 4, 5)]
        + [(2, 2.5), (4, 4.5), (20, 20.5), (21, 21.5)],
        key=lambda t: tuple(map(str, t)),
    )
    assert got == want
    if kind == "cdf":
        v = dp.current_version(root)
        ch = dp.table_changes(spark, root, v, v).select("k", "_change_type")
        assert sorted(map(tuple, ch.collect())) == sorted(
            [
                (2, "update_preimage"),
                (2, "update_postimage"),
                (4, "update_preimage"),
                (4, "update_postimage"),
                (3, "delete"),
                (5, "delete"),
                (20, "insert"),
                (21, "insert"),
            ]
        )


def test_upsert_reports_clause_metrics(spark, tmp_path):
    """``merge`` is the upsert clause list, so its result carries the
    clause counts too; a NULL source key is not matched and inserts."""
    root = str(tmp_path / "upsert")
    dp.create_table(_target(spark), root)
    src = local_frame(
        spark, [(2, 2.5), (30, 30.5), (None, 0.5)], "k bigint, price double"
    )
    out = dp.merge(spark, root, src, "k")
    assert {k: out[k] for k in _WANT} == {
        "num_updated": 1,
        "num_deleted": 0,
        "num_inserted": 2,
    }
    assert dp.read_table(spark, root).filter("k IS NULL").count() == 1
