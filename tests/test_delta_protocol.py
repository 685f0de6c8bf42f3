"""Delta wire-format tests.  The key independence argument: the reader
is exercised against a HAND-WRITTEN log whose JSON mirrors the public
PROTOCOL.md action shapes (never produced by this repo's writer), so
reader and writer cannot share a private dialect unnoticed."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from incubator_gluten_spark.sources import delta_protocol as dp


def _mk_parquet(spark, path, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path + ".tmp")
    import glob
    import shutil

    part = glob.glob(os.path.join(path + ".tmp", "part-*.parquet"))[0]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    shutil.move(part, path)
    shutil.rmtree(path + ".tmp")


def _handwritten_table(spark, root):
    """A Delta table written action-by-action, straight from the
    protocol spec: partitioned by ``region``, two commits (create with
    two files, then a COW delete replacing one)."""
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "string", "nullable": True, "metadata": {}},
                {
                    "name": "region",
                    "type": "string",
                    "nullable": True,
                    "metadata": {},
                },
            ],
        }
    )
    # data files carry ONLY (k, v) — region lives in the log
    _mk_parquet(
        spark,
        os.path.join(root, "region=eu/part-0000.parquet"),
        [(1, "a"), (2, "b")],
        "k bigint, v string",
    )
    _mk_parquet(
        spark,
        os.path.join(root, "region=us/part-0001.parquet"),
        [(3, "c")],
        "k bigint, v string",
    )
    os.makedirs(os.path.join(root, "_delta_log"), exist_ok=True)
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write(
            json.dumps(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
            + "\n"
        )
        f.write(
            json.dumps(
                {
                    "metaData": {
                        "id": "11111111-2222-3333-4444-555555555555",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_string,
                        "partitionColumns": ["region"],
                        "configuration": {},
                        "createdTime": 1700000000000,
                    }
                }
            )
            + "\n"
        )
        for path, region in (
            ("region=eu/part-0000.parquet", "eu"),
            ("region=us/part-0001.parquet", "us"),
        ):
            f.write(
                json.dumps(
                    {
                        "add": {
                            "path": path,
                            "partitionValues": {"region": region},
                            "size": 100,
                            "modificationTime": 1700000000000,
                            "dataChange": True,
                        }
                    }
                )
                + "\n"
            )
    # commit 1: COW delete of k=2 — remove the eu file, add its rewrite
    _mk_parquet(
        spark,
        os.path.join(root, "region=eu/part-0002.parquet"),
        [(1, "a")],
        "k bigint, v string",
    )
    with open(os.path.join(root, "_delta_log", f"{1:020d}.json"), "w") as f:
        f.write(
            json.dumps(
                {
                    "add": {
                        "path": "region=eu/part-0002.parquet",
                        "partitionValues": {"region": "eu"},
                        "size": 90,
                        "modificationTime": 1700000001000,
                        "dataChange": True,
                    }
                }
            )
            + "\n"
        )
        f.write(
            json.dumps(
                {
                    "remove": {
                        "path": "region=eu/part-0000.parquet",
                        "deletionTimestamp": 1700000001000,
                        "dataChange": True,
                    }
                }
            )
            + "\n"
        )


def test_read_handwritten_spec_log(spark, tmp_path):
    root = str(tmp_path / "delta_spec")
    _handwritten_table(spark, root)
    latest = sorted(
        (r.k, r.v, r.region) for r in dp.read_table(spark, root).collect()
    )
    assert latest == [(1, "a", "eu"), (3, "c", "us")]
    # time travel to the pre-delete snapshot
    v0 = sorted(
        (r.k, r.v, r.region) for r in dp.read_table(spark, root, 0).collect()
    )
    assert v0 == [(1, "a", "eu"), (2, "b", "eu"), (3, "c", "us")]
    snap = dp.resolve(spark, root)
    assert snap.partition_columns == ["region"]
    assert [f.name for f in snap.schema.fields] == ["k", "v", "region"]


def test_protocol_gate_refuses_unsupported_reader_version(spark, tmp_path):
    """minReaderVersion 2 graduated to SUPPORTED (legacy column-mapping
    reader version, r9) — the gate must still refuse versions this
    reader cannot honor (here 4, beyond any implemented feature set)."""
    root = str(tmp_path / "delta_v4")
    _handwritten_table(spark, root)
    # a v2 upgrade commit is ACCEPTED now (column mapping era)
    with open(os.path.join(root, "_delta_log", f"{2:020d}.json"), "w") as f:
        f.write(
            json.dumps(
                {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}
            )
            + "\n"
        )
    assert dp.read_table(spark, root).count() == 2
    # an unsupported version must refuse loudly
    with open(os.path.join(root, "_delta_log", f"{3:020d}.json"), "w") as f:
        f.write(
            json.dumps(
                {"protocol": {"minReaderVersion": 4, "minWriterVersion": 7}}
            )
            + "\n"
        )
    with pytest.raises(dp.DeltaProtocolError, match="minReaderVersion"):
        dp.read_table(spark, root)
    # older snapshots (before the upgrade commit) still readable
    assert dp.read_table(spark, root, 1).count() == 2


def test_writer_reader_roundtrip_partitioned(spark, sf_dir, tmp_path):
    from incubator_gluten_spark.catalog import load_tables

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    root = str(tmp_path / "delta_w")
    base = orders.filter(F.year("o_orderdate") == 1996).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    dp.create_table(base, root, partition_cols=["o_orderpriority"])
    # partition columns must NOT be inside the data files
    snap = dp.resolve(spark, root)
    one = spark.read.parquet(os.path.join(root, snap.adds[0]["path"]))
    assert "o_orderpriority" not in one.columns
    got = dp.read_table(spark, root)
    assert got.count() == base.count()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, base.collect()))

    extra = orders.filter(F.year("o_orderdate") == 1997).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    v = dp.append(extra, root)
    assert v == 1
    assert dp.read_table(spark, root).count() == base.count() + extra.count()
    assert dp.read_table(spark, root, 0).count() == base.count()


def test_delete_partition_pruned_and_checkpoint(spark, sf_dir, tmp_path):
    from incubator_gluten_spark.catalog import load_tables

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    root = str(tmp_path / "delta_del")
    base = orders.filter(F.year("o_orderdate").isin(1996, 1997)).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    dp.create_table(base, root, partition_cols=["o_orderpriority"])
    out = dp.delete_where(spark, root, "o_orderpriority = '1-URGENT'")
    # partition-equality predicate prunes every other partition's files
    assert out["files_skipped"] > 0 and out["files_rewritten"] > 0
    after = dp.read_table(spark, root)
    assert after.filter(F.col("o_orderpriority") == "1-URGENT").count() == 0
    expect = base.filter(F.col("o_orderpriority") != "1-URGENT").count()
    assert after.count() == expect

    ck = dp.checkpoint(spark, root)
    assert ck["version"] == 1
    # log vacuum below the checkpoint: snapshot survives on checkpoint
    for v in (0, 1):
        os.remove(os.path.join(root, "_delta_log", f"{v:020d}.json"))
    assert dp.read_table(spark, root).count() == expect
    with pytest.raises(ValueError, match="vacuum|missing"):
        dp.read_table(spark, root, 0)
    # appends after checkpoint+vacuum version ABOVE it (no silent loss)
    v = dp.append(
        orders.filter(F.year("o_orderdate") == 1998).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        ),
        root,
    )
    assert v == 2
    assert dp.read_table(spark, root).count() == expect + orders.filter(
        F.year("o_orderdate") == 1998
    ).count()


def test_history_from_stats_only(spark, sf_dir, tmp_path):
    from incubator_gluten_spark.catalog import load_tables

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    root = str(tmp_path / "delta_hist")
    base = orders.filter(F.year("o_orderdate") == 1996).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    dp.create_table(base, root, partition_cols=["o_orderpriority"])
    dp.append(
        orders.filter(F.year("o_orderdate") == 1997).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        ),
        root,
    )
    hist = dp.history(spark, root)
    assert [h["version"] for h in hist] == [0, 1]
    assert hist[0]["n_rows"] == base.count()
    assert hist[1]["n_rows"] == orders.filter(
        F.year("o_orderdate").isin(1996, 1997)
    ).count()


def test_txn_action_exactly_once_and_checkpoint(spark, sf_dir, tmp_path):
    """The protocol's txn (appId/version) action: replayed batches
    no-op; the highest version per appId survives a checkpoint."""
    from incubator_gluten_spark.catalog import load_tables

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    df = orders.filter(F.year("o_orderdate") == 1996).select(
        "o_orderkey", "o_totalprice"
    )
    root = str(tmp_path / "txn")
    dp.create_table(df.limit(0), root)
    assert dp.append_stream_batch(df, root, "app", 0) is True
    n0 = dp.read_table(spark, root).count()
    # replay of batch 0 must be a no-op
    assert dp.append_stream_batch(df, root, "app", 0) is False
    assert dp.read_table(spark, root).count() == n0
    # a DIFFERENT appId at version 0 commits independently
    assert dp.append_stream_batch(df, root, "other", 0) is True
    assert dp.resolve(spark, root).txns == {"app": 0, "other": 0}
    dp.checkpoint(spark, root)
    # post-checkpoint resolve still sees the txn versions
    assert dp.resolve(spark, root).txns == {"app": 0, "other": 0}
    assert dp.append_stream_batch(df, root, "app", 0) is False
    assert dp.append_stream_batch(df, root, "app", 1) is True


def test_partition_values_unescaped_and_null_sentinel(spark, tmp_path):
    """r7 ADVICE (medium): Spark percent-escapes special chars in Hive
    partition dir names and writes nulls as __HIVE_DEFAULT_PARTITION__;
    the log must carry the TRUE values, and the scan must re-inject
    them (including null)."""
    from incubator_gluten_spark.sources.delta_protocol import unescape_path_name

    assert unescape_path_name("a%3Db") == "a=b"
    assert unescape_path_name("x%3Ay") == "x:y"
    assert unescape_path_name("p%25q") == "p%q"
    assert unescape_path_name("__HIVE_DEFAULT_PARTITION__") is None
    assert unescape_path_name("50%") == "50%"  # malformed escape passes through
    df = spark.createDataFrame(
        [(1, "a=b"), (2, "x:y"), (3, None), (4, "p%q"), (5, "plain")],
        "id int, k string",
    )
    root = str(tmp_path / "esc")
    dp.create_table(df, root, partition_cols=["k"])
    snap = dp.resolve(spark, root)
    vals = {a["partitionValues"]["k"] for a in snap.adds}
    assert vals == {"a=b", "x:y", None, "p%q", "plain"}
    got = dp.read_table(spark, root)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, df.collect()))


# ---------------------------------------------------------------------------
# overwrite_where (replaceWhere) — r10


def _rw_mk(spark, rows):
    return spark.createDataFrame(
        rows, "k bigint, price double, grp string"
    ).coalesce(1)


def test_replace_where_partition_pruned_and_replaces(spark, tmp_path):
    import incubator_gluten_spark.sources.delta_protocol as dp

    root = str(tmp_path / "rw_part")
    dp.create_table(
        _rw_mk(spark, [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "a")]),
        root,
        partition_cols=["grp"],
    )
    before = {
        a["path"]
        for a in dp.resolve(spark, root).adds
        if a["partitionValues"]["grp"] == "b"
    }
    out = dp.overwrite_where(
        spark, root, "grp = 'a'", _rw_mk(spark, [(9, 90.0, "a")])
    )
    assert out["files_skipped"] >= 1  # the 'b' partition never touched
    after = {
        a["path"]
        for a in dp.resolve(spark, root).adds
        if a["partitionValues"]["grp"] == "b"
    }
    assert before == after  # byte-identical survivors
    got = sorted(map(tuple, dp.read_table(spark, root).collect()))
    assert got == [(2, 20.0, "b"), (9, 90.0, "a")]


def test_replace_where_strict_refuses_mismatched_rows(spark, tmp_path):
    import incubator_gluten_spark.sources.delta_protocol as dp

    root = str(tmp_path / "rw_strict")
    dp.create_table(_rw_mk(spark, [(1, 10.0, "a")]), root)
    with pytest.raises(dp.DeltaProtocolError, match="REPLACE_WHERE_MISMATCH"):
        dp.overwrite_where(
            spark, root, "grp = 'a'", _rw_mk(spark, [(9, 90.0, "z")])
        )
    # constraint check disabled: rows land regardless
    dp.overwrite_where(
        spark, root, "grp = 'a'", _rw_mk(spark, [(9, 90.0, "z")]),
        strict=False,
    )
    got = sorted(map(tuple, dp.read_table(spark, root).collect()))
    assert got == [(9, 90.0, "z")]


def test_replace_where_row_level_predicate_keeps_others(spark, tmp_path):
    import incubator_gluten_spark.sources.delta_protocol as dp

    root = str(tmp_path / "rw_rows")
    dp.create_table(
        _rw_mk(spark, [(1, 10.0, "a"), (2, 20.0, "a"), (3, 30.0, "b")]), root
    )
    dp.overwrite_where(
        spark, root, "price >= 20", _rw_mk(spark, [(7, 70.0, "n")])
    )
    got = sorted(map(tuple, dp.read_table(spark, root).collect()))
    assert got == [(1, 10.0, "a"), (7, 70.0, "n")]


def test_replace_where_is_idempotent(spark, tmp_path):
    import incubator_gluten_spark.sources.delta_protocol as dp

    root = str(tmp_path / "rw_idem")
    dp.create_table(
        _rw_mk(spark, [(1, 10.0, "a"), (2, 20.0, "b")]), root,
        partition_cols=["grp"],
    )
    day = _rw_mk(spark, [(5, 50.0, "a"), (6, 60.0, "a")])
    dp.overwrite_where(spark, root, "grp = 'a'", day)
    first = sorted(map(tuple, dp.read_table(spark, root).collect()))
    dp.overwrite_where(spark, root, "grp = 'a'", day)  # replayed backfill
    second = sorted(map(tuple, dp.read_table(spark, root).collect()))
    assert first == second == [(2, 20.0, "b"), (5, 50.0, "a"), (6, 60.0, "a")]


def test_replace_where_preserves_dv_deleted_rows(spark, tmp_path):
    import incubator_gluten_spark.sources.delta_protocol as dp

    root = str(tmp_path / "rw_dv")
    dp.create_table(
        _rw_mk(spark, [(1, 10.0, "a"), (2, 20.0, "a"), (3, 30.0, "a")]), root
    )
    dp.delete_where_dv(spark, root, "k = 2")
    dp.overwrite_where(spark, root, "k >= 3", _rw_mk(spark, [(9, 9.0, "x")]))
    got = sorted(map(tuple, dp.read_table(spark, root).collect()))
    assert got == [(1, 10.0, "a"), (9, 9.0, "x")]  # k=2 stays deleted


def test_replace_where_cdf_emits_delete_and_insert(spark, tmp_path):
    import incubator_gluten_spark.sources.delta_protocol as dp

    root = str(tmp_path / "rw_cdf")
    dp.create_table(
        _rw_mk(spark, [(1, 10.0, "a"), (2, 20.0, "b")]), root,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    dp.overwrite_where(spark, root, "grp = 'a'", _rw_mk(spark, [(9, 90.0, "a")]))
    ch = dp.table_changes(spark, root, 1, 1)
    got = sorted(
        map(tuple, ch.select("k", "_change_type").collect()),
        key=lambda t: tuple(map(str, t)),
    )
    assert got == [(1, "delete"), (9, "insert")]


def test_replace_where_missing_column_refuses(spark, tmp_path):
    import incubator_gluten_spark.sources.delta_protocol as dp

    root = str(tmp_path / "rw_cols")
    dp.create_table(_rw_mk(spark, [(1, 10.0, "a")]), root)
    bad = spark.createDataFrame([(5,)], "k bigint")
    with pytest.raises(dp.DeltaProtocolError, match="lacks table column"):
        dp.overwrite_where(spark, root, "grp = 'a'", bad)


# ---------------------------------------------------------------------------
# IDENTITY columns (r10) — writer feature identityColumns, minWriterVersion 6


def _id_mk(spark, rows):
    return spark.createDataFrame(rows, "name string, v double").coalesce(2)


def test_identity_generates_unique_grid_values(spark, tmp_path):
    root = str(tmp_path / "idc")
    dp.create_table(
        _id_mk(spark, [("a", 1.0), ("b", 2.0), ("c", 3.0)]),
        root,
        identity_columns={"id": (100, 10)},
    )
    rows = dp.read_table(spark, root).collect()
    ids = [r.id for r in rows]
    assert len(set(ids)) == 3  # unique
    assert all(i >= 100 and (i - 100) % 10 == 0 for i in ids)  # on grid
    # protocol gate
    acts = dp._read_commit_actions(root, 0)
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert proto["minWriterVersion"] == 6


def test_identity_append_advances_high_water_mark(spark, tmp_path):
    root = str(tmp_path / "idc_hwm")
    dp.create_table(
        _id_mk(spark, [("a", 1.0)]), root, identity_columns={"id": (1, 1)}
    )
    first = {r.id for r in dp.read_table(spark, root).collect()}
    dp.append(_id_mk(spark, [("b", 2.0), ("c", 3.0)]), root)
    rows = dp.read_table(spark, root).collect()
    ids = [r.id for r in rows]
    assert len(set(ids)) == 3  # no collision across commits
    new = set(ids) - first
    assert all(n > max(first) for n in new)  # above the water mark
    hwm = dp._identity_cols(dp.resolve(spark, root).metadata)["id"]["hwm"]
    assert hwm == max(ids)  # persisted in the commit's metaData


def test_identity_explicit_values_refused(spark, tmp_path):
    root = str(tmp_path / "idc_explicit")
    dp.create_table(
        _id_mk(spark, [("a", 1.0)]), root, identity_columns={"id": (1, 1)}
    )
    with pytest.raises(dp.DeltaProtocolError, match="GENERATED ALWAYS"):
        dp.append(
            spark.createDataFrame(
                [("x", 1.0, 999)], "name string, v double, id long"
            ),
            root,
        )


def test_identity_mutation_refusals(spark, tmp_path):
    root = str(tmp_path / "idc_mut")
    dp.create_table(
        _id_mk(spark, [("a", 1.0), ("b", 2.0)]),
        root,
        identity_columns={"id": (1, 1)},
    )
    with pytest.raises(dp.DeltaProtocolError, match="identity"):
        dp.update_where(spark, root, "name = 'a'", {"id": "999"})
    # non-identity updates still work and CARRY ids through the rewrite
    before = {r.name: r.id for r in dp.read_table(spark, root).collect()}
    dp.update_where(spark, root, "name = 'a'", {"v": "9.0"})
    after = {r.name: r.id for r in dp.read_table(spark, root).collect()}
    assert before == after
    src = spark.createDataFrame([("a", 9.9)], "name string, v double")
    with pytest.raises(dp.DeltaProtocolError, match="identity"):
        dp.merge(spark, root, src, "name")
    with pytest.raises(dp.DeltaProtocolError, match="identity"):
        dp.merge_clauses(
            spark, root, src, "name",
            [{"when": "not_matched", "action": "insert_all"}],
        )
    with pytest.raises(dp.DeltaProtocolError, match="identity"):
        dp.overwrite_where(spark, root, "name = 'a'", src)
    # delete-only clause merge is fine (no identity write)
    out = dp.merge_clauses(
        spark, root, src, "name", [{"when": "matched", "action": "delete"}]
    )
    assert out["num_deleted"] == 1


def test_identity_streaming_append_generates_ids(spark, tmp_path):
    root = str(tmp_path / "idc_stream")
    dp.create_table(
        _id_mk(spark, [("a", 1.0)]), root, identity_columns={"id": (5, 5)}
    )
    assert dp.append_stream_batch(
        _id_mk(spark, [("b", 2.0)]), root, "app1", 0
    )
    # replay NO-OPs, ids stay unique
    assert not dp.append_stream_batch(
        _id_mk(spark, [("b", 2.0)]), root, "app1", 0
    )
    ids = [r.id for r in dp.read_table(spark, root).collect()]
    assert len(ids) == len(set(ids)) == 2
    assert all(i % 5 == 0 for i in ids)


# r11 ADVICE pins: negative-step HWM direction, stats-derived HWM
# determinism, NULL-safe replaceWhere/DELETE predicates, z-order width


def test_identity_negative_step_descends_without_collision(spark, tmp_path):
    """step < 0: the high water mark must track the MINIMUM issued id
    (the extreme in the direction of step) — an F.max-tracked mark
    would re-issue already-used values on the next append."""
    root = str(tmp_path / "idc_neg")
    dp.create_table(
        _id_mk(spark, [("a", 1.0), ("b", 2.0)]),
        root,
        identity_columns={"id": (100, -10)},
    )
    first = {r.id for r in dp.read_table(spark, root).collect()}
    assert all(i <= 100 and (100 - i) % 10 == 0 for i in first)
    hwm = dp._identity_cols(dp.resolve(spark, root).metadata)["id"]["hwm"]
    assert hwm == min(first)  # direction of step, not F.max
    dp.append(_id_mk(spark, [("c", 3.0), ("d", 4.0)]), root)
    ids = [r.id for r in dp.read_table(spark, root).collect()]
    assert len(ids) == len(set(ids)) == 4  # no duplicates across commits
    assert all(n < min(first) for n in set(ids) - first)  # strictly past
    hwm2 = dp._identity_cols(dp.resolve(spark, root).metadata)["id"]["hwm"]
    assert hwm2 == min(ids)


def test_identity_hwm_matches_written_ids_after_shuffle(spark, tmp_path):
    """The persisted HWM is derived from the STAGED files' stats, so it
    always equals the extreme id actually written — even when the
    input frame sits behind a shuffle (monotonically_increasing_id is
    nondeterministic across evaluations there; a second HWM agg could
    record a mark below ids on disk)."""
    root = str(tmp_path / "idc_shuffle")
    base = spark.createDataFrame(
        [(f"n{i}", float(i)) for i in range(50)], "name string, v double"
    ).repartition(8, "name")  # post-shuffle, order nondeterministic
    dp.create_table(base, root, identity_columns={"id": (1, 3)})
    ids = [r.id for r in dp.read_table(spark, root).collect()]
    hwm = dp._identity_cols(dp.resolve(spark, root).metadata)["id"]["hwm"]
    assert hwm == max(ids)  # never below anything on disk
    dp.append(base, root)
    ids2 = [r.id for r in dp.read_table(spark, root).collect()]
    assert len(ids2) == len(set(ids2)) == 100  # no collision
    assert (
        dp._identity_cols(dp.resolve(spark, root).metadata)["id"]["hwm"]
        == max(ids2)
    )


def test_replace_where_keeps_null_predicate_rows(spark, tmp_path):
    """Rows where the replace predicate evaluates NULL do NOT satisfy
    it — replaceWhere must KEEP them in the rewrite (they previously
    vanished with no CDF image) and must REFUSE new rows whose
    predicate evaluates NULL under strict mode."""
    root = str(tmp_path / "rw_null")
    dp.create_table(
        _rw_mk(spark, [(1, 10.0, "a"), (2, 20.0, None), (3, 30.0, "b")]),
        root,
    )
    out = dp.overwrite_where(
        spark, root, "grp = 'a'", _rw_mk(spark, [(9, 90.0, "a")])
    )
    assert out["files_rewritten"] == 1
    got = sorted(map(tuple, dp.read_table(spark, root).collect()))
    assert got == [(2, 20.0, None), (3, 30.0, "b"), (9, 90.0, "a")]
    # strict: a NULL-evaluating new row does not satisfy the predicate
    with pytest.raises(dp.DeltaProtocolError, match="violate"):
        dp.overwrite_where(
            spark, root, "grp = 'a'", _rw_mk(spark, [(7, 70.0, None)])
        )


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    """SQL DELETE removes rows where the predicate is TRUE only — a
    NULL price must survive `DELETE WHERE price > 15`."""
    root = str(tmp_path / "del_null")
    dp.create_table(
        _rw_mk(spark, [(1, 10.0, "a"), (2, None, "b"), (3, 30.0, "c")]),
        root,
    )
    dp.delete_where(spark, root, "price > 15")
    got = sorted(map(tuple, dp.read_table(spark, root).collect()))
    assert got == [(1, 10.0, "a"), (2, None, "b")]


def test_zorder_key_wide_column_sets_stay_nonnegative(spark):
    """4+ column z-order: per-column width shrinks so the top
    interleaved bit never lands on the sign bit (k=4 at 16 bits put
    bit 63 there — max-value rows sorted FIRST) and never wraps
    shiftleft mod 64 (k>=5)."""
    df = spark.createDataFrame(
        [(i, i * 2, i * 3, i * 5, i * 7) for i in range(32)],
        "a long, b long, c long, d long, e long",
    )
    for cols in (["a", "b", "c", "d"], ["a", "b", "c", "d", "e"]):
        keyed = df.withColumn("__z", dp._zorder_key(df, cols))
        rows = keyed.orderBy("a").select("a", "__z").collect()
        assert all(r["__z"] >= 0 for r in rows)  # sign bit untouched
        # all-max row carries the max key; all-min the min (curve intact)
        assert rows[-1]["__z"] == max(r["__z"] for r in rows)
        assert rows[0]["__z"] == min(r["__z"] for r in rows)


# mergeSchema append (r11) — write-path schema evolution without mapping


def test_merge_schema_append_widens_and_nullfills(spark, tmp_path):
    root = str(tmp_path / "ms_widen")
    dp.create_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, name string"),
        root,
    )
    dp.append(
        spark.createDataFrame(
            [(3, "c", 9.5)], "k long, name string, score double"
        ),
        root,
        merge_schema=True,
    )
    got = sorted(map(tuple, dp.read_table(spark, root).collect()))
    # pre-widening files read back with typed NULLs — no rewrite
    assert got == [(1, "a", None), (2, "b", None), (3, "c", 9.5)]
    assert [f.name for f in dp.resolve(spark, root).schema.fields] == [
        "k", "name", "score",
    ]
    # batches missing the (nullable) new column still append, NULL-filled
    dp.append(spark.createDataFrame([(5, "e")], "k long, name string"), root)
    assert (5, "e", None) in {
        tuple(r) for r in dp.read_table(spark, root).collect()
    }


def test_merge_schema_refusals(spark, tmp_path):
    root = str(tmp_path / "ms_refuse")
    dp.create_table(
        spark.createDataFrame([(1, "a")], "k long, name string"), root
    )
    # unknown column without the flag
    with pytest.raises(dp.DeltaProtocolError, match="mergeSchema"):
        dp.append(
            spark.createDataFrame(
                [(2, "b", 1.0)], "k long, name string, v double"
            ),
            root,
        )
    # type mismatch on a matched column refuses even WITH the flag
    with pytest.raises(dp.DeltaProtocolError, match="type"):
        dp.append(
            spark.createDataFrame([("x", "b")], "k string, name string"),
            root,
            merge_schema=True,
        )


def test_merge_schema_survives_dml_and_time_travel(spark, tmp_path):
    """Post-widening DML must carry the evolved schema through COW
    rewrites, and time travel to the pre-widening version reads the
    OLD schema."""
    root = str(tmp_path / "ms_dml")
    dp.create_table(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
        ),
        root,
    )
    dp.append(
        spark.createDataFrame([(4, 40.0, "t4")], "k long, v double, tag string"),
        root,
        merge_schema=True,
    )
    dp.update_where(spark, root, "k = 1", {"tag": "'t1'"})
    dp.delete_where(spark, root, "k = 2")
    got = sorted(map(tuple, dp.read_table(spark, root).collect()))
    assert got == [(1, 10.0, "t1"), (3, 30.0, None), (4, 40.0, "t4")]
    old = dp.read_table(spark, root, version=0)
    assert old.columns == ["k", "v"]
    assert old.count() == 3


# column DEFAULT values (r11) — writer feature allowColumnDefaults


def test_column_defaults_fill_missing_batch_columns(spark, tmp_path):
    root = str(tmp_path / "cd_fill")
    dp.create_table(
        spark.createDataFrame(
            [(1, "a", "active")], "k long, name string, status string"
        ),
        root,
        column_defaults={"status": "'active'"},
    )
    proto = dp.resolve(spark, root).protocol
    assert proto["minWriterVersion"] == 7
    assert "allowColumnDefaults" in proto["writerFeatures"]
    dp.append(spark.createDataFrame([(2, "b")], "k long, name string"), root)
    got = sorted(map(tuple, dp.read_table(spark, root).collect()))
    assert got == [(1, "a", "active"), (2, "b", "active")]
    # streaming appends take the default too
    assert dp.append_stream_batch(
        spark.createDataFrame([(3, "c")], "k long, name string"),
        root, "app", 0,
    )
    rows = {tuple(r) for r in dp.read_table(spark, root).collect()}
    assert (3, "c", "active") in rows


def test_set_column_default_upgrades_legacy_protocol(spark, tmp_path):
    """ALTER COLUMN SET DEFAULT on a legacy-protocol table upgrades to
    the v7 feature list IN THE SAME COMMIT, carrying the legacy
    version's implied features (PROTOCOL.md upgrade rule); DROP DEFAULT
    returns missing-column fills to NULL and is metadata-only."""
    root = str(tmp_path / "cd_alter")
    dp.create_table(
        spark.createDataFrame([(1, 0.5)], "k long, score double"), root
    )
    files_before = {a["path"] for a in dp.resolve(spark, root).adds}
    dp.set_column_default(spark, root, "score", "1.5")
    assert {a["path"] for a in dp.resolve(spark, root).adds} == files_before
    proto = dp.resolve(spark, root).protocol
    assert proto["minWriterVersion"] == 7
    assert {"allowColumnDefaults", "appendOnly", "invariants"} <= set(
        proto["writerFeatures"]
    )
    dp.append(spark.createDataFrame([(2,)], "k long"), root)
    dp.set_column_default(spark, root, "score", None)
    dp.append(spark.createDataFrame([(3,)], "k long"), root)
    got = {t[0]: t[1] for t in map(tuple, dp.read_table(spark, root).collect())}
    assert got == {1: 0.5, 2: 1.5, 3: None}
    # pre-existing rows were never rewritten by SET DEFAULT (write-time
    # fill, not read-time): version 0 still reads the original value
    assert dp.read_table(spark, root, version=0).collect()[0].score == 0.5


def test_column_default_refusals(spark, tmp_path):
    root = str(tmp_path / "cd_refuse")
    with pytest.raises(dp.DeltaProtocolError, match="cannot combine"):
        dp.create_table(
            spark.createDataFrame([(1, "a")], "k long, s string"),
            root,
            column_mapping="name",
            column_defaults={"s": "'x'"},
        )
    with pytest.raises(dp.DeltaProtocolError, match="not in the data"):
        dp.create_table(
            spark.createDataFrame([(1,)], "k long"),
            root,
            column_defaults={"nope": "'x'"},
        )
    dp.create_table(
        spark.createDataFrame([(1, 2.0)], "k long, v double"),
        root,
        generated_columns={"v2": ("double", "v * 2")},
    )
    with pytest.raises(dp.DeltaProtocolError, match="generated"):
        dp.set_column_default(spark, root, "v2", "0.0")


def test_partitioned_read_plan_width_constant(spark, sf_dir, tmp_path):
    """r12 verdict What's-wrong #1: the snapshot scan is ONE FileScan
    node regardless of partition-tuple count (partition values recover
    executor-side via the basename broadcast map), never one plan
    subtree per tuple chained with unionByName — at 100 TB a date x
    region table is thousands of tuples and Catalyst analysis time
    would grow superlinearly in plan width."""
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    base = (
        orders.limit(400)
        .select("o_orderkey", "o_totalprice")
        .withColumn("pk", F.col("o_orderkey") % 40)
    )
    root = str(tmp_path / "many_tuples")
    dp.create_table(base, root, partition_cols=["pk"])
    df = dp.read_table(spark, root)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in opt  # no per-tuple subtree chain
    assert phys.count("FileScan parquet") == 1  # ONE scan, 40 dirs inside
    # the only other leaf is the O(n_files) partition-value map, an
    # Arrow local relation (no Python-backed RDD)
    assert phys.count("LocalTableScan") == 1
    assert "Scan ExistingRDD" not in phys
    # and it still reads the right values
    got = sorted(map(tuple, df.collect()))
    assert got == sorted(map(tuple, base.collect()))


def test_resolve_pruned_matches_resolve(spark, tmp_path):
    """r13 verdict What's-missing #6: distributed snapshot
    reconstruction (checkpoint parquet DataFrame job + JSON tail) must
    reproduce resolve()'s state exactly — adds, metadata, protocol,
    txns, domains — including tail overrides after the checkpoint."""
    root = str(tmp_path / "dist_resolve")
    df = spark.range(0, 400).selectExpr("id AS k", "id * 1.0 AS v")
    dp.create_table(df.repartition(4), root)
    dp.checkpoint(spark, root)
    # tail: an append and a delete AFTER the checkpoint
    dp.append(
        spark.range(400, 450).selectExpr("id AS k", "id * 1.0 AS v"), root
    )
    dp.delete_where(spark, root, "k < 50")
    want = dp.resolve(spark, root)
    got = dp.resolve_pruned(spark, root)
    assert got.version == want.version
    assert [a["path"] for a in got.adds] == [a["path"] for a in want.adds]
    assert got.metadata["schemaString"] == want.metadata["schemaString"]
    assert got.protocol == want.protocol
    assert got.txns == want.txns and got.domains == want.domains
    # predicate pruning: executor-side _stats_keep == driver-side
    preds = [("k", ">=", 300)]
    kept_driver = {
        a["path"] for a in want.adds if dp._stats_keep(a, preds)
    }
    pruned = dp.resolve_pruned(spark, root, preds)
    assert {a["path"] for a in pruned.adds} == kept_driver


def test_snapshot_driver_envelope_gate(spark, tmp_path, monkeypatch):
    """Past _SNAPSHOT_DRIVER_MAX_FILES checkpoint actions (footer probe,
    metadata-only): resolve() refuses with a clear error, while
    read_table routes through resolve_pruned and stays exact — with
    data skipping still pruning files."""
    root = str(tmp_path / "envelope")
    df = spark.range(0, 300).selectExpr("id AS k", "id * 1.0 AS v")
    dp.create_table(df.repartition(4), root)
    dp.checkpoint(spark, root)
    dp.append(
        spark.range(300, 320).selectExpr("id AS k", "id * 1.0 AS v"), root
    )
    want = sorted(r.k for r in dp.read_table(spark, root).collect())
    monkeypatch.setattr(dp, "_SNAPSHOT_DRIVER_MAX_FILES", 1)
    with pytest.raises(dp.DeltaProtocolError, match="driver envelope"):
        dp.resolve(spark, root)
    got = dp.read_table(spark, root)
    assert sorted(r.k for r in got.collect()) == want
    pruned = dp.read_table(spark, root, where="k >= 300")
    assert sorted(r.k for r in pruned.collect()) == list(range(300, 320))
    # skipping pruned the checkpoint-era files (tail file only)
    assert len(pruned.inputFiles()) < len(got.inputFiles())


def test_resolve_pruned_long_tail_uses_join_not_inlist(
    spark, tmp_path, monkeypatch
):
    """A long post-checkpoint tail (many touched paths) must not become
    a thousands-of-literals IN plan — past _TOMBSTONE_INLIST_MAX the
    tombstone filter is a broadcast anti-join (plan width O(1)).  Both
    branches must produce identical state on the same table."""
    root = str(tmp_path / "long_tail")
    df = spark.range(0, 200).selectExpr("id AS k", "id * 1.0 AS v")
    dp.create_table(df.repartition(4), root)
    dp.checkpoint(spark, root)
    dp.delete_where(spark, root, "k < 20")  # tail touches several paths
    want = {a["path"] for a in dp.resolve(spark, root).adds}
    inlist = {a["path"] for a in dp.resolve_pruned(spark, root).adds}
    monkeypatch.setattr(dp, "_TOMBSTONE_INLIST_MAX", 0)  # force the join
    joined = {a["path"] for a in dp.resolve_pruned(spark, root).adds}
    assert inlist == want and joined == want


# ---------------------------------------------------------------------------
# commit-log cases: snapshot isolation and time travel, optimistic
# concurrency (_commit's retry and conflict rules), checkpoints and log
# cleanup, retention, idempotent streaming appends


def _kt(spark, rows, schema="k bigint, tag string"):
    return spark.createDataFrame(rows, schema)


def _logged_adds(root: str) -> set[str]:
    return {
        a["add"]["path"]
        for v in dp._list_commit_versions(root)
        for a in dp._read_commit_actions(root, v)
        if "add" in a
    }


def _parquet_on_disk(root: str) -> set[str]:
    return {
        os.path.relpath(os.path.join(d, f), root).replace(os.sep, "/")
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet") and "_delta_log" not in d
    }


def test_orders_snapshots_time_travel_and_immutable_history(
    spark, sf_dir, tmp_path
):
    from incubator_gluten_spark.catalog import load_tables

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    root = str(tmp_path / "orders_log")
    year = F.year("o_orderdate")
    dp.create_table(
        orders.filter(year == 1996), root, partition_cols=["o_orderpriority"]
    )
    dp.append(orders.filter(year == 1997), root)
    v0 = dp.read_table(spark, root, version=0).count()
    v1 = dp.read_table(spark, root, version=1).count()
    assert (v0, v1) == (
        orders.filter(year == 1996).count(),
        orders.filter(year.isin(1996, 1997)).count(),
    )
    assert dp.read_table(spark, root).count() == v1
    mtimes = {
        p: os.path.getmtime(os.path.join(root, p)) for p in _parquet_on_disk(root)
    }
    out = dp.delete_where(spark, root, "o_orderpriority = '1-URGENT'")
    # partition values in the log skip every other priority's files
    assert out["files_skipped"] > 0 and out["files_rewritten"] > 0
    after = dp.read_table(spark, root)
    assert after.filter(F.col("o_orderpriority") == "1-URGENT").count() == 0
    assert after.count() == orders.filter(
        year.isin(1996, 1997) & (F.col("o_orderpriority") != "1-URGENT")
    ).count()
    hist = dp.history(spark, root)
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert hist[1]["n_rows"] > hist[2]["n_rows"]
    v1_again = dp.read_table(spark, root, version=1)
    assert v1_again.filter(F.col("o_orderpriority") == "1-URGENT").count() > 0
    # data files are immutable: a rewrite adds files, never edits one
    for p, m in mtimes.items():
        assert os.path.getmtime(os.path.join(root, p)) == m


def test_stale_blind_commit_lands_after_the_winner(spark, tmp_path):
    """A blind commit planned on an old version is retried past winners
    it cannot conflict with, instead of failing on the taken version."""
    root = str(tmp_path / "stale_blind")
    dp.create_table(_kt(spark, [(1, "a")]), root)
    dp.append(_kt(spark, [(2, "b")]), root)
    assert dp._commit(root, 0, []) == 2
    assert dp.current_version(root) == 2


def test_delete_retries_past_disjoint_append(spark, tmp_path):
    """A concurrent append whose stats prove the delete predicate absent
    does not conflict: the delete commits at the next version and both
    commits survive."""
    root = str(tmp_path / "retry")
    dp.create_table(_kt(spark, [(1, "hot"), (2, "cold"), (3, "hot")]), root)
    out = dp.delete_where(
        spark,
        root,
        "tag = 'hot'",
        _before_commit=lambda: dp.append(_kt(spark, [(9, "mild")]), root),
    )
    assert out["commit_retries"] == 1 and out["version"] == 2
    rows = sorted((r.k, r.tag) for r in dp.read_table(spark, root).collect())
    assert rows == [(2, "cold"), (9, "mild")]


def test_delete_conflicts_with_stats_blind_append(spark, tmp_path):
    """A concurrent add carrying no stats for the predicate column cannot
    be proven disjoint (Delta's ConcurrentAppend)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "blind")
    dp.create_table(_kt(spark, [(1, "hot"), (2, "cold")]), root)

    def stats_blind_append():
        path = os.path.join(root, "blind.parquet")
        pq.write_table(pa.table({"k": [9], "tag": ["hot"]}), path)
        add = {
            "path": "blind.parquet",
            "partitionValues": {},
            "size": os.path.getsize(path),
            "modificationTime": 0,
            "dataChange": True,
        }
        dp._commit(root, dp.current_version(root), [{"add": add}])

    with pytest.raises(dp.ConcurrentWriteError, match="stats"):
        dp.delete_where(
            spark, root, "tag = 'hot'", _before_commit=stats_blind_append
        )
    assert _parquet_on_disk(root) == _logged_adds(root)


def test_replayed_or_racing_stream_batch_commits_once(spark, tmp_path, monkeypatch):
    """A replayed batch is a no-op; a writer that loses the race to the
    same appId's batch raises and removes the files it staged."""
    root = str(tmp_path / "idem")
    df = _kt(spark, [(1, "a"), (2, "b")])
    dp.create_table(df.limit(0), root)
    assert dp.append_stream_batch(df, root, "app", 1) is True
    files = _parquet_on_disk(root)
    assert dp.append_stream_batch(df, root, "app", 1) is False
    assert _parquet_on_disk(root) == files
    real_resolve = dp.resolve

    def read_then_lose_the_race(*args, **kwargs):
        snap = real_resolve(*args, **kwargs)
        monkeypatch.setattr(dp, "resolve", real_resolve)
        assert dp.append_stream_batch(df, root, "app", 2) is True
        return snap

    monkeypatch.setattr(dp, "resolve", read_then_lose_the_race)
    with pytest.raises(dp.ConcurrentWriteError, match="txn 'app'"):
        dp.append_stream_batch(df, root, "app", 2)
    assert dp.current_version(root) == 2
    assert dp.read_table(spark, root).count() == 4
    assert _parquet_on_disk(root) == _logged_adds(root)


def test_merge_source_null_overwrites_whole_row(spark, tmp_path):
    """whenMatchedUpdateAll takes the source row whole: a NULL non-key
    source value replaces the target value."""
    root = str(tmp_path / "null_merge")
    schema = "k bigint, tag string, v double"
    dp.create_table(
        _kt(spark, [(1, "keep", 10.0), (2, "stale", 20.0)], schema), root
    )
    src = _kt(spark, [(2, None, 99.0)], schema)
    dp.merge(spark, root, src, "k")
    rows = {r.k: (r.tag, r.v) for r in dp.read_table(spark, root).collect()}
    assert rows == {1: ("keep", 10.0), 2: (None, 99.0)}


def _drop_commits(root: str, upto: int) -> None:
    for v in range(upto + 1):
        os.remove(dp._commit_path(root, v))


def test_checkpoint_survives_log_cleanup(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    dp.create_table(_kt(spark, [(1, "a"), (2, "b")]), root)
    dp.append(_kt(spark, [(3, "c")]), root)
    assert dp.checkpoint(spark, root)["version"] == 1
    dp.append(_kt(spark, [(4, "d")]), root)
    _drop_commits(root, 1)
    assert sorted(r.k for r in dp.read_table(spark, root).collect()) == [1, 2, 3, 4]
    # the checkpoint itself still answers its own version
    assert dp.read_table(spark, root, version=1).count() == 3


def test_append_after_full_log_cleanup_lands_above_checkpoint(spark, tmp_path):
    """With every commit file gone behind the checkpoint, the next
    version is still checkpoint + 1 — a commit below the checkpoint
    would never be replayed."""
    root = str(tmp_path / "ckpt_append")
    dp.create_table(_kt(spark, [(1, "a")]), root)
    dp.append(_kt(spark, [(2, "b")]), root)
    dp.checkpoint(spark, root)
    _drop_commits(root, 1)
    assert dp.current_version(root) == 1
    assert dp.append(_kt(spark, [(3, "c")]), root) == 2
    assert sorted(r.k for r in dp.read_table(spark, root).collect()) == [1, 2, 3]


def test_commit_read_below_cleaned_checkpoint_conflicts(spark, tmp_path):
    """A commit planned on a version whose successors were cleaned up
    behind a checkpoint cannot be checked against them: it raises
    instead of writing a commit the checkpoint hides."""
    root = str(tmp_path / "ckpt_refuse")
    dp.create_table(_kt(spark, [(1, "a")]), root)
    dp.append(_kt(spark, [(2, "b")]), root)
    dp.checkpoint(spark, root)
    _drop_commits(root, 1)
    with pytest.raises(dp.ConcurrentWriteError, match="cleaned up"):
        dp._commit(root, 0, [])
    assert dp._list_commit_versions(root) == []


def test_time_travel_past_retention_raises(spark, tmp_path):
    root = str(tmp_path / "retention")
    dp.create_table(_kt(spark, [(1, "a")]), root)
    dp.append(_kt(spark, [(2, "b")]), root)
    dp.append(_kt(spark, [(3, "c")]), root)
    assert dp.checkpoint(spark, root)["version"] == 2
    dp.append(_kt(spark, [(4, "d")]), root)
    _drop_commits(root, 2)
    for gone in (0, 1):
        with pytest.raises(ValueError, match="vacuumed"):
            dp.resolve(spark, root, gone)
    assert dp.read_table(spark, root, version=2).count() == 3
    assert dp.read_table(spark, root).count() == 4
    with pytest.raises(ValueError, match="does not exist"):
        dp.resolve(spark, root, 7)
    # a gap inside the replay range refuses too
    dp.append(_kt(spark, [(5, "e")]), root)
    os.remove(dp._commit_path(root, 3))
    with pytest.raises(ValueError, match="missing"):
        dp.resolve(spark, root)


def test_vacuum_deletes_only_files_no_retained_version_reads(spark, tmp_path):
    root = str(tmp_path / "vacuum")
    dp.create_table(_kt(spark, [(1, "hot"), (2, "cold"), (3, "hot")]), root)
    dp.delete_where(spark, root, "tag = 'hot'")
    assert dp.vacuum(spark, root, retain_versions=2)["files_deleted"] == 0
    assert dp.read_table(spark, root, version=0).count() == 3
    assert dp.vacuum(spark, root, retain_versions=1)["files_deleted"] > 0
    assert [r.k for r in dp.read_table(spark, root).collect()] == [2]
    assert _parquet_on_disk(root) == {
        a["path"] for a in dp.resolve(spark, root).adds
    }
