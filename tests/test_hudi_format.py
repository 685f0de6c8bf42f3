"""Hudi COW table-format tests: timeline resolution, file-group
supersession, time travel, upsert write amplification bounds, meta
columns, MOR refusal, and reader independence via a hand-laid-out
table the writer never produced."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from incubator_gluten_spark.sources import hudi_format as hf


def _handwritten_table(spark, root):
    """A COW table laid out by hand straight from the spec: two file
    groups, a second commit superseding one of them, plus an
    UNCOMMITTED (inflight) newer file that must stay invisible."""
    os.makedirs(os.path.join(root, ".hoodie"), exist_ok=True)
    with open(os.path.join(root, ".hoodie", "hoodie.properties"), "w") as f:
        f.write(
            "hoodie.table.name=hand\nhoodie.table.type=COPY_ON_WRITE\n"
            "hoodie.table.version=6\nhoodie.table.recordkey.fields=k\n"
        )

    def parquet(path, rows):
        spark.createDataFrame(rows, "k bigint, v string").coalesce(1).write.mode(
            "overwrite"
        ).parquet(path + ".tmp")
        import glob
        import shutil

        part = glob.glob(os.path.join(path + ".tmp", "part-*.parquet"))[0]
        shutil.move(part, path)
        shutil.rmtree(path + ".tmp")

    i1, i2, i3 = "20240101000000001", "20240101000000002", "20240101000000003"
    parquet(os.path.join(root, f"groupA_0-1-0_{i1}.parquet"), [(1, "a"), (2, "b")])
    parquet(os.path.join(root, f"groupB_0-1-0_{i1}.parquet"), [(3, "c")])
    # commit 2 rewrites group A (k=2 updated)
    parquet(os.path.join(root, f"groupA_0-1-0_{i2}.parquet"), [(1, "a"), (2, "B2")])
    # instant 3 exists on disk but is only INFLIGHT -> invisible
    parquet(os.path.join(root, f"groupB_0-1-0_{i3}.parquet"), [(3, "SHOULD_NOT_SEE")])
    for instant in (i1, i2):
        with open(os.path.join(root, ".hoodie", f"{instant}.commit"), "w") as f:
            json.dump({"partitionToWriteStats": {}}, f)
    with open(
        os.path.join(root, ".hoodie", f"{i3}.commit.inflight"), "w"
    ) as f:
        f.write("{}")
    return i1, i2


def test_read_handwritten_layout(spark, tmp_path):
    root = str(tmp_path / "hudi_hand")
    i1, i2 = _handwritten_table(spark, root)
    latest = sorted(
        (r.k, r.v) for r in hf.read_table(spark, root).collect()
    )
    # group A at instant2 supersedes instant1; inflight instant3 invisible
    assert latest == [(1, "a"), (2, "B2"), (3, "c")]
    # time travel to the first instant
    v1 = sorted(
        (r.k, r.v) for r in hf.read_table(spark, root, as_of=i1).collect()
    )
    assert v1 == [(1, "a"), (2, "b"), (3, "c")]


def test_mor_refused(spark, tmp_path):
    root = str(tmp_path / "hudi_mor")
    _handwritten_table(spark, root)
    props = os.path.join(root, ".hoodie", "hoodie.properties")
    with open(props) as f:
        content = f.read().replace("COPY_ON_WRITE", "MERGE_ON_READ")
    with open(props, "w") as f:
        f.write(content)
    with pytest.raises(hf.HudiFormatError, match="MERGE_ON_READ"):
        hf.read_table(spark, root)


def test_create_upsert_roundtrip(spark, sf_dir, tmp_path):
    from incubator_gluten_spark.catalog import load_tables

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    root = str(tmp_path / "hudi_cow")
    base = orders.filter(F.year("o_orderdate") == 1996).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    hf.create_table(
        base, root, key_col="o_orderkey", partition_col="o_orderpriority"
    )
    got = hf.read_table(spark, root)
    assert got.count() == base.count()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, base.collect()))
    # meta columns present in the raw files, hudi-shaped
    raw = hf.read_table(spark, root, drop_meta_cols=False)
    for c in hf.META_COLS:
        assert c in raw.columns
    assert raw.filter(F.col("_hoodie_record_key").isNull()).count() == 0

    # upsert: update a slice of keys, insert some new ones
    upd = base.filter(F.col("o_orderkey") < 500).withColumn(
        "o_totalprice", F.lit(1.0)
    )
    ins = base.limit(20).withColumn(
        "o_orderkey", F.col("o_orderkey") + 90_000_000
    )
    out = hf.upsert(spark, upd.unionByName(ins), root, key_col="o_orderkey")
    assert out["new_rows"] == 20
    # bounded write amplification: only file groups holding matched keys
    # were rewritten, not the whole table
    n_groups = len({fid for _, fid, _, _ in hf._base_files(root)})
    assert 0 < out["file_groups_rewritten"] < n_groups
    after = hf.read_table(spark, root)
    assert after.count() == base.count() + 20
    assert (
        after.filter(
            (F.col("o_orderkey") < 500) & (F.col("o_totalprice") != 1.0)
        ).count()
        == 0
    )
    # pre-upsert snapshot still intact (time travel across upserts)
    first = hf.completed_instants(root)[0]
    assert hf.read_table(spark, root, as_of=first).count() == base.count()


def test_writers_have_no_per_partition_driver_loop():
    """r7 verdict #4 pin: no Hudi writer runs a distinct().collect()
    -then-filter loop (one sequential Spark job per partition value) —
    partitioned writes go through _write_partitioned_groups' single
    distributed partitionBy job."""
    import inspect

    from incubator_gluten_spark.sources import hudi_format, hudi_mor

    for mod in (hudi_format, hudi_mor):
        body = inspect.getsource(mod)
        # allowed only inside comments/docstrings describing the fix
        for line in body.splitlines():
            code = line.split("#")[0]
            assert "distinct().collect()" not in code, (mod.__name__, line)


def test_partitioned_create_single_group_per_value(spark, sf_dir, tmp_path):
    """Partitioned create: exactly one base file per partition value,
    file_id deterministic in (instant, value), _hoodie_file_name matches
    the on-disk name, and null partition values land in the Hive
    sentinel directory."""
    import hashlib
    import os

    df = spark.createDataFrame(
        [(1, 10.0, "A"), (2, 11.0, "A"), (3, 12.0, "B"), (4, 13.0, None)],
        "k int, v double, p string",
    )
    root = str(tmp_path / "hudi_part")
    instant = hf.create_table(df, root, key_col="k", partition_col="p")
    files = hf.snapshot_files(root)
    assert len(files) == 3
    for part in ("A", "B", "__HIVE_DEFAULT_PARTITION__"):
        fid = hashlib.md5(f"{instant}|{part}".encode()).hexdigest()[:12]
        name = f"{fid}_0-1-0_{instant}.parquet"
        assert os.path.exists(os.path.join(root, part, name)), (part, name)
    got = hf.read_table(spark, root, drop_meta_cols=False)
    meta = {
        (r["_hoodie_partition_path"], r["_hoodie_file_name"])
        for r in got.collect()
    }
    for ppath, fname in meta:
        assert os.path.exists(os.path.join(root, ppath, fname))
    back = got.drop(*hf.META_COLS)
    assert sorted(map(tuple, back.collect()), key=str) == sorted(
        map(tuple, df.collect()), key=str
    )


def test_partition_value_with_slash_stays_inside_root(spark, tmp_path):
    """r8 ADVICE: a partition VALUE containing '/' must not write base
    files outside the intended partition directory — on disk the
    writer-ESCAPED segment is kept (one directory entry, '%2F' inside),
    while _hoodie_partition_path carries the raw value."""
    import os

    df = spark.createDataFrame(
        [(1, 10.0, "a/b"), (2, 11.0, "c")], "k int, v double, p string"
    )
    root = str(tmp_path / "hudi_slash")
    hf.create_table(df, root, key_col="k", partition_col="p")
    # no parquet file anywhere outside the table root
    for dirpath, _, files in os.walk(str(tmp_path)):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.abspath(os.path.join(dirpath, f))
                assert full.startswith(os.path.abspath(root) + os.sep), full
    # and no nested 'a/b' directory was created — the segment is escaped
    assert not os.path.isdir(os.path.join(root, "a"))
    got = hf.read_table(spark, root, drop_meta_cols=False)
    rows = {(r["p"], r["_hoodie_partition_path"]) for r in got.collect()}
    assert ("a/b", "a/b") in rows and ("c", "c") in rows


def test_partition_value_dotdot_rejected(spark, tmp_path):
    """A value that normalizes outside the table root ('..' is not in
    Spark's escape charset, so it survives as a directory segment) is
    refused rather than written to the parent directory."""
    df = spark.createDataFrame([(1, 10.0, "..")], "k int, v double, p string")
    root = str(tmp_path / "tbl" / "hudi_dotdot")
    with pytest.raises(hf.HudiFormatError, match="outside table root"):
        hf.create_table(df, root, key_col="k", partition_col="p")


def test_unmatched_staged_segment_names_the_segment(spark, tmp_path, monkeypatch):
    """A rewritten segment whose decoded key matches no hit file group
    fails as a HudiFormatError naming the staged segment, and commits
    nothing."""
    from incubator_gluten_spark.sources import table_core

    df = spark.createDataFrame([(1, 1.0, "a"), (2, 2.0, "b")], "k int, v double, p string")
    root = str(tmp_path / "hudi_miss")
    hf.create_table(df, root, key_col="k", partition_col="p")
    before = hf.completed_instants(root)
    real = table_core.unescape_path_name
    # only the staged "<partition>/<file id>" segments carry an escaped
    # '/'; the partition directories upsert resolves first stay intact
    monkeypatch.setattr(
        table_core,
        "unescape_path_name",
        lambda s: "no/such-group" if "%2F" in s else real(s),
    )
    up = spark.createDataFrame([(1, 10.0, "a")], "k int, v double, p string")
    with pytest.raises(hf.HudiFormatError, match="staged segment '__fid="):
        hf.upsert(spark, up, root, "k")
    assert hf.completed_instants(root) == before


def test_rewrites_are_single_distributed_jobs(spark, sf_dir, tmp_path):
    """r14 optimization pin: COW upsert rewrites ALL matched file groups
    through ONE distributed partitionBy(__fid) job
    (_rewrite_file_groups), and MOR compact writes all slices the same
    way — never a sequential per-group _write_file_group loop (the MOR
    merge would re-execute once per group)."""
    import inspect

    from incubator_gluten_spark.sources import hudi_format, hudi_mor

    assert "_rewrite_file_groups" in inspect.getsource(hudi_format.upsert)
    # the single remaining _write_file_group in upsert is the
    # unpartitioned INSERT path (one new group == one job, fine); the
    # rewrite loop itself must be gone
    assert "disk_dir=part" not in inspect.getsource(hudi_format.upsert)
    assert "_write_file_group(" not in inspect.getsource(hudi_mor.compact)
    # multi-group rewrite correctness: 3 partitions hit in one upsert ->
    # each group rewritten once, one base file per group, one commit
    from incubator_gluten_spark.sources import hudi_format as hf

    df = spark.createDataFrame(
        [(i, f"p{i % 3}", float(i)) for i in range(30)], "k long, p string, v double"
    )
    root = str(tmp_path / "cow_multi")
    hf.create_table(df, root, "k", partition_col="p")
    n_commits = len(hf.completed_instants(root))
    up = spark.createDataFrame(
        [(i, f"p{i % 3}", float(i * 100)) for i in range(0, 30, 2)],
        "k long, p string, v double",
    )
    out = hf.upsert(spark, up, root, "k")
    assert out["file_groups_rewritten"] == 3 and out["new_rows"] == 0
    assert len(hf.completed_instants(root)) == n_commits + 1
    got = {
        r["k"]: r["v"] for r in hf.read_table(spark, root).collect()
    }
    want = {i: float(i * 100) if i % 2 == 0 else float(i) for i in range(30)}
    assert got == want
