"""Iceberg manifest per-column bounds (spec data_file lower/upper_bounds,
field-ids 125/128): written from the footer stats finalize already reads,
used for metadata-only scan pruning and MERGE candidate planning
(r11 verdict What's-missing #2 / directive #3)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from incubator_gluten_spark.sources import iceberg_format as ice


def _mk(spark, n=1000, files=4):
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).cast("double").alias("v"),
        F.concat(F.lit("name-"), F.format_string("%05d", F.col("id"))).alias(
            "s"
        ),
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int") % 365).alias("d"),
    )
    # range-partition on k so each data file covers a DISJOINT key range
    # (the clustered layout bounds pruning exists for)
    return df.repartitionByRange(files, "k")


def test_bounds_written_match_true_min_max(spark, tmp_path):
    root = str(tmp_path / "b_write")
    ice.create_table(_mk(spark), root)
    files = ice.plan_files(root)
    assert len(files) == 4
    by_name = {
        f["name"]: f for f in ice._current_metadata(root)["schema"]["fields"]
    }
    glb_lo = {"k": None, "v": None, "s": None, "d": None}
    glb_hi = dict(glb_lo)
    for f in files:
        lb, ub = f["lower_bounds"], f["upper_bounds"]
        for col in ("k", "v", "s", "d"):
            fid = str(by_name[col]["id"])
            assert fid in lb and fid in ub, (col, lb)
            lo = ice._bound_deser(by_name[col]["type"], lb[fid])
            hi = ice._bound_deser(by_name[col]["type"], ub[fid])
            assert lo <= hi
            glb_lo[col] = lo if glb_lo[col] is None else min(glb_lo[col], lo)
            glb_hi[col] = hi if glb_hi[col] is None else max(glb_hi[col], hi)
    assert glb_lo["k"] == 0 and glb_hi["k"] == 999
    assert glb_lo["v"] == 0.0 and glb_hi["v"] == 1998.0
    assert glb_lo["s"] == "name-00000" and glb_hi["s"] == "name-00999"
    assert glb_lo["d"] == dt.date(2024, 1, 1)
    assert glb_hi["d"] == dt.date(2024, 12, 30)


def test_plan_files_prunes_by_bounds_and_reads_stay_correct(spark, tmp_path):
    root = str(tmp_path / "b_prune")
    ice.create_table(_mk(spark), root)
    allf = ice.plan_files(root)
    # point predicate on the clustered key: exactly one file survives
    hit = ice.plan_files(root, source_predicates=[("k", "=", 500)])
    assert len(hit) == 1 and len(allf) == 4
    # range predicates prune from the correct end
    assert len(ice.plan_files(root, source_predicates=[("k", "<", 10)])) == 1
    assert len(ice.plan_files(root, source_predicates=[(("k"), ">=", 990)])) == 1
    # string + date bounds prune too
    assert (
        len(ice.plan_files(root, source_predicates=[("s", "=", "name-00007")]))
        == 1
    )
    assert (
        len(
            ice.plan_files(
                root, source_predicates=[("d", "=", dt.date(2023, 6, 1))]
            )
        )
        == 0
    )  # date outside every file's range: all pruned, zero scans
    # IN set spanning two files keeps exactly those two
    assert (
        len(ice.plan_files(root, source_predicates=[("k", "in", {1, 999})]))
        == 2
    )
    # reads through the pruned plan stay value-correct
    got = ice.read_table(
        spark, root, source_predicates=[("k", "=", 500)]
    ).collect()
    assert [r["k"] for r in got] == [500]


def test_merge_candidates_planned_metadata_only(spark, tmp_path, monkeypatch):
    """Directive-#3 pin: on a bounded table a point-ish MERGE's key scan
    receives ONLY the bound-intersecting candidate files — detection is
    O(manifests) + O(candidate key bytes), never a table scan."""
    root = str(tmp_path / "b_merge")
    ice.create_table(_mk(spark), root)
    seen: list[int] = []
    real = ice._read_files_by_id

    def spy(spark_, root_, meta_, schema_, files_, **kw):
        seen.append(len(files_))
        return real(spark_, root_, meta_, schema_, files_, **kw)

    monkeypatch.setattr(ice, "_read_files_by_id", spy)
    src = spark.createDataFrame(
        [(500, 9.9, "upd", dt.date(2024, 2, 2))], "k long, v double, s string, d date"
    )
    out = ice.merge(spark, root, src, on=["k"])
    assert out["files_pruned_by_bounds"] == 3
    assert out["files_rewritten"] == 1 and out["files_skipped"] == 3
    # first spy call = the detection scan: 1 candidate file, not 4
    assert seen[0] == 1
    got = ice.read_table(spark, root).filter("k = 500").collect()
    assert [(r["v"], r["s"]) for r in got] == [(9.9, "upd")]


def test_legacy_files_without_bounds_fall_back_to_key_scan(
    spark, tmp_path, monkeypatch
):
    """Files from pre-bounds manifests carry none: they must stay MERGE
    candidates (correctness) and never be pruned by plan_files."""
    monkeypatch.setattr(
        ice, "_footer_bounds", lambda md, schema: ({}, {}, {})
    )
    root = str(tmp_path / "b_legacy")
    ice.create_table(_mk(spark), root)
    assert all(
        f.get("lower_bounds") is None for f in ice.plan_files(root)
    )
    assert len(ice.plan_files(root, source_predicates=[("k", "=", 500)])) == 4
    monkeypatch.undo()
    src = spark.createDataFrame(
        [(500, 9.9, "upd", dt.date(2024, 2, 2))], "k long, v double, s string, d date"
    )
    out = ice.merge(spark, root, src, on=["k"])
    assert out["files_pruned_by_bounds"] == 0
    assert out["files_rewritten"] == 1  # the key scan still finds it
    got = ice.read_table(spark, root).filter("k = 500").collect()
    assert [r["s"] for r in got] == ["upd"]


def test_null_value_counts_prune_is_null_and_all_null_files(spark, tmp_path):
    """spec null_value_counts (field-id 110): IS [NOT] NULL prunes
    metadata-only, and an all-null file is dropped for any value
    predicate even though it carries no min/max bounds."""
    root = str(tmp_path / "b_nulls")
    # file A: no nulls in v; file B: ALL nulls in v (repartitionByRange
    # on k keeps them separate)
    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 50, F.col("id").cast("double")).alias("v"),
    ).repartitionByRange(2, "k")
    ice.create_table(df, root)
    files = ice.plan_files(root)
    assert len(files) == 2
    by_name = {
        f["name"]: f for f in ice._current_metadata(root)["schema"]["fields"]
    }
    vid = str(by_name["v"]["id"])
    counts = sorted(
        (f.get("null_value_counts") or {}).get(vid) for f in files
    )
    assert counts == [0, 50]
    # IS NULL: the null-free file is pruned
    assert len(ice.plan_files(root, source_predicates=[("v", "is_null", None)])) == 1
    # IS NOT NULL: the all-null file is pruned
    assert len(ice.plan_files(root, source_predicates=[("v", "not_null", None)])) == 1
    # a value predicate drops the all-null file despite it having no
    # min/max bounds for v
    hit = ice.plan_files(root, source_predicates=[("v", ">=", 0.0)])
    assert len(hit) == 1
    assert (hit[0].get("null_value_counts") or {}).get(vid) == 0
    # reads through the pruned plans stay exact
    assert (
        ice.read_table(spark, root, source_predicates=[("v", "is_null", None)]).count()
        == 50
    )
    assert (
        ice.read_table(
            spark, root, source_predicates=[("v", "not_null", None)]
        ).count()
        == 50
    )


def test_nan_bounds_never_prune_matching_files(spark, tmp_path):
    """Spark's parquet writer records NaN as a double column's max; a
    NaN upper bound fails every comparison, so serializing it pruned
    the one file holding x = 1.0 (and every row for x > 0.5)."""
    root = str(tmp_path / "b_nan")
    df = spark.createDataFrame(
        [(1, 1.0), (2, float("nan")), (3, 2.0)], "k int, x double"
    ).coalesce(1)
    ice.create_table(df, root)
    full = ice.read_table(spark, root)

    def keys(frame):
        return sorted(r["k"] for r in frame.collect())

    pruned = ice.read_table(spark, root, source_predicates=[("x", "=", 1.0)])
    assert keys(pruned) == keys(full.filter("x = 1.0")) == [1]
    pruned = ice.read_table(spark, root, where="x > 0.5")
    assert keys(pruned) == keys(full.filter("x > 0.5"))
