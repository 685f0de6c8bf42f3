"""Delta wire-format UPDATE / MERGE pins (r8 verdict directive #2 +
ADVICE): the ~200 lines that landed unpinned in the r8 snapshot get their
oracle here — NULL-key insert semantics, duplicate-key fan-out refusal,
stats-based file skipping with its two must-rewrite traps (stats-less
add, straddling range), partition-column reassignment moving rows, DV
preservation through both rewrites, and the _footer_min_max row-group
coverage + NaN guards.

Reference test analog: gluten-delta/src/test/scala/org/apache/gluten/
execution/DeltaSuite.scala (update/merge exercised through the scan).
"""

from __future__ import annotations

import json
import math
import os

import pytest
from pyspark.sql import functions as F

from incubator_gluten_spark.sources import delta_protocol as dp
from incubator_gluten_spark.sources.delta_protocol import DeltaProtocolError


def _rows(df):
    return sorted(map(tuple, df.collect()), key=lambda t: tuple(map(str, t)))


def _mk(spark, rows):
    # coalesce(1): tests that count files need one data file per write
    return spark.createDataFrame(
        rows, "k bigint, price double, grp string"
    ).coalesce(1)


def _strip_stats(root: str, version: int = 0) -> None:
    """Rewrite a commit file with every add-action's stats removed —
    simulates a writer that records no per-file statistics."""
    path = os.path.join(root, "_delta_log", f"{version:020d}.json")
    out = []
    with open(path) as f:
        for line in f:
            a = json.loads(line)
            if "add" in a:
                a["add"].pop("stats", None)
            out.append(json.dumps(a))
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")


# ---------------------------------------------------------------------------
# UPDATE


def test_update_applies_pre_update_values(spark, tmp_path):
    """Every assignment must see the PRE-update row (standard UPDATE):
    a swap (price <- k, k <- price) is the canonical detector — applying
    assignments sequentially would yield k == price."""
    root = str(tmp_path / "upd_pre")
    dp.create_table(_mk(spark, [(1, 10.0, "a"), (2, 20.0, "b")]), root)
    dp.update_where(
        spark, root, "grp = 'a'", {"k": "CAST(price AS BIGINT)", "price": "k * 1.0"}
    )
    got = _rows(dp.read_table(spark, root))
    assert got == _rows(_mk(spark, [(10, 1.0, "a"), (2, 20.0, "b")]))


def test_update_unknown_column_raises(spark, tmp_path):
    root = str(tmp_path / "upd_unknown")
    dp.create_table(_mk(spark, [(1, 10.0, "a")]), root)
    with pytest.raises(DeltaProtocolError, match="unknown"):
        dp.update_where(spark, root, "k = 1", {"nope": "1"})


def test_update_partition_reassignment_moves_rows(spark, tmp_path):
    """Assigning a partition column must physically move matched rows
    into the new partition directory (the restage's partitionBy) and
    the log must record the new partitionValues."""
    root = str(tmp_path / "upd_move")
    dp.create_table(
        _mk(spark, [(1, 10.0, "a"), (2, 20.0, "a"), (3, 30.0, "b")]),
        root,
        partition_cols=["grp"],
    )
    out = dp.update_where(spark, root, "grp = 'a'", {"grp": "'c'"})
    assert out["files_skipped"] >= 1  # the 'b' partition was pruned
    snap = dp.resolve(spark, root)
    pvals = {a["partitionValues"]["grp"] for a in snap.adds}
    assert pvals == {"b", "c"}
    got = _rows(dp.read_table(spark, root))
    assert got == _rows(_mk(spark, [(1, 10.0, "c"), (2, 20.0, "c"), (3, 30.0, "b")]))


def test_update_preserves_dv_deleted_rows(spark, tmp_path):
    """UPDATE's rewrite scans through _live_rows: rows deleted by a DV
    (merge-on-read) must stay deleted through the copy-on-write rewrite
    — the delete_where resurrection bug's UPDATE twin."""
    root = str(tmp_path / "upd_dv")
    dp.create_table(
        _mk(spark, [(1, 10.0, "a"), (2, 20.0, "a"), (3, 30.0, "b")]), root
    )
    dp.delete_where_dv(spark, root, "k = 2")
    dp.update_where(spark, root, "grp = 'a'", {"price": "price * 2"})
    got = _rows(dp.read_table(spark, root))
    assert got == _rows(_mk(spark, [(1, 20.0, "a"), (3, 30.0, "b")]))


# ---------------------------------------------------------------------------
# MERGE


def test_merge_update_and_insert_roundtrip(spark, tmp_path):
    root = str(tmp_path / "m_rt")
    dp.create_table(_mk(spark, [(1, 10.0, "a"), (2, 20.0, "b")]), root)
    dp.merge(spark, root, _mk(spark, [(2, 99.0, "B"), (5, 50.0, "e")]), "k")
    got = _rows(dp.read_table(spark, root))
    assert got == _rows(
        _mk(spark, [(1, 10.0, "a"), (2, 99.0, "B"), (5, 50.0, "e")])
    )


def test_merge_null_key_source_rows_insert(spark, tmp_path):
    """Delta semantics: a NULL join key never matches, so NULL-key
    source rows are NOT MATCHED and insert via whenNotMatchedInsertAll
    (the r8 shape silently committed nothing for an all-NULL source and
    raised for a mixed one — r8 ADVICE)."""
    root = str(tmp_path / "m_null")
    dp.create_table(_mk(spark, [(1, 10.0, "a")]), root)
    dp.merge(
        spark,
        root,
        _mk(spark, [(None, 7.0, "n1"), (1, 11.0, "a2"), (None, 8.0, "n2")]),
        "k",
    )
    got = _rows(dp.read_table(spark, root))
    assert got == _rows(
        _mk(spark, [(None, 7.0, "n1"), (1, 11.0, "a2"), (None, 8.0, "n2")])
    )


def test_merge_all_null_key_source_inserts(spark, tmp_path):
    root = str(tmp_path / "m_allnull")
    dp.create_table(_mk(spark, [(1, 10.0, "a")]), root)
    out = dp.merge(spark, root, _mk(spark, [(None, 7.0, "n")]), "k")
    assert out["files_rewritten"] == 0  # nothing can match a NULL key
    got = _rows(dp.read_table(spark, root))
    assert got == _rows(_mk(spark, [(1, 10.0, "a"), (None, 7.0, "n")]))


def test_merge_duplicate_keys_matching_target_raise(spark, tmp_path):
    """Two source rows matching one target row is Delta's
    DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW — must refuse, never
    silently fan out the matched row."""
    root = str(tmp_path / "m_dup")
    dp.create_table(_mk(spark, [(1, 10.0, "a")]), root)
    with pytest.raises(DeltaProtocolError, match="duplicate"):
        dp.merge(spark, root, _mk(spark, [(1, 1.0, "x"), (1, 2.0, "y")]), "k")


def test_merge_dup_probe_gate_both_sides(spark, tmp_path, monkeypatch):
    """r14 defect-class sweep: the duplicate-key fan-out probe hints
    broadcast only while the distinct-duplicated-key bound (from the
    source agg, no extra job) is small — past it AQE sizes the
    semi-join.  Both branches must still refuse the fan-out."""
    root = str(tmp_path / "m_dup_gate")
    dp.create_table(_mk(spark, [(1, 10.0, "a")]), root)
    src = _mk(spark, [(1, 1.0, "x"), (1, 2.0, "y")])
    with pytest.raises(DeltaProtocolError, match="duplicate"):
        dp.merge(spark, root, src, "k")
    monkeypatch.setattr(dp, "_MERGE_DUP_PROBE_BROADCAST_MAX", 0)
    with pytest.raises(DeltaProtocolError, match="duplicate"):
        dp.merge(spark, root, src, "k")
    # non-fanout merges are unaffected by the gated-off branch
    dp.merge(spark, root, _mk(spark, [(1, 3.0, "z"), (2, 4.0, "w")]), "k")
    got = _rows(dp.read_table(spark, root))
    assert got == _rows(_mk(spark, [(1, 3.0, "z"), (2, 4.0, "w")]))


def test_merge_duplicate_unmatched_keys_insert(spark, tmp_path):
    """Duplicate source keys that match NO target row are plain
    multi-row inserts — Delta allows them; raising here would diverge."""
    root = str(tmp_path / "m_dup_ok")
    dp.create_table(_mk(spark, [(1, 10.0, "a")]), root)
    dp.merge(spark, root, _mk(spark, [(7, 1.0, "x"), (7, 2.0, "y")]), "k")
    got = _rows(dp.read_table(spark, root))
    assert got == _rows(
        _mk(spark, [(1, 10.0, "a"), (7, 1.0, "x"), (7, 2.0, "y")])
    )


def test_merge_skips_disjoint_rewrites_straddling(spark, tmp_path):
    """Stats-based file skipping: a file whose [min,max] is disjoint
    from the source key range survives untouched; a file whose range
    straddles it MUST be rewritten."""
    root = str(tmp_path / "m_skip")
    dp.create_table(_mk(spark, [(0, 1.0, "a"), (9, 2.0, "a")]), root)
    dp.append(_mk(spark, [(100, 3.0, "b"), (109, 4.0, "b")]), root)
    before = {a["path"] for a in dp.resolve(spark, root).adds}
    out = dp.merge(spark, root, _mk(spark, [(5, 50.0, "s"), (9, 90.0, "s")]), "k")
    assert out["files_skipped"] == 1 and out["files_rewritten"] == 1
    after = {a["path"] for a in dp.resolve(spark, root).adds}
    # the disjoint file's add survives byte-identical
    assert len(before & after) == 1
    got = _rows(dp.read_table(spark, root))
    assert got == _rows(
        _mk(
            spark,
            [
                (0, 1.0, "a"),
                (9, 90.0, "s"),
                (5, 50.0, "s"),
                (100, 3.0, "b"),
                (109, 4.0, "b"),
            ],
        )
    )


def test_merge_stats_less_file_is_rewritten_not_skipped(spark, tmp_path):
    """An add-action with no stats gives no bounds: merge must treat it
    as always-intersecting and rewrite it — skipping would insert the
    source row as a duplicate instead of updating."""
    root = str(tmp_path / "m_nostats")
    dp.create_table(_mk(spark, [(1, 10.0, "a"), (2, 20.0, "b")]), root)
    _strip_stats(root)
    out = dp.merge(spark, root, _mk(spark, [(2, 99.0, "B")]), "k")
    assert out["files_skipped"] == 0 and out["files_rewritten"] >= 1
    got = _rows(dp.read_table(spark, root))
    assert got == _rows(_mk(spark, [(1, 10.0, "a"), (2, 99.0, "B")]))


def test_merge_preserves_dv_deleted_rows(spark, tmp_path):
    """MERGE's rewrite scans through _live_rows: a DV-deleted row must
    not resurrect, and must NOT count as a match target."""
    root = str(tmp_path / "m_dv")
    dp.create_table(
        _mk(spark, [(1, 10.0, "a"), (2, 20.0, "a"), (3, 30.0, "b")]), root
    )
    dp.delete_where_dv(spark, root, "k = 2")
    dp.merge(spark, root, _mk(spark, [(3, 99.0, "B"), (2, 22.0, "back")]), "k")
    got = _rows(dp.read_table(spark, root))
    # k=2 was dead: the source row is NOT MATCHED and inserts fresh
    assert got == _rows(
        _mk(spark, [(1, 10.0, "a"), (2, 22.0, "back"), (3, 99.0, "B")])
    )


def test_merge_empty_source_commits_nothing(spark, tmp_path):
    root = str(tmp_path / "m_empty")
    dp.create_table(_mk(spark, [(1, 10.0, "a")]), root)
    out = dp.merge(spark, root, _mk(spark, []), "k")
    assert out["files_rewritten"] == 0
    assert _rows(dp.read_table(spark, root)) == _rows(_mk(spark, [(1, 10.0, "a")]))


def _spy_broadcast(monkeypatch, calls):
    real = dp.F.broadcast

    def spy(df):
        calls.append(df)
        return real(df)

    monkeypatch.setattr(dp.F, "broadcast", spy)


def test_merge_cdf_table_spanning_drops_broadcast_hint(
    spark, tmp_path, monkeypatch
):
    """r9 verdict "what's wrong" #1: when the source keys span every
    file's range, the rewrite set IS the table and an explicit
    F.broadcast on its key column would OOM the driver at 100 TB.  The
    hint must be absent (AQE sizes the join at runtime) — asserted by
    spying F.broadcast inside the merge call: zero hints for a spanning
    merge over 20 files.  CDF output must stay byte-identical."""
    root = str(tmp_path / "m_cdf_span")
    rows = [(i, float(i), "a") for i in range(100)]
    df = spark.createDataFrame(
        rows, "k bigint, price double, grp string"
    ).repartition(20)
    dp.create_table(df, root, configuration={"delta.enableChangeDataFeed": "true"})
    n_files = len(dp.resolve(spark, root).adds)
    assert n_files > 16  # fixture premise: well past a point-ish merge
    # source spans the full key range -> every file's stats intersect
    src = _mk(spark, [(0, -1.0, "z"), (99, -2.0, "z"), (500, -3.0, "z")])
    calls: list = []
    _spy_broadcast(monkeypatch, calls)
    out = dp.merge(spark, root, src, "k")
    assert out["files_rewritten"] == n_files and out["files_skipped"] == 0
    assert calls == []  # no explicit hint anywhere in the spanning path
    ch = dp.table_changes(spark, root, 1, 1)
    assert _rows(ch.select("k", "price", "_change_type")) == sorted(
        [
            (0, 0.0, "update_preimage"),
            (0, -1.0, "update_postimage"),
            (99, 99.0, "update_preimage"),
            (99, -2.0, "update_postimage"),
            (500, -3.0, "insert"),
        ],
        key=lambda t: tuple(map(str, t)),
    )


# ---------------------------------------------------------------------------
# _footer_min_max coverage + NaN guards (r8 ADVICE medium #2, nit #4)


class _St:
    def __init__(self, lo, hi):
        self.has_min_max = lo is not None
        self.min, self.max = lo, hi


class _Col:
    def __init__(self, name, st):
        self.path_in_schema = name
        self.statistics = st


class _RG:
    def __init__(self, cols):
        self._c = cols
        self.num_columns = len(cols)

    def column(self, i):
        return self._c[i]


class _Meta:
    def __init__(self, rgs):
        self._r = rgs
        self.num_row_groups = len(rgs)

    def row_group(self, i):
        return self._r[i]


def test_footer_min_max_drops_partially_covered_columns():
    """A column missing stats in ANY row group gets no bounds at all —
    aggregating only the covered row groups yields bounds NARROWER than
    the file's true range and merge would wrongly skip the file."""
    meta = _Meta(
        [
            _RG([_Col("a", _St(1, 5)), _Col("b", _St(1, 5))]),
            _RG([_Col("a", _St(None, None)), _Col("b", _St(3, 9))]),
        ]
    )
    out = dp._footer_min_max(meta)
    assert out == {"minValues": {"b": 1}, "maxValues": {"b": 9}}


def test_footer_min_max_drops_nan_bounds():
    """NaN stats give no ordering information AND json.dumps would emit
    a bare NaN token (invalid JSON for external Delta readers)."""
    meta = _Meta(
        [_RG([_Col("f", _St(float("nan"), float("nan"))), _Col("g", _St(1.0, 2.0))])]
    )
    out = dp._footer_min_max(meta)
    assert out == {"minValues": {"g": 1.0}, "maxValues": {"g": 2.0}}
    assert not math.isnan(out["minValues"]["g"])


def test_footer_min_max_drops_missing_stats_entirely():
    meta = _Meta([_RG([_Col("a", None)])])
    assert dp._footer_min_max(meta) == {}


def test_stage_writes_parseable_stats_json(spark, tmp_path):
    """Every add staged by _stage_data_files carries strict-JSON stats
    (numRecords always; bounds when the footer has full coverage)."""
    root = str(tmp_path / "stats_json")
    dp.create_table(_mk(spark, [(1, 10.0, "a"), (2, 20.0, "b")]), root)
    for a in dp.resolve(spark, root).adds:
        stats = json.loads(a["stats"])  # parse_constant raises on NaN
        assert stats["numRecords"] >= 1
        assert stats["minValues"]["k"] == 1 and stats["maxValues"]["k"] == 2


# ---------------------------------------------------------------------------
# merge_clauses: full conditional MERGE INTO (r10)


def _mk_target(spark, tmp_path, name, cdf=False):
    root = str(tmp_path / name)
    conf = {"delta.enableChangeDataFeed": "true"} if cdf else None
    dp.create_table(
        _mk(spark, [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")]),
        root,
        configuration=conf,
    )
    return root


def test_clauses_ordered_update_then_delete(spark, tmp_path):
    """First matching clause wins: matched rows with s.price > t.price
    update; remaining matched rows delete; unmatched target rows stay."""
    root = _mk_target(spark, tmp_path, "mc_order")
    src = _mk(spark, [(1, 99.0, "s1"), (2, 5.0, "s2")])
    out = dp.merge_clauses(
        spark, root, src, "k",
        [
            {"when": "matched", "condition": "s.price > t.price",
             "action": "update", "set": {"price": "s.price"}},
            {"when": "matched", "action": "delete"},
        ],
    )
    assert out["num_updated"] == 1 and out["num_deleted"] == 1
    got = _rows(dp.read_table(spark, root))
    # k=1 updated price only (grp keeps target value), k=2 deleted
    assert got == _rows(_mk(spark, [(1, 99.0, "a"), (3, 30.0, "c")]))


def test_clauses_conditional_insert_nulls_unset(spark, tmp_path):
    root = _mk_target(spark, tmp_path, "mc_ins")
    src = _mk(spark, [(7, 70.0, "x"), (8, 1.0, "y")])
    out = dp.merge_clauses(
        spark, root, src, "k",
        [
            {"when": "not_matched", "condition": "s.price > 10",
             "action": "insert", "set": {"k": "s.k", "price": "s.price"}},
        ],
    )
    assert out["num_inserted"] == 1
    got = _rows(dp.read_table(spark, root).filter("k = 7"))
    assert got == [(7, 70.0, None)]  # grp unset -> NULL
    assert dp.read_table(spark, root).filter("k = 8").count() == 0


def test_clauses_not_matched_by_source_forces_full_rewrite(spark, tmp_path):
    """Any not_matched_by_source clause makes EVERY file a rewrite
    candidate (a target-only row can live anywhere) — Delta's own
    documented full-scan behavior; and the clause's condition applies."""
    root = str(tmp_path / "mc_nmbs")
    dp.create_table(_mk(spark, [(1, 10.0, "a"), (2, 20.0, "b")]), root)
    dp.append(_mk(spark, [(100, 1.0, "z")]), root)  # range-disjoint file
    src = _mk(spark, [(1, 11.0, "a")])
    out = dp.merge_clauses(
        spark, root, src, "k",
        [
            {"when": "matched", "action": "update_all"},
            {"when": "not_matched_by_source", "condition": "t.price >= 20",
             "action": "delete"},
        ],
    )
    assert out["files_skipped"] == 0  # disjoint file still rewritten
    assert out["num_deleted"] == 1  # only k=2 (t.price>=20); k=100 kept
    got = _rows(dp.read_table(spark, root))
    assert got == _rows(_mk(spark, [(1, 11.0, "a"), (100, 1.0, "z")]))


def test_clauses_nmbs_update_expression_over_target(spark, tmp_path):
    root = _mk_target(spark, tmp_path, "mc_nmbs_upd")
    src = _mk(spark, [(1, 10.0, "a")])
    dp.merge_clauses(
        spark, root, src, "k",
        [
            {"when": "not_matched_by_source", "action": "update",
             "set": {"price": "t.price * 2"}},
        ],
    )
    got = _rows(dp.read_table(spark, root))
    assert got == _rows(
        _mk(spark, [(1, 10.0, "a"), (2, 40.0, "b"), (3, 60.0, "c")])
    )


def test_clauses_stats_skipping_without_nmbs(spark, tmp_path):
    root = str(tmp_path / "mc_skip")
    dp.create_table(_mk(spark, [(1, 10.0, "a"), (2, 20.0, "b")]), root)
    dp.append(_mk(spark, [(100, 1.0, "z")]), root)
    out = dp.merge_clauses(
        spark, root, _mk(spark, [(1, 99.0, "s")]), "k",
        [{"when": "matched", "action": "update_all"}],
    )
    assert out["files_skipped"] == 1 and out["files_rewritten"] == 1


def test_clauses_update_set_mixes_t_and_s(spark, tmp_path):
    root = _mk_target(spark, tmp_path, "mc_mix")
    src = _mk(spark, [(2, 5.0, "s2")])
    dp.merge_clauses(
        spark, root, src, "k",
        [
            {"when": "matched", "action": "update",
             "set": {"price": "t.price + s.price", "grp": "concat(t.grp, s.grp)"}},
        ],
    )
    got = _rows(dp.read_table(spark, root).filter("k = 2"))
    assert got == [(2, 25.0, "bs2")]


def test_clauses_null_key_source_rows_reach_insert(spark, tmp_path):
    root = _mk_target(spark, tmp_path, "mc_null")
    src = _mk(spark, [(None, 5.0, "n"), (9, 9.0, "i")])
    out = dp.merge_clauses(
        spark, root, src, "k",
        [{"when": "not_matched", "action": "insert_all"}],
    )
    assert out["num_inserted"] == 2
    assert dp.read_table(spark, root).count() == 5


def test_clauses_validation_errors(spark, tmp_path):
    root = _mk_target(spark, tmp_path, "mc_bad")
    src = _mk(spark, [(1, 1.0, "x")])
    with pytest.raises(DeltaProtocolError, match="unreachable"):
        dp.merge_clauses(
            spark, root, src, "k",
            [
                {"when": "matched", "action": "delete"},
                {"when": "matched", "action": "update_all"},
            ],
        )
    with pytest.raises(DeltaProtocolError, match="not valid"):
        dp.merge_clauses(
            spark, root, src, "k",
            [{"when": "not_matched", "action": "delete"}],
        )
    with pytest.raises(DeltaProtocolError, match="unknown column"):
        dp.merge_clauses(
            spark, root, src, "k",
            [{"when": "matched", "action": "update", "set": {"nope": "1"}}],
        )
    with pytest.raises(DeltaProtocolError, match="unknown WHEN"):
        dp.merge_clauses(
            spark, root, src, "k",
            [{"when": "sometimes", "action": "update"}],
        )


def test_clauses_duplicate_matching_keys_raise(spark, tmp_path):
    root = _mk_target(spark, tmp_path, "mc_dup")
    src = _mk(spark, [(1, 1.0, "x"), (1, 2.0, "y")])
    with pytest.raises(DeltaProtocolError, match="duplicate"):
        dp.merge_clauses(
            spark, root, src, "k",
            [{"when": "matched", "action": "update_all"}],
        )


def test_clauses_cdf_emits_all_change_types(spark, tmp_path):
    root = _mk_target(spark, tmp_path, "mc_cdf", cdf=True)
    src = _mk(spark, [(1, 99.0, "s1"), (2, 5.0, "s2"), (7, 70.0, "s7")])
    dp.merge_clauses(
        spark, root, src, "k",
        [
            {"when": "matched", "condition": "s.price > t.price",
             "action": "update_all"},
            {"when": "matched", "action": "delete"},
            {"when": "not_matched", "action": "insert_all"},
        ],
    )
    ch = dp.table_changes(spark, root, 1, 1)
    assert _rows(ch.select("k", "price", "_change_type")) == sorted(
        [
            (1, 10.0, "update_preimage"),
            (1, 99.0, "update_postimage"),
            (2, 20.0, "delete"),
            (7, 70.0, "insert"),
        ],
        key=lambda t: tuple(map(str, t)),
    )


def test_clauses_unclaimed_matched_rows_carry_unchanged(spark, tmp_path):
    """A matched row claimed by no clause is copied as-is through the
    rewrite (not dropped, not updated)."""
    root = _mk_target(spark, tmp_path, "mc_keep")
    src = _mk(spark, [(1, 0.0, "s1")])
    dp.merge_clauses(
        spark, root, src, "k",
        [
            {"when": "matched", "condition": "s.price > t.price",
             "action": "update_all"},
        ],
    )
    got = _rows(dp.read_table(spark, root))
    assert got == _rows(
        _mk(spark, [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")])
    )


def test_insert_only_merge_rewrites_nothing(spark, tmp_path):
    """An insert-only clause merge must stage ONLY its inserts — the
    matched files stay in place (no remove actions, no restage), which
    is also what makes it legal on appendOnly tables."""
    root = _mk_target(spark, tmp_path, "mc_insonly")
    before = {a["path"] for a in dp.resolve(spark, root).adds}
    out = dp.merge_clauses(
        spark, root, _mk(spark, [(1, 1.0, "dup"), (7, 70.0, "new")]), "k",
        [{"when": "not_matched", "action": "insert_all"}],
    )
    assert out["files_rewritten"] == 0 and out["num_inserted"] == 1
    after = {a["path"] for a in dp.resolve(spark, root).adds}
    assert before < after  # originals untouched, one new file
    got = _rows(dp.read_table(spark, root))
    assert got == _rows(
        _mk(spark, [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c"),
                    (7, 70.0, "new")])
    )


def test_append_only_table_refuses_mutations(spark, tmp_path):
    """delta.appendOnly=true: deletes/updates/mutating merges refuse;
    appends and insert-only merges stay legal."""
    root = str(tmp_path / "ao")
    dp.create_table(
        _mk(spark, [(1, 10.0, "a")]), root,
        configuration={"delta.appendOnly": "true"},
    )
    dp.append(_mk(spark, [(2, 20.0, "b")]), root)  # appends fine
    with pytest.raises(DeltaProtocolError, match="append-only"):
        dp.delete_where(spark, root, "k = 1")
    with pytest.raises(DeltaProtocolError, match="append-only"):
        dp.delete_where_dv(spark, root, "k = 1")
    with pytest.raises(DeltaProtocolError, match="append-only"):
        dp.update_where(spark, root, "k = 1", {"price": "0.0"})
    with pytest.raises(DeltaProtocolError, match="append-only"):
        dp.merge(spark, root, _mk(spark, [(1, 1.0, "x")]), "k")
    with pytest.raises(DeltaProtocolError, match="append-only"):
        dp.overwrite_where(spark, root, "grp = 'a'",
                           _mk(spark, [(9, 9.0, "a")]))
    with pytest.raises(DeltaProtocolError, match="append-only"):
        dp.merge_clauses(
            spark, root, _mk(spark, [(1, 1.0, "x")]), "k",
            [{"when": "matched", "action": "delete"}],
        )
    # insert-only merge is the documented appendOnly-legal merge shape
    out = dp.merge_clauses(
        spark, root, _mk(spark, [(9, 90.0, "n")]), "k",
        [{"when": "not_matched", "action": "insert_all"}],
    )
    assert out["num_inserted"] == 1 and out["files_rewritten"] == 0
    assert dp.read_table(spark, root).count() == 3
