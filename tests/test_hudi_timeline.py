"""One Hudi timeline (sources/hudi_format.py) for both table types:
every action, write or service, takes a fresh instant from one
allocator; a writer that loses a race for an instant leaves the table as
it found it; the COW-only services refuse MERGE_ON_READ tables.

The timeline tests lay tables out by hand from the format alone (no
Spark); the race test drives two real upserts."""

from __future__ import annotations

import os

import pytest

from incubator_gluten_spark.sources import hudi_format as hf
from incubator_gluten_spark.sources import table_core


def _hand_table(root: str, table_type: str = "COPY_ON_WRITE") -> list[str]:
    """One file group with a base file at each of two commits.  Base
    files are empty: every service here plans from names alone."""
    os.makedirs(hf._timeline_dir(root))
    with open(os.path.join(hf._timeline_dir(root), "hoodie.properties"), "w") as f:
        f.write(f"hoodie.table.type={table_type}\nhoodie.table.recordkey.fields=k\n")
    commits = []
    for _ in range(2):
        instant = hf._next_instant(root)
        open(os.path.join(root, f"fg1_0-1-0_{instant}.parquet"), "wb").close()
        hf._commit_instant(root, instant, {})
        commits.append(instant)
    return commits


def _named(root: str) -> set[str]:
    return {n.split(".")[0] for n in os.listdir(hf._timeline_dir(root))} - {"hoodie"}


def test_every_action_takes_a_new_instant(tmp_path):
    root = str(tmp_path / "t")
    c0, c1 = _hand_table(root)
    seen = _named(root)

    def fresh(instant: str) -> str:
        assert instant not in seen, f"{instant} reused"
        seen.add(instant)
        return instant

    fresh(hf.clean(root)["instant"])  # deletes fg1@c0, horizon c1
    fresh(hf.savepoint(root, c1)["instant"])
    # a write that crashed after its markers and before its commit
    crashed = fresh(hf._next_instant(root))
    tdir = hf._timeline_dir(root)
    for suffix in (".requested", ".inflight"):
        table_core.put_if_absent(os.path.join(tdir, f"{crashed}.commit{suffix}"), "{}")
    # the next write steps over the crashed instant
    write = fresh(hf._next_instant(root))
    open(os.path.join(root, f"fg1_0-1-0_{write}.parquet"), "wb").close()
    hf._commit_instant(root, write, {})
    assert hf.completed_instants(root) == [c0, c1, write]
    assert hf.pending_instants(root) == [crashed]

    # rolling back the newest commit touches nothing of the services
    fresh(hf.rollback(root, write)["instant"])
    assert [n for n in os.listdir(tdir) if n.endswith(".clean")]
    assert hf.clean_horizon(root) == c1
    with pytest.raises(hf.HudiFormatError, match="cleaner horizon"):
        hf.snapshot_files(root, as_of=c0)
    assert hf.snapshot_files(root) == [os.path.join(root, f"fg1_0-1-0_{c1}.parquet")]
    fresh(hf.rollback(root)["instant"])
    assert hf.pending_instants(root) == []


def test_a_table_under_a_hoodie_named_directory_lists_its_files(tmp_path):
    """Only the table's own ``.hoodie`` is skipped, not every path that
    contains the string."""
    root = str(tmp_path / "backup.hoodie" / "t")
    _, c1 = _hand_table(root)
    assert hf.snapshot_files(root) == [os.path.join(root, f"fg1_0-1-0_{c1}.parquet")]


@pytest.mark.parametrize("service", ["clean", "rollback"])
def test_cow_services_refuse_merge_on_read(tmp_path, service):
    """Both plan from base files alone: on a MERGE_ON_READ table they
    would delete a base file and orphan the log files attached to it."""
    root = str(tmp_path / "mor")
    _, c1 = _hand_table(root, "MERGE_ON_READ")
    before = sorted(os.listdir(root)), sorted(os.listdir(hf._timeline_dir(root)))
    call = {"clean": lambda: hf.clean(root), "rollback": lambda: hf.rollback(root, c1)}
    with pytest.raises(hf.HudiFormatError, match="MERGE_ON_READ"):
        call[service]()
    assert (sorted(os.listdir(root)), sorted(os.listdir(hf._timeline_dir(root)))) == before


def _tree(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, n), root)
        for d, _, names in os.walk(root)
        for n in names
    )


@pytest.mark.parametrize(
    "b_rows",
    [[(1, "B"), (9, "new")], [(9, "new")]],
    ids=["rewrites-the-same-group", "inserts-only"],
)
def test_writer_that_loses_a_race_leaves_the_table_unchanged(
    spark, tmp_path, monkeypatch, b_rows
):
    """Writers A and B both read the timeline before either commits, so
    both take the same instant.  A commits; B fails with
    ``FileExistsError`` — at A's base file of the same name or at the
    timeline — and leaves no file or marker behind."""
    ddl = "k bigint, v string"
    root = str(tmp_path / "race")
    hf.create_table(spark.createDataFrame([(1, "a"), (2, "b")], ddl), root, key_col="k")
    pinned = hf._next_instant(root)
    monkeypatch.setattr(hf, "_next_instant", lambda _root: pinned)
    hf.upsert(spark, spark.createDataFrame([(1, "A")], ddl), root, "k")
    before = _tree(root)
    with pytest.raises(FileExistsError):
        hf.upsert(spark, spark.createDataFrame(b_rows, ddl), root, "k")
    assert _tree(root) == before
    assert hf.pending_instants(root) == []
    got = sorted(map(tuple, hf.read_table(spark, root).collect()))
    assert got == [(1, "A"), (2, "b")]
