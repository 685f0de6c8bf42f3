"""The in-entry checks of the ``lakehouse`` entries read the table log
or the write's own observed metrics instead of re-running a pipeline.
Each test here injects the defect one of those checks exists for and
requires the entry to raise: a replayed stream batch that commits, a
merge that drops or doubles the NULL-key row, a released lang missing
from the log's partitions."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from incubator_gluten_spark.plans import collect_all
from incubator_gluten_spark.plans import streaming_queries as sq
from incubator_gluten_spark.session import local_frame
from incubator_gluten_spark.sources import delta_protocol as dp
from incubator_gluten_spark.sources import table_core


def _build(spark, sf_dir, name):
    return collect_all()[name].build(spark, sf_dir)


# -- replay checks: stream_delta_sink and its four twins ------------------


def test_replay_check_reads_the_log_head():
    head = [3]
    sq._assert_replay_noop(lambda: False, lambda: head[0])

    def commits_and_denies():
        head[0] += 1
        return False

    with pytest.raises(RuntimeError, match="replay changed the table"):
        sq._assert_replay_noop(commits_and_denies, lambda: head[0])
    with pytest.raises(RuntimeError, match="replayed batch committed twice"):
        sq._assert_replay_noop(lambda: True, lambda: head[0])


@pytest.mark.parametrize(
    "says_committed, message",
    [
        (False, "replay changed the table"),
        (True, "replayed batch committed twice"),
    ],
)
def test_stream_sink_replay_that_commits_raises(
    spark, sf_dir, monkeypatch, says_committed, message
):
    """On replay the injected sink commits the batch again: it commits an
    empty one, which leaves every row count as it was, so only the
    log's version can tell."""
    real = dp.append_stream_batch

    def append_stream_batch(df, root, app_id, batch_id):
        if real(df, root, app_id, batch_id):
            return True
        dp.append(local_frame(spark, [], df.schema), root)
        return says_committed

    monkeypatch.setattr(dp, "append_stream_batch", append_stream_batch)
    with pytest.raises(RuntimeError, match=message):
        _build(spark, sf_dir, "stream_delta_sink")


# -- src_delta_merge: the NULL-key insert, read from nullCount -------------


def _nulls_dropped(src, key):
    return src.filter(F.col(key).isNotNull())


def _null_doubled(src, key):
    return src.unionByName(src.filter(F.col(key).isNull()))


@pytest.mark.parametrize("defect", [_nulls_dropped, _null_doubled])
@pytest.mark.parametrize("footer_null_counts", [True, False])
def test_merge_null_key_defect_raises(
    spark, sf_dir, monkeypatch, defect, footer_null_counts
):
    """With and without ``nullCount`` in the log: without it the entry
    falls back to counting the NULL keys, and the check holds either
    way."""
    real = dp.merge
    monkeypatch.setattr(
        dp,
        "merge",
        lambda spark, root, src, key: real(spark, root, defect(src, key), key),
    )
    if not footer_null_counts:
        real_stats = dp._footer_min_max

        def no_null_count(meta):
            out = dict(real_stats(meta))
            out.pop("nullCount", None)
            return out

        monkeypatch.setattr(dp, "_footer_min_max", no_null_count)
    with pytest.raises(RuntimeError, match="NULL-key source row was not inserted"):
        _build(spark, sf_dir, "src_delta_merge")


# -- dp_corpus_to_lakehouse: released langs from the write's Observation ---


def test_corpus_lang_missing_from_log_raises(spark, sf_dir, monkeypatch):
    """The write loses the 'de' rows below the observed node: the
    observation still saw them, the log has no 'de' partition."""
    real = dp.create_table

    def create_table(df, root, partition_cols=None, **kw):
        return real(df.filter(F.col("lang") != "de"), root, partition_cols, **kw)

    monkeypatch.setattr(dp, "create_table", create_table)
    with pytest.raises(RuntimeError, match=r"log partitions .* != released langs"):
        _build(spark, sf_dir, "dp_corpus_to_lakehouse")


def test_corpus_reads_the_observation_after_its_write(spark, sf_dir, monkeypatch):
    events = []
    real_create, real_get = dp.create_table, Observation.get

    def create_table(df, root, partition_cols=None, **kw):
        # the write cannot be skipped, so the observation gets filled
        assert not table_core.provably_empty(df)
        assert (
            df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
            == "CollectMetrics"
        )
        events.append("write")
        real_create(df, root, partition_cols, **kw)
        events.append("written")

    def get(self):
        events.append("get")
        return real_get.fget(self)

    monkeypatch.setattr(dp, "create_table", create_table)
    monkeypatch.setattr(Observation, "get", property(get))
    _build(spark, sf_dir, "dp_corpus_to_lakehouse")
    assert events == ["write", "written", "get"]


def test_observed_empty_frame_still_writes(spark, tmp_path):
    """An observed frame keeps its CollectMetrics node, so even an empty
    one is not provably empty: the write runs and ``obs.get`` returns
    instead of waiting for an action that never comes."""
    obs = Observation()
    df = local_frame(spark, [], "doc_id bigint, lang string").observe(
        obs, F.collect_set(F.struct("lang")).alias("langs")
    )
    assert not table_core.provably_empty(df)
    dp.create_table(df, str(tmp_path / "t"), partition_cols=["lang"])
    got = {}
    t = threading.Thread(target=lambda: got.update(obs.get), daemon=True)
    t.start()
    t.join(60)
    assert not t.is_alive(), "obs.get is still waiting for the write"
    assert got == {"langs": []}
