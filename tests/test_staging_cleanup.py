"""A data write that fails while Spark executes it leaves the table as
it found it: every format stages through ``table_core.write_staged``,
which removes its ``_staging_<token>`` directory on the way out, and no
commit is made.  Delta's ``vacuum`` never looks inside ``_staging_*``,
so a leftover staging directory would never be reclaimed."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from incubator_gluten_spark.sources import delta_protocol as dp
from incubator_gluten_spark.sources import hudi_format as hf
from incubator_gluten_spark.sources import iceberg_format as ice


def _listing(root: str) -> list[str]:
    out = []
    for dirpath, dirnames, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        out += [os.path.join(rel, n) + "/" for n in dirnames]
        out += [os.path.join(rel, n) for n in files]
    return sorted(out)


def _good(spark):
    return spark.createDataFrame([(1, 1.0), (2, 2.0)], "k bigint, v double")


def _failing(spark):
    """Same schema; raises only once its one task evaluates ``v`` (one
    task, so no sibling task is still writing when the job aborts)."""
    return spark.range(0, 3, 1, 1).select(
        F.col("id").alias("k"),
        F.when(F.col("id") >= 0, F.raise_error(F.lit("staged write boom")))
        .cast("double")
        .alias("v"),
    )


_WRITERS = {
    "delta": (dp.create_table, lambda s, df, root: dp.append(df, root)),
    "iceberg": (ice.create_table, lambda s, df, root: ice.append(df, root)),
    "hudi": (
        lambda df, root: hf.create_table(df, root, key_col="k"),
        lambda s, df, root: hf.upsert(s, df, root, "k"),
    ),
}


@pytest.mark.parametrize("fmt", sorted(_WRITERS))
def test_failed_write_leaves_the_table_untouched(spark, tmp_path, fmt):
    create, write = _WRITERS[fmt]
    root = str(tmp_path / fmt)
    create(_good(spark), root)
    before = _listing(root)
    with pytest.raises(Exception, match="staged write boom"):
        write(spark, _failing(spark), root)
    assert _listing(root) == before
