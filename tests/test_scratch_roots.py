"""A process removes its own scratch roots when it exits: the plan
modules' ``IO_DIR`` and the session's default warehouse, and only the
process that registered them (a forked child that exits normally runs
the same exit handlers and must leave its parent's directories)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

_CHILD = r"""
import json, os, sys
from incubator_gluten_spark.plans import sources_queries as sq

root = sq._path("scratch_root_probe")
pid = os.fork()
if pid == 0:
    sys.exit(0)  # a normal exit: runs the inherited exit handlers
os.waitpid(pid, 0)
survived_fork = os.path.isdir(sq.IO_DIR)

from incubator_gluten_spark.session import get_session
from incubator_gluten_spark.sources import delta_protocol as dp

spark = get_session(
    app_name="scratch-roots", master="local[1]", driver_memory="512m"
)
dp.create_table(spark.range(3), root)
print(json.dumps({
    "io_dir": sq.IO_DIR,
    "warehouse": spark.conf.get("spark.sql.warehouse.dir"),
    "rows": dp.read_table(spark, root).count(),
    "survived_fork": survived_fork,
}))
"""


def test_io_dir_and_warehouse_removed_at_exit():
    out = subprocess.run(
        [sys.executable, "-c", _CHILD],
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["rows"] == 3
    assert got["survived_fork"]
    assert not os.path.exists(got["io_dir"])
    warehouse = got["warehouse"].removeprefix("file:")
    assert "spark_graft_warehouse_" in warehouse
    assert not os.path.exists(warehouse)
