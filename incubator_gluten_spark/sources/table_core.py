"""The one commit primitive every table log writes through.

Delta commits, Iceberg metadata versions, Hudi timeline instants and
txnlog commits are all "publish this text under this name, atomically":

* ``put_if_absent`` — a log entry.  The name appears whole or not at
  all, and a second writer of the same name gets ``FileExistsError``
  instead of overwriting the first (``os.link`` refuses an existing
  target).  This is the put-if-absent the real Delta, Iceberg and Hudi
  libraries build their commit protocols on.
* ``replace`` — a pointer file that is rewritten on purpose
  (``version-hint.text``, Delta ``_last_checkpoint``, txnlog
  checkpoints, ``hoodie.properties``).  Readers see the old or the new
  contents, never a torn mix.

Both write a temp file in the target's directory and fsync it before
publishing it.  Temp names start with ``.`` and end in ``.tmp``, so no
log lister matches them: Delta's ``\\d{20}.json``, Hudi's ``*.commit`` /
``*.deltacommit``, txnlog's ``[0-9]*.json``.  A crash between the temp
write and the publish leaves the log at its previous version.
"""

from __future__ import annotations

import contextlib
import os
import uuid
from collections.abc import Callable

__all__ = ["put_if_absent", "replace"]


def _publish(path: str, text: str, publish: Callable[[str, str], None]) -> None:
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "x") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        publish(tmp, path)
    finally:
        # os.link leaves the temp name behind; os.replace consumed it
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)


def put_if_absent(path: str, text: str) -> None:
    """Atomically create ``path`` holding ``text``; raise
    ``FileExistsError`` (leaving the existing bytes untouched) if the
    name is already taken."""
    _publish(path, text, os.link)


def replace(path: str, text: str) -> None:
    """Atomically set ``path`` to ``text``, whether or not it exists."""
    _publish(path, text, os.replace)
