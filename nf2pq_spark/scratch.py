"""One per-process scratch root for every directory a query writes and
reads back (streaming checkpoints, sink round-trips, symlinked sources).

A query's returned DataFrame reads its scratch directory lazily, so the
directory must outlive the call; bare ``tempfile.mkdtemp`` therefore
leaked one ``/tmp`` entry per execution with nothing ever removing it.
Every scratch directory lives under one ``nf2pq_scratch_`` root instead,
removed when the process exits; the cold verify drive's ``/tmp/nf2pq_*``
sweep reclaims a root that a crashed process left behind. The stamped
fixture caches (``plans.helpers.materialize_once``) keep their own
stable paths: they are meant to outlive the process.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """A fresh directory under this process's scratch root."""
    global _ROOT
    if _ROOT is None:
        _ROOT = tempfile.mkdtemp(prefix="nf2pq_scratch_")
        atexit.register(shutil.rmtree, _ROOT, True)
    return tempfile.mkdtemp(prefix=prefix, dir=_ROOT)
