"""Process-private scratch root for feed/sink round-trip paths.

Harness queries and the streaming test feeds materialize small parquet/CSV
round-trip files. Those used to live under ``/root/repo/.stream_tmp`` —
inside the repo tree — which was gitignored but still wrote build artifacts
next to source. All such paths now hang off ONE
lazily-created ``tempfile.mkdtemp`` directory per process.

The root must be stable WITHIN a process (not per-call): several queries
return lazily-evaluated frames whose backing files are re-read when the
caller finally collects, sometimes after other queries have run. A single
per-process root keeps those paths alive exactly as the old fixed root did,
and an ``atexit`` hook removes the whole tree on clean interpreter exit.

Callers keep their own lifecycle discipline (rmtree-then-mkdir for feed
dirs, ``mode("overwrite")`` writers) — this module only answers "where".
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_ROOT: str | None = None


def scratch_root() -> str:
    """The per-process scratch directory, created on first use."""
    global _ROOT
    if _ROOT is None:
        _ROOT = tempfile.mkdtemp(prefix="mpr_spark_scratch_")
        atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
    return _ROOT


def scratch_path(*parts: str) -> str:
    """Join ``parts`` under the scratch root. Does NOT create or wipe the
    path — lifecycle stays with the caller."""
    return os.path.join(scratch_root(), *parts)
