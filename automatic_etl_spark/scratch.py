"""Per-process scratch directories for plan-local staging.

Plan functions stage file-stream inputs, streaming checkpoints, and
write-audit tables under /tmp. A fresh ``tempfile.mkdtemp`` per call
leaked one tree per bench/test invocation — ~1.5 GB and 2,600 entries
of residue after six rounds. ``scratch_dir(name)`` gives each call
site ONE fixed tree per (process, name), cleared at call start, so
repeated in-session runs hold exactly one live instance per site.

The root embeds ``os.getpid()``: two concurrent processes (pytest
alongside bench.py, parallel CI jobs) invoking the same call site must
not rmtree each other's live staged inputs or streaming checkpoints
mid-query. The whole per-process root is removed at interpreter exit,
so the fixed-name residue guarantee survives the pid component; a
SIGKILL'd process leaves at most one orphan tree, bounded in size and
reclaimed by normal tempdir hygiene.

Assumptions (same as the plans' ``session.session_conf`` windows):
the engine's query functions run single-threaded per process — two
concurrent invocations of the SAME call site in one process would
race on the shared tree. Names must be unique per call site for the
same reason.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_ROOT = "spark_graft_scratch"
_CLEANUP_REGISTERED = False


def _process_root() -> str:
    return os.path.join(
        tempfile.gettempdir(), _ROOT, f"pid{os.getpid()}"
    )


def _cleanup() -> None:
    shutil.rmtree(_process_root(), ignore_errors=True)


def scratch_dir(name: str) -> str:
    """A fixed per-(process, name) directory, emptied on every call."""
    global _CLEANUP_REGISTERED
    base = os.path.join(_process_root(), name)
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    if not _CLEANUP_REGISTERED:
        atexit.register(_cleanup)
        _CLEANUP_REGISTERED = True
    return base
