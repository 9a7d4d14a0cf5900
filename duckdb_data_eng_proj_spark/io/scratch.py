"""Process-scoped scratch root: the one place ephemeral directories
live — sink/roundtrip/index operators (``scratch_dir``), streaming
sources and checkpoints (``scratch_tmp``) and the stress harness's
amplified copy.

Rounds 1-4 hardcoded ``/root/repo/.tmp`` (VERDICT r4 "What's wrong"
#2, ADVICE r4): that breaks any other checkout location, and
concurrent runs (bench + correctness driver) shared the same sink
directories, so a reader could observe a half-finished overwrite.

Resolution order:
- ``SPARK_GRAFT_TMP`` env var if set (to place scratch on a specific
  filesystem — e.g. fast local NVMe rather than the OS tempdir);
- else the system tempdir.

The root is suffixed per-process so concurrent local runs never share
a sink dir, and it is ALWAYS removed at interpreter exit (including
under ``SPARK_GRAFT_TMP``) so ``pytest`` + ``bench`` leave a clean
tree — this is ephemeral scratch, not a durable sink; durable outputs
belong in an explicit job-owned path, not here.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_ROOT: str | None = None


def scratch_root() -> str:
    """Lazily-created per-process scratch directory (removed at exit)."""
    global _ROOT
    if _ROOT is None:
        base = os.environ.get("SPARK_GRAFT_TMP") or os.path.join(
            tempfile.gettempdir(), "spark_graft"
        )
        root = os.path.join(base, f"run_{os.getpid()}")
        os.makedirs(root, exist_ok=True)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _ROOT = root
    return _ROOT


def scratch_dir(name: str) -> str:
    """Path for a named scratch subdirectory (writers create it)."""
    return os.path.join(scratch_root(), name)


def scratch_tmp(prefix: str) -> str:
    """Unique-per-call scratch directory under the process scratch
    root: honors SPARK_GRAFT_TMP and is removed at interpreter exit.
    Uniqueness matters — streaming checkpoints must NEVER be reused
    across invocations (a reused checkpoint makes a re-run see every
    source file as already processed and emit nothing), so this is
    mkdtemp under the managed root, not a fixed scratch_dir(name)."""
    return tempfile.mkdtemp(prefix=prefix, dir=scratch_root())


def graft_warehouse(spark, *reset_tables: str) -> str:
    """The ONE definition of the ``graft_wh`` managed-table warehouse:
    create the database at the shared scratch location and idempotently
    reset the named tables (catalog entry + on-disk directory — a
    fresh session's in-memory catalog doesn't know the table, but its
    location may survive from an earlier session).

    Single-sourced (r16 review): ``CREATE DATABASE IF NOT EXISTS``
    silently IGNORES the LOCATION clause when the database already
    exists, so a second definition site with a different location
    literal would silently land its tables under the first's directory
    while its rmtree cleaned the wrong path — orphaned table data
    surviving an "idempotent" reset."""
    wh = scratch_dir("warehouse")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS graft_wh LOCATION '{wh}'")
    for name in reset_tables:
        spark.sql(f"DROP TABLE IF EXISTS graft_wh.{name}")
        shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
    return wh
