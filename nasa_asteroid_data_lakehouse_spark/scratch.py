"""Ephemeral scratch-space placement for replay/round-trip queries.

Replay-style queries (streaming drains, VersionedTable round-trips)
build their own scaffolding — micro-batch source files, streaming
checkpoints, sink directories, temporary table roots — and use it for
the duration of one query.  ``query_scratch`` is that lifecycle: one
directory sized from the query's source table, removed when the
``with`` block returns or raises.  That scaffolding is pure scratch:
it is never an input, never survives the query, and its durability is
irrelevant (a crashed replay re-runs from the real parquet inputs).

Structured Streaming checkpoints, however, fsync every offset-log,
commit-log and state-store delta file.  On block devices with slow
sync latency those fsyncs dominate a multi-batch replay (measured at
sf0.1: the FULL OUTER join replay's drain phase halves, 11.6 s ->
6.0 s, when the checkpoint moves from a ~6 ms-fsync disk to tmpfs).
None of that I/O is the operator under measurement.

``scratch_dir`` (and so ``query_scratch``) therefore prefers a
RAM-backed tmpfs (``/dev/shm``) for this scaffolding, overridable with
``$NDL_SCRATCH_DIR`` (set it to a durable path when a deployment wants
replay checkpoints to survive a driver crash mid-query), falling back
to the system tempdir.  In a production pipeline long-lived streams
pass their own durable ``checkpointLocation`` explicitly — these
helpers are only for query-scoped scratch that is removed when the
query returns.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager


# tmpfs must hold a whole replay's scaffolding with headroom; container
# runtimes often cap /dev/shm at 64 MB, where a mid-query ENOSPC would
# be far worse than the fsync latency being avoided.
MIN_TMPFS_FREE_BYTES = 1 << 30


def scratch_base(expect_bytes: int | None = None) -> str | None:
    """Preferred base directory for query-scoped scratch.

    ``expect_bytes`` is the caller's estimate of the scaffolding it is
    about to write (e.g. a multiple of the source table's on-disk
    size).  The fixed 1 GiB floor alone is NOT scale-safe (ADVICE r11
    #1): at larger scale factors a caller can pass the 1 GiB check and
    then ENOSPC tmpfs mid-query with table copies — so when a size
    hint is given, tmpfs is used only if it has the hinted bytes PLUS
    the 1 GiB headroom free, otherwise the (disk-backed, large) system
    tempdir is used.
    """
    env = os.environ.get("NDL_SCRATCH_DIR")
    if env:
        return env
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        try:
            st = os.statvfs(shm)
            need = MIN_TMPFS_FREE_BYTES + max(0, int(expect_bytes or 0))
            if st.f_bavail * st.f_frsize >= need:
                return shm
        except OSError:
            pass
    return None  # tempfile's default


def scratch_dir(prefix: str, expect_bytes: int | None = None) -> str:
    """mkdtemp in the preferred scratch base (see module docstring).

    Pass ``expect_bytes`` when the scaffolding size is knowable up
    front (it usually is: a replay writes a bounded multiple of its
    source table) so the tmpfs placement degrades to disk instead of
    ENOSPC-ing when tmpfs is too small for THIS query's data."""
    return tempfile.mkdtemp(prefix=prefix, dir=scratch_base(expect_bytes))


@contextmanager
def query_scratch(prefix: str, sf_dir: str, table: str) -> Iterator[str]:
    """Scratch directory for one query, removed when the block returns
    or raises.  A query that returns a frame built on this directory
    must materialize it inside the block (e.g.
    ``localCheckpoint(eager=True)``).

    The size hint is 8x the on-disk bytes of ``table``'s parquet under
    ``sf_dir``: a lake round-trip keeps every commit's files until
    vacuum (3-5 commits, each O(touched buckets) plus the v0 full copy)
    and a replay adds batch files + checkpoint state, so 8x the
    (compressed parquet) source is a conservative envelope for all
    current callers."""
    from nasa_asteroid_data_lakehouse_spark.streaming.tuning import dir_bytes

    source = os.path.join(sf_dir, f"{table}.parquet")
    tmp = scratch_dir(prefix, 8 * dir_bytes(source))
    try:
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
