"""What a registered query builder leaves behind: tracked persists,
scratch dirs, temp views and managed tables.

Several plans persist an intermediate frame that the RETURNED DataFrame
still depends on (LSH signatures, Bloom filter frames, phash frames,
graph edges), and round-trip, replay and SQL builders return frames
that read a scratch dir, a memory-sink view or bucketed tables, so the
builder cannot clean up before the caller materializes the result — but
never cleaning up leaks blocks, files and catalog entries across a
many-query sweep (the driver correctness pass runs 50 builders in one
session; the local battery runs 270).

The contract here: persists register through :func:`track`, scratch
dirs come from :func:`scratch`, views and managed tables register
through :func:`temp_view` / :func:`table`, and the registry invokes
:func:`release_all` at the START of each builder (and once at
interpreter exit). So a registered query's side-state lives until the
next registered builder starts, and its frame must be materialized
before then — as every harness here does it (build, collect, next). A
builder that calls a registered twin releases mid-build, so twins own
no side-state. ``unpersist(blocking=False)`` keeps the eviction off the
query's critical path. Dirs are always removed; views and tables are
dropped best effort (a stopped session may refuse).

Thread model: ``_LIVE`` (tracked persisted frames only) and ``_HELD``
(everything else) are lock-guarded, and :func:`scope` tracks the
frames ITS OWN THREAD registers (thread-local collector) rather than a
length mark — two concurrent foreachBatch streams each running a scoped
step can never release each other's persists (code-review r10: a
length-mark scope popped frames a concurrent thread appended while the
scope was open — the exact cross-caller eviction the scope exists to
prevent).
"""

from __future__ import annotations

import atexit
import functools
import shutil
import tempfile
import threading
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_LIVE: list[DataFrame] = []
_HELD: list[Callable[[], None]] = []  # one undo step per piece of side-state
_LOCK = threading.Lock()
_SCOPES = threading.local()  # per-thread stack of active scope collectors


def track(df: DataFrame) -> DataFrame:
    """Register an already-persisted frame for deferred eviction."""
    with _LOCK:
        _LIVE.append(df)
    for collector in getattr(_SCOPES, "stack", []):
        collector.append(df)
    return df


def persist_tracked(df: DataFrame, level=None) -> DataFrame:
    """``df.persist(level)`` (default MEMORY_AND_DISK) + :func:`track`."""
    from pyspark import StorageLevel

    return track(df.persist(level or StorageLevel.MEMORY_AND_DISK))


@functools.cache
def _release_at_exit() -> None:
    # first called after the JVM gateway registered its own exit hook, so
    # (LIFO) this one runs while the session can still drop tables
    atexit.register(release_all)


def _hold(undo: Callable[[], None]) -> None:
    _release_at_exit()
    with _LOCK:
        _HELD.append(undo)


def scratch(name: str) -> str:
    """A fresh ``lds_<name>_*`` temp dir, removed at the next release."""
    path = tempfile.mkdtemp(prefix=f"lds_{name}_")
    _hold(lambda: shutil.rmtree(path, ignore_errors=True))
    return path


def temp_view(spark: SparkSession, name: str) -> str:
    """Drop temp view ``name`` (e.g. a memory sink's) at the next release."""
    _hold(lambda: spark.catalog.dropTempView(name))
    return name


def table(spark: SparkSession, name: str) -> str:
    """Drop managed table ``name`` and its files at the next release."""
    _hold(lambda: spark.sql(f"DROP TABLE IF EXISTS `{name}`"))
    return name


def _release(frames: list[DataFrame]) -> None:
    for df in frames:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass  # session already stopped — blocks are gone anyway


def release_all() -> None:
    """Evict every tracked frame and drop all held side-state; safe to call
    with a dead session."""
    with _LOCK:
        frames, _LIVE[:] = list(_LIVE), []
        held, _HELD[:] = list(_HELD), []
    _release(frames)
    for undo in held:
        try:
            undo()
        except Exception:
            pass  # a stopped session refused the drop; nothing else to do


@contextmanager
def scope():
    """Release ONLY the frames THIS THREAD tracks inside the block.

    For library code that runs inside someone else's session (e.g. a
    per-micro-batch streaming step): ``release_all()`` there would evict
    frames a concurrent caller persisted for correctness (a
    range-partitioned frame persisted so two subtrees see one partitioner
    draw) before they are materialized (ADVICE r9). Frames another
    thread registers while the scope is open are untouched. Anything the
    scoped persists feed must be materialized before the block exits."""
    collector: list[DataFrame] = []
    stack = getattr(_SCOPES, "stack", None)
    if stack is None:
        stack = _SCOPES.stack = []
    stack.append(collector)
    try:
        yield
    finally:
        stack.pop()
        with _LOCK:
            _LIVE[:] = [df for df in _LIVE if all(df is not c for c in collector)]
        _release(collector)
