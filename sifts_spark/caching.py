"""Session-scoped cache registry: every operator-internal ``persist()``
is tracked so callers can release executor memory after their action.

Round-1 hazard fixed here: sketch DataFrames (MinHash bands, SimHash
digit arrays, n-gram blocks, bench postings) were pinned with
``persist()`` and never released — a cache leak in any long-lived
pipeline. Operators now route through :func:`track`; pipeline drivers
(bench.py, tests, user jobs) call :func:`release_all` once their action
completes. The persists themselves remain measured-necessary (they stop
Catalyst's project-collapsing from re-inlining md5 sketch subtrees into
both sides of self-joins).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

# STRONG references, deliberately: Spark's CacheManager pins the
# InMemoryRelation JVM-side until an explicit unpersist — garbage-
# collecting the Python wrapper does NOT uncache the plan. The original
# weakref registry silently lost the ability to release any persist
# whose wrapper died before release_all (store.diff's internal frame
# was the first caught case: the returned plan references the cached
# relation, but no Python object keeps the wrapper alive), leaving the
# executor memory pinned forever. Holding the wrapper costs a few
# hundred bytes per entry; release_all drains the list either way.
_TRACKED: list = []  # DataFrames and checkpoints: each has unpersist()
_RELEASE_HOOKS: list = []


def track(df: DataFrame) -> DataFrame:
    """persist() a DataFrame and remember it for :func:`release_all`."""
    df.persist()
    _TRACKED.append(df)
    return df


class _Checkpoint:
    """The RDD behind an eager ``localCheckpoint()``: its blocks stay
    persisted until that RDD is unpersisted (``DataFrame.unpersist``
    only uncaches plans), so a tracked checkpoint releases it."""

    def __init__(self, df: DataFrame):
        self._rdd = df._jdf.queryExecution().logical().rdd()

    def unpersist(self) -> None:
        self._rdd.unpersist(False)


def track_checkpoint(cp: DataFrame) -> DataFrame:
    """Remember the eager ``localCheckpoint()`` ``cp`` like a
    :func:`track` persist, so :func:`release_tracked` /
    :func:`release_all` free its blocks."""
    _TRACKED.append(_Checkpoint(cp))
    return cp


def release_checkpoint(cp: DataFrame) -> None:
    """Free the blocks of an untracked eager ``localCheckpoint()`` now."""
    _Checkpoint(cp).unpersist()


@contextmanager
def release_tracked():
    """Unpersist, on exit, every frame :func:`track` persisted inside
    the block — a verb's own caches. Frames tracked before the block
    (a caller's ``diff()``) stay pinned, which :func:`release_all`
    would drop."""
    kept = list(_TRACKED)  # holds them, so their ids stay unique
    before = {id(df) for df in kept}
    try:
        yield
    finally:
        mine = [df for df in _TRACKED if id(df) not in before]
        _TRACKED[:] = [df for df in _TRACKED if id(df) in before]
        for df in mine:
            try:
                df.unpersist()
            except Exception:
                pass


def register_release_hook(fn) -> None:
    """Register a ``() -> int`` callback run by :func:`release_all` —
    for operator caches that are not DataFrames (e.g. bpe_encode's
    per-model merge-table broadcasts)."""
    _RELEASE_HOOKS.append(fn)


def release_all() -> int:
    """Unpersist every tracked DataFrame still alive (plus registered
    non-DataFrame caches); returns the count."""
    released = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            released += 1
        except Exception:
            pass
    for fn in _RELEASE_HOOKS:
        try:
            released += int(fn() or 0)
        except Exception:
            pass
    return released
