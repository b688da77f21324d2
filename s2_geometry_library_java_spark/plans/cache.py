"""The one owner of cached intermediates.

``hold(df)`` is the package's only persist: one storage level
(MEMORY_AND_DISK), and the held DataFrame joins the innermost open
``scope()``. ``checkpoint(df)`` is its only local checkpoint, and its
blocks join the scope the same way. Leaving a scope unpersists everything
held inside it, so a caller that wraps its action in a scope leaves no
cached block behind and a repeated call recomputes instead of reading the
last call's blocks. Scopes nest; each releases only its own blocks.

With no scope open, ``hold`` is a plain persist and ``checkpoint`` a plain
``localCheckpoint``: the blocks live until the caller unpersists them or
the session clears its cache.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame

#: per open scope, the release of each block set it owns
_scopes: list[list[Callable[[], object]]] = []


def _own(release: Callable[[], object]) -> None:
    if _scopes:
        _scopes[-1].append(release)


def hold(df: DataFrame) -> DataFrame:
    """``df`` persisted and owned by the innermost open scope. A plan that
    is already cached stays with whoever cached it."""
    if df.storageLevel != StorageLevel.NONE:
        return df
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _own(df.unpersist)
    return df


def checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint()``: computed now, its lineage cut, and its
    blocks owned by the innermost open scope. Unlike a held plan, a
    released checkpoint cannot be recomputed, so read it only inside the
    scope."""
    df = df.localCheckpoint()
    rdd = df._jdf.queryExecution().logical().rdd()
    _own(lambda: rdd.unpersist(False))
    return df


@contextmanager
def scope() -> Iterator[None]:
    """Releases, on exit, every block held or checkpointed inside it."""
    owned: list[Callable[[], object]] = []
    _scopes.append(owned)
    try:
        yield
    finally:
        _scopes.pop()
        for release in owned:
            release()
