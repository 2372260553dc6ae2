"""The engine's one cache lifecycle: pin an intermediate for the
duration of a block, release it on the way out."""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame


@contextmanager
def pinned(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> Iterator[DataFrame]:
    """Persist ``df`` at ``level``, yield it, and unpersist that same
    frame on exit — whether the block returns or raises. Rebinding the
    ``as`` name inside the block does not change what is released.

    The default is ``DataFrame.persist()``'s own default level.

    The cache is gone once the block exits, so anything returned out of
    the block must be materialized inside it (``localCheckpoint(eager=
    True)``, a ``collect``): a lazy frame built over the pin would run
    after the release and silently recompute the pinned lineage.

    Spark swaps in cached data when a plan is compiled for execution,
    so a frame built over ``df`` before the block still reads the pin
    when it runs inside it — unless its plan was compiled earlier (a
    lazy ``localCheckpoint`` compiles at call time); pin before building
    such frames.
    """
    df.persist(level)
    try:
        yield df
    finally:
        df.unpersist()
