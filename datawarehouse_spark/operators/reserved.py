"""The engine's one rule for an operator's working column names.

Operators that add working columns to a caller's frame (match markers,
block ids, tags, scratch keys) must refuse an input column of the same
name: ``withColumn`` would silently replace it, and a later ``drop``
of the working name would delete the caller's data. Spark, like
HiveQL, resolves column names ignoring case by default, so a name
collides whenever the two are equal ignoring case — always, whatever
``spark.sql.caseSensitive`` says (under a case-sensitive session the
only cost is a loud rejection of a frame that would have worked).
"""

from __future__ import annotations

from collections.abc import Iterable


def reject_reserved(caller: str, columns: Iterable[str],
                    names: Iterable[str]) -> None:
    """Raise one ValueError naming ``caller``, the ``columns`` that
    collide with the working ``names`` and those names; return when
    none does."""
    names = list(names)
    folded = {n.lower() for n in names}
    hit = [c for c in columns if c.lower() in folded]
    if hit:
        raise ValueError(
            f"{caller}: column(s) {hit} collide with reserved working "
            f"names {names} (compared ignoring case); rename them first"
        )
