"""Lifetime of persisted frames that outlive the function persisting them.

An operator that persists a shared subtree (a signature or fingerprint
table feeding several plan branches, conflation's pinned inputs) returns
a lazy frame whose later actions still read that cache, so it cannot
unpersist before returning. It calls ``pin`` instead; the owner of the
session calls ``release_pinned`` once the outputs have been written or
collected (bench.py does after every timed run). Without the release a
|docs|-sized cache stays in storage memory for the rest of the session.

Persists released in a try/finally inside their own function (the
connected-components edge table) do not come through here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PINNED: list[DataFrame] = []


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` at ``DataFrame.persist()``'s default level and
    register it for ``release_pinned``."""
    df = df.persist()
    _PINNED.append(df)
    return df


def release_pinned() -> int:
    """Unpersist every frame registered by ``pin``; returns how many were
    released. Safe to call at any time: an in-flight plan that still
    references a released frame just recomputes it."""
    n = 0
    while _PINNED:
        df = _PINNED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — session already stopped
            pass
    return n
