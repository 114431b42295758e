"""Deferred-release persist registry.

Query builders persist bounded intermediates that several union legs
of the SAME materialization consume (conversion latencies, sliding-
DAU cells, shard permutations...).  The release can't happen inside
the builder — the consumers materialize later, at the caller's sink —
but a long-lived driver session that rebuilds slots back-to-back must
not accumulate one cache generation per build (the round-5 bench
regression: never-released caches slowed the dedup family 2.8-4.1x).

:func:`slot_persist` gives each call site a stable key and releases
the PREVIOUS frame registered under that key before persisting the
new one: at most one live cache generation per site, no matter how
many times the slot is rebuilt.  Releasing a frame whose owning
session has stopped is a no-op (the registry outlives sessions in
test processes).

Not thread-safe: callers are query builders running on the driver's
calling thread (the parallel_branches workers run ``operators/``
functions, which never call it), so the pop/unpersist/persist/register
sequence takes no lock.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_REGISTRY: dict = {}


def slot_persist(key: tuple, df: DataFrame) -> DataFrame:
    """persist ``df``, first unpersisting whatever frame this call
    site (identified by ``key``) registered on its previous build."""
    old = _REGISTRY.pop(key, None)
    if old is not None:
        try:
            old.unpersist()
        except Exception:  # noqa: BLE001 - owning session already stopped
            pass
    out = df.persist()
    _REGISTRY[key] = out
    return out
