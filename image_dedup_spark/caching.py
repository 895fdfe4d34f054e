"""Caller-owned cache lifecycle for operator-internal materializations.

Operators sometimes want to persist an intermediate that several
branches of their plan share (e.g. the non-singleton band table feeding
both sides of the LSH self-join). A bare ``.cache()`` inside an
operator leaks: the CacheManager pins the InMemoryRelation for the
session's lifetime, so a long-lived service calling the operator
repeatedly accumulates executor memory until eviction churn.

The contract here: operators never call ``.cache()`` directly — they
accept an optional :class:`CacheScope` and register intermediates on
it. The CALLER (who knows when the consuming action has finished)
releases the scope, unpersisting everything it owns. Passing no scope
means no caching at all — the shared subtree is recomputed per consumer
(the measurement at the bottom of this module: the cache wins at every
scale, so the pipeline always scopes).

Usage::

    with CacheScope() as scope:
        out = IO.checkpoint(minhash_dup_pairs(fp, cfg, scope=scope))
        IO.row_count(out)                      # consuming action
    # scope released: no InMemoryRelation outlives the block
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class CacheScope:
    """Owns every DataFrame cached through it; ``release()`` (or leaving
    the ``with`` block) unpersists them all. Idempotent."""

    def __init__(self) -> None:
        self._owned: list[DataFrame] = []

    def cache(self, df: DataFrame) -> DataFrame:
        df = df.cache()
        self._owned.append(df)
        return df

    def release(self) -> None:
        for df in self._owned:
            # A stopped session cannot be leaking cache memory — skip it
            # explicitly instead of swallowing exceptions, so a GENUINE
            # unpersist failure (the exact leak class this abstraction
            # exists to prevent) propagates to the caller rather than
            # silently leaving the InMemoryRelation pinned.
            sc = df.sparkSession.sparkContext
            if getattr(sc, "_jsc", None) is None or sc._jsc.sc().isStopped():
                continue
            # blocking: the lifecycle test asserts storage is empty
            # right after release, and callers release at stage
            # boundaries where a synchronous free is what they mean.
            df.unpersist(blocking=True)
        self._owned.clear()

    def __enter__(self) -> "CacheScope":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


# Measured (200k docs, 32c, sf0.1 bench corpus): window+scope-cache 4.5s
# vs window+no-cache 8.9s for the minhash stage — the cache wins at every
# scale once the candidate table feeds 5 consumers (self-join both sides,
# star, salted both sides); the round-2 regression was the static-SHJ
# conf, not the cache. So callers always scope; the scope exists for
# LIFECYCLE (release after the consuming action), not for opting out.
