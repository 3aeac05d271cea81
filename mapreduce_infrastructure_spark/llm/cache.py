"""Bounded per-slot persist tracking, shared by the LLM-tier operators.

A query that references an expensive intermediate several times persists
it — but a query function can't unpersist before returning (the caller
hasn't consumed the DataFrame yet). Instead each call site registers its
persisted working set under a (query, sf_dir) slot; re-invoking the same
query unpersists the previous invocation's copy first, so session storage
is bounded at one copy per slot instead of leaking a copy per call.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_CACHE: dict[str, DataFrame] = {}


def tracked_persist(df: DataFrame, slot: str) -> DataFrame:
    prev = _CACHE.get(slot)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass
    _CACHE[slot] = df.persist()
    return _CACHE[slot]


def shared_persist(
    spark: SparkSession, build: Callable[[], DataFrame], slot: str
) -> DataFrame:
    """Get-or-create for slots whose plan is DETERMINISTIC in the slot key
    (e.g. keyed only by sf_dir): return the existing persisted frame when
    present instead of rebuilding it, so several consumer queries in one
    session genuinely share a single cached copy. ``tracked_persist`` is
    wrong for this shape — it unconditionally unpersists the (already
    materialized) previous occupant and re-registers an identical cold
    plan, making every consumer recompute.

    The slot is additionally keyed by the Spark application id so a frame
    built on one session is never handed to another (the hostile-session
    tests run a second session in the same process).
    """
    key = f"{slot}@{spark.sparkContext.applicationId}"
    df = _CACHE.get(key)
    if df is None:
        df = build().persist()
        _CACHE[key] = df
    return df


_VALUES: dict[str, object] = {}
_MISSING = object()  # a build() may legitimately return None
_VALUES_LOCK = __import__("threading").Lock()


def _freeze(v):
    """Make cached numpy values raise on in-place mutation instead of
    silently corrupting every other consumer in the session (round-17
    ADVICE item): ndarray → non-writable view; tuples frozen member-wise.
    Other types pass through (the only non-ndarray values cached today are
    str fit-mode decisions, which are immutable anyway)."""
    import numpy as np

    if isinstance(v, np.ndarray):
        v = v.view()
        v.setflags(write=False)
        return v
    if isinstance(v, tuple):
        return tuple(_freeze(x) for x in v)
    return v


def shared_value(spark: SparkSession, build: Callable[[], object], slot: str):
    """``shared_persist`` for small driver-side values (quantizer fits,
    fit-mode decisions): get-or-create keyed by slot + application id, so
    several consumer queries in one session share one bounded, deterministic
    intermediate instead of re-deriving it per invocation — exactly the
    shingle-table pattern, applied to the k×dim centroid matrices.

    Session-scoped only: the dict dies with the process, so every bench /
    oracle invocation still computes the fit from the parquet inputs.
    Values are frozen (numpy write flag cleared) before caching, so an
    accidental in-place edit by a consumer raises instead of corrupting
    shared state. The slot freezes the first invocation's value for the
    session: if the parquet under the slot's sf_dir is REWRITTEN mid-session
    (the fixtures never are — they are deterministic per driver round),
    later consumers would see the first fit; re-key by an input fingerprint
    before supporting mutable inputs. A lock guards the check-then-set so a
    multi-threaded driver (guide §2.6 overlapping jobs) cannot build twice
    and hand out different object identities."""
    key = f"{slot}@{spark.sparkContext.applicationId}"
    v = _VALUES.get(key, _MISSING)
    if v is _MISSING:
        with _VALUES_LOCK:
            v = _VALUES.get(key, _MISSING)
            if v is _MISSING:
                v = _freeze(build())
                _VALUES[key] = v
    return v
