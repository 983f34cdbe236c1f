"""Ownership of what a registry call leaves behind: pinned frames and
scratch directories.

Several operators ``persist()`` a narrow intermediate because multiple
output subtrees would otherwise recompute it (curation_funnel's
survivor sets, LSH candidate pairs, the connected-components edge
list). The pin is correct, but a ``persist()`` with no matching
``unpersist()`` accumulates cached frames for the lifetime of a
long-lived session.

Contract: any public operator that persists an intermediate tags the
returned DataFrame via :func:`tag_pinned`. Callers that materialize
the result and keep the session alive should release the pins::

    result = curation_funnel(docs)
    rows = result.collect()
    unpersist_pinned(result)

One-shot harnesses (the bench loop calls ``spark.catalog.clearCache()``
between queries) need not bother.

Entries that stage files (round-trip writes, index artifacts,
streaming checkpoints) take a fresh directory from :func:`scratch_root`
instead of building a temp path by hand.

Registry calls (:func:`ledgered`) own both kinds of leftover per
thread. A registry frame is valid until the same thread's next
registry call or :func:`release_pins`: either one unpersists that
call's pins and deletes its scratch roots. The result is lazy, so it
may still read both until then. Calls on other threads never touch
this thread's frames. Outside a registry call :func:`scratch_root`
records nothing and the directory stays on disk; a library caller
that wants it gone passes its own ``root=``. Never call
:func:`scratch_root` inside a ``foreachBatch`` sink: the sink runs on
a py4j callback thread, which has no scope, so the root would leak.
"""

from __future__ import annotations

import functools
import os
import shutil
import tempfile
import threading
import uuid

from pyspark.sql import DataFrame

_ATTR = "_etl_pinned_frames"

# per-thread scope of the running (or last) registry call
_OWNER = threading.local()


class _Scope:
    def __init__(self) -> None:
        self.open = True
        self.pins: list[DataFrame] = []
        self.roots: list[str] = []


def tag_pinned(result: DataFrame, *frames: DataFrame) -> DataFrame:
    """Record ``frames`` (already persisted) on ``result`` for later
    release; returns ``result`` for chaining."""
    existing = tuple(getattr(result, _ATTR, ()))
    setattr(result, _ATTR, existing + frames)
    return result


def unpersist_pinned(df: DataFrame, blocking: bool = False) -> DataFrame:
    """Release every intermediate frame an operator pinned while
    building ``df``. Safe to call on any DataFrame (no-op when
    nothing was tagged) and idempotent."""
    for f in getattr(df, _ATTR, ()):
        f.unpersist(blocking)
    if hasattr(df, _ATTR):
        setattr(df, _ATTR, ())
    return df


def scratch_root(tag: str) -> str:
    """A fresh, not yet existing path ``<tmp>/etl_gcp_spark_scratch/
    <tag>_<uuid4>`` (absent, so ``errorifexists`` writers accept it).
    Inside a registry call it is deleted when the call is released."""
    parent = os.path.join(tempfile.gettempdir(), "etl_gcp_spark_scratch")
    os.makedirs(parent, exist_ok=True)
    path = os.path.join(parent, f"{tag}_{uuid.uuid4().hex}")
    scope = getattr(_OWNER, "scope", None)
    if scope is not None and scope.open:
        scope.roots.append(path)
    return path


def release_pins() -> None:
    """Unpersist the pins and delete the scratch roots of this
    thread's last registry call. Idempotent; safe any time."""
    scope = getattr(_OWNER, "scope", None)
    _OWNER.scope = None
    if scope is None:
        return
    for df in scope.pins:
        unpersist_pinned(df)
    for path in scope.roots:
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.lexists(path):
            os.remove(path)


def ledgered(fn):
    """Run a registry callable in a fresh scope on this thread, after
    releasing the thread's previous call."""

    @functools.wraps(fn)
    def run(spark, sf_dir: str) -> DataFrame:
        release_pins()
        scope = _OWNER.scope = _Scope()
        try:
            df = fn(spark, sf_dir)
        finally:
            scope.open = False
        if getattr(df, _ATTR, ()):
            scope.pins.append(df)
        return df

    return run
