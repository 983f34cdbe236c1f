"""Phase metering for build-vs-serve benchmark splits.

The persisted-index entries (IVF and inverted-text families) pay an
index BUILD (k-means train + partitioned write, or postings write)
inside the same registry callable whose returned DataFrame is the
SERVE path. At 100 TB the build is a rare batch job while the serve
latency is the number that matters, so the bench reports them
separately (VERDICT r5 item 5): builder functions are decorated with
:func:`timed`, and ``bench.py`` calls :func:`reset` before each
measured execution and :func:`snapshot` after to subtract accumulated
build seconds from the wall time.

Zero-cost when unused: the ledger is a plain dict append guarded by
nothing — no locks, no env flags — and holds a handful of floats.
Streaming drains add per-query progress counters to the same ledger
under ``stream.*`` (:func:`etl_gcp_spark.streaming.staging.drain`).
"""

from __future__ import annotations

import functools
import time

_PHASES: dict[str, float] = {}
_DEPTH: dict[str, int] = {}


def reset() -> None:
    _PHASES.clear()


def add(phase: str, sec: float) -> None:
    _PHASES[phase] = _PHASES.get(phase, 0.0) + sec


def snapshot() -> dict[str, float]:
    return dict(_PHASES)


def phase(name: str):
    """Context-manager form of :func:`timed` for metering a block
    (e.g. an index build+append sequence inside a larger operator).
    Same reentrancy guard: nested same-name phases count once."""
    import contextlib

    @contextlib.contextmanager
    def _cm():
        _DEPTH[name] = _DEPTH.get(name, 0) + 1
        t0 = time.perf_counter()
        try:
            yield
        finally:
            _DEPTH[name] -= 1
            if _DEPTH[name] == 0:
                add(name, time.perf_counter() - t0)

    return _cm()


def timed(phase: str):
    """Decorator: accumulate the wrapped call's wall time under
    ``phase``. Used on index BUILD/maintenance functions so bench can
    report build_sec and serve_sec separately."""

    def deco(fn):
        @functools.wraps(fn)
        def run(*args, **kwargs):
            # reentrancy guard: builders nest (streaming ingest calls
            # build/append/compact internally) — only the OUTERMOST
            # decorated frame accumulates, or nested calls would
            # double-count and build_sec could exceed the wall time
            _DEPTH[phase] = _DEPTH.get(phase, 0) + 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                _DEPTH[phase] -= 1
                if _DEPTH[phase] == 0:
                    add(phase, time.perf_counter() - t0)

        return run

    return deco
