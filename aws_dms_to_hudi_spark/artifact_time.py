"""Session artifacts: the one registry for state built once per session.

The engine builds a number of artifacts on first use and reuses them for
the rest of the session: pinned base tables, token-hash / shingle /
inverted-index views, the CDC ``__rid`` relation, graph edge/degree
relations, PQ codebooks, and the fixture lakes that read-path gates query
(a CDC-replayed table, a restored or clustered one). Production keeps this
state in the table itself (its index and timeline); here it lives in one
memo owned by this module:

- :func:`get` memoizes ``build()`` by ``(session, name, key)``. The key
  holds the session object, not its ``id()``, so a new session can never
  be served a dead session's views at a reused address. One re-entrant
  lock is held across a build, so a key is built once and a build may
  itself call :func:`get` (a join view built from two replayed tables).
- :func:`view` is :func:`get` for artifacts consumed as temp views: the
  registry names the views itself.
- :func:`lake` makes a directory for a fixture lake under one per-process
  root, removed at interpreter exit. A memo entry whose build (or a build
  nested in it) made a lake that is gone is rebuilt on the next get.

A failed build caches nothing. Nothing is evicted: an artifact lives as
long as its process.

Every build is timed through :func:`building` under its artifact name,
less the time of builds nested inside it, so :func:`total` is wall time
spent building. Under a min-of-N bench protocol a one-time build lands
only in the first run of whichever query triggers it, where ``min``
discards it; ``bench.py`` therefore reports :func:`total` as
``artifact_build_seconds`` beside the query totals, and :func:`snapshot`
per artifact name. Lazy builds (a persisted but unforced base table)
record only their driver-side cost; their scan lands in the first
consumer's run like any Spark cache.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile
import threading
import time
from contextlib import contextmanager
from pathlib import Path

SECONDS: dict[str, float] = {}
_LOCK = threading.RLock()
_MEMO: dict[tuple, tuple[object, tuple[Path, ...]]] = {}
_OPEN: list[list[Path]] = []  # lakes made by each open build, innermost last
_NESTED = threading.local()
_VIEW_IDS = itertools.count()
_ROOT: Path | None = None  # this process's lake root, made on first use


@contextmanager
def building(name: str):
    """Attribute the wall time of an artifact build to ``name``, less the
    time of builds nested inside it."""
    stack = _NESTED.__dict__.setdefault("stack", [])
    stack.append(0.0)
    t0 = time.perf_counter()
    try:
        yield
    finally:
        dt = time.perf_counter() - t0
        inner = stack.pop()
        if stack:
            stack[-1] += dt
        with _LOCK:
            SECONDS[name] = SECONDS.get(name, 0.0) + dt - inner


def get(spark, name: str, key, build):
    """``build()``, memoized by ``(spark, name, key)``."""
    with _LOCK:
        hit = _MEMO.get((spark, name, key))
        if hit is not None and all(p.exists() for p in hit[1]):
            value, lakes = hit
        else:
            _OPEN.append([])
            try:
                with building(name):
                    value = build()
            finally:
                lakes = tuple(_OPEN.pop())
            _MEMO[(spark, name, key)] = (value, lakes)
        if _OPEN:
            _OPEN[-1].extend(lakes)
        return value


def view(spark, name: str, key, build):
    """:func:`get` for temp-view artifacts: ``build()`` returns a DataFrame
    (or a tuple of them), each is registered under a view name unique to
    this process, and the name (or tuple of names) is returned."""

    def register():
        out = build()
        dfs = out if isinstance(out, tuple) else (out,)
        names = tuple(f"__{name}_{next(_VIEW_IDS)}" for _ in dfs)
        for df, v in zip(dfs, names):
            df.createOrReplaceTempView(v)
        return names if isinstance(out, tuple) else names[0]

    return get(spark, name, key, register)


def lake(prefix: str) -> Path:
    """A new directory for a fixture lake, under this process's lake root."""
    global _ROOT
    with _LOCK:
        if _ROOT is None:
            _ROOT = Path(tempfile.mkdtemp(prefix="cdc-lakes-"))
            atexit.register(_remove_root, _ROOT, os.getpid())
        path = Path(tempfile.mkdtemp(prefix=prefix, dir=_ROOT))
        if _OPEN:
            _OPEN[-1].append(path)
        return path


def _remove_root(root: Path, pid: int) -> None:
    if os.getpid() == pid:  # not from a forked child
        shutil.rmtree(root, ignore_errors=True)


def total() -> float:
    with _LOCK:
        return sum(SECONDS.values())


def snapshot() -> dict[str, float]:
    with _LOCK:
        return {k: round(v, 3) for k, v in sorted(SECONDS.items())}
