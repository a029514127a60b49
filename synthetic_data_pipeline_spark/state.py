"""Session state shared across queries: one locked, bounded memo.

Several operators build the same costly state once per Spark session
and let every later query read it: the scanned SIT pairs, the shingle /
LSH funnel, the BM25 and BPE tables, the cosine pairs. ``get_or_build``
is the one place that state lives.

- Entries are keyed ``(name, applicationId, key)``, so a new session
  never reads the frames of a stopped one.
- A hit is a plain dict read. A miss takes a lock for that one entry,
  checks again and calls ``build()`` once, so concurrent callers (the
  release builders' thread pool) never double-build; builds of other
  entries are not serialised behind it. The bookkeeping lock below is
  held only for dict updates, never across a build.
- Each name keeps at most ``MAX_PER_NAME`` entries. The oldest is
  evicted and every DataFrame in it, walking tuples and lists, is
  unpersisted.
- ``build()`` owns its materialisation (``persist`` + ``count``, eager
  or lazy ``localCheckpoint``); the store only holds what it returns.
"""

from __future__ import annotations

import threading
from collections import Counter
from typing import Callable, Hashable, TypeVar

T = TypeVar("T")

MAX_PER_NAME = 3

_entries: dict[tuple, object] = {}
_key_locks: dict[tuple, threading.Lock] = {}
_guard = threading.Lock()  # _entries writes, _key_locks and the counts
_builds: Counter = Counter()
_hits: Counter = Counter()
_MISSING = object()


def get_or_build(spark, name: str, key: Hashable, build: Callable[[], T]) -> T:
    """The state ``name`` for ``key`` in this session, built on first use."""
    k = (name, spark.sparkContext.applicationId, key)
    hit = _entries.get(k, _MISSING)
    if hit is _MISSING:
        with _guard:
            lock = _key_locks.setdefault(k, threading.Lock())
        with lock:
            hit = _entries.get(k, _MISSING)
            if hit is _MISSING:
                return _insert(k, build())
    with _guard:
        _hits[name] += 1
    return hit


def _insert(k: tuple, value):
    name = k[0]
    with _guard:
        same = [e for e in _entries if e[0] == name]
        gone = same[: max(0, len(same) + 1 - MAX_PER_NAME)]
        evicted = [_entries.pop(e) for e in gone]
        for e in gone:
            _key_locks.pop(e, None)
        _entries[k] = value
        _builds[name] += 1
    for old in evicted:
        _unpersist(old)
    return value


def clear(*names: str) -> None:
    """Drop (and unpersist) the entries of ``names``; of every name if
    none are given. Their build/hit counts restart at zero."""
    with _guard:
        gone = [e for e in _entries if not names or e[0] in names]
        dropped = [_entries.pop(e) for e in gone]
        for e in gone:
            _key_locks.pop(e, None)
        for counts in (_builds, _hits):
            for n in list(counts):
                if not names or n in names:
                    del counts[n]
    for old in dropped:
        _unpersist(old)


def stats() -> dict[str, dict[str, int]]:
    """Per name: entries held, and builds and hits since its last clear."""
    with _guard:
        held = Counter(e[0] for e in _entries)
        names = sorted(set(held) | set(_builds) | set(_hits))
        return {
            n: {"entries": held[n], "builds": _builds[n], "hits": _hits[n]}
            for n in names
        }


def _unpersist(value) -> None:
    """Unpersist every DataFrame in ``value``. A harness that rotates
    sessions may evict frames of an already-stopped context; their
    blocks died with it, so a failed unpersist is not an error."""
    if isinstance(value, (tuple, list)):
        for v in value:
            _unpersist(v)
        return
    try:
        value.unpersist()
    except Exception:
        pass
