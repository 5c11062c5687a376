"""One memo for state kept warm across queries in a long-lived session.

Tez's session mode wins by keeping the AM and its containers warm across
DAGs (TezClient reuses them, SURVEY.md §3.3). Here the warm state is
resolved relations, persisted corpus artifacts, memoized JVM expression
families, footer statistics and index centroids. Every one of them goes
through `memo`, which owns the rules that used to be re-implemented per
cache:

- an entry lives and dies with its `scope`, held weakly: a SparkSession,
  the Py4J gateway (a restarted JVM starts empty), or None for the
  process;
- each `key` has ONE slot. The module fingerprints the entry's `inputs`
  (paths) and stores the fingerprint next to the value, so a rewritten
  input builds a new generation that replaces the old one; the old value
  goes to `on_evict` (artifacts unpersist there). Keys that differ only
  in params are different slots and coexist (ADVICE r5);
- an OSError while fingerprinting (missing or mid-delete input) falls
  through to an uncached build, so the reader reports its own error
  (Spark's AnalysisException) instead of a leaked FileNotFoundError;
- a scope that cannot be weak-referenced also builds uncached.

Keys are tuples whose first element names the family ("table",
"artifact", ...); `drop` releases one family. A value that references its
scope (a DataFrame references its session) keeps that scope alive as long
as the entry exists, exactly as the per-session dicts this replaced did.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Callable, Iterable

_PROCESS: dict = {}  # scope None: key -> (fingerprint, value)
_SCOPED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_COUNTS = {"hits": 0, "misses": 0, "evictions": 0, "uncached": 0}


def path_fingerprint(path: str) -> tuple:
    """(size, mtime_ns) fingerprint of a parquet file or directory tree.

    Memo entries store this so a fixture regenerated mid-session (ADVICE
    r4: the file-listing snapshot went stale) invalidates the cached
    relation / shared artifact instead of silently reading deleted or
    stale files. A stat walk costs ~µs against the ~70ms relation
    analysis it saves. Granularity caveat: a rewrite preserving every
    file's size AND mtime_ns goes unnoticed — no store here mutates that
    way (they append subdirs or rename-swap, both of which change the
    walk)."""
    if os.path.isdir(path):
        # full RELATIVE paths, sorted: os.walk's subdirectory order is
        # scandir-dependent (unstable across rewrites), and basenames
        # alone would miss a part file moving between partitions.
        items = []
        for root, _, files in os.walk(path):
            for f in files:
                full = os.path.join(root, f)
                st = os.stat(full)
                items.append(
                    (os.path.relpath(full, path), st.st_size, st.st_mtime_ns)
                )
        items.sort()
        return ("dir", tuple(items))
    st = os.stat(path)
    return ("file", st.st_size, st.st_mtime_ns)


def _slots(scope) -> dict | None:
    if scope is None:
        return _PROCESS
    try:
        return _SCOPED.setdefault(scope, {})
    except TypeError:
        return None  # scope cannot be weak-referenced


def memo(
    scope,
    key: tuple,
    build: Callable[[], object],
    inputs: Iterable[str] = (),
    on_evict: Callable[[object], None] | None = None,
):
    """The value `build()` returns for `key` in `scope`, built at most
    once per generation of `inputs` (see the module docstring)."""
    try:
        fp = tuple(path_fingerprint(p) for p in inputs)
    except OSError:
        _COUNTS["uncached"] += 1
        return build()
    slots = _slots(scope)
    if slots is None:
        _COUNTS["uncached"] += 1
        return build()
    entry = slots.get(key)
    if entry is not None and entry[0] == fp:
        _COUNTS["hits"] += 1
        return entry[1]
    _COUNTS["misses"] += 1
    value = build()
    slots[key] = (fp, value)
    if entry is not None:
        _COUNTS["evictions"] += 1
        if on_evict is not None:
            on_evict(entry[1])
    return value


def drop(family: str, *scopes) -> list:
    """Remove every entry whose key starts with `family` from `scopes`
    (every weakly held scope when none is given); return their values."""
    tables = [_slots(s) for s in scopes] if scopes else list(_SCOPED.values())
    out = []
    for slots in tables:
        for k in [k for k in slots or () if k[0] == family]:
            out.append(slots.pop(k)[1])
    return out


def stats() -> dict:
    """Process-wide hits, misses, evictions and uncached builds."""
    return dict(_COUNTS)
