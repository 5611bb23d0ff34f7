"""Session-scoped state: one table of declared cache kinds.

The engine reuses state within a Spark session — artifacts seeded from disk
or built once, the prior snapshot's stored state a refresh starts from,
plan statistics, file metadata. Every such entry lives here, keyed by
(kind, applicationId, key), and every kind is declared in ``KINDS`` with
its class and its release rule. Owning modules read through
``get_or_build``, the artifact loaders seed through ``install``, and each
module's public ``clear_*`` function names the kinds that fall together.

``get_or_build`` protocol:

* a locked lookup; a hit returns at once;
* on a miss the build runs OUTSIDE the lock (builds are multi-job eager
  work; holding a shared lock through one would stall every unrelated
  hit), with at most one build in flight per (kind, app, key) — a second
  caller waits for the first instead of duplicating its jobs;
* the install is epoch-checked: ``clear`` bumps the epoch of every
  (app, kind) it clears, so a build that straddled a clear — and may have
  read artifact bytes the clearing caller is rewriting — is released and
  retried. The third attempt installs anyway (an uninstalled, unreleased
  handle would leak), recording an epoch no lookup accepts, so the next
  lookup sees a stale entry, releases it and rebuilds.

Epochs are per (app, kind), not per app: a clear of one kind never
discards another kind's build. ``clear`` pops entries under the lock,
releases them outside it and never waits for an in-flight build.

``clear_loaded_under`` is the precise clear of a writer that rewrote some
artifact paths: it drops only the session's entries whose ``loaded_from``
lies under those paths, and marks only the in-flight builds that recorded a
seed there for retry. Every other entry, of the same kinds included, stays
as it is, so a refresh of one artifact dir never unpersists the pair graph
another corpus's sections are reading.

``spark=None`` addresses process-wide entries in ``get_or_build``, and
every session's entries in ``clear``.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass
from typing import Any, Callable

ARTIFACT = "artifact"
STORED = "stored state"
STATISTIC = "statistic"
METADATA = "metadata"
QUERY_OUTPUT = "query output"


def _unpersist(value: Any) -> None:
    """Release rule of persisted kinds: unpersist every DataFrame in the
    entry (a DataFrame, or a tuple holding some)."""
    for v in value if isinstance(value, tuple) else (value,):
        if hasattr(v, "unpersist"):
            try:
                v.unpersist()
            except Exception:
                pass  # session already stopped; the entry is dead anyway


@dataclass(frozen=True)
class Kind:
    cls: str
    # None drops the handle: localCheckpoint blocks are reclaimed by the
    # ContextCleaner, lazy parquet reads and plain values hold no storage
    release: Callable[[Any], None] | None = None


KINDS: dict[str, Kind] = {
    # llm.dedup: declared artifacts
    "verified_pairs": Kind(ARTIFACT, _unpersist),
    "banded_index": Kind(ARTIFACT),
    "cc_labels": Kind(ARTIFACT, _unpersist),
    # llm.text
    "doc_signals": Kind(ARTIFACT, _unpersist),
    "token_spine": Kind(ARTIFACT, _unpersist),
    "shared_spans": Kind(ARTIFACT, _unpersist),
    # llm.similarity; the fold verdicts pair a stored index with the
    # quantizer a search uses, memoized per (quantizer object, stored fold)
    "ivf_centroids": Kind(ARTIFACT),
    "ivf_assignments": Kind(ARTIFACT, _unpersist),
    "pq_codebooks": Kind(ARTIFACT),
    "pq_codes": Kind(ARTIFACT, _unpersist),
    "assign_fold_verdicts": Kind(METADATA),
    "pq_fold_verdicts": Kind(METADATA),
    "topk": Kind(QUERY_OUTPUT),
    # llm.artifacts: the landed prior snapshot a refreshed section's
    # updater starts from (its dirs; the bytes live in the scratch root)
    "refresh_prior": Kind(STORED),
    # streaming, operators, curation
    "doc_schema": Kind(METADATA),
    "event_schema": Kind(METADATA),
    "breaks": Kind(STATISTIC),
    "eval_stats": Kind(STATISTIC),
    # session.scratch_dir's process-wide root
    "scratch_root": Kind(STORED),
}


@dataclass
class _Entry:
    value: Any
    epoch: int
    loaded_from: str | None = None


class _Flight:
    def __init__(self) -> None:
        self.thread = threading.get_ident()
        self.done = threading.Event()
        self.loaded_from: str | None = None
        self.superseded = False  # a clear_loaded_under hit its seed path


_LOCK = threading.Lock()
_ENTRIES: dict[tuple, _Entry] = {}  # (kind, app, key) -> entry
_EPOCHS: dict[tuple, int] = {}  # (app, kind) -> clear count
_FLIGHTS: dict[tuple, _Flight] = {}  # (kind, app, key) -> build in flight


def _app(spark) -> str | None:
    return spark.sparkContext.applicationId if spark is not None else None


def _check(kind: str) -> str:
    if kind not in KINDS:
        raise KeyError(f"undeclared session-state kind {kind!r}")
    return kind


def _release(kind: str, value: Any) -> None:
    release = KINDS[kind].release
    if release is not None:
        release(value)


def get_or_build(kind: str, spark, key, build: Callable[[], Any]) -> Any:
    """The (kind, spark's app, key) entry, built by ``build()`` on a miss
    (see the module docstring for the protocol). ``build`` may return
    None; that result is cached like any other."""
    app = _app(spark)
    ekey = (_check(kind), app, key)
    while True:
        with _LOCK:
            epoch = _EPOCHS.setdefault((app, kind), 0)
            entry = _ENTRIES.get(ekey)
            if entry is not None and entry.epoch == epoch:
                return entry.value
            stale = _ENTRIES.pop(ekey, None)  # a forced install, pre-clear
            flight = _FLIGHTS.get(ekey)
            owner = flight is None
            if owner:
                flight = _FLIGHTS[ekey] = _Flight()
        if stale is not None:
            _release(kind, stale.value)
        if owner:
            break
        if flight.thread == threading.get_ident():
            raise RuntimeError(f"{kind} build for {key!r} re-entered itself")
        flight.done.wait()
    try:
        for attempt in range(3):
            flight.loaded_from, flight.superseded = None, False
            built = build()
            with _LOCK:
                current = _EPOCHS[(app, kind)]
                valid = current == epoch and not flight.superseded
                install_now = valid or attempt == 2
                if install_now:
                    winner = _ENTRIES.setdefault(ekey, _Entry(
                        built, epoch if valid else -1,
                        flight.loaded_from)).value
                epoch = current
            if install_now and winner is built:
                return built
            _release(kind, built)  # straddled a clear, or lost to install()
            if install_now:
                return winner
        raise AssertionError("unreachable: the last attempt always installs")
    finally:
        with _LOCK:
            del _FLIGHTS[ekey]
        flight.done.set()


def install(kind: str, spark, key, value: Any,
            loaded_from: str | None = None) -> None:
    """Seed (kind, app, key) with ``value``, releasing the entry it
    replaces. ``loaded_from``: the artifact path the value reads, which
    ``loaded_from()`` reports until the entry is cleared."""
    app = _app(spark)
    path = os.path.abspath(loaded_from) if loaded_from else None
    with _LOCK:
        epoch = _EPOCHS.setdefault((app, _check(kind)), 0)
        old = _ENTRIES.get((kind, app, key))
        _ENTRIES[(kind, app, key)] = _Entry(value, epoch, path)
    if old is not None and old.value is not value:
        _release(kind, old.value)


def record_seed(kind: str, spark, key, path: str) -> None:
    """Called by an env-seeding read inside the build of (kind, app, key):
    the entry that build installs records ``path`` as its ``loaded_from``."""
    with _LOCK:
        flight = _FLIGHTS.get((kind, _app(spark), key))
    if flight is not None and flight.thread == threading.get_ident():
        flight.loaded_from = os.path.abspath(path)


def loaded_from(kind: str, spark, key) -> str | None:
    """Absolute artifact path the (kind, app, key) entry was seeded from,
    or None (no entry, or a built one)."""
    with _LOCK:
        entry = _ENTRIES.get((kind, _app(spark), key))
    return entry.loaded_from if entry is not None else None


def clear(spark, *kinds: str) -> int:
    """Drop the entries of ``kinds`` — the given session's, or every
    session's when ``spark`` is None — and return how many were dropped.
    Bumps the cleared epochs first, so in-flight builds of those kinds
    discard and retry instead of installing pre-clear state."""
    for kind in kinds:
        _check(kind)
    app = _app(spark)
    with _LOCK:
        for ek in _EPOCHS:
            if ek[1] in kinds and (spark is None or ek[0] == app):
                _EPOCHS[ek] += 1
        dropped = [(ek[0], _ENTRIES.pop(ek)) for ek in list(_ENTRIES)
                   if ek[0] in kinds and (spark is None or ek[1] == app)]
    for kind, entry in dropped:
        _release(kind, entry.value)
    return len(dropped)


def _under(path: str | None, roots: list[str]) -> bool:
    return path is not None and any(
        path == r or path.startswith(r + os.sep) for r in roots)


def clear_loaded_under(spark, *paths: str) -> list[str]:
    """Drop the given session's entries, of any kind, whose
    ``loaded_from`` lies under one of ``paths`` (the artifacts a writer
    just rewrote), and return the kind of each dropped entry. A build in
    flight that recorded a seed under ``paths`` is retried, as after
    ``clear``; no epoch moves, so every other entry stays valid."""
    roots = [os.path.abspath(p) for p in paths]
    app = _app(spark)
    with _LOCK:
        for ek, flight in _FLIGHTS.items():
            if ek[1] == app and _under(flight.loaded_from, roots):
                flight.superseded = True
        dropped = [(ek[0], _ENTRIES.pop(ek)) for ek, e in list(_ENTRIES.items())
                   if ek[1] == app and _under(e.loaded_from, roots)]
    for kind, entry in dropped:
        _release(kind, entry.value)
    return [kind for kind, _ in dropped]


def clear_keyed(spark, key) -> int:
    """Drop the given session's entries, of any kind, keyed by ``key`` (a
    corpus dir whose contents changed in place, say), and return how many
    were dropped."""
    app = _app(spark)
    with _LOCK:
        dropped = [(ek[0], _ENTRIES.pop(ek)) for ek in list(_ENTRIES)
                   if ek[1] == app and ek[2] == key]
    for kind, entry in dropped:
        _release(kind, entry.value)
    return len(dropped)
