"""The session-state table: every session cache is a declared kind, and the
one get/build/install/clear protocol holds for every kind.

No Spark needed: entries are addressed by applicationId, so most tests use
stand-in sessions that no other test shares."""

from __future__ import annotations

import ast
import itertools
import os
import re
import sys
import threading
from types import SimpleNamespace

import pytest

from pyspark_coding_challenge_spark import session_state as SS

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "pyspark_coding_challenge_spark")

# kind -> (the cache it replaced, its class in the OPTIMIZATION_r17.md §2
# stored-state audit). Rows the audit table does not list are folded under
# the row they belong to: the refresh prior (the landed old snapshot the
# refreshed sections' updaters start from) takes over the prior-snapshot
# stored state the dedup incremental sections used to cache in memory; the
# fold verdicts memoize the pairing metadata of the assignments/codes rows;
# the scratch root, first the text state's build-root cell, belongs to the
# artifact builds it serves. The audit's text, IVF and ingest stored-section
# rows (``text._TEXT_INCR_STATE_CACHE``, ``similarity._STORED_IVF_CACHE``,
# ``ingest._IRS_CACHE``) are gone: those sections refresh on every call.
AUDIT_R17 = {
    "verified_pairs": ("dedup._VERIFIED_PAIRS_CACHE", "declared artifact"),
    "banded_index": ("dedup._BANDED_INDEX_CACHE", "declared artifact"),
    "cc_labels": ("dedup._CC_LABELS_CACHE", "declared artifact"),
    "refresh_prior": ("dedup._INCR_OLD_CACHE", "stored state"),
    "doc_signals": ("text._DOC_SIGNALS_CACHE", "declared artifact"),
    "token_spine": ("text._TOKEN_SPINE_CACHE", "declared artifact"),
    "shared_spans": ("text._SHARED_SPANS_CACHE", "declared artifact"),
    "scratch_root": ("text._TEXT_INCR_PARENT", "artifact build"),
    "ivf_centroids": ("similarity._IVF_CENTROID_CACHE", "declared artifacts"),
    "ivf_assignments": ("similarity._IVF_ASSIGN_CACHE", "declared artifacts"),
    "pq_codebooks": ("similarity._PQ_CODEBOOK_CACHE", "declared artifacts"),
    "pq_codes": ("similarity._PQ_CODES_CACHE", "declared artifacts"),
    "assign_fold_verdicts": ("similarity._ASSIGN_FOLD_VERDICTS", "metadata"),
    "pq_fold_verdicts": ("similarity._PQ_FOLD_VERDICTS", "metadata"),
    "doc_schema": ("ingest._DOC_SCHEMA_CACHE", "metadata"),
    "event_schema": ("windows._EVENT_SCHEMA_CACHE", "metadata"),
    "breaks": ("prefix._BREAKS_CACHE", "statistics, perf-only"),
    "eval_stats": ("curation._EVAL_STATS_CACHE", "statistics"),
}
CLASS_OF = {
    "declared artifact": SS.ARTIFACT,
    "declared artifacts": SS.ARTIFACT,
    "artifact build": SS.STORED,
    "stored state": SS.STORED,
    "statistics": SS.STATISTIC,
    "statistics, perf-only": SS.STATISTIC,
    "metadata": SS.METADATA,
}
# The single named exemption: similarity._TOPK_CACHE is missing from the
# r17 audit and serves the embedding_topk slug's `topk` section from the
# previous call. Removing it is its own change (it moves the benchmark's
# corpus_refresh pass_cpu_s).
QUERY_OUTPUT_KINDS = {"topk"}
# Post-refresh state is not STORED: a STORED entry holds what a refresh
# starts from (the landed prior snapshot) or where the engine writes, never
# what a calling query's own refresh produced.
STORED_KINDS = {"refresh_prior", "scratch_root"}

# Module-level containers that are NOT session-state kinds, each with why.
EXEMPT = {
    "sources/readers.py::_TABLE_SCHEMA_CACHE":
        "hot path of every table read; keyed by file identity "
        "(path, mtime, size), so it self-invalidates and is not per session",
    "sources/readers.py::_SPLIT_COUNT_CACHE":
        "hot path; a perf-only scan-split statistic keyed by plan identity",
    "sources/readers.py::_TABLE_DF_CACHE":
        "hot path; weak-keyed by the SparkSession object so a stopped "
        "session's plans are collected with it",
    "streaming/windows.py::_CONF_PIN_STATE":
        "not a cache: the per-session conf-pin record of running streams",
    "llm/artifacts.py::_LEASE_LOCAL":
        "not a cache: per-process maintenance-lease reentrancy counts",
    "registry.py::_QUERIES": "not a cache: the slug registry",
    "registry.py::_ORACLES": "not a cache: the oracle-SQL registry",
}
_STATE_NAME = re.compile(r"_(CACHE|STATE|VERDICTS|FROM)$")
_CONTAINER_CALLS = {"dict", "list", "WeakKeyDictionary"}


def _package_modules():
    for root, _, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                yield os.path.relpath(path, PKG), ast.parse(open(path).read())


def _module_containers() -> set[str]:
    """``relpath::name`` of every module-level dict / list /
    WeakKeyDictionary assignment outside session_state.py."""
    found = set()
    for rel, tree in _package_modules():
        if rel == "session_state.py":
            continue
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            if isinstance(value, ast.Call):
                fn = value.func
                name = fn.attr if isinstance(fn, ast.Attribute) else \
                    getattr(fn, "id", None)
                is_container = name in _CONTAINER_CALLS
            else:
                is_container = isinstance(
                    value, (ast.Dict, ast.List, ast.DictComp, ast.ListComp))
            if is_container:
                found |= {f"{rel}::{t.id}" for t in targets
                          if isinstance(t, ast.Name)}
    return found


def test_every_session_cache_is_a_declared_kind():
    containers = _module_containers()
    undeclared = sorted(c for c in containers
                        if _STATE_NAME.search(c) and c not in EXEMPT)
    assert not undeclared, (
        f"module-level session caches outside session_state: {undeclared} — "
        "declare a kind in session_state.KINDS instead")
    stale = sorted(set(EXEMPT) - containers)
    assert not stale, f"exemptions naming nothing: {stale}"


def test_kind_classes_match_the_r17_audit():
    assert set(SS.KINDS) == set(AUDIT_R17) | QUERY_OUTPUT_KINDS
    for kind, (_, audit_cls) in AUDIT_R17.items():
        assert SS.KINDS[kind].cls == CLASS_OF[audit_cls], kind
    for kind in QUERY_OUTPUT_KINDS:
        assert SS.KINDS[kind].cls == SS.QUERY_OUTPUT


def test_post_refresh_state_is_not_stored():
    stored = {k for k, v in SS.KINDS.items() if v.cls == SS.STORED}
    assert stored == STORED_KINDS


def test_every_kind_is_used_by_the_package():
    """No dead declarations: each kind name appears as a string literal in
    some package module besides session_state.py."""
    literals = set()
    for rel, tree in _package_modules():
        if rel != "session_state.py":
            literals |= {n.value for n in ast.walk(tree)
                         if isinstance(n, ast.Constant)
                         and isinstance(n.value, str)}
    assert set(SS.KINDS) <= literals, sorted(set(SS.KINDS) - literals)


def _session(name: str):
    """A stand-in session: entries are addressed by applicationId only."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=name))


@pytest.mark.parametrize("kind", sorted(SS.KINDS))
def test_clear_mid_build_installs_no_pre_clear_entry(kind):
    """A build that straddles a clear of its own kind (a refresh rewriting
    the bytes it read) must not install what it read before the clear."""
    sp = _session(f"mid-build-clear-{kind}")
    calls = []

    def build():
        calls.append(1)
        if len(calls) == 1:
            SS.clear(sp, kind)
            return "pre-clear"
        return "post-clear"

    try:
        assert SS.get_or_build(kind, sp, "k", build) == "post-clear"
        assert SS.get_or_build(kind, sp, "k", lambda: "again") == "post-clear"
    finally:
        SS.clear(sp, kind)


def test_clearing_another_kind_mid_build_keeps_the_build(test_kind):
    """Epochs are per (app, kind): a clear of another kind mid-build must
    not discard the build."""
    kind, released = test_kind
    sp = _session("sibling-clear")
    calls = []

    def build():
        calls.append(1)
        SS.clear(sp, "doc_signals", "token_spine", "shared_spans", "breaks")
        return "built"

    assert SS.get_or_build(kind, sp, "k", build) == "built"
    assert calls == [1] and released == []


def test_one_build_in_flight_per_key(test_kind):
    kind, _ = test_kind
    sp = _session("single-flight")
    started, release_build = threading.Event(), threading.Event()
    calls, got = [], []

    def build():
        calls.append(1)
        started.set()
        release_build.wait(10)
        return object()

    def caller():
        got.append(SS.get_or_build(kind, sp, "k", build))

    threads = [threading.Thread(target=caller) for _ in range(3)]
    threads[0].start()
    assert started.wait(10)
    for t in threads[1:]:
        t.start()
    # another key of the same kind is not blocked by the build in flight
    assert SS.get_or_build(kind, sp, "other", lambda: "free") == "free"
    release_build.set()
    for t in threads:
        t.join(10)
    assert len(calls) == 1
    assert len(got) == 3 and got[0] is got[1] is got[2]


def test_clear_never_waits_for_an_in_flight_build(test_kind):
    kind, released = test_kind
    sp = _session("clear-no-wait")
    SS.install(kind, sp, "old", "old-value")
    in_build, finish = threading.Event(), threading.Event()
    calls, got = [], []

    def build():
        calls.append(1)
        if len(calls) == 1:
            in_build.set()
            finish.wait(10)
            return "pre-clear"
        return "post-clear"

    t = threading.Thread(
        target=lambda: got.append(SS.get_or_build(kind, sp, "k", build)))
    t.start()
    assert in_build.wait(10)
    assert SS.clear(sp, kind) == 1  # returns while the build is blocked
    assert released == ["old-value"]
    finish.set()
    t.join(10)
    assert got == ["post-clear"] and "pre-clear" in released


def test_stress_every_build_is_released_exactly_once(test_kind):
    """Many threads racing gets, clears and precise clears on a few keys:
    every value a build produced is, once everything is cleared, released
    exactly once — a lost install would leak one, a double install release
    one twice."""
    kind, released = test_kind
    sp = _session("stress")
    tokens = itertools.count()
    built: list[int] = []

    def build(key):
        def run():
            token = next(tokens)
            built.append(token)
            SS.record_seed(kind, sp, key, f"/stress/{key}")
            return token
        return run

    def worker(i):
        for j in range(150):
            SS.get_or_build(kind, sp, j % 3, build(j % 3))
            if j % 7 == i % 7:
                SS.clear(sp, kind)
            elif j % 5 == i % 5:
                SS.clear_loaded_under(sp, "/stress/0")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
    SS.clear(sp, kind)
    assert sorted(released) == sorted(built)


def test_reentrant_build_raises_instead_of_deadlocking(test_kind):
    kind, _ = test_kind
    sp = _session("reentrant")

    def build():
        return SS.get_or_build(kind, sp, "k", build)

    with pytest.raises(RuntimeError, match="re-entered itself"):
        SS.get_or_build(kind, sp, "k", build)
    # the failed flight is gone: the key builds normally afterwards
    assert SS.get_or_build(kind, sp, "k", lambda: 1) == 1


def test_install_replaces_and_releases_the_previous_entry(test_kind):
    kind, released = test_kind
    sp = _session("install")
    SS.install(kind, sp, "k", "first")
    SS.install(kind, sp, "k", "second", loaded_from="rel/artifact")
    assert released == ["first"]
    assert SS.get_or_build(kind, sp, "k", lambda: "built") == "second"
    assert SS.loaded_from(kind, sp, "k") == os.path.abspath("rel/artifact")


def test_seed_path_rides_the_entry_and_falls_with_it(test_kind):
    """An env seed inside a build records its artifact path on the entry it
    seeds; clearing the entry forgets the path, so a later materialize
    rebuilds instead of trusting a stale seed."""
    kind, _ = test_kind
    sp = _session("seed-path")

    def build():
        SS.record_seed(kind, sp, "dir", "/art/x")
        return "seeded"

    assert SS.get_or_build(kind, sp, "dir", build) == "seeded"
    assert SS.loaded_from(kind, sp, "dir") == "/art/x"
    assert SS.loaded_from(kind, sp, "other") is None
    SS.clear(sp, kind)
    assert SS.loaded_from(kind, sp, "dir") is None


def test_clear_scopes_to_one_session_or_all(test_kind):
    kind, released = test_kind
    a, b = _session("scope-a"), _session("scope-b")
    SS.install(kind, a, "k", "a")
    SS.install(kind, b, "k", "b")
    assert SS.clear(a, kind) == 1 and released == ["a"]
    assert SS.get_or_build(kind, b, "k", lambda: "rebuilt") == "b"
    assert SS.clear(None, kind) == 1 and released == ["a", "b"]


def test_clear_loaded_under_drops_only_entries_read_from_those_paths(
        test_kind):
    """A refresh's precise clear: entries loaded from under the rewritten
    paths fall, built entries and entries loaded elsewhere stay valid, and
    a build in flight that seeded from under the paths is retried."""
    kind, released = test_kind
    sp = _session("clear-under")
    SS.install(kind, sp, "rewritten", "stale", loaded_from="/art/x/pairs")
    SS.install(kind, sp, "sibling", "kept", loaded_from="/art/xy/pairs")
    assert SS.get_or_build(kind, sp, "built", lambda: "built") == "built"
    calls = []

    def build():
        calls.append(1)
        SS.record_seed(kind, sp, "seeding", "/art/x/bands")
        if len(calls) == 1:
            assert SS.clear_loaded_under(sp, "/art/x") == [kind]
        return len(calls)

    assert SS.get_or_build(kind, sp, "seeding", build) == 2
    assert released == ["stale", 1]
    assert SS.loaded_from(kind, sp, "rewritten") is None
    for key, value in (("sibling", "kept"), ("built", "built"),
                       ("seeding", 2)):
        assert SS.get_or_build(kind, sp, key, lambda: "rebuilt") == value


def test_clear_keyed_drops_every_kind_under_one_key(test_kind):
    kind, released = test_kind
    sp, other = _session("clear-keyed"), _session("clear-keyed-other")
    SS.install(kind, sp, "/corpus", "stale", loaded_from="/art/x")
    SS.install(kind, sp, "/elsewhere", "kept")
    SS.install(kind, other, "/corpus", "other session")
    assert SS.clear_keyed(sp, "/corpus") == 1 and released == ["stale"]
    assert SS.get_or_build(kind, sp, "/elsewhere", lambda: "x") == "kept"
    SS.clear(None, kind)


def test_undeclared_kind_fails_loudly():
    with pytest.raises(KeyError, match="undeclared"):
        SS.get_or_build("no_such_kind", None, "k", lambda: 1)
    with pytest.raises(KeyError, match="undeclared"):
        SS.clear(None, "no_such_kind")
