"""No-concurrent-load guard for the paired bench (r12 judge item #4).

Two rounds running (r10, r12) the paired A/B bench overlapped the
builder's own pytest/oracle jobs and needed idle re-measures; the rule now
lives in ``scripts/bench_isolated.py`` as code. These tests pin the
guard's contract with a mocked loadavg — no Spark, no sleeping."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_isolated():
    spec = importlib.util.spec_from_file_location(
        "bench_isolated", os.path.join(REPO, "scripts", "bench_isolated.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_idle_machine_passes_immediately():
    b = _bench_isolated()
    sleeps: list[float] = []
    rec = b.wait_for_idle(16.0, _getloadavg=lambda: (3.2, 0, 0),
                          _sleep=sleeps.append)
    assert rec == {"loadavg1": 3.2, "load_waited_s": 0.0,
                   "load_exceeded": False}
    assert sleeps == []


def test_loaded_machine_waits_then_proceeds():
    """Load clears after two sleeps: the guard retries, then records the
    loadavg the measurement actually started under."""
    b = _bench_isolated()
    seq = iter([(40.0, 0, 0), (25.0, 0, 0), (5.0, 0, 0)])
    sleeps: list[float] = []
    rec = b.wait_for_idle(16.0, retries=8, sleep_s=30.0,
                          _getloadavg=lambda: next(seq),
                          _sleep=sleeps.append)
    assert rec == {"loadavg1": 5.0, "load_waited_s": 60.0,
                   "load_exceeded": False}
    assert sleeps == [30.0, 30.0]


def test_bounded_retries_give_up_flagged():
    """A machine that never goes idle must not deadlock the bench: after
    the bounded retries the row runs anyway, FLAGGED — the artifact field
    is what lets a reviewer discount it (the r10/r12 failure mode was
    silent overlap, not overlap per se)."""
    b = _bench_isolated()
    sleeps: list[float] = []
    rec = b.wait_for_idle(16.0, retries=3, sleep_s=30.0,
                          _getloadavg=lambda: (64.0, 0, 0),
                          _sleep=sleeps.append)
    assert rec == {"loadavg1": 64.0, "load_waited_s": 90.0,
                   "load_exceeded": True}
    assert len(sleeps) == 3


# ---------------------------------------------------------------------------
# auto re-measure for band-exceeding control slugs (r13 verdict item #6)
# ---------------------------------------------------------------------------

def _ab_entry(ratio, scope_changed=False, order="cp"):
    return {"cold": 2.0, "best": ratio, "ab": {
        "order": order, "prev_best": 1.0, "paired_ratio": ratio,
        "scope_changed": scope_changed}}


def test_in_band_control_slug_is_not_remeasured():
    b = _bench_isolated()
    calls = []
    entry = _ab_entry(1.15)
    ran = b.maybe_remeasure_pair(entry, "s", "sf", "32", "/repo",
                                 run_child=lambda *a, **k: calls.append(a))
    assert ran is False and calls == []
    assert "remeasure" not in entry["ab"]


def test_scope_changed_slug_is_never_remeasured():
    """A scope-changed ratio measures scope, not regression — re-running
    it five times would just re-measure the scope change."""
    b = _bench_isolated()
    calls = []
    entry = _ab_entry(2.7, scope_changed=True)
    ran = b.maybe_remeasure_pair(entry, "s", "sf", "32", "/repo",
                                 run_child=lambda *a, **k: calls.append(a))
    assert ran is False and calls == []


def test_band_exceeding_control_slug_gets_five_run_pair():
    """Ratio 1.21 on an unchanged-scope slug: one more paired fresh
    process per tree, best-of-5 each, original numbers kept, re-measure
    appended with its own ratio; tree order preserved from the original
    pair (mocked timers — no Spark, no sleeping)."""
    b = _bench_isolated()
    seen = []

    def fake_child(slug, sf_dir, cpus, cwd, n_runs=3):
        seen.append((cwd, n_runs))
        best = 1.01 if cwd == "/repo" else 1.0
        return {"slug": slug, "cold": 2.0,
                "runs": [best + 0.1, best, best + 0.2], "best": best}

    entry = _ab_entry(1.21, order="pc")
    waits = []
    ran = b.maybe_remeasure_pair(entry, "s", "sf", "32", "/repo",
                                 ab_tree="/prev", run_child=fake_child,
                                 wait_idle=lambda m: waits.append(m) or
                                 {"loadavg1": 1.0}, max_load=16.0)
    assert ran is True
    assert seen == [("/prev", 5), ("/repo", 5)]  # order 'pc' preserved
    assert waits == [16.0]  # the idle guard covered the re-measure window
    ab = entry["ab"]
    assert ab["paired_ratio"] == 1.21          # original verdict kept
    assert ab["remeasured"] is True
    assert ab["remeasure"]["n_runs"] == 5
    assert ab["remeasure"]["paired_ratio"] == 1.01


def test_remeasure_child_failure_is_recorded_not_fatal():
    b = _bench_isolated()
    entry = _ab_entry(0.7)
    ran = b.maybe_remeasure_pair(
        entry, "s", "sf", "32", "/repo",
        run_child=lambda *a, **k: {"error": "child exploded"})
    assert ran is True
    assert entry["ab"]["remeasured"] is False
    assert "child exploded" in entry["ab"]["remeasure_error"]


def test_stream_sweep_reports_a_child_that_died_mid_output(monkeypatch,
                                                          capsys):
    """A sweep child that dies after printing part of its JSON line makes
    the sweep exit 1 and show the child's stderr — not raise from
    ``json.loads``."""
    import subprocess

    spec = importlib.util.spec_from_file_location(
        "stream_partitions_sweep",
        os.path.join(REPO, "scripts", "stream_partitions_sweep.py"))
    sweep = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sweep)
    died = subprocess.CompletedProcess(
        [], 137, stdout='{"streaming_windowed_aggs": 1.2', stderr="Killed\n")
    monkeypatch.setattr(sweep.subprocess, "run", lambda *a, **k: died)
    monkeypatch.setattr(sys, "argv", ["stream_partitions_sweep.py", "2"])
    assert sweep.main() == 1
    out = capsys.readouterr()
    assert "Killed" in out.err
    assert out.out == ""


def test_bench_headline_total_excludes_the_scale_arm():
    """``bench.py``'s JSON line: ``value`` sums the registered slugs in
    ``queries`` only; the row-multiplied scale arm is timed under its own
    ``scale_arm`` key, so the headline total keeps one fixed query set.
    ``partial`` marks a total that lost a registered slug, not a failed
    scale-arm entry (no Spark: ``result_record`` is called directly)."""
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    assert [name for name, _ in bench._scale_arm_queries()] == [
        "scale_shingle_hash"]
    timings = {"dedup_exact": 1.25, "text_vocab_topn": 0.5,
               "scale_shingle_hash": 2.0}
    out = bench.result_record(timings, {"scale_shingle_hash"}, {}, "sf")
    assert out == {
        "metric": "headline_queries_wall", "value": 1.75, "unit": "sec",
        "queries": {"dedup_exact": 1.25, "text_vocab_topn": 0.5},
        "scale_arm": {"scale_shingle_hash": 2.0}, "sf": "sf"}

    failed_arm = bench.result_record(
        {**timings, "scale_shingle_hash": -1.0}, {"scale_shingle_hash"},
        {"scale_shingle_hash": "boom"}, "sf")
    assert failed_arm["value"] == 1.75
    assert failed_arm["errors"] == {"scale_shingle_hash": "boom"}
    assert "partial" not in failed_arm

    failed_slug = bench.result_record(
        {**timings, "text_vocab_topn": -1.0}, {"scale_shingle_hash"},
        {"text_vocab_topn": "boom"}, "sf")
    assert failed_slug["value"] == 1.25
    assert failed_slug["partial"] is True


def test_build_artifacts_rejects_unknown_names_before_spark(monkeypatch,
                                                             capsys):
    """``scripts/build_artifacts.py`` takes its names from the artifact
    table: an unknown name exits 2 and lists the table's names, without
    starting Spark."""
    from pyspark_coding_challenge_spark import session
    from pyspark_coding_challenge_spark.llm import artifacts as A

    def no_spark(*a, **k):
        raise AssertionError("get_spark called")

    monkeypatch.setattr(session, "get_spark", no_spark)
    spec = importlib.util.spec_from_file_location(
        "build_artifacts", os.path.join(REPO, "scripts", "build_artifacts.py"))
    script = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(script)
    monkeypatch.setattr(sys, "argv", ["build_artifacts.py", "/sf", "/art",
                                      A.PAIRS_NAME, "no_such_artifact"])
    with pytest.raises(SystemExit) as exc:
        script.main()
    assert exc.value.code == 2
    err = capsys.readouterr().err
    assert "no_such_artifact" in err
    assert str(list(A.ARTIFACTS)) in err


def _layer_probe():
    spec = importlib.util.spec_from_file_location(
        "layer_probe", os.path.join(REPO, "scripts", "layer_probe.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_layer_probe_census_of_a_fixed_plan():
    """``scripts/layer_probe.py``'s plan census counts each ``COUNTED``
    node kind in a physical plan string and leaves zero counts out."""
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- Project [k#1, n#2]
   +- BroadcastHashJoin [k#1], [k#3], Inner, BuildRight, false
      :- HashAggregate(keys=[k#1], functions=[count(1)])
      :  +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=7]
      :     +- HashAggregate(keys=[k#1], functions=[partial_count(1)])
      :        +- Window [row_number() windowspecdefinition(k#1)]
      :           +- FileScan parquet [k#1] Batched: true, Location: InMemoryFileIndex
      +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]))
         +- InMemoryTableScan [k#3]
               +- Scan ExistingRDD[k#3]
"""
    assert _layer_probe().census(plan) == {
        "parquet_scans": 1, "rdd_scans": 1, "shuffle_exchanges": 1, "broadcast_exchanges": 1,
        "broadcast_hash_joins": 1, "hash_aggregates": 2, "windows": 1,
        "in_memory_scans": 1}


def test_layer_probe_registry_needs_sf_dir_before_any_session(monkeypatch,
                                                              capsys):
    """``--workload registry`` without ``--sf-dir`` exits 2 through argparse
    before the probe writes its shims or starts Spark."""
    from pyspark_coding_challenge_spark import session

    def no_spark(*a, **k):
        raise AssertionError("get_spark called")

    monkeypatch.setattr(session, "get_spark", no_spark)
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(sys, "argv", ["layer_probe.py", "--workload", "registry"])
    probe, path, loaded = _layer_probe(), os.environ.get("PATH"), set(sys.modules)
    try:
        with pytest.raises(SystemExit) as exc:
            probe.main()
    finally:
        for name in set(sys.modules) - loaded:
            del sys.modules[name]
    assert exc.value.code == 2
    assert "--sf-dir" in capsys.readouterr().err
    assert os.environ.get("PATH") == path
