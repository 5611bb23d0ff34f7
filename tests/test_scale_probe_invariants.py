"""Timing-boundary invariants for the incremental refresh probe
(r12 judge item #5).

``SCALE_PROBE_INCR_r12.json`` shipped on its FOURTH revision because the
full arm hid its digest scans outside the wall while the patch arm always
timed its own — a fairness asymmetry that had to be review-caught. This
test makes the boundary a tested invariant: with every heavy callee
replaced by a stub that advances a FAKE clock, both arms of
``probe_incr_artifacts`` must account their digest work inside their own
walls — the full side as the named ``corpus_digest_scan`` /
``embeddings_digest_scan`` entries summed into ``full_total``, the patch
side inside the single wall-to-wall ``refresh`` timing.
The second-revision logic (digest computed before the timed loop) fails
the named-entry assertions; the shipped logic passes. No Spark session,
no sleeping — pure clock arithmetic."""

from __future__ import annotations

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DIGEST_COST = 7.0       # fake seconds per corpus digest scan
EMB_DIGEST_COST = 3.0   # fake seconds per embeddings digest scan
MAT_COST = 1.0          # fake seconds per materialize call
PATCH_COST = 5.0        # fake seconds for the whole refresh


def _scale_probe():
    spec = importlib.util.spec_from_file_location(
        "scale_probe", os.path.join(REPO, "scripts", "scale_probe.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_both_arms_time_their_digest_scans(tmp_path, monkeypatch):
    sp = _scale_probe()
    from pyspark_coding_challenge_spark.llm import artifacts as A

    clock = [0.0]
    monkeypatch.setattr(sp.time, "perf_counter", lambda: clock[0])

    def spend(cost):
        def fn(*a, **k):
            clock[0] += cost
            return {}
        return fn

    # stored-state build + full arm callees: every digest scan and
    # materializer advances the fake clock by a known amount
    monkeypatch.setattr(A, "corpus_digest", spend(DIGEST_COST))
    monkeypatch.setattr(A, "embeddings_digest", spend(EMB_DIGEST_COST))
    # every artifact build goes through the one generic materializer
    monkeypatch.setattr(A, "materialize", spend(MAT_COST))
    monkeypatch.setattr(sp, "_clear_all_artifact_caches", lambda s: None)

    calls = []

    def fake_refresh(spark, old, new, art, names=None, **kw):
        # the patch arm's digest work (refresh ctx + per-artifact walls)
        # happens INSIDE this call — the probe times it wall-to-wall
        calls.append(sorted(k for k, v in kw.items() if v is not None))
        clock[0] += PATCH_COST
        sup = ({"documents": "supplied", "embeddings": "supplied"}
               if kw.get("new_digests") is not None else {})
        return {**dict.fromkeys(A.ARTIFACTS, "patched"),
                A.CENTROIDS_NAME: "carried", A.PQCB_NAME: "carried",
                "reasons": {}, "churn": {}, "supplied": sup,
                "walls": {"documents": 1.0, A.PAIRS_NAME: 2.0}}

    monkeypatch.setattr(A, "refresh", fake_refresh)
    # the supplied relations are ingest's write-time cost — the stub
    # advances the clock OUTSIDE any timer; if the probe ever timed it,
    # patch_total_supplied would read 2.0s too high and fail below
    monkeypatch.setattr(sp, "_supplied_relations",
                        lambda s, d: (spend(2.0)(), {}))
    # the ctx micro-arm spends real wall on _refresh_ctx 6x; stub it with
    # known sorted walls and assert they surface in the artifact medians
    monkeypatch.setattr(sp, "_ctx_micro_arm",
                        lambda *a, **k: ([0.5, 0.6, 0.7], [0.1, 0.2, 0.9],
                                         [0.05, 0.15, 0.25]))

    out = sp.probe_incr_artifacts(None, str(tmp_path / "old"),
                                  str(tmp_path / "new"))

    # --- full arm: digest scans are NAMED entries, counted in the total
    fw = out["full_walls"]
    assert fw["corpus_digest_scan"] == DIGEST_COST, fw
    assert fw["embeddings_digest_scan"] == EMB_DIGEST_COST, fw
    # 9 text/dedup materializers + centroids + vec_digests + assignments
    # + pq_codebooks + pq_codes (r14)
    assert out["full_total"] == round(sum(fw.values()), 3)
    assert out["full_total"] == DIGEST_COST + EMB_DIGEST_COST + 14 * MAT_COST

    # --- patch arm: the wall-to-wall timing covers the whole refresh,
    # digest work included (it runs inside refresh)
    assert out["patch_total"] == PATCH_COST
    # and the per-artifact patch walls surface the refresh's own timings
    assert out["patch_walls"][A.PAIRS_NAME] == 2.0
    assert out["patch_walls"]["documents"] == 1.0

    # --- supplied arm (r13): one run per arm, the supplied one carrying
    # both digest relations; its wall covers ONLY the refresh — the
    # ingest-side digest build (stubbed at 2.0 fake seconds) stays
    # outside, by design and by this assertion
    assert calls == [[], ["new_digests", "new_vec_digests"]]
    assert out["patch_total_supplied"] == PATCH_COST
    assert out["modes_supplied"]["supplied"] == {
        "documents": "supplied", "embeddings": "supplied"}
    # r14: the PQ modes surface alongside the other per-artifact modes
    assert out["modes"][A.PQCB_NAME] == "carried"
    assert out["modes"][A.PQCODES_NAME] == "patched"

    # --- the ratios compare like-bounded walls
    assert out["patch_over_full"] == round(
        PATCH_COST / out["full_total"], 3)

    # --- ctx micro-arm (r13 addendum): the medians of the stubbed walls
    # land in the artifact, so the scan-vs-supplied comparison is the
    # median of interleaved runs, not a single noisy reading
    assert out["ctx_wall_scan_median"] == 0.6
    assert out["ctx_wall_supplied_median"] == 0.2
    assert out["ctx_wall_changelog_median"] == 0.15
    assert out["ctx_walls_scan"] == [0.5, 0.6, 0.7]
    assert out["ctx_walls_supplied"] == [0.1, 0.2, 0.9]
    assert out["ctx_walls_changelog"] == [0.05, 0.15, 0.25]
    assert out["patch_supplied_over_full"] == round(
        PATCH_COST / out["full_total"], 3)
