"""Embeddings-side incremental refresh (llm/artifacts.py, r12).

The quantizer is a trained model, not a per-row relation, so its refresh
is CARRY vs RETRAIN — carry when the stored centroids still describe the
churned snapshot's vector distribution (lineage valid, churn bounded,
churned vectors' quantization gap near the training-time baseline),
retrain otherwise. ``vec_digests`` is the skinny refresh-time state that
lets the diff run without re-reading the retired old snapshot's vectors
(the ``doc_digests`` pattern). Contracts verified here:

* carry keeps the centroid BYTES verbatim and re-points only the meta,
  with an auditable ``carried_from`` lineage chain;
* the churn-fraction and drift gates force retrains (distribution shift
  must not be boiled-frog-carried past them);
* the drift baseline stays the ORIGINAL training-time mean gap across
  chained carries;
* the patched ``vec_digests`` artifact folds to exactly the new
  snapshot's digest (the same hash-gate the doc side has);
* a carried quantizer still clears the IVF recall floor on the churned
  corpus.
"""

from __future__ import annotations

import json
import math
import os
import re

import pytest

from pyspark_coding_challenge_spark.llm import artifacts as A
from pyspark_coding_challenge_spark.llm import similarity as S

DIM = 8
#: every embeddings-side artifact, the closure a full side refresh walks
EMB = A.PRIOR_NAMES["embeddings"]


def _base_vecs() -> dict[int, list[float]]:
    """40 deterministic vectors spanning dims 0..3 only (four perturbed
    axis clusters) — dims 4..7 stay empty so a drift test can plant mass
    the trained quantizer provably does not cover."""
    vecs = {}
    for i in range(40):
        d = i % 4
        v = [0.0] * DIM
        v[d] = 1.0
        v[(d + 1) % 4] = 0.05 * (i // 4)
        n = math.sqrt(sum(x * x for x in v))
        vecs[i] = [x / n for x in v]
    return vecs


def _write_emb(spark, sf_dir, vecs: dict[int, list[float]],
               labels: dict[int, int] | None = None) -> str:
    rows = [(i, [float(x) for x in v], (labels or {}).get(i, 0))
            for i, v in sorted(vecs.items())]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.coalesce(1).write.mode("overwrite") \
        .parquet(f"{sf_dir}/embeddings.parquet")
    return str(sf_dir)


def _centroid_rows(spark, art):
    path = os.path.join(art, A.CENTROIDS_NAME)
    return sorted(
        (r["lid"], tuple(r["cvec"]))
        for r in spark.read.parquet(path).collect()
    )


def _meta(art, name):
    with open(os.path.join(art, name, "_artifact_meta.json")) as f:
        return json.load(f)


def _build_old(spark, tmp_path, vecs=None):
    old = _write_emb(spark, tmp_path / "old", vecs or _base_vecs())
    art = str(tmp_path / "art")
    emb_digest = A.embeddings_digest(spark, old)
    A.materialize(spark, old, art, A.CENTROIDS_NAME, emb_digest)
    A.materialize(spark, old, art, A.VECDIG_NAME, emb_digest)
    S.clear_centroid_cache(spark)
    return old, art


def test_carry_on_small_churn(spark, tmp_path):
    vecs = _base_vecs()
    old, art = _build_old(spark, tmp_path, vecs)
    trained_stats = _meta(art, A.CENTROIDS_NAME)["lineage"]["stats"]
    before = _centroid_rows(spark, art)

    new_vecs = dict(vecs)
    del new_vecs[39]                                 # removed
    new_vecs[10] = vecs[14]                          # modified, in-dist
    new_vecs[100] = vecs[22]                         # added, in-dist
    new_vecs[101] = vecs[3]                          # added, in-dist
    new = _write_emb(spark, tmp_path / "new", new_vecs)

    summary = A.refresh(spark, old, new, art, EMB)
    assert summary[A.CENTROIDS_NAME] == "carried", summary
    assert summary["churn"]["embeddings"] == {"removed": 1, "modified": 1,
                                              "added": 2}
    # a carry with no note: the drift gate measured the churn and passed
    assert A.CENTROIDS_NAME not in summary["reasons"], summary
    assert summary[A.VECDIG_NAME] == "patched"

    # bytes verbatim; meta re-pointed with an auditable chain
    assert _centroid_rows(spark, art) == before
    meta = _meta(art, A.CENTROIDS_NAME)
    assert meta["sf_dir"] == os.path.abspath(new)
    assert meta["lineage"]["snapshot"] == A.embeddings_digest(spark, new)
    assert meta["lineage"]["carried_from"]["n_docs"] == 40
    # the drift baseline is the ORIGINAL training-time stats, unchanged
    assert meta["lineage"]["stats"] == trained_stats

    # the patched vec_digests artifact folds to exactly the new snapshot
    vd = spark.read.parquet(os.path.join(art, A.VECDIG_NAME))
    assert A.digest_of_digests(vd, id_col="vec_id") == \
        meta["lineage"]["snapshot"]
    assert vd.count() == 41

    # a fresh consumer loads the carried quantizer for the NEW dir
    S.clear_centroid_cache(spark)
    loaded = A.load(spark, new, art, A.CENTROIDS_NAME)
    assert loaded.count() == len(before)
    S.clear_centroid_cache(spark)


def test_chained_carry_keeps_original_baseline(spark, tmp_path):
    """Two successive carries: the second compares drift against the
    TRAINING-time baseline, not the first carry's churn — repeated small
    drifts accumulate against a fixed reference."""
    vecs = _base_vecs()
    old, art = _build_old(spark, tmp_path, vecs)
    trained_stats = _meta(art, A.CENTROIDS_NAME)["lineage"]["stats"]

    v1 = dict(vecs)
    v1[200] = vecs[17]
    mid = _write_emb(spark, tmp_path / "mid", v1)
    s1 = A.refresh(spark, old, mid, art, EMB)
    assert s1[A.CENTROIDS_NAME] == "carried"

    v2 = dict(v1)
    v2[201] = vecs[29]
    new = _write_emb(spark, tmp_path / "new2", v2)
    s2 = A.refresh(spark, mid, new, art, EMB)
    assert s2[A.CENTROIDS_NAME] == "carried"
    assert A.CENTROIDS_NAME not in s2["reasons"], s2
    meta = _meta(art, A.CENTROIDS_NAME)
    assert meta["lineage"]["stats"] == trained_stats
    assert meta["lineage"]["snapshot"] == A.embeddings_digest(spark, new)
    S.clear_centroid_cache(spark)


def test_retrain_on_churn_fraction(spark, tmp_path):
    vecs = _base_vecs()
    old, art = _build_old(spark, tmp_path, vecs)
    new_vecs = {i: v for i, v in vecs.items() if i >= 15}  # 37.5% removed
    new = _write_emb(spark, tmp_path / "new", new_vecs)

    summary = A.refresh(spark, old, new, art, EMB)
    assert summary[A.CENTROIDS_NAME] == "retrained", summary
    assert "churn" in summary["reasons"][A.CENTROIDS_NAME]
    meta = _meta(art, A.CENTROIDS_NAME)
    assert meta["sf_dir"] == os.path.abspath(new)
    assert meta["lineage"]["patched_from"] is None
    assert meta["lineage"]["snapshot"] == A.embeddings_digest(spark, new)
    # fresh training stats recorded for the next refresh's drift gate
    assert meta["lineage"]["stats"]["n_vecs"] == 25
    S.clear_centroid_cache(spark)


def test_retrain_on_drift(spark, tmp_path):
    """Two added vectors (5% churn — far under the fraction gate) in the
    dims-4..7 subspace the training corpus never touched: quantization
    gap ~1.0 against every stored centroid, so the drift gate retrains."""
    vecs = _base_vecs()
    old, art = _build_old(spark, tmp_path, vecs)
    new_vecs = dict(vecs)
    e7 = [0.0] * DIM
    e7[7] = 1.0
    e6 = [0.0] * DIM
    e6[6] = 1.0
    new_vecs[300], new_vecs[301] = e7, e6
    new = _write_emb(spark, tmp_path / "new", new_vecs)

    summary = A.refresh(spark, old, new, art, EMB)
    assert summary[A.CENTROIDS_NAME] == "retrained", summary
    why = summary["reasons"][A.CENTROIDS_NAME]
    assert "quantization gap" in why
    assert float(re.search(r"quantization gap ([0-9.]+)", why)[1]) > 0.9
    S.clear_centroid_cache(spark)


def test_label_only_change_is_no_churn(spark, tmp_path):
    """The digest covers the vectors alone: relabeling must read as zero
    churn (no drift check input, trivially carried)."""
    vecs = _base_vecs()
    old, art = _build_old(spark, tmp_path, vecs)
    new = _write_emb(spark, tmp_path / "new", vecs,
                     labels={i: 7 for i in vecs})
    summary = A.refresh(spark, old, new, art, EMB)
    assert summary[A.CENTROIDS_NAME] == "carried"
    assert summary["churn"]["embeddings"] == {}
    assert "vacuous" in summary["reasons"][A.CENTROIDS_NAME]
    S.clear_centroid_cache(spark)


def test_pre_lineage_artifact_retrains(spark, tmp_path):
    """A pre-r12 centroid artifact (no lineage/stats in its meta) has no
    drift baseline — the refresh must retrain, not guess."""
    vecs = _base_vecs()
    old, art = _build_old(spark, tmp_path, vecs)
    meta_path = os.path.join(art, A.CENTROIDS_NAME, "_artifact_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    del meta["lineage"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)

    new = _write_emb(spark, tmp_path / "new", vecs)
    summary = A.refresh(spark, old, new, art, EMB)
    assert summary[A.CENTROIDS_NAME] == "retrained"
    assert "lineage" in summary["reasons"][A.CENTROIDS_NAME]
    S.clear_centroid_cache(spark)


def test_bootstrap_without_old_state(spark, tmp_path):
    """No stored vec_digests AND no old embeddings table: nothing to
    refresh from — full build on the new snapshot, honestly recorded."""
    os.makedirs(tmp_path / "old", exist_ok=True)
    new = _write_emb(spark, tmp_path / "new", _base_vecs())
    art = str(tmp_path / "art")
    summary = A.refresh(spark, str(tmp_path / "old"), new, art, EMB)
    assert summary[A.CENTROIDS_NAME] == "retrained"
    assert summary["reasons"][A.CENTROIDS_NAME].startswith("bootstrap")
    assert summary[A.VECDIG_NAME] == "full_rebuild"
    assert _meta(art, A.CENTROIDS_NAME)["lineage"]["snapshot"] == \
        A.embeddings_digest(spark, new)
    S.clear_centroid_cache(spark)


def test_carried_quantizer_clears_recall_floor(spark, tmp_path):
    """End-to-end: IVF search served from the CARRIED quantizer on the
    churned corpus still clears the 0.8 recall@10 floor vs brute force."""
    from pyspark.sql import functions as F

    vecs = _base_vecs()
    old, art = _build_old(spark, tmp_path, vecs)
    new_vecs = dict(vecs)
    new_vecs[100] = vecs[21]
    del new_vecs[38]
    new = _write_emb(spark, tmp_path / "new", new_vecs)
    summary = A.refresh(spark, old, new, art, EMB)
    assert summary[A.CENTROIDS_NAME] == "carried"

    S.clear_centroid_cache(spark)
    cent = A.load(spark, new, art, A.CENTROIDS_NAME)
    from pyspark_coding_challenge_spark.sources.readers import read_table

    e = read_table(spark, new, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).localCheckpoint()
    got = {(r.query_id, r.neighbor_id)
           for r in S.ivf_search(e, cent).collect()}
    exact = {(r.query_id, r.neighbor_id)
             for r in S.embedding_topk(spark, new).collect()}
    assert len(got & exact) / len(exact) >= 0.8
    S.clear_centroid_cache(spark)
    S.clear_topk_cache(spark)


def test_assignments_artifact_serves_search_identically(spark, tmp_path):
    """The stored inverted index is a pure cost optimization: search
    results are IDENTICAL with and without it (assignment is
    deterministic given the quantizer), and the with-artifact plan scans
    the artifact instead of re-deriving the corpus x n_lists argmax."""
    new = _write_emb(spark, tmp_path / "c", _base_vecs())
    art = str(tmp_path / "art")
    S.clear_centroid_cache(spark)
    emb_digest = A.embeddings_digest(spark, new)
    A.materialize(spark, new, art, A.CENTROIDS_NAME, emb_digest)
    A.materialize(spark, new, art, A.ASSIGN_NAME, emb_digest)

    S.clear_centroid_cache(spark)
    baseline = sorted(tuple(r)
                      for r in S.embedding_ann_ivf(spark, new).collect())
    A.load(spark, new, art, A.ASSIGN_NAME)
    served = S.embedding_ann_ivf(spark, new)
    plan = served._jdf.queryExecution().executedPlan().toString()
    # the artifact's thin (vec_id, lid) parquet scan replaces the inline
    # derivation (plan paths truncate, so gate on the scan schema — no
    # other parquet relation in this plan has it)
    assert "ReadSchema: struct<vec_id:bigint,lid:int>" in plan, plan
    assert sorted(tuple(r) for r in served.collect()) == baseline
    S.clear_centroid_cache(spark)
    S.clear_topk_cache(spark)


def test_assignments_patch_under_carry_equals_full(spark, tmp_path):
    """Carry refresh with a stored index present: the churn-sized patch
    (delete gone + assign churn) must equal a from-scratch reassignment
    of the whole new corpus — assignment is deterministic per vector, so
    this is an exact-rows gate, the dedup-side patch==full pattern."""
    from pyspark_coding_challenge_spark.llm.similarity import (
        assign_nearest_list,
    )
    from pyspark.sql import functions as F

    vecs = _base_vecs()
    old, art = _build_old(spark, tmp_path, vecs)
    emb_digest = A.embeddings_digest(spark, old)
    A.materialize(spark, old, art, A.ASSIGN_NAME, emb_digest)

    new_vecs = dict(vecs)
    del new_vecs[37]
    new_vecs[12] = vecs[16]
    new_vecs[600] = vecs[25]
    new = _write_emb(spark, tmp_path / "new", new_vecs)
    summary = A.refresh(spark, old, new, art, EMB)
    assert summary[A.CENTROIDS_NAME] == "carried"
    assert summary[A.ASSIGN_NAME] == "patched"
    assert summary["walls"][A.ASSIGN_NAME] >= 0

    patched = sorted(
        tuple(r) for r in
        spark.read.parquet(os.path.join(art, A.ASSIGN_NAME)).collect()
    )
    from pyspark_coding_challenge_spark.sources.readers import read_table

    e = read_table(spark, new, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cent = spark.read.parquet(os.path.join(art, A.CENTROIDS_NAME))
    full = sorted(tuple(r) for r in assign_nearest_list(e, cent).collect())
    assert patched == full
    meta = _meta(art, A.ASSIGN_NAME)
    assert meta["lineage"]["snapshot"] == A.embeddings_digest(spark, new)
    S.clear_centroid_cache(spark)


def test_assignments_rebuild_under_retrain(spark, tmp_path):
    """A retrain reassigns everything: the stored index rebuilds (no
    warning — by design, not degradation) and its recorded centroid fold
    matches the NEW quantizer."""
    vecs = _base_vecs()
    old, art = _build_old(spark, tmp_path, vecs)
    A.materialize(spark, old, art, A.ASSIGN_NAME,
                  A.embeddings_digest(spark, old))
    new_vecs = {i: v for i, v in vecs.items() if i >= 15}  # churn gate
    new = _write_emb(spark, tmp_path / "new", new_vecs)
    summary = A.refresh(spark, old, new, art, EMB)
    assert summary[A.CENTROIDS_NAME] == "retrained"
    assert summary[A.ASSIGN_NAME] == "full_rebuild"
    # pairing invariant: fold recorded == fold of the retrained quantizer
    cent = spark.read.parquet(os.path.join(art, A.CENTROIDS_NAME))
    assert _meta(art, A.ASSIGN_NAME)["lineage"]["centroids_fold"] == \
        A._content_fold(cent, "lid")
    S.clear_centroid_cache(spark)


def test_assignments_refuse_foreign_quantizer(spark, tmp_path):
    """An index whose recorded centroid fold does not match the sibling
    quantizer artifact must refuse to load — pairing assignments with a
    retrained quantizer would silently mis-bucket the probe join."""
    new = _write_emb(spark, tmp_path / "c", _base_vecs())
    art = str(tmp_path / "art")
    S.clear_centroid_cache(spark)
    emb_digest = A.embeddings_digest(spark, new)
    A.materialize(spark, new, art, A.CENTROIDS_NAME, emb_digest)
    A.materialize(spark, new, art, A.ASSIGN_NAME, emb_digest)
    meta_path = os.path.join(art, A.ASSIGN_NAME, "_artifact_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    meta["lineage"]["centroids_fold"] = "12345"
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="different quantizer"):
        A.load(spark, new, art, A.ASSIGN_NAME)
    S.clear_centroid_cache(spark)


def test_update_all_runs_embeddings_side(spark, tmp_path):
    """A refresh of every artifact on a snapshot WITH an embeddings table
    runs the centroid refresh (carried here) alongside the text/dedup
    chains and surfaces its modes, churn and walls."""
    from pyspark_coding_challenge_spark.llm import dedup as D
    from pyspark_coding_challenge_spark.llm import text as T

    def _docs(sf_dir, texts):
        spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
            "doc_id long, text string, lang string, source string, n_chars int",
        ).coalesce(1).write.mode("overwrite") \
            .parquet(f"{sf_dir}/documents.parquet")

    vecs = _base_vecs()
    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    _docs(old, ["alpha beta gamma delta"] * 3 + ["epsilon zeta"])
    _docs(new, ["alpha beta gamma delta"] * 3 + ["epsilon zeta CHANGED"])
    _write_emb(spark, tmp_path / "old", vecs)
    new_vecs = dict(vecs)
    new_vecs[500] = vecs[11]
    _write_emb(spark, tmp_path / "new", new_vecs)
    art = str(tmp_path / "art")
    emb_digest = A.embeddings_digest(spark, old)
    A.materialize(spark, old, art, A.CENTROIDS_NAME, emb_digest)
    A.materialize(spark, old, art, A.VECDIG_NAME, emb_digest)
    S.clear_centroid_cache(spark)

    got = A.refresh(spark, old, new, art)
    assert got[A.CENTROIDS_NAME] == "carried"
    assert got["churn"]["embeddings"] == {"added": 1}
    assert got["walls"][A.CENTROIDS_NAME] >= 0
    D.clear_pair_cache(spark)
    T.clear_doc_signals_cache(spark)
    T.clear_token_spine_cache(spark)
    T.clear_span_cache(spark)
    S.clear_centroid_cache(spark)


def test_quantization_gap_extremes(spark):
    """gap==0 for a vector equal to a centroid, ==1 for one orthogonal to
    every centroid (any scale — the statistic is scale-free), and ==1 for
    a degenerate zero-norm vector: Spark's x/0 is NULL, which would
    vanish from the cohort average and blind the drift gate to garbage
    embeddings from a broken upstream job (review finding)."""
    from pyspark.sql import functions as F  # noqa: F401

    cent = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "lid int, cvec array<double>",
    )
    e = spark.createDataFrame(
        [(1, [2.0, 0.0, 0.0]), (2, [0.0, 0.0, 5.0]), (3, [0.0, 0.0, 0.0])],
        "vec_id long, emb array<double>",
    )
    got = {r["vec_id"]: r["gap"] for r in S.quantization_gap(e, cent).collect()}
    assert got[1] == pytest.approx(0.0, abs=1e-9)
    assert got[2] == pytest.approx(1.0, abs=1e-9)
    assert got[3] == pytest.approx(1.0, abs=1e-9)


def test_retrain_is_real_under_env_seeding(spark, tmp_path, monkeypatch):
    """Review finding: with SPARK_GRAFT_ARTIFACT_DIR pointing at the
    artifact dir and an IN-PLACE snapshot refresh (same directory path,
    contents changed), the stale centroid meta still passes the
    sf_dir+params check — the builder inside the retrain would env-seed
    the STALE bytes and materialize would no-op on its _seeded_from
    guard, silently keeping the old quantizer while reporting
    'retrained'. The fix deletes the meta sidecar before rebuilding."""
    vecs = _base_vecs()
    d = _write_emb(spark, tmp_path / "corpus", vecs)
    art = str(tmp_path / "art")
    emb_digest = A.embeddings_digest(spark, d)
    A.materialize(spark, d, art, A.CENTROIDS_NAME, emb_digest)
    A.materialize(spark, d, art, A.VECDIG_NAME, emb_digest)
    S.clear_centroid_cache(spark)
    before = _centroid_rows(spark, art)

    # overwrite the corpus IN PLACE with drifted mass (forces retrain)
    new_vecs = dict(vecs)
    for i in range(4):
        v = [0.0] * DIM
        v[4 + i] = 1.0
        new_vecs[400 + i] = v
    _write_emb(spark, tmp_path / "corpus", new_vecs)
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", art)

    summary = A.refresh(spark, d, d, art, EMB)
    assert summary[A.CENTROIDS_NAME] == "retrained", summary
    after = _centroid_rows(spark, art)
    assert after != before  # the retrain actually happened
    assert _meta(art, A.CENTROIDS_NAME)["lineage"]["snapshot"] == \
        A.embeddings_digest(spark, d)
    S.clear_centroid_cache(spark)


def test_churn_gate_limit_override(monkeypatch):
    """Review finding: the registered incremental_refresh section churns
    ~40% of the derived snapshot BY CONSTRUCTION; tuning the env knob
    below that must not break the slug. The per-call limit overrides the
    global."""
    ctx = {"churn": {"added": 40}, "old_digest": {"n_docs": 100}}
    monkeypatch.setattr(A, "INCR_MAX_CHURN_FRAC", 0.1)
    assert A._churn_gate(ctx) is not None            # global gate trips
    assert A._churn_gate(ctx, limit=1.0) is None     # explicit bound wins
    assert A._churn_gate(ctx, limit=0.2) is not None  # still a real gate


def test_text_incr_section_survives_strict_churn_knob(spark, monkeypatch):
    """End-to-end twin of the above: with a strict global churn policy the
    driver-registered text incremental section must still build (it pins
    its own bound — its churn is fixed by construction)."""
    from pyspark_coding_challenge_spark.llm import text as T

    monkeypatch.setattr(A, "INCR_MAX_CHURN_FRAC", 0.01)
    df = T.text_incremental_refresh(spark, "/root/testdata/sf0.001")
    assert df.count() > 0


def test_vec_digest_null_embedding(spark):
    """A NULL embedding digests as md5('{}') (to_json omits null struct
    fields) — non-null, deterministic, distinct from any real vector."""
    import hashlib

    e = spark.createDataFrame(
        [(1, None), (2, [1.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r["vec_id"]: r["digest"]
           for r in A.vec_digest_relation(e).collect()}
    assert got[1] == hashlib.md5(b"{}").hexdigest()
    assert got[2] != got[1] and got[2] is not None


# ---------------------------------------------------------------------------
# r12 ADVICE regressions: similarity-cache locking discipline
# ---------------------------------------------------------------------------

def test_assign_seed_runs_outside_cache_lock(spark, monkeypatch):
    """r12 ADVICE (similarity.py:544): the first env-seed runs Spark jobs
    (meta reads, fold collect, metadata counts) and must NOT hold the
    global session-state lock for their duration — that blocked every
    concurrent cache caller for multiple seconds. The seed callable
    observes the lock state at call time."""
    from pyspark_coding_challenge_spark import session_state as SS

    S.clear_centroid_cache(spark)
    seen: dict = {}

    def fake_seed(sp, d, name):
        assert name == A.ASSIGN_NAME
        seen["locked"] = SS._LOCK.locked()
        return None

    monkeypatch.setattr(A, "seed_from_env", fake_seed)
    assert S.ivf_assignments_for_dir(spark, "/no/such/corpus") is None
    assert seen == {"locked": False}
    # and the negative result is cached — a second call must not re-seed
    seen.clear()
    assert S.ivf_assignments_for_dir(spark, "/no/such/corpus") is None
    assert seen == {}
    S.clear_centroid_cache(spark)


def test_assign_seed_loser_unpersists_duplicate(spark, monkeypatch):
    """With the seed outside the lock, an install can land while it runs;
    the losing seed must unpersist its duplicate persisted artifact read
    instead of stranding a cached copy in storage memory."""
    from pyspark_coding_challenge_spark import session_state as SS

    S.clear_centroid_cache(spark)
    winner = spark.createDataFrame([(1, 0)], "vec_id long, lid int")
    loser = spark.createDataFrame([(1, 0)], "vec_id long, lid int").persist()
    loser.count()

    def fake_seed(sp, d, name):
        # simulate an install winning the race mid-seed
        SS.install("ivf_assignments", spark, "/race/corpus",
                   (winner, "fold_w"))
        return (loser, "fold_l")

    monkeypatch.setattr(A, "seed_from_env", fake_seed)
    got = S.ivf_assignments_for_dir(spark, "/race/corpus")
    assert got is winner
    assert not loser.storageLevel.useMemory, "loser's persist leaked"
    S.clear_centroid_cache(spark)


def test_clear_centroid_cache_takes_the_lock(spark):
    """r12 ADVICE (similarity.py:477): the clear must mutate the caches
    under the session-state lock — an unlocked clear races readers, which
    can fetch a (df, fold) tuple and have the df unpersisted out from
    under them mid-refresh. Holding the lock here must block the clear."""
    import threading

    from pyspark_coding_challenge_spark import session_state as SS

    done = threading.Event()
    SS._LOCK.acquire()
    try:
        t = threading.Thread(
            target=lambda: (S.clear_centroid_cache(spark), done.set()),
            daemon=True,
        )
        t.start()
        assert not done.wait(0.5), "clear mutated the caches lock-free"
    finally:
        SS._LOCK.release()
    assert done.wait(10), "clear never completed after the lock released"


# ---------------------------------------------------------------------------
# r13 (judge item #1): the driver-gated stored_index section
# ---------------------------------------------------------------------------

def test_stored_section_equals_inline_search(spark):
    """The registered stored_index section (artifact-served: carried
    quantizer + patched inverted index) must return EXACTLY the rows of
    an inline search with the same quantizer over the same derived new
    snapshot — assignment is deterministic, so the artifact is a pure
    cost optimization. This is the Spark-side half of the driver's
    cross-engine hash gate."""
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    S.clear_centroid_cache(spark)
    # one refresh serves both sides: the next would rewrite the slot
    state = S._stored_ivf_state(spark, sf)
    stored = S._stored_index_search(state)
    assert stored.columns[-2:] == ["quantizer_mode", "index_mode"]
    core = stored.select("query_id", "neighbor_id", "rank", "sim")
    e_new, cent, *_ = state
    inline = S.ivf_search(e_new, cent, assignments=None).select(
        "query_id", "neighbor_id", "rank", "sim")
    assert core.exceptAll(inline).count() == 0
    assert inline.exceptAll(core).count() == 0
    modes = stored.select("quantizer_mode", "index_mode").distinct().collect()
    assert [(r[0], r[1]) for r in modes] == [("carried", "patched")]


def test_stored_section_raises_on_degrade(spark, monkeypatch):
    """The mode literals pin CARRIED/PATCHED; if the refresh degrades (a
    retrain, or an index rebuild), the builder must RAISE rather than
    serve rows a full rebuild produced — the hash gate must prove the
    artifact-served path, not value-equality by accident."""
    import pyspark_coding_challenge_spark.llm.artifacts as A_mod

    real = A_mod.refresh

    def degraded(*a, **k):
        summary = real(*a, **k)
        summary[A_mod.CENTROIDS_NAME] = "retrained"
        return summary

    monkeypatch.setattr(A_mod, "refresh", degraded)
    with pytest.raises(RuntimeError, match="degraded"):
        S._stored_ivf_state(spark, "/root/testdata/sf0.001")


def _counting(monkeypatch, name):
    """Patch ``artifacts.name`` to count its calls; returns the count list."""
    real, calls = getattr(A, name), []
    monkeypatch.setattr(A, name, lambda *a, **k: calls.append(1) or real(*a, **k))
    return calls


def test_ivf_stored_sections_refresh_on_every_call(spark, monkeypatch):
    """No session entry holds the refresh's result: every
    ``embedding_ann_ivf`` call runs one embeddings refresh, shared by
    both stored sections, and the refresh's precise clears leave the base
    section's session quantizer for the corpus as it was."""
    from pyspark_coding_challenge_spark import session_state as SS

    sf = "/root/testdata/sf0.001"
    calls = _counting(monkeypatch, "refresh")
    S.embedding_ann_ivf_slug(spark, sf)
    assert len(calls) == 1
    cent = SS.get_or_build("ivf_centroids", spark, sf, lambda: None)
    assert cent is not None
    out = S.embedding_ann_ivf_slug(spark, sf)
    assert len(calls) == 2
    assert SS.get_or_build("ivf_centroids", spark, sf, lambda: None) is cent
    assert out.filter("section = 'stored_pq'").count() > 0


def test_text_incremental_section_refreshes_on_every_call(spark,
                                                          monkeypatch):
    """The text twin: every ``text_analysis`` call runs one text
    refresh, and the sibling sections' spine and signals entries for the
    corpus survive its precise clears."""
    from pyspark_coding_challenge_spark import registry
    from pyspark_coding_challenge_spark import session_state as SS

    sf = "/root/testdata/sf0.001"
    calls = _counting(monkeypatch, "refresh")
    slug = registry.queries()["text_analysis"]
    slug(spark, sf)
    assert len(calls) == 1
    kept = {kind: SS.get_or_build(kind, spark, sf, lambda: None)
            for kind in ("token_spine", "doc_signals")}
    assert None not in kept.values()
    out = slug(spark, sf)
    assert len(calls) == 2
    for kind, value in kept.items():
        assert SS.get_or_build(kind, spark, sf, lambda: None) is value, kind
    assert out.count() > 0
