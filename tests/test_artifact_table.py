"""The artifact table (llm/artifacts.py ``ARTIFACTS``) end to end, in the
default tier: one ``materialize_all`` at sf0.001, then for every artifact
that seeds a session entry, ``load`` and the env seed must serve exactly
the rows its session builder serves and record the seed path. Plus the
``load`` error contract: an artifact that cannot serve raises ValueError,
which ``load_all`` turns into a warned skip for the artifacts with a
fallback."""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from pyspark_coding_challenge_spark import session_state as SS
from pyspark_coding_challenge_spark.llm import artifacts as A
from pyspark_coding_challenge_spark.llm import dedup as D
from pyspark_coding_challenge_spark.llm import similarity as S
from pyspark_coding_challenge_spark.llm import text as T
from tests.test_artifacts import SF_DIR as SF

#: each session-seeding artifact's session builder
BUILDERS = {
    A.PAIRS_NAME: lambda s: D.verified_pairs_for_dir(s, SF),
    A.BANDS_NAME: lambda s: D.banded_index_for_dir(s, SF),
    A.CC_NAME: lambda s: D.cc_labels_for_dir(s, SF),
    A.SPANS_NAME: lambda s: T.shared_span_starts_for_dir(s, SF),
    A.CENTROIDS_NAME: lambda s: S.ivf_centroids_for_dir(s, SF),
    A.ASSIGN_NAME: lambda s: S.ivf_assignments_for_dir(s, SF),
    A.PQCB_NAME: lambda s: S.pq_codebooks_for_dir(s, SF),
    A.PQCODES_NAME: lambda s: S.pq_codes_with_cohort_for_dir(s, SF)[0],
    A.SPINE_NAME: lambda s: T.shared_token_spine_for_dir(s, SF),
    A.SIGNALS_NAME: lambda s: T.shared_doc_signals_for_dir(s, SF),
}
SEEDED = [n for n in A.ARTIFACTS if n in SS.KINDS]


def _rows_digest(df) -> tuple:
    """Order-insensitive (columns, row-hash sum, row count)."""
    cols = sorted(df.columns)
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.sum("h").cast("string").alias("s"), F.count("*").alias("n")
    ).collect()[0]
    return cols, row["s"], row["n"]


def _clear(spark) -> None:
    SS.clear(spark, *(k for k, v in SS.KINDS.items() if v.cls == SS.ARTIFACT))


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """(artifact dir, name -> digest of the builder's rows)."""
    art = str(tmp_path_factory.mktemp("artifact_table"))
    _clear(spark)
    A.materialize_all(spark, SF, art)
    # the builders serve the session entries materialize_all just built;
    # the two never-built entries (stored index, stored codes) are the
    # inline relations those artifacts stand in for
    cent = S.ivf_centroids_for_dir(spark, SF)
    cb = S.pq_codebooks_for_dir(spark, SF)
    e = A._embedding_vectors(spark, SF)
    expected = {n: _rows_digest(BUILDERS[n](spark)) for n in SEEDED
                if n not in (A.ASSIGN_NAME, A.PQCODES_NAME)}
    expected[A.ASSIGN_NAME] = _rows_digest(S.assign_nearest_list(e, cent))
    expected[A.PQCODES_NAME] = _rows_digest(S.pq_encode(e, cb, cent))
    _clear(spark)
    yield art, expected
    _clear(spark)


def test_every_seeding_artifact_has_a_builder():
    assert set(BUILDERS) == set(SEEDED)
    assert len(A.ARTIFACTS) == 14


@pytest.mark.parametrize("name", SEEDED)
def test_load_and_env_seed_serve_the_builders_rows(spark, built, name,
                                                   monkeypatch):
    art, expected = built
    path = os.path.abspath(os.path.join(art, name))
    try:
        loaded = A.load(spark, SF, art, name)
        assert _rows_digest(loaded) == expected[name]
        assert SS.loaded_from(name, spark, SF) == path
        assert _rows_digest(BUILDERS[name](spark)) == expected[name]
        _clear(spark)

        monkeypatch.setenv(A.ENV_ARTIFACT_DIR, art)
        value = A.seed_from_env(spark, SF, name)
        seeded = value[0] if isinstance(value, tuple) else value
        assert _rows_digest(seeded) == expected[name]
        # through the session builder: the entry records its seed path
        assert _rows_digest(BUILDERS[name](spark)) == expected[name]
        assert SS.loaded_from(name, spark, SF) == path
    finally:
        _clear(spark)


def _copy(built, tmp_path) -> str:
    art = str(tmp_path / "art")
    shutil.copytree(built[0], art)
    return art


def test_load_all_skips_unreadable_cc_labels(spark, built, tmp_path):
    """A valid meta over deleted parquet is an artifact that cannot serve:
    ``load`` raises ValueError (not Spark's AnalysisException) and
    ``load_all`` warns and recomputes the labels, loading the rest."""
    art = _copy(built, tmp_path)
    for part in glob.glob(os.path.join(art, A.CC_NAME, "*.parquet")):
        os.remove(part)
    try:
        with pytest.raises(ValueError, match="unreadable"):
            A.load(spark, SF, art, A.CC_NAME)
        with pytest.warns(UserWarning, match="cc_labels not loaded"):
            out = A.load_all(spark, SF, art)
        assert out[A.CC_NAME] is None
        assert all(out[n] is not None for n in SEEDED if n != A.CC_NAME)
    finally:
        _clear(spark)


def test_load_all_skips_pq_pair_on_foreign_coarse_quantizer(spark, built,
                                                           tmp_path):
    """Residual codebooks recorded against another coarse quantizer than
    the sibling ``ivf_centroids`` artifact must not load: ``load`` raises
    and ``load_all`` warns and skips the codebooks and their codes."""
    art = _copy(built, tmp_path)
    meta_path = os.path.join(art, A.PQCB_NAME, "_artifact_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    meta["lineage"]["centroids_fold"] = "12345"
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    try:
        with pytest.raises(ValueError, match="different coarse quantizer"):
            A.load(spark, SF, art, A.PQCB_NAME)
        with pytest.warns(UserWarning, match="pq_codebooks not loaded"):
            out = A.load_all(spark, SF, art)
        assert out[A.PQCB_NAME] is None and out[A.PQCODES_NAME] is None
        assert out[A.CENTROIDS_NAME] is not None
    finally:
        _clear(spark)


def test_refresh_closures_and_require_modes():
    """Each caller refreshes only what it reads: the closure of a request
    adds the artifacts its hooks land with it or read, and its side's
    digests artifact, last. Pure table arithmetic — no Spark job."""
    closure = A.refresh_closure
    assert closure((A.PAIRS_NAME,)) == (
        A.PAIRS_NAME, A.BANDS_NAME, A.DIGESTS_NAME)
    assert closure((A.CC_NAME,)) == (
        A.PAIRS_NAME, A.BANDS_NAME, A.CC_NAME, A.DIGESTS_NAME)
    text = set(closure((A.SIGNALS_NAME, A.SPINE_NAME)))
    assert text == {A.SIGNALS_NAME, A.SPINE_NAME, A.DIGESTS_NAME}
    assert {A.SPANS_NAME, A.SPANPOS_NAME, A.SPANSTATS_NAME} <= \
        set(closure((A.SPANS_NAME,)))
    assert {A.PQCB_NAME, A.CENTROIDS_NAME, A.VECDIG_NAME} <= \
        set(closure((A.PQCODES_NAME,)))
    for names in [None, (A.PAIRS_NAME,), (A.CC_NAME,), (A.SPANS_NAME,),
                  (A.SIGNALS_NAME, A.SPINE_NAME), (A.PQCODES_NAME,),
                  (A.ASSIGN_NAME,), (A.BANDS_NAME, A.PQCB_NAME)]:
        got = closure(names)
        assert len(set(got)) == len(got), got
        for side, s in A._SIDES.items():
            on_side = [n for n in got if A.ARTIFACTS[n].side == side]
            assert not on_side or on_side[-1] == s.digests, (names, got)
    assert set(closure(None)) == set(A.ARTIFACTS)

    summary = {A.PAIRS_NAME: "patched", A.CC_NAME: "rederived",
               "reasons": {}, "churn": {}, "supplied": {}, "walls": {}}
    A.require_modes(summary, {A.PAIRS_NAME: "patched"})
    A.require_modes(summary, {A.PAIRS_NAME: "patched",
                              A.CC_NAME: "rederived"})
    for required in ({A.CC_NAME: "patched"}, {A.DIGESTS_NAME: "patched"}):
        with pytest.raises(RuntimeError, match="degraded"):
            A.require_modes(summary, required)
