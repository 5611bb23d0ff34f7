"""Caller-supplied churn CHANGELOG for the incremental refresh (r13).

The supplied-digests path (tests/test_supplied_digests.py) removed the
new-corpus hash scan but still paid a corpus-wide diff JOIN to find the
churn. A CDC-shaped ingest already knows its op codes; handing them to
``refresh(new_changelog=...)`` makes churn detection
O(churn). Contracts:

1. a valid changelog produces the same refresh as the scan path with the
   corpus-wide diff constructors monkeypatched to raise (snapshot_diff,
   snapshot_diff_from_digests, AND digest_diff — nothing joins the corpus
   to find churn), and the patched digest artifact folds to the true
   new-corpus digest;
2. lies the bounded gate can catch are caught deterministically: wrong
   upsert digest, count identity violation, a 'removed' doc still
   present, a changelog cut against the wrong OLD snapshot, duplicate
   ids, unknown op codes, NULL digests on upserts — each falls back to
   the scan path (warned, recorded in the summary), never a wrong patch;
3. no stored doc_digests artifact -> changelog rejected (nothing to
   fold against);
4. the streaming ingest's append-case changelog drives the refresh
   end-to-end.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from pyspark_coding_challenge_spark.llm import artifacts as A
from pyspark_coding_challenge_spark.llm import dedup as D
from pyspark_coding_challenge_spark.streaming import ingest as I

from tests.test_supplied_digests import (
    EMB, _corpora, _stored_state, _write_docs,
)

CHANGELOG_SCHEMA = "doc_id long, change string, digest_new string"


def _true_changelog(spark, old, new):
    """Derive the honest changelog from the two corpora (what a CDC feed
    would have emitted)."""
    old_d = A.doc_digest_relation(
        spark.read.parquet(os.path.join(old, "documents.parquet")))
    new_d = A.doc_digest_relation(
        spark.read.parquet(os.path.join(new, "documents.parquet")))
    return (
        D.digest_diff(old_d, new_d)
        .select("doc_id", "change", "digest_new")
        .localCheckpoint()
    )


def _no_corpus_diff(monkeypatch):
    def boom(*a, **k):
        raise AssertionError("refresh ran a corpus-wide diff despite the "
                             "supplied changelog")

    monkeypatch.setattr(D, "snapshot_diff", boom)
    monkeypatch.setattr(D, "snapshot_diff_from_digests", boom)
    monkeypatch.setattr(D, "digest_diff", boom)


def test_valid_changelog_patches_without_any_corpus_diff(
        spark, tmp_path, monkeypatch):
    old, new = _corpora(spark, tmp_path)
    art = _stored_state(spark, old, tmp_path)
    changelog = _true_changelog(spark, old, new)
    true_digest = A.corpus_digest(spark, new)
    _no_corpus_diff(monkeypatch)
    summary = A.refresh(spark, old, new, art, new_changelog=changelog)
    assert summary[A.PAIRS_NAME] == "patched"
    assert summary["supplied"]["documents"] == "changelog"
    patched = spark.read.parquet(os.path.join(art, A.DIGESTS_NAME))
    assert A.digest_of_digests(patched) == true_digest
    meta = A._read_meta(os.path.join(art, A.DIGESTS_NAME))
    assert meta["lineage"]["snapshot"] == true_digest


@pytest.mark.parametrize("mangle,needle", [
    # wrong digest on an upsert row (wrong snapshot / recipe)
    (lambda cl: cl.withColumn(
        "digest_new",
        F.when(F.col("change") == "added", F.lit("0" * 32))
        .otherwise(F.col("digest_new"))), "digest spot check"),
    # a duplicate id (double-patch ambiguity)
    (lambda cl: cl.unionByName(cl.limit(1)), "more than once"),
    # an unknown op code
    (lambda cl: cl.withColumn(
        "change",
        F.when(F.col("change") == "added", F.lit("upserted"))
        .otherwise(F.col("change"))), "unknown change values"),
    # NULL digest on an upsert
    (lambda cl: cl.withColumn(
        "digest_new",
        F.when(F.col("change") == "modified", F.lit(None).cast("string"))
        .otherwise(F.col("digest_new"))), "NULL digest_new"),
    # drop an 'added' row -> count identity fails
    (lambda cl: cl.filter(~((F.col("change") == "added"))
                          | (F.col("doc_id") % 2 == 0)), "count identity"),
])
def test_lying_changelog_falls_back_to_scan(spark, tmp_path, mangle, needle):
    old, new = _corpora(spark, tmp_path)
    art = _stored_state(spark, old, tmp_path)
    bad = mangle(_true_changelog(spark, old, new)).localCheckpoint()
    true_digest = A.corpus_digest(spark, new)
    with pytest.warns(UserWarning, match="ignoring supplied changelog"):
        summary = A.refresh(spark, old, new, art, new_changelog=bad)
    note = summary["supplied"]["documents"]
    assert note.startswith("changelog rejected"), note
    assert needle.split()[0] in note or needle in note, (needle, note)
    # the fallback still patched CORRECTLY
    patched = spark.read.parquet(os.path.join(art, A.DIGESTS_NAME))
    assert A.digest_of_digests(patched) == true_digest


def test_removed_doc_still_present_is_caught(spark, tmp_path):
    old, new = _corpora(spark, tmp_path)
    art = _stored_state(spark, old, tmp_path)
    cl = _true_changelog(spark, old, new)
    # claim some surviving doc was removed AND drop a real removal to keep
    # the count identity intact (so only the presence check can catch it)
    removed_ids = sorted(r.doc_id for r in
                         cl.filter(F.col("change") == "removed").collect())
    survivor = (
        spark.read.parquet(os.path.join(new, "documents.parquet"))
        .join(cl, on="doc_id", how="left_anti")
        .agg(F.min("doc_id")).collect()[0][0]
    )
    fake = spark.createDataFrame(
        [(int(survivor), "removed", None)], CHANGELOG_SCHEMA)
    bad = (
        cl.filter(F.col("doc_id") != removed_ids[0])
        .unionByName(fake).localCheckpoint()
    )
    with pytest.warns(UserWarning, match="still present"):
        summary = A.refresh(spark, old, new, art, new_changelog=bad)
    assert "still present" in summary["supplied"]["documents"]


def test_changelog_against_wrong_old_snapshot_is_caught(spark, tmp_path):
    old, new = _corpora(spark, tmp_path)
    art = _stored_state(spark, old, tmp_path)
    cl = _true_changelog(spark, old, new)
    # swap one real removal for a phantom doc the old snapshot never had
    # (count identity stays intact; the old-digests membership check fires)
    removed_ids = sorted(r.doc_id for r in
                         cl.filter(F.col("change") == "removed").collect())
    fake = spark.createDataFrame(
        [(999_999, "removed", None)], CHANGELOG_SCHEMA)
    bad = (
        cl.filter(F.col("doc_id") != removed_ids[0])
        .unionByName(fake).localCheckpoint()
    )
    with pytest.warns(UserWarning, match="different OLD snapshot|still present"):
        summary = A.refresh(spark, old, new, art, new_changelog=bad)
    assert summary["supplied"]["documents"].startswith("changelog rejected")


def test_changelog_without_stored_digests_is_rejected(
        spark, tmp_path, monkeypatch):
    old, new = _corpora(spark, tmp_path)
    art = _stored_state(spark, old, tmp_path)
    shutil.rmtree(os.path.join(art, A.DIGESTS_NAME))
    cl = _true_changelog(spark, old, new)
    with pytest.warns(UserWarning, match="no valid stored doc_digests"):
        summary = A.refresh(spark, old, new, art, new_changelog=cl)
    assert summary["supplied"]["documents"].startswith("changelog rejected")


def test_append_only_ingest_changelog_end_to_end(spark, tmp_path, monkeypatch):
    """The streaming ingest's own changelog drives the refresh: stage NEW
    docs only, stream-append them onto a copy of the old corpus, refresh
    old -> appended with change='added' rows — zero corpus-wide diffs."""
    rows_old = [(i, f"base doc {i} alpha beta") for i in range(30)]
    rows_new = [(100 + i, f"appended doc {i} gamma") for i in range(6)]
    old = _write_docs(spark, tmp_path / "old", rows_old)
    art = _stored_state(spark, old, tmp_path)
    staged = _write_docs(spark, tmp_path / "staged", rows_new)
    appended = str(tmp_path / "appended")
    os.makedirs(appended)
    shutil.copytree(os.path.join(old, "documents.parquet"),
                    os.path.join(appended, I.DOCS_LEAF))
    I.ingest_documents(spark, staged, appended)
    changelog = I.ingest_changelog_relation(spark, appended).localCheckpoint()
    assert changelog.count() == 6
    _no_corpus_diff(monkeypatch)
    summary = A.refresh(spark, old, appended, art, new_changelog=changelog)
    assert summary["supplied"]["documents"] == "changelog"
    patched = spark.read.parquet(os.path.join(art, A.DIGESTS_NAME))
    assert A.digest_of_digests(patched) == A.corpus_digest(spark, appended)


# ---------------------------------------------------------------------------
# embeddings side (new_vec_changelog) — the vec twin
# ---------------------------------------------------------------------------

import math  # noqa: E402

VDIM = 8


def _vecs(n=40):
    out = {}
    for i in range(n):
        d = i % 4
        v = [0.0] * VDIM
        v[d] = 1.0
        v[(d + 1) % 4] = 0.05 * (i // 4)
        nrm = math.sqrt(sum(x * x for x in v))
        out[i] = [x / nrm for x in v]
    return out


def _write_emb(spark, sf_dir, vecs):
    rows = [(i, [float(x) for x in v], 0) for i, v in sorted(vecs.items())]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{sf_dir}/embeddings.parquet")
    return str(sf_dir)


def _emb_pair(spark, tmp_path):
    """old = 40 vectors; new = drop %10, add 4 in-distribution, no mods."""
    base = _vecs()
    old = _write_emb(spark, tmp_path / "vold", base)
    newv = {i: v for i, v in base.items() if i % 10 != 0}
    extra = _vecs(44)
    for i in range(40, 44):
        newv[i] = extra[i]
    new = _write_emb(spark, tmp_path / "vnew", newv)
    return old, new


def _vec_stored(spark, old, tmp_path):
    art = str(tmp_path / "vart")
    dig = A.embeddings_digest(spark, old)
    A.materialize(spark, old, art, A.CENTROIDS_NAME, dig)
    A.materialize(spark, old, art, A.VECDIG_NAME, dig)
    from pyspark_coding_challenge_spark.llm.similarity import clear_centroid_cache
    clear_centroid_cache(spark)
    return art


def _true_vec_changelog(spark, old, new):
    ov = A.vec_digest_relation(
        spark.read.parquet(os.path.join(old, "embeddings.parquet")))
    nv = A.vec_digest_relation(
        spark.read.parquet(os.path.join(new, "embeddings.parquet")))
    return (
        D.digest_diff(ov, nv, id_col="vec_id")
        .select("vec_id", "change", "digest_new").localCheckpoint()
    )


def test_vec_changelog_patches_without_corpus_diff(spark, tmp_path, monkeypatch):
    old, new = _emb_pair(spark, tmp_path)
    art = _vec_stored(spark, old, tmp_path)
    cl = _true_vec_changelog(spark, old, new)

    def boom(*a, **k):
        raise AssertionError("vec refresh ran a corpus-wide digest diff "
                             "despite the supplied changelog")

    monkeypatch.setattr(D, "digest_diff", boom)
    summary = A.refresh(spark, old, new, art, EMB, new_vec_changelog=cl)
    assert summary["supplied"]["embeddings"] == "changelog"
    assert summary[A.CENTROIDS_NAME] == "carried", summary
    assert summary[A.VECDIG_NAME] == "patched"
    patched = spark.read.parquet(os.path.join(art, A.VECDIG_NAME))
    assert A.digest_of_digests(patched, id_col="vec_id") == \
        A.embeddings_digest(spark, new)


def test_lying_vec_changelog_falls_back(spark, tmp_path):
    old, new = _emb_pair(spark, tmp_path)
    art = _vec_stored(spark, old, tmp_path)
    bad = _true_vec_changelog(spark, old, new).withColumn(
        "digest_new",
        F.when(F.col("change") == "added", F.lit("f" * 32))
        .otherwise(F.col("digest_new"))).localCheckpoint()
    with pytest.warns(UserWarning, match="ignoring supplied vec changelog"):
        summary = A.refresh(spark, old, new, art, EMB, new_vec_changelog=bad)
    assert summary["supplied"]["embeddings"].startswith("changelog rejected")
    # fallback still patched correctly via the scan path
    patched = spark.read.parquet(os.path.join(art, A.VECDIG_NAME))
    assert A.digest_of_digests(patched, id_col="vec_id") == \
        A.embeddings_digest(spark, new)


def test_vec_changelog_rejected_without_stored_digests(spark, tmp_path):
    old, new = _emb_pair(spark, tmp_path)
    art = _vec_stored(spark, old, tmp_path)
    shutil.rmtree(os.path.join(art, A.VECDIG_NAME))
    cl = _true_vec_changelog(spark, old, new)
    with pytest.warns(UserWarning, match="no valid stored vec_digests"):
        summary = A.refresh(spark, old, new, art, EMB, new_vec_changelog=cl)
    assert summary["supplied"]["embeddings"].startswith("changelog rejected")
