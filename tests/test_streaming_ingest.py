"""The streaming ingest with write-time digests (streaming/ingest.py, r13).

``artifacts.refresh`` accepts ingest-provided digest relations
(tests/test_supplied_digests.py); this suite proves an actual ingest exists
that produces them: a structured-streaming foreachBatch sink appending the
document rows AND their (doc_id, digest, batch_id) rows in one pass.

1. the two sinks agree: every ingested doc has exactly one digest row and
   the digest equals the batch-side ``doc_digest_relation`` definition;
2. multi-batch ingest (maxFilesPerTrigger=1) still covers every doc once;
3. END-TO-END: the digests an ingest wrote feed
   ``refresh(new_digests=...)`` and the refresh records the
   supplied path, never hashing the new corpus (monkeypatched to raise);
4. ``ingest_digests_relation`` dedupes an at-least-once redelivery so the
   refresh gate's row-count parity still holds.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pyspark_coding_challenge_spark.llm import artifacts as A
from pyspark_coding_challenge_spark.llm import dedup as D
from pyspark_coding_challenge_spark.streaming import ingest as I

from tests.test_artifacts import SF_DIR
from tests.test_supplied_digests import _corpora, _stored_state, _write_docs


def test_ingest_writes_docs_and_matching_digests(spark, tmp_path):
    src = _write_docs(
        spark, tmp_path / "src",
        [(i, f"streamed doc {i} alpha") for i in range(25)],
    )
    dest = str(tmp_path / "dest")
    stats = I.ingest_documents(spark, src, dest)
    assert stats["rows"] == 25 and stats["batches"] >= 1
    docs = spark.read.parquet(os.path.join(dest, I.DOCS_LEAF))
    dig = spark.read.parquet(os.path.join(dest, I.DIGESTS_LEAF))
    assert docs.count() == 25
    assert dig.count() == 25
    # write-time digests == the one batch-side definition, per doc
    expect = {
        (r.doc_id, r.digest)
        for r in A.doc_digest_relation(docs).collect()
    }
    assert {(r.doc_id, r.digest) for r in dig.collect()} == expect


def test_multibatch_ingest_covers_every_doc_once(spark, tmp_path):
    rows = [(i, f"multi batch doc {i}") for i in range(30)]
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    src = str(tmp_path / "src")
    df.repartition(3).write.parquet(os.path.join(src, I.DOCS_LEAF))
    dest = str(tmp_path / "dest")
    stats = I.ingest_documents(spark, src, dest, max_files_per_trigger=1)
    assert stats["batches"] >= 3, stats
    rel = I.ingest_digests_relation(spark, dest)
    assert rel.count() == 30
    assert rel.select("doc_id").distinct().count() == 30


def test_ingested_digests_feed_the_supplied_refresh(spark, tmp_path, monkeypatch):
    """The full loop: old corpus's stored artifacts + a STREAM-ingested new
    corpus whose write-time digests are handed to the refresh — summaries
    record 'supplied' and the new corpus is never re-hashed."""
    old, new_staging = _corpora(spark, tmp_path)
    # ingest the new snapshot through the stream (docs + digests, one pass)
    new = str(tmp_path / "ingested_new")
    I.ingest_documents(spark, new_staging, new)
    art = _stored_state(spark, old, tmp_path)
    supplied = I.ingest_digests_relation(spark, new).localCheckpoint()

    def boom(*a, **k):
        raise AssertionError("refresh hashed the new corpus despite "
                             "ingest-provided digests")

    monkeypatch.setattr(D, "snapshot_diff_from_digests", boom)
    monkeypatch.setattr(D, "snapshot_diff", boom)
    summary = A.refresh(spark, old, new, art, new_digests=supplied)
    assert summary["supplied"]["documents"] == "supplied"
    # the patched digest artifact folds to the ingested corpus's digest
    patched = spark.read.parquet(os.path.join(art, A.DIGESTS_NAME))
    assert A.digest_of_digests(patched) == A.corpus_digest(spark, new)


def test_digest_relation_dedupes_redelivery(spark, tmp_path):
    src = _write_docs(
        spark, tmp_path / "src",
        [(i, f"redelivered doc {i}") for i in range(10)],
    )
    dest = str(tmp_path / "dest")
    I.ingest_documents(spark, src, dest)
    dig_sink = os.path.join(dest, I.DIGESTS_LEAF)
    # simulate an at-least-once redelivery: the same batch appended twice
    dup = spark.read.parquet(dig_sink)
    dup.write.mode("append").parquet(dig_sink)
    assert spark.read.parquet(dig_sink).count() == 20
    rel = I.ingest_digests_relation(spark, dest)
    assert rel.count() == 10  # refresh-facing relation stays gate-clean
    # ...while the registered section's `copies` column surfaces the
    # duplication (hash gate reads 2, oracle says 1 -> red)
    copies = (
        spark.read.parquet(dig_sink)
        .groupBy("doc_id").count().agg(F.max("count")).collect()[0][0]
    )
    assert copies == 2


def test_redelivered_batch_is_idempotent_in_both_sinks(spark, tmp_path):
    """r14 (r13 verdict item #5): foreachBatch is at-least-once on task
    retry, redelivering a batch WITH THE SAME batch_id. The batch-staged,
    marker-committed sink must hold exactly one copy of every row in BOTH
    sinks after a redelivery — committed batches skip, uncommitted ones
    overwrite — so the registered ``ingest_digests`` section's ``copies``
    column (and its oracle's literal 1) hold without relying on the
    digest-relation dedupe."""
    src = _write_docs(
        spark, tmp_path / "src",
        [(i, f"idempotent doc {i}") for i in range(12)],
    )
    dest = str(tmp_path / "dest")
    I.ingest_documents(spark, src, dest)
    batch = spark.read.parquet(os.path.join(dest, I.DOCS_LEAF))
    # redeliver batch 0 verbatim: the marker exists, so the commit skips
    assert I.commit_ingest_batch(batch, 0, dest) == 0
    docs = spark.read.parquet(os.path.join(dest, I.DOCS_LEAF))
    dig = spark.read.parquet(os.path.join(dest, I.DIGESTS_LEAF))
    assert docs.count() == 12 and dig.count() == 12
    assert dig.groupBy("doc_id").count() \
        .agg(F.max("count")).collect()[0][0] == 1
    # the registered section over this sink reads copies == 1 everywhere
    assert dig.groupBy("doc_id", "digest") \
        .agg(F.count("*").alias("c")) \
        .filter(F.col("c") != 1).count() == 0


def test_crash_between_publish_and_marker_retries_clean(spark, tmp_path):
    """The non-atomic window: part files published, marker never written
    (crash). The retry must republish the batch OVER its own files —
    deterministic batch-keyed names — and commit, leaving exactly one
    copy; a second full ingest over the same checkpoint-free call also
    converges because committed markers gate every batch."""
    src = _write_docs(
        spark, tmp_path / "src",
        [(i, f"crashy doc {i}") for i in range(8)],
    )
    dest = str(tmp_path / "dest")
    I.ingest_documents(spark, src, dest)
    # simulate the crash: delete batch 0's marker but keep its files
    marker = os.path.join(dest, "_batch_0.committed")
    assert os.path.exists(marker)
    os.remove(marker)
    batch = spark.read.parquet(os.path.join(dest, I.DOCS_LEAF))
    assert I.commit_ingest_batch(batch, 0, dest) == 8  # real re-commit
    assert os.path.exists(marker)
    docs = spark.read.parquet(os.path.join(dest, I.DOCS_LEAF))
    dig = spark.read.parquet(os.path.join(dest, I.DIGESTS_LEAF))
    assert docs.count() == 8 and dig.count() == 8
    # and the write-time digests still equal the batch-side definition
    expect = {(r.doc_id, r.digest)
              for r in A.doc_digest_relation(docs).collect()}
    assert {(r.doc_id, r.digest) for r in dig.collect()} == expect


def test_second_ingest_reads_only_new_files(spark, tmp_path):
    """r15 (r14 advisor, medium): the stream checkpoint persists INSIDE the
    sink, so a second ``ingest_documents`` call after the source grew
    ingests ONLY the new files under fresh monotonic batch ids — the
    pre-r15 wiped-checkpoint behavior restarted at batch 0, matched the
    old marker, and silently dropped the new rows."""
    src = _write_docs(
        spark, tmp_path / "src",
        [(i, f"wave one doc {i}") for i in range(10)],
    )
    dest = str(tmp_path / "dest")
    stats1 = I.ingest_documents(spark, src, dest)
    assert stats1["rows"] == 10
    b0 = spark.read.parquet(os.path.join(dest, I.DIGESTS_LEAF)) \
        .agg(F.max("batch_id")).collect()[0][0]
    # the source grows: new part files land next to the consumed ones
    grow = spark.createDataFrame(
        [(100 + i, f"wave two doc {i}", "en", "s2", 10) for i in range(5)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    grow.coalesce(1).write.mode("append").parquet(
        os.path.join(src, "documents.parquet"))
    stats2 = I.ingest_documents(spark, src, dest)
    assert stats2["rows"] == 5, stats2  # ONLY the new rows, not a re-read
    docs = spark.read.parquet(os.path.join(dest, I.DOCS_LEAF))
    assert docs.count() == 15
    assert docs.select("doc_id").distinct().count() == 15
    dig = spark.read.parquet(os.path.join(dest, I.DIGESTS_LEAF))
    b1 = dig.agg(F.max("batch_id")).collect()[0][0]
    assert b1 > b0  # monotonic batch ids across calls
    # the changelog of exactly the second wave
    cl = I.ingest_changelog_relation(spark, dest, since_batch=int(b0) + 1)
    assert sorted(r.doc_id for r in cl.collect()) == [100 + i for i in range(5)]


def test_marker_collision_fails_loudly_not_silently(spark, tmp_path):
    """If an operator wipes the checkpoint (batch ids restart at 0) after
    the source grew, the redelivered 'batch 0' holds different content
    than the committed one — the commit must RAISE, not skip (a skip
    silently drops the new rows; r14 advisor, medium)."""
    import shutil

    import pytest

    src = _write_docs(
        spark, tmp_path / "src",
        [(i, f"collision doc {i}") for i in range(6)],
    )
    dest = str(tmp_path / "dest")
    I.ingest_documents(spark, src, dest)
    shutil.rmtree(os.path.join(dest, "_checkpoint"))
    grow = spark.createDataFrame(
        [(50, "late arrival", "en", "s", 12)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    grow.coalesce(1).write.mode("append").parquet(
        os.path.join(src, "documents.parquet"))
    with pytest.raises(Exception, match="marker collision"):
        I.ingest_documents(spark, src, dest)
    # and nothing was silently dropped OR duplicated by the failed attempt
    docs = spark.read.parquet(os.path.join(dest, I.DOCS_LEAF))
    assert docs.count() == 6


def test_marker_collision_caught_at_equal_row_counts(spark, tmp_path):
    """r16 (r15 advisor): the marker records the batch's CONTENT digest,
    so a wiped-checkpoint collision whose colliding batch holds the SAME
    number of rows as the committed one — the exact case the r15
    row-count proxy silently skipped — still fails loudly."""
    import shutil

    import pytest

    src = _write_docs(
        spark, tmp_path / "src",
        [(i, f"same count doc {i}") for i in range(6)],
    )
    dest = str(tmp_path / "dest")
    I.ingest_documents(spark, src, dest)
    shutil.rmtree(os.path.join(dest, "_checkpoint"))
    # regenerate the source IN PLACE: same 6 doc ids, different text —
    # the colliding 'batch 0' row count equals the committed one
    _write_docs(
        spark, tmp_path / "src",
        [(i, f"REWRITTEN doc {i}") for i in range(6)],
    )
    I.clear_doc_schema_cache(spark)
    with pytest.raises(Exception, match="marker collision"):
        I.ingest_documents(spark, src, dest)
    # the committed bytes are untouched by the failed attempt
    docs = spark.read.parquet(os.path.join(dest, I.DOCS_LEAF))
    assert docs.count() == 6
    assert all("same count" in r.text for r in docs.collect())


def test_ingest_refresh_serve_refreshes_on_every_call(spark, monkeypatch):
    """No session entry holds the ``ingest_refresh_serve`` section's
    result: each call runs the whole ingest -> refresh -> serve loop, so
    one refresh runs per call, and two calls serve equal rows."""
    real, calls = A.refresh, []
    monkeypatch.setattr(A, "refresh",
                        lambda *a, **k: calls.append(1) or real(*a, **k))
    first = I.streaming_ingest_refresh_serve(spark, SF_DIR).collect()
    assert len(calls) == 1
    second = I.streaming_ingest_refresh_serve(spark, SF_DIR).collect()
    assert len(calls) == 2
    assert first and sorted(first) == sorted(second)
