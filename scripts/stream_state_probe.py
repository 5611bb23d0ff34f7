#!/usr/bin/env python
"""Streaming state-store probe (r5 verdict next-round #8): replay a 10x
events table through the two heaviest stateful operators in MANY
micro-batches and record the state store's own metrics per batch —
``numRowsTotal`` / ``memoryUsedBytes`` from StreamingQueryProgress.

Why: the DuckDB oracle proves emitted VALUES; it cannot see whether
watermark eviction actually bounds state across batches — the 100 TB
streaming failure mode is a state store that only ever grows. This probe
makes eviction observable: the input is written as time-ordered files
(repartitionByRange on ts), consumed one file per trigger, so the
watermark advances batch over batch and closed windows / expired dedup
keys must leave the store.

What bounded means here: with a 1-hour watermark over a 30-day event
span, peak live state is O(keys active within one watermark horizon), not
O(all keys seen) — so ``numRowsTotal`` must PLATEAU (or oscillate) well
below the cumulative distinct-key count, and the final batch's state must
be far below the peak-cumulative line a no-eviction operator would show.
The artifact records the full per-batch series; the emitted verdict field
compares peak state vs total distinct keys.

Since r8 the default mode also RECONCILES the stream-stream join's
multi-batch output against a batch backfill of the same interval join
(judge item #4): the replay spans ~30 days in 16 micro-batches, far past
the 1-hour watermark delay, so genuine cross-batch eviction applies — a
view already evicted when a later batch delivers its purchase is a
LEGITIMATE late drop the batch oracle cannot model. The artifact records
emitted vs backfill pair counts, the late-drop budget, and asserts zero
SPURIOUS pairs (emitted ⊆ backfill — eviction may only ever drop matches,
never invent them).

``--skew`` (judge item #7) is the streaming twin of the batch skew probe:
the replicated events keep their row count but 90% of rows are reassigned
to ONE user, then replayed through stateful dedup and the interval join;
per-PARTITION state distribution is read back from the checkpoint via the
state data source (``format("statestore")``), since progress metrics only
expose totals. The hot user's join state all hashes to one partition —
the probe records whether that partition's state stays bounded by the
watermark horizon.

Usage: ``python scripts/stream_state_probe.py [--skew] [round_number]`` —
writes ``STREAM_STATE_PROBE_r{N}.json`` (or ``..._SKEW_r{N}.json``) at the
repo root when a round is given. Synthetic data lives in a fresh private
temp dir per run (never beside the input test data), removed when the run
ends, failed or not.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

FACTOR = 10
N_FILES = 16  # => N_FILES micro-batches (maxFilesPerTrigger=1)
BASE_SF = "/root/testdata/sf0.1"
# this run's private work dir, made by main()
WORK = ""


def _build_replicated_events(spark, out: str, user_expr=None,
                             write_order=None) -> str:
    """ONE corpus-builder for all three probe corpora (r8 review finding:
    this recipe existed as three hand-copies): replicate events FACTOR x
    on disjoint event_ids, apply ``user_expr`` (a function of the
    replica-shifted columns; default = disjoint user_ids), bucket by time
    into N_FILES files and write them in ``write_order`` (default
    chronological).

    Time buckets written SEQUENTIALLY: FileStreamSource orders batches by
    file modification time, so ascending mod-times give chronological
    replay — the watermark then advances batch over batch instead of
    jumping to max on an arbitrarily-ordered file and late-dropping the
    rest (which would make 'bounded state' trivially true for the wrong
    reason). A non-default ``write_order`` is exactly how the
    out-of-order variant manufactures genuinely late data."""
    from pyspark.sql import functions as F

    import time

    if os.path.exists(f"{out}/.complete"):
        return out
    shutil.rmtree(out, ignore_errors=True)
    base = spark.read.parquet(f"{BASE_SF}/events.parquet")
    if user_expr is None:
        def user_expr(i):
            return F.col("user_id") + i * 10_000_000
    parts = [
        base.select(
            (F.col("event_id") + i * 100_000_000).alias("event_id"),
            "ts",
            user_expr(i).alias("user_id"),
            "event_type", "value", "props",
        )
        for i in range(FACTOR)
    ]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    # TIMESTAMP_NTZ cannot cast to long directly; go through TIMESTAMP
    epoch = F.col("ts").cast("timestamp").cast("long")
    lo, hi = df.agg(F.min(epoch), F.max(epoch)).collect()[0]
    span = max(1, hi - lo + 1)
    bucketed = df.withColumn(
        "_b", ((epoch - F.lit(lo)) * N_FILES / F.lit(span)).cast("int")
    ).persist()
    bucketed.count()
    for i in (write_order or range(N_FILES)):
        bucketed.filter(F.col("_b") == i).drop("_b").coalesce(1) \
            .write.mode("append").parquet(out)
        time.sleep(0.3)
    bucketed.unpersist()
    open(f"{out}/.complete", "w").close()
    return out


def build_events(spark) -> str:
    """10x events: replicate with disjoint user_ids (10x key cardinality),
    timestamps kept — eviction pressure scales with keys-per-horizon, which
    is the quantity being probed."""
    return _build_replicated_events(spark, f"{WORK}/events_x{FACTOR}")


def _interval_join(src):
    """The probed stream-stream interval join (same shape as
    streaming.windows.streaming_stream_stream_join): purchases matched to
    same-user views at most 2h earlier, both sides watermarked. ONE
    definition serves the in-order, out-of-order, and skew replays — the
    reconciliation counts are meaningless if a stream drifts from its own
    backfill."""
    from pyspark.sql import functions as F

    views = (
        src().filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"),
                F.col("event_id").alias("view_id"),
                F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", _WM_DELAY())
    )
    purchases = (
        src().filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", _WM_DELAY())
    )
    return views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 2 HOURS")),
        "inner",
    ).select("v_user", "view_id", "purchase_id")


def _WM_DELAY() -> str:
    from pyspark_coding_challenge_spark.streaming.windows import WATERMARK_DELAY

    return WATERMARK_DELAY


def _batch_backfill(spark, ev_dir: str):
    """The batch twin of ``_interval_join`` over the full corpus — the
    ground truth a production consumer reconciles the stream against."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(ev_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("event_id").alias("view_id"),
        F.col("ts").cast("timestamp").alias("v_ts"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").cast("timestamp").alias("p_ts"))
    return views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 2 HOURS")),
        "inner",
    ).select("view_id", "purchase_id")


def _reconcile(spark, ev_dir: str, sink: str, emitted: int, **extra) -> dict:
    """emitted-vs-backfill pair accounting; asserts the hard invariant
    (emitted ⊆ backfill — eviction may only ever DROP matches)."""
    backfill = _batch_backfill(spark, ev_dir)
    pairs = (
        spark.read.parquet(sink).select("view_id", "purchase_id")
        if emitted else
        spark.createDataFrame([], "view_id LONG, purchase_id LONG")
    )
    n = backfill.count()
    spurious = pairs.exceptAll(backfill).count()
    dropped = backfill.exceptAll(pairs).count()
    rec = {
        **extra,
        "backfill_pairs": n,
        "emitted_pairs": emitted,
        "dropped_late_pairs": dropped,
        "spurious_pairs": spurious,
        "late_drop_fraction": round(dropped / n, 4) if n else None,
    }
    assert spurious == 0, (
        f"stream-stream join emitted {spurious} pairs the batch backfill "
        "does not contain — eviction must only ever DROP matches"
    )
    return rec


def _drive(spark, stream, slug: str) -> tuple[list[dict], int, str, str]:
    """availableNow to an append parquet sink; return (per-batch state-op
    metrics from the query's progress events, total emitted rows, sink
    path, checkpoint path — the last two for reconciliation reads and the
    state data source). The emitted total is each operator's own
    no-eviction baseline — a store that never evicted would hold ~every
    emitted key/window at the end."""
    from pyspark_coding_challenge_spark.streaming.windows import _stream_confs

    sink = f"{WORK}/{slug}/sink"
    ck = f"{WORK}/{slug}/ck"
    shutil.rmtree(f"{WORK}/{slug}", ignore_errors=True)
    # the engine's stream confs (state partitions, state-store provider,
    # checkpoint file manager), so the probe measures the streams it runs
    with _stream_confs(spark):
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    series = []
    # recentProgress retains only the last ~spark.sql.streaming
    # .numRecentProgressUpdates entries (default 100) — raised below in
    # main(); still assert nothing was silently truncated

    for p in q.recentProgress:
        ops = p.get("stateOperators") or []
        if not ops:
            continue
        series.append({
            "batch": p.get("batchId"),
            "input_rows": p.get("numInputRows"),
            "state_rows_total": sum(o.get("numRowsTotal", 0) for o in ops),
            "state_rows_removed": sum(o.get("numRowsRemoved", 0) for o in ops),
            "state_memory_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
            # r9 judge #5: per-batch wall — a serialized hot partition shows
            # up here (state rows alone measure footprint, not latency)
            "batch_duration_ms": p.get("batchDuration"),
        })
    # zero-emission guard (same shape as streaming.windows._read_back):
    # an operator that emits nothing leaves only _spark_metadata, which
    # fails naive schema inference — return 0, not a crash, after the
    # expensive replay (r6 review finding)
    wrote = os.path.isdir(sink) and any(
        f.endswith(".parquet") for f in os.listdir(sink)
    )
    emitted = spark.read.parquet(sink).count() if wrote else 0
    return series, emitted, sink, ck


LATE_BUCKET = 7  # the time bucket the out-of-order variant withholds


def build_events_late(spark) -> str:
    """Same 10x corpus as build_events, but time bucket ``LATE_BUCKET`` is
    written LAST (latest mod-time => delivered last by the file source):
    by then the watermark sits near max(ts), so that bucket's rows are
    genuinely late and its views/purchases are dropped before joining —
    the regime where the stream legitimately diverges from the batch
    backfill. Chronological replay measures that budget at ZERO (verified:
    each file spans ~2 days >> the 2h interval + 1h delay, so matches
    complete before eviction); this variant measures it under disorder."""
    order = [i for i in range(N_FILES) if i != LATE_BUCKET] + [LATE_BUCKET]
    return _build_replicated_events(
        spark, f"{WORK}/events_late_x{FACTOR}", write_order=order)


HOT_USER = 777_777_777


def build_skew_events(spark) -> str:
    """The streaming twin of the batch skew corpus: FACTOR x events rows,
    with 90% of VIEW rows reassigned to ONE user while event_ids stay
    distinct and timestamps keep their original span — the interval join
    must then buffer ~90% of in-horizon view rows under a single key,
    which hashes to a single state partition. Only the view (buffered/
    left) side is made hot ON PURPOSE: hot views + hot purchases would
    also make the MATCH COUNT quadratic in the hot key's density (~10^7-8
    output rows at this replay — measured, it ran for 25+ minutes before
    being killed), drowning the state measurement in output I/O that has
    nothing to do with state skew. Skewing one side isolates the probed
    axis: per-partition buffered state. Written time-ordered like
    build_events."""
    from pyspark.sql import functions as F

    def hot_views(i):
        return F.when(
            (F.col("event_type") == "view") & (F.col("event_id") % 10 < 9),
            F.lit(HOT_USER),
        ).otherwise(F.col("user_id") + i * 10_000_000)

    # recipe-versioned dir: the corpus recipe changed once already (both-
    # sides-hot -> views-hot) and a .complete marker from a killed run of
    # the OLD recipe would be silently reused otherwise (r8 review finding)
    return _build_replicated_events(
        spark, f"{WORK}/events_skew_viewhot_x{FACTOR}", user_expr=hot_views)


def _state_partition_distribution(spark, ck: str, batch_id=None,
                                  join_side: str | None = None) -> dict:
    """Per-partition state row counts via the state data source — the
    distribution progress metrics cannot expose. ``batch_id`` reads the
    store as of that committed batch (peak, not post-eviction final)."""
    r = spark.read.format("statestore")
    if join_side is not None:
        r = r.option("joinSide", join_side)
    if batch_id is not None:
        r = r.option("batchId", batch_id)
    rows = r.load(ck).groupBy("partition_id").count().collect()
    dist = {int(x["partition_id"]): int(x["count"]) for x in rows}
    total = sum(dist.values())
    return {
        "rows_by_partition": {str(k): v for k, v in sorted(dist.items())},
        "total_rows": total,
        "max_partition_rows": max(dist.values()) if dist else 0,
        "hot_share": round(max(dist.values()) / total, 4) if total else None,
    }


def _peak_batch(series: list[dict]) -> int | None:
    if not series:
        return None
    peak = max(series, key=lambda s: s["state_rows_total"])
    return peak["batch"]


def _skew_probe(spark, provider: str | None, rnd) -> None:
    """90%-one-user replay through stateful dedup and the interval join,
    recording BOTH the per-batch totals and the per-partition state
    distribution at the peak batch. Expected shape: dedup state is immune
    (its key is (user_id, event_type) — the hot user adds at most
    n_event_types keys), while the join buffers ~90% of in-horizon rows in
    the hot user's ONE partition — the probe pins that the hot partition's
    state is still bounded by the watermark horizon (peak << no-eviction
    baseline), i.e. skew concentrates state but eviction still caps it."""
    from pyspark.sql import functions as F

    from pyspark_coding_challenge_spark.sources.readers import (
        canonicalize_ts,
        ensure_event_ts_confs,
    )
    from pyspark_coding_challenge_spark.streaming.windows import WATERMARK_DELAY

    ensure_event_ts_confs(spark)
    ev_dir = build_skew_events(spark)
    schema = spark.read.parquet(ev_dir).schema

    def src():
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(ev_dir)
        )
        return canonicalize_ts(raw, "ts")

    total_rows = spark.read.parquet(ev_dir).count()
    hot_rows = spark.read.parquet(ev_dir).filter(
        F.col("user_id") == HOT_USER).count()
    result: dict = {
        "state_store_provider": provider or "hdfs-default",
        "protocol": (
            f"sf0.1 events x{FACTOR} with 90% of VIEW rows reassigned to "
            f"ONE user ({hot_rows}/{total_rows} rows; one-sided so match "
            f"count stays non-quadratic — see build_skew_events), "
            f"{N_FILES} time-ordered files consumed 1/trigger; per-batch "
            "stateOperators totals plus per-PARTITION state distribution "
            "at the peak batch via the state data source"
        ),
        "watermark": WATERMARK_DELAY,
        "hot_user_rows": hot_rows,
        "total_rows": total_rows,
    }

    dedup = (
        src().withWatermark("ts", WATERMARK_DELAY)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    d_series, d_emitted, _, d_ck = _drive(spark, dedup, "skew_dedup")
    peaks = [s["state_rows_total"] for s in d_series] or [0]
    result["stateful_dedup"] = {
        "batches": len(d_series),
        "peak_state_rows": max(peaks),
        "final_state_rows": peaks[-1],
        "emitted": d_emitted,
    }
    try:
        result["stateful_dedup"]["peak_partition_distribution"] = (
            _state_partition_distribution(spark, d_ck, _peak_batch(d_series))
        )
    except Exception as exc:  # record, don't lose the series
        result["stateful_dedup"]["statestore_error"] = str(exc)[:300]

    j_series, j_emitted, _, j_ck = _drive(
        spark, _interval_join(src), "skew_ss_join")
    jpeaks = [s["state_rows_total"] for s in j_series] or [0]
    no_evict = spark.read.parquet(ev_dir).filter(
        F.col("event_type").isin("view", "purchase")).count()

    def _walls(series):
        ws = [s["batch_duration_ms"] for s in series
              if s.get("batch_duration_ms") is not None]
        return {"total_wall_ms": sum(ws), "max_batch_ms": max(ws or [0]),
                "per_batch_ms": ws}

    result["stream_stream_join"] = {
        "batches": len(j_series),
        "peak_state_rows": max(jpeaks),
        "final_state_rows": jpeaks[-1],
        "emitted": j_emitted,
        "no_eviction_baseline_rows": no_evict,
        "bounded": max(jpeaks) < no_evict,
        **_walls(j_series),
    }

    # r9 judge #5: the same interval join over a UNIFORM replay of the
    # SAME row count (the standard disjoint-user replica corpus) — the
    # per-batch wall ratio is the hot partition's measured latency cost,
    # separating "state is bounded" (proved above) from "the hot
    # partition serializes the stage" (what this measures).
    uev_dir = build_events(spark)
    uschema = spark.read.parquet(uev_dir).schema

    def usrc():
        raw = (
            spark.readStream.schema(uschema)
            .option("maxFilesPerTrigger", 1)
            .parquet(uev_dir)
        )
        return canonicalize_ts(raw, "ts")

    u_series, u_emitted, _, _ = _drive(
        spark, _interval_join(usrc), "skew_ss_join_uniform")
    uw = _walls(u_series)
    result["stream_stream_join_uniform"] = {
        "batches": len(u_series),
        "emitted": u_emitted,
        "total_rows": spark.read.parquet(uev_dir).count(),
        **uw,
    }
    jw = result["stream_stream_join"]
    result["skew_wall_ratio"] = (
        round(jw["total_wall_ms"] / uw["total_wall_ms"], 3)
        if uw["total_wall_ms"] else None
    )
    result["skew_max_batch_ratio"] = (
        round(jw["max_batch_ms"] / uw["max_batch_ms"], 3)
        if uw["max_batch_ms"] else None
    )
    jb = _peak_batch(j_series)
    for side in ("left", "right"):
        try:
            result["stream_stream_join"][f"peak_partition_distribution_{side}"] = (
                _state_partition_distribution(spark, j_ck, jb, join_side=side)
            )
        except Exception as exc:
            result["stream_stream_join"][f"statestore_error_{side}"] = str(exc)[:300]

    out = json.dumps(result)
    print(out)
    if rnd:
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        tag = "_ROCKSDB" if provider and "RocksDB" in provider else ""
        path = os.path.join(
            repo_root, f"STREAM_STATE_PROBE_SKEW{tag}_r{rnd}.json")
        with open(path, "w") as fh:
            fh.write(out + "\n")
        print(f"wrote {path}", file=sys.stderr)


def _probe() -> None:
    skew = "--skew" in sys.argv
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    rnd = args[0] if args else None
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pyspark.sql import functions as F

    from pyspark_coding_challenge_spark.session import get_spark
    from pyspark_coding_challenge_spark.sources.readers import (
        canonicalize_ts,
        ensure_event_ts_confs,
    )
    from pyspark_coding_challenge_spark.streaming.windows import WATERMARK_DELAY

    spark = get_spark(app_name="stream_state_probe", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark_coding_challenge_spark.streaming.windows import (
        _stream_state_provider,
    )

    provider = _stream_state_provider()
    # keep ALL batch progress entries (default retention is 100): a finer
    # N_FILES must never silently truncate the metric series
    spark.conf.set(
        "spark.sql.streaming.numRecentProgressUpdates", str(max(200, N_FILES * 4))
    )

    if skew:
        _skew_probe(spark, provider, rnd)
        spark.stop()
        return

    ev_dir = build_events(spark)
    schema = spark.read.parquet(ev_dir).schema
    total_dedup_keys = (
        spark.read.parquet(ev_dir).select("user_id", "event_type").distinct().count()
    )

    ensure_event_ts_confs(spark)

    def src():
        # same ts canonicalization as streaming.windows.read_events_stream:
        # the replicated parquet stores TIMESTAMP_NTZ, watermarks need TIMESTAMP
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(ev_dir)
        )
        return canonicalize_ts(raw, "ts")

    result: dict = {
        "state_store_provider": provider or "hdfs-default",
        "protocol": (
            f"sf0.1 events x{FACTOR} (disjoint user_ids, original timestamps), "
            f"{N_FILES} time-ordered files consumed 1/trigger; per-batch "
            "stateOperators metrics from StreamingQueryProgress"
        ),
        "watermark": WATERMARK_DELAY,
        "total_distinct_dedup_keys": total_dedup_keys,
        "operators": {},
    }

    dedup = (
        src().withWatermark("ts", WATERMARK_DELAY)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    dedup_series, dedup_emitted, _, _ = _drive(spark, dedup, "dedup")
    result["operators"]["stateful_dedup"] = dedup_series

    sessions = (
        src().withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("cnt"))
    )
    sess_series, sess_emitted, _, _ = _drive(spark, sessions, "sessions")
    result["operators"]["session_windows"] = sess_series

    # Stream-stream interval join (r6 verdict #7): BOTH sides buffer in the
    # symmetric hash join state — the classic unbounded-state trap. Same
    # shape as streaming.windows.streaming_stream_stream_join (views
    # joined to purchases at most 2h later); the interval bound + the two
    # watermarks must evict views at wm-2h and purchases at wm, so state
    # plateaus at O(rows within one horizon), never O(all rows replayed).
    join_series, join_emitted, join_sink, _ = _drive(
        spark, _interval_join(src), "ss_join")
    result["operators"]["stream_stream_join"] = join_series
    # no-eviction baseline: a join that never evicted would end holding
    # every view + purchase row replayed through it
    join_input_rows = (
        spark.read.parquet(ev_dir)
        .filter(F.col("event_type").isin("view", "purchase")).count()
    )
    result["stream_stream_join_input_rows"] = join_input_rows
    result["stream_stream_join_emitted_rows"] = join_emitted

    # Multi-batch reconciliation vs batch backfill (r8 judge #4): the
    # 16-batch replay spans weeks >> the 1h watermark, so cross-batch
    # eviction genuinely applies; the stream, its backfill, and the
    # reconciliation accounting all come from the shared helpers so a
    # predicate drift between them is impossible.
    result["reconciliation"] = _reconcile(
        spark, ev_dir, join_sink, join_emitted)

    # Out-of-order replay: withhold one middle time bucket until the end —
    # its rows arrive with the watermark already near max(ts) and are
    # dropped as late, so the late-data budget is non-trivially measured
    # (in-order replay measures it at exactly 0; both regimes recorded).
    late_dir = build_events_late(spark)
    late_schema = spark.read.parquet(late_dir).schema

    def late_src():
        raw = (
            spark.readStream.schema(late_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(late_dir)
        )
        return canonicalize_ts(raw, "ts")

    _, l_emitted, l_sink, _ = _drive(
        spark, _interval_join(late_src), "ss_join_late")
    result["reconciliation_out_of_order"] = _reconcile(
        spark, late_dir, l_sink, l_emitted, held_back_bucket=LATE_BUCKET)

    # Per-operator no-eviction baseline (review finding r6): the dedup
    # store's is the distinct key count; the session store's is its OWN
    # emitted session count — comparing session state against dedup keys
    # would make the verdict depend on an unrelated denominator.
    baselines = {
        "stateful_dedup": max(total_dedup_keys, dedup_emitted),
        "session_windows": sess_emitted,
        "stream_stream_join": join_input_rows,
    }
    for name, series in result["operators"].items():
        if not series:
            # no metrics means NOTHING WAS MEASURED — never a green verdict
            # (r6 review finding: the old [0] default read as bounded)
            result["operators_summary_" + name] = {
                "batches": 0, "bounded": None,
                "error": "no stateOperators metrics captured",
            }
            continue
        peaks = [s["state_rows_total"] for s in series]
        result["operators_summary_" + name] = {
            "batches": len(series),
            "peak_state_rows": max(peaks),
            "final_state_rows": peaks[-1],
            "total_removed": sum(s["state_rows_removed"] for s in series),
            "no_eviction_baseline_rows": baselines[name],
            "bounded": max(peaks) < baselines[name],
        }

    out = json.dumps(result)
    print(out)
    if rnd:
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        tag = "_ROCKSDB" if provider and "RocksDB" in provider else ""
        path = os.path.join(repo_root, f"STREAM_STATE_PROBE{tag}_r{rnd}.json")
        with open(path, "w") as fh:
            fh.write(out + "\n")
        print(f"wrote {path}", file=sys.stderr)
    spark.stop()


def main() -> None:
    global WORK
    WORK = tempfile.mkdtemp(prefix="spark_graft_stream_probe-")
    try:
        _probe()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
