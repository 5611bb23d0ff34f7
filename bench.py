#!/usr/bin/env python
"""Per-round benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
"scale_arm": {...}, "sf": ...}. ``value`` sums the registered slugs in
``queries`` only; the row-multiplied scale arm is timed under ``scale_arm``.

Execution is forced with the noop sink (full pipeline runs, nothing collected
to the driver, no sink I/O skew).
"""

from __future__ import annotations

import json
import os
import sys
import time


def _scale_arm_queries():
    """ADDITIVE bench entries (r17, verdict item #6): row-multiplied heavy
    kernels that give the scaling block (the driver benches at two core
    counts) data-parallel work big enough to show core scaling. At sf0.1
    every registered slug is dominated by fixed costs (planning,
    micro-batch barriers), so the 8-vs-32-core ratios could not
    distinguish a scale-safe operator from a driver-bound one (r16
    verdict). Each arm recomputes from the parquet inputs on every
    invocation — the multiplier is a deterministic per-row explode, no
    caching anywhere — and exercises a real engine kernel:

    * ``scale_shingle_hash`` — the dedup family's shingle+portable-md5
      kernel plus a shingle-keyed aggregate over documents x
      SPARK_GRAFT_SCALE_MULT: CPU-bound kernel into a hash-keyed shuffle
      (measured 8-vs-32-core ratio ~3.2 at the default multiplier; a
      fused-signals arm was prototyped and dropped — its kernel is too
      light on this corpus to outgrow the fixed costs, so it demonstrated
      nothing).

    They are timed like every registered slug but reported under their own
    ``scale_arm`` key and left out of the headline total, so ``value``
    covers the same query set as the registry.
    The sf0.1 corpus is tiny (~600 KB of text), so the default multiplier
    is sized for the kernels to dominate the fixed costs at 32 cores —
    measured ratios are in the round doc.
    """
    from pyspark.sql import functions as F

    from pyspark_coding_challenge_spark.sources.readers import (
        read_table,
        rebalance_for_compute,
    )

    mult = int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "64"))

    def _multiply(df, id_col):
        m = df.select(
            F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("_r"), "*"
        )
        return m.withColumn(id_col, F.col(id_col) * mult + F.col("_r")).drop("_r")

    def scale_shingle_hash(spark, sf_dir):
        from pyspark_coding_challenge_spark.llm.dedup import (
            _with_tokens,
            _word_shingles,
            md5_fold60,
        )

        d = rebalance_for_compute(
            read_table(spark, sf_dir, "documents").select("doc_id", "text"),
            "doc_id")
        m = _multiply(d, "doc_id")
        h = (
            _with_tokens(m)
            .select("doc_id", F.explode(_word_shingles("_toks")).alias("s"))
            .select("doc_id", md5_fold60(F.col("s")).alias("h"))
        )
        return h.groupBy("h").agg(
            F.count("*").alias("n"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )

    return [("scale_shingle_hash", scale_shingle_hash)]


def result_record(timings: dict[str, float], scale_slugs, errors: dict[str, str],
                  sf_dir: str) -> dict:
    """The JSON result line. ``timings`` holds every timed entry (-1.0 for
    a failed one); the ``scale_slugs`` among them go under ``scale_arm``."""
    queries = {s: t for s, t in timings.items() if s not in scale_slugs}
    out = {
        "metric": "headline_queries_wall",
        "value": round(sum(t for t in queries.values() if t >= 0), 3),
        "unit": "sec",
        "queries": queries,
        "scale_arm": {s: t for s, t in timings.items() if s in scale_slugs},
        "sf": sf_dir,
    }
    if errors:
        out["errors"] = errors
        # a total that silently omits failed slugs reads as a phantom
        # speedup under the same metric name: mark it partial ON the
        # value's record, not just in a side key a consumer may not inspect
        if any(s not in scale_slugs for s in errors):
            out["partial"] = True
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark_coding_challenge_spark import registry
    from pyspark_coding_challenge_spark.session import get_spark

    spark = get_spark(app_name="bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    scale_arm = _scale_arm_queries()
    headline = list(registry.queries().items()) + scale_arm

    # One untimed warm-up execution of EVERY query. What it keeps warm for
    # the timed calls: the JVM and the JIT of Spark's own code, the readers'
    # schema and split-count caches, the OS page cache of the inputs, the
    # session_state entries (class artifacts, stored state and statistics;
    # no query's own output except the `topk` entry), and the Janino classes
    # of every generated plan. The classes stay warm only because
    # session.get_spark sizes Spark's codegen class cache
    # (CODEGEN_CACHE_MAX_ENTRIES = 4096) above the ~1.7k classes one pass of
    # the registry compiles (~2.2k when class names carried codegen stage
    # ids); at Spark's default of 100 entries the LRU evicted each class
    # before its timed call and every timed query compiled its code again.
    # Warming only the first query made per-query timings depend on
    # REGISTRATION ORDER — early slugs paid the JIT ramp, late slugs ran
    # steady-state — which poisons round-over-round comparisons whenever
    # the registry is reordered.
    #
    # Per-slug try/except + finally: one failing slug must not lose every
    # completed timing or the JSON result line — record the failure in the
    # queries map (value -1.0, error listed) and keep going.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    try:
        for slug, fn in headline:
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as ex:  # noqa: BLE001 — recorded, not fatal
                errors[slug] = str(ex)[:200]

        # Best-of-2 per query: single-shot timings at this scale carry
        # several seconds of JIT/GC noise, which would read as phantom
        # round-over-round regressions. The timer starts BEFORE
        # fn(spark, sf_dir): several slugs do eager work at construction
        # time (sink_parquet writes its parquet, streaming_* run the
        # streaming query to completion, embedding_ann_ivf trains its
        # quantizer), and that work is part of the operator's real cost
        # (round-3 advisory; r2 timings excluded it, so those slugs jump
        # in BENCH_r03 — see BASELINE.md).
        for slug, fn in headline:
            if slug in errors:
                timings[slug] = -1.0
                continue
            best = float("inf")
            try:
                for _ in range(2):
                    t0 = time.perf_counter()
                    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                    best = min(best, time.perf_counter() - t0)
                timings[slug] = round(best, 3)
            except Exception as ex:  # noqa: BLE001
                errors[slug] = str(ex)[:200]
                # a transient failure on iteration 2 must not discard the
                # valid iteration-1 measurement (r6 review finding)
                timings[slug] = round(best, 3) if best != float("inf") else -1.0
    finally:
        print(json.dumps(result_record(timings, {s for s, _ in scale_arm}, errors, sf_dir)))
        spark.stop()
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
