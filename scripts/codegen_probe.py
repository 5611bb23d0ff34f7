#!/usr/bin/env python3
"""Count the classes Spark's code generator compiles, per pass and per slug.

    python3 scripts/codegen_probe.py --workload corpus_refresh --passes 5 --seed 1
    python3 scripts/codegen_probe.py --workload registry --passes 5 --sf-dir DIR

Every class Spark compiles (whole-stage codegen, projections, predicates)
goes through ``CodeGenerator``'s JVM-wide LRU of compiled classes; a miss
compiles with Janino and ticks ``CodegenMetrics.METRIC_COMPILATION_TIME``.
The count of that histogram before and after a slug call is the number of
classes the call compiled. Pass 0 is the cold pass; every later pass is warm,
so a slug that still compiles there either lost its classes to LRU eviction
or generates code that differs on every call.

``--workload events_pipeline|corpus_refresh`` runs the benchmark's workload
exactly as ``perfbench/run.py`` sets it up (same session, generated inputs
from ``--seed``, every call followed by the digest action, digests checked).
``--workload registry`` runs every slug in ``registry.queries()`` over the
tables in ``--sf-dir`` (the sf0.01 test data of TESTDATA.md, say) into the
noop sink, the shape of ``bench.py``.

Prints one line per pass and, last, one JSON object: the cache cap the
session reports, per-pass per-slug compile counts, the heap still in use
after the passes, and the slugs that still compile in warm passes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

from run import Bench, digest, nproc, prepare_env, start_session, stop_session  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def compiled(spark) -> int:
    """Classes compiled by this JVM so far."""
    jvm = spark.sparkContext._jvm
    return int(jvm.org.apache.spark.metrics.source.CodegenMetrics
               .METRIC_COMPILATION_TIME().getCount())


def retained_heap_mb(spark) -> float:
    """JVM heap in use after six full GCs (ContextCleaner frees the state of
    finished queries over several GCs)."""
    jvm = spark.sparkContext._jvm
    rt = jvm.Runtime.getRuntime()
    for _ in range(6):
        jvm.System.gc()
        time.sleep(0.4)
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def run_passes(spark, calls, passes: int) -> tuple[list[dict[str, int]], int]:
    """``calls`` is [(slug, fn)]; fn runs the slug's query to completion and
    returns False when its result is wrong. Returns the per-pass compile
    counts and the number of failed calls."""
    out, n_failed = [], 0
    for p in range(passes):
        counts, failed = {}, []
        for slug, fn in calls:
            c0 = compiled(spark)
            try:
                ok = fn()
            except Exception:  # noqa: BLE001 - reported, the pass goes on
                traceback.print_exc()
                ok = False
            if not ok:
                failed.append(slug)
            counts[slug] = compiled(spark) - c0
        out.append(counts)
        n_failed += len(failed)
        print(f"pass {p} ({'cold' if p == 0 else 'warm'}): "
              f"{sum(counts.values())} classes compiled"
              + (f"; FAILED {failed}" if failed else ""), flush=True)
    return out, n_failed


def workload_calls(bench: Bench):
    def call(slug):
        def fn():
            return digest(bench.fns[slug](bench.spark, bench.inputs)) == bench.expected.get(slug)
        return fn
    return [(slug, call(slug)) for slug in bench.slugs]


def registry_calls(spark, sf_dir: str):
    from pyspark_coding_challenge_spark import registry

    def call(fn):
        def run():
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            return True
        return run
    return [(slug, call(fn)) for slug, fn in registry.queries().items()]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*sorted(WORKLOADS), "registry"])
    ap.add_argument("--passes", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1, help="input seed of a benchmark workload")
    ap.add_argument("--sf-dir", help="input tables of --workload registry")
    args = ap.parse_args()
    if args.workload == "registry" and not args.sf_dir:
        ap.error("--workload registry needs --sf-dir")

    work = tempfile.mkdtemp(prefix="codegen_probe-")
    spark = None
    try:
        if args.workload == "registry":
            prepare_env(work, trace=False)
            spark, _ = start_session()
            calls = registry_calls(spark, args.sf_dir)
        else:
            bench = Bench(args.workload, args.seed, 0, False, work)
            bench.setup()
            spark = bench.spark
            calls = workload_calls(bench)
        cap = spark.conf.get("spark.sql.codegen.cache.maxEntries")
        print(f"{args.workload}: spark.sql.codegen.cache.maxEntries={cap}, "
              f"local[{nproc()}]", flush=True)
        per_pass, n_failed = run_passes(spark, calls, args.passes)
        heap = retained_heap_mb(spark)
    finally:
        if spark is not None:
            stop_session(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    warm = per_pass[1:]
    still = {slug: [p[slug] for p in warm] for slug, _ in calls
             if warm and any(p[slug] for p in warm)}
    print(json.dumps({
        "workload": args.workload, "cache_max_entries": int(cap),
        "compiled_per_pass": [sum(p.values()) for p in per_pass],
        "retained_heap_mb": round(heap, 1),
        "per_slug": per_pass,
        "warm_recompiling": dict(sorted(still.items(), key=lambda kv: -max(kv[1]))),
        "failed": n_failed,
    }))
    return 1 if n_failed else 0


if __name__ == "__main__":
    sys.exit(main())
