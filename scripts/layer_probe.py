#!/usr/bin/env python3
"""Per-layer counters of every slug call in one run: compiled classes,
process forks, wall and CPU time and the plan census, then the driver's heap
and block store.

    python3 scripts/layer_probe.py --workload corpus_refresh --passes 3 --seed 1 > probe.json
    python3 scripts/layer_probe.py --workload registry --passes 2 --sf-dir DIR > probe.json

``--workload events_pipeline|corpus_refresh`` runs the benchmark's workload
exactly as ``perfbench/run.py`` sets it up (same session, inputs generated
from ``--seed``, every call followed by the digest action, digests checked).
``--workload registry`` runs every slug in ``registry.queries()`` over the
tables in ``--sf-dir`` (the sf0.01 test data of TESTDATA.md, say) into the
noop sink, the shape of ``bench.py``. Pass 0 is the cold pass; every later
pass is warm.

Per slug call:

* ``compiled``: classes Spark compiled. Every generated class goes through
  ``CodeGenerator``'s JVM-wide LRU of compiled classes; a miss compiles
  with Janino and ticks ``CodegenMetrics.METRIC_COMPILATION_TIME``. A slug
  that still compiles in a warm pass lost its classes to LRU eviction or
  generates code that differs on every call.
* ``spawns``: processes forked, per command. pip PySpark ships no native
  Hadoop library, so Hadoop's local filesystem runs shell commands
  (``readlink`` to stat a link, ``chmod`` to set a permission) and Spark
  deletes some directories with ``rm -rf``; these forks sit below every
  counter Spark keeps. Before the Spark JVM starts, one shim per command in
  ``SHIMMED`` goes into a temporary directory put first on ``PATH``; each
  shim appends its command line to a log and ``exec``s the real binary, so
  only this process tree is affected.
* ``wall_s`` and ``cpu_s``: the call's wall time and the CPU time of the
  whole process tree (reaped children included, so the forks' own CPU
  counts).
* ``census``: the nodes of the slug DataFrame's initial (pre-AQE) physical
  plan by ``COUNTED`` kind, zero counts left out, read after the counters
  above, so after the call has run. An InMemoryTableScan prints its cached
  plan, so a slug with ``in_memory_scans`` also counts the scans and
  exchanges below it, which run once per cache fill.

After the passes, once: the retained heap (the benchmark's reading), the
memory manager's page size and storage memory in use, and the blocks the
driver's block manager holds, by kind and the largest. In local mode the
driver is also the executor, so one block manager holds every cached RDD
partition and broadcast variable. A broadcast is kept twice: its serialized
pieces (``broadcast_N_pieceM``), and the value as built (``broadcast_N``),
whose size is Spark's estimate of the live object graph; a hash-join
relation built on one Tungsten page counts the whole page.

Progress goes to stderr; stdout is one JSON object. Exits 1 when a call
raised or, in a benchmark workload, returned a wrong digest.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import re
import shlex
import shutil
import sys
import tempfile
import time
import traceback
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MB = 2**20
LARGEST = 10

# Commands Hadoop's Shell, Spark's Utils and the launch scripts are known to
# run by name; anything not on PATH is skipped.
SHIMMED = ("readlink", "chmod", "chown", "ln", "rm", "ls", "stat", "df", "du",
           "id", "groups", "whoami", "uname", "setsid", "bash", "sh")

# Physical-plan nodes worth counting at scale: scans, exchanges, joins by
# strategy, aggregates, windows and Python evaluation.
COUNTED = {
    "parquet_scans": r"Scan parquet",
    "rdd_scans": r"Scan ExistingRDD",
    "shuffle_exchanges": r"Exchange hashpartitioning",
    "range_exchanges": r"Exchange rangepartitioning",
    "roundrobin_exchanges": r"Exchange RoundRobinPartitioning",
    "broadcast_exchanges": r"BroadcastExchange",
    "broadcast_hash_joins": r"BroadcastHashJoin",
    "sort_merge_joins": r"SortMergeJoin",
    "shuffled_hash_joins": r"ShuffledHashJoin",
    "broadcast_nl_joins": r"BroadcastNestedLoopJoin",
    "cartesian_products": r"CartesianProduct",
    "hash_aggregates": r"HashAggregate",
    "windows": r"\bWindow\b",
    "window_group_limits": r"WindowGroupLimit",
    "take_ordered": r"TakeOrderedAndProject",
    "python_row_udfs": r"BatchEvalPython",
    "python_arrow_udfs": r"ArrowEvalPython|MapInPandas",
    "in_memory_scans": r"InMemoryTableScan",
}


def census(plan: str) -> dict[str, int]:
    """Node counts of a physical plan string by ``COUNTED`` kind, zero
    counts left out. A cached relation that has run prints its adaptive
    plan twice, final then initial; only the initial one is counted."""
    plan = re.sub(r"== Final Plan ==.*?(?=== Initial Plan ==)", "", plan, flags=re.S)
    counts = {k: len(re.findall(rx, plan)) for k, rx in COUNTED.items()}
    return {k: n for k, n in counts.items() if n}


def write_shims(shim_dir: str, log: str, commands=SHIMMED) -> str:
    """Write a logging shim for each of ``commands`` found on ``PATH`` into
    ``shim_dir``; return the ``PATH`` that puts them first."""
    os.makedirs(shim_dir, exist_ok=True)
    for cmd in commands:
        real = shutil.which(cmd)
        if real is None:
            continue
        path = os.path.join(shim_dir, cmd)
        with open(path, "w") as f:
            f.write("#!/bin/sh\n"
                    f'printf "%s\\n" "{cmd} $*" >> {shlex.quote(log)}\n'
                    f'exec {shlex.quote(real)} "$@"\n')
        os.chmod(path, 0o755)
    return os.pathsep.join([shim_dir, os.environ.get("PATH", "")])


def read_log(log: str) -> list[str]:
    try:
        with open(log) as f:
            return f.read().splitlines()
    except FileNotFoundError:
        return []


def compiled(spark) -> int:
    """Classes compiled by this JVM so far."""
    jvm = spark.sparkContext._jvm
    return int(jvm.org.apache.spark.metrics.source.CodegenMetrics
               .METRIC_COMPILATION_TIME().getCount())


def block_kind(block_id) -> str:
    if block_id.isRDD():
        return "rdd"
    if block_id.isBroadcast():
        return "broadcast piece" if block_id.field() else "broadcast"
    return block_id.getClass().getSimpleName()


def driver_memory(spark) -> dict:
    """Page size, storage memory in use and the blocks of the driver's
    block manager, by kind and the largest."""
    env = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()
    blocks, it = [], env.blockManager().blockInfoManager().entries()
    while it.hasNext():
        entry = it.next()
        block_id = entry._1()
        blocks.append((block_kind(block_id), block_id.name(), int(entry._2().size())))
    kinds = collections.defaultdict(lambda: [0, 0])
    for kind, _, size in blocks:
        kinds[kind][0] += 1
        kinds[kind][1] += size
    return {
        "page_size_mb": round(int(env.memoryManager().pageSizeBytes()) / MB, 2),
        "storage_memory_used_mb": round(int(env.memoryManager().storageMemoryUsed()) / MB, 2),
        "blocks_mb": round(sum(b[2] for b in blocks) / MB, 2),
        "by_kind": {k: {"blocks": n, "mb": round(s / MB, 2)}
                    for k, (n, s) in sorted(kinds.items(), key=lambda kv: -kv[1][1])},
        "largest": [{"block": name, "kind": kind, "mb": round(size / MB, 2)}
                    for kind, name, size in sorted(blocks, key=lambda b: -b[2])[:LARGEST]],
    }


def main() -> int:
    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
    from run import Bench, digest, nproc, prepare_env, start_session, stop_session, tree_cpu_s
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*sorted(WORKLOADS), "registry"])
    ap.add_argument("--passes", type=int, default=3, help="passes, the cold one included")
    ap.add_argument("--seed", type=int, default=1, help="input seed of a benchmark workload")
    ap.add_argument("--sf-dir", help="input tables of --workload registry")
    args = ap.parse_args()
    if args.workload == "registry" and not args.sf_dir:
        ap.error("--workload registry needs --sf-dir")

    work = tempfile.mkdtemp(prefix="layer_probe-")
    log = os.path.join(work, "spawns.log")
    # before the JVM starts: it resolves commands through the PATH it inherits
    os.environ["PATH"] = write_shims(os.path.join(work, "shims"), log)
    spark = None
    try:
        if args.workload == "registry":
            sf_dir = os.path.abspath(args.sf_dir)
            prepare_env(work, trace=False)
            os.chdir(work)
            spark, _ = start_session()
            from pyspark_coding_challenge_spark import registry

            fns, inputs = registry.queries(), sf_dir

            def check(slug, df):
                df.write.format("noop").mode("overwrite").save()
                return True
        else:
            bench = Bench(args.workload, args.seed, 0, False, work)
            bench.setup()
            spark, inputs = bench.spark, bench.inputs
            fns = {slug: bench.fns[slug] for slug in bench.slugs}

            def check(slug, df):
                return digest(df) == bench.expected.get(slug)

        def call(slug) -> dict:
            n0, c0 = len(read_log(log)), compiled(spark)
            cpu0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
            df, ok = None, False
            try:
                df = fns[slug](spark, inputs)
                ok = check(slug, df)
            except Exception:  # noqa: BLE001 - reported, the pass goes on
                traceback.print_exc()
            rec = {"ok": ok, "wall_s": round(time.perf_counter() - t0, 3),
                   "cpu_s": round(tree_cpu_s(os.getpid()) - cpu0, 3),
                   "compiled": compiled(spark) - c0,
                   "spawns": dict(collections.Counter(
                       ln.split(" ", 1)[0] for ln in read_log(log)[n0:]))}
            if df is not None:
                try:
                    rec["census"] = census(df._jdf.queryExecution().executedPlan().toString())
                except Exception as ex:  # noqa: BLE001 - recorded, the pass goes on
                    rec["census"] = {"error": str(ex)[:200]}
            return rec

        cap = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
        print(f"{args.workload}: spark.sql.codegen.cache.maxEntries={cap}, "
              f"local[{nproc()}]", file=sys.stderr, flush=True)
        per_pass, spawns_per_pass = [], []
        for p in range(args.passes):
            per_pass.append({slug: call(slug) for slug in fns})
            recs = per_pass[-1].values()
            spawns = collections.Counter()
            for rec in recs:
                spawns.update(rec["spawns"])
            spawns_per_pass.append(dict(spawns.most_common()))
            failed = [slug for slug, rec in per_pass[-1].items() if not rec["ok"]]
            print(f"pass {p} ({'cold' if p == 0 else 'warm'}): "
                  f"{sum(r['compiled'] for r in recs)} classes compiled, "
                  f"{spawns.total()} spawns {spawns_per_pass[-1]}, "
                  f"{sum(r['wall_s'] for r in recs):.1f} s wall, "
                  f"{sum(r['cpu_s'] for r in recs):.1f} s CPU"
                  + (f"; FAILED {failed}" if failed else ""), file=sys.stderr, flush=True)
        # the benchmark's reading; it needs only the session and a reading list
        heap = Bench.retained_heap_mb(SimpleNamespace(spark=spark, heap_readings_mb=[]))
        memory = driver_memory(spark)
    finally:
        if spark is not None:
            stop_session(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    print(f"retained heap {heap:.1f} MB, page size {memory['page_size_mb']:g} MB, "
          f"blocks {memory['blocks_mb']:.2f} MB", file=sys.stderr)
    warm = per_pass[1:]
    n_failed = sum(not rec["ok"] for p in per_pass for rec in p.values())
    print(json.dumps({
        **vars(args), "local": nproc(), "cache_max_entries": cap, "shimmed": list(SHIMMED),
        "compiled_per_pass": [sum(rec["compiled"] for rec in p.values()) for p in per_pass],
        "spawns_per_pass": spawns_per_pass,
        "per_pass": per_pass,
        "warm_recompiling": {slug: [p[slug]["compiled"] for p in warm] for slug in fns
                             if any(p[slug]["compiled"] for p in warm)},
        "warm_spawning": {slug: [p[slug]["spawns"] for p in warm] for slug in fns
                          if any(p[slug]["spawns"] for p in warm)},
        "retained_heap_mb": round(heap, 1),
        **memory,
        "failed": n_failed,
    }))
    return 1 if n_failed else 0


if __name__ == "__main__":
    sys.exit(main())
