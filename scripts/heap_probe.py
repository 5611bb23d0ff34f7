#!/usr/bin/env python3
"""Show what the driver's block store holds after a benchmark workload.

    python3 scripts/heap_probe.py --workload corpus_refresh --passes 2 --seed 1
    python3 scripts/heap_probe.py --workload events_pipeline --page-size 1m

In local mode the driver is also the executor, so one JVM's memory manager
sizes every Tungsten page (``spark.buffer.pageSize``) and one block manager
holds every cached RDD partition and broadcast variable. A broadcast is kept
twice: its serialized pieces (``broadcast_N_pieceM``), and the value as built
(``broadcast_N``), whose size is Spark's estimate of the live object graph;
a hash-join relation built on one Tungsten page counts the whole page.

``--workload events_pipeline|corpus_refresh`` runs the benchmark's workload
exactly as ``perfbench/run.py`` does: same session, inputs generated from
``--seed``, the cold pass, ``--passes`` warm passes (each call followed by
the digest action, digests checked), then the benchmark's GC loop. After it,
this script reads the memory manager and the block manager's
``BlockInfoManager``. ``--page-size`` (a Spark size string such as ``1m``)
starts the session with another page size than ``session.PAGE_SIZE``.

Prints the page size, the storage memory in use, the blocks by kind with
their sizes, the largest blocks and the retained heap, then one JSON object
with the same figures.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

from run import Bench  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

MB = 2**20
LARGEST = 10


def block_kind(block_id) -> str:
    if block_id.isRDD():
        return "rdd"
    if block_id.isBroadcast():
        return "broadcast piece" if block_id.field() else "broadcast"
    return block_id.getClass().getSimpleName()


def driver_blocks(env) -> list[tuple[str, str, int]]:
    """(kind, name, size in bytes) of every block the driver's block
    manager tracks; ``env`` is the driver's ``SparkEnv``."""
    it = env.blockManager().blockInfoManager().entries()
    out = []
    while it.hasNext():
        entry = it.next()
        block_id = entry._1()
        out.append((block_kind(block_id), block_id.name(), int(entry._2().size())))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--passes", type=int, default=2, help="warm passes after the cold one")
    ap.add_argument("--seed", type=int, default=1, help="input seed of the workload")
    ap.add_argument("--page-size", help="spark.buffer.pageSize for this run")
    args = ap.parse_args()

    if args.page_size:
        from pyspark_coding_challenge_spark import session

        session.PAGE_SIZE = args.page_size
    work = tempfile.mkdtemp(prefix="heap_probe-")
    bench = Bench(args.workload, args.seed, 0, False, work)
    try:
        bench.setup()
        for p in range(args.passes + 1):
            bench.run_pass(p)
        heap = bench.retained_heap_mb()
        env = bench.spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()
        page = int(env.memoryManager().pageSizeBytes())
        storage = int(env.memoryManager().storageMemoryUsed())
        blocks = driver_blocks(env)
    finally:
        bench.close()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    kinds = collections.defaultdict(lambda: [0, 0])
    for kind, _, size in blocks:
        kinds[kind][0] += 1
        kinds[kind][1] += size
    total = sum(b[2] for b in blocks)
    largest = sorted(blocks, key=lambda b: -b[2])[:LARGEST]
    failed = sum(not c["ok"] for c in bench.calls)

    print(f"{args.workload}: page size {page / MB:g} MB, "
          f"{args.passes} warm passes, {failed} failed calls")
    print(f"storage memory used: {storage / MB:.2f} MB")
    print(f"blocks: {len(blocks)}, {total / MB:.2f} MB")
    for kind, (n, size) in sorted(kinds.items(), key=lambda kv: -kv[1][1]):
        print(f"  {kind:16s} {n:5d} {size / MB:9.2f} MB")
    print("largest:")
    for kind, name, size in largest:
        print(f"  {name:28s} {kind:16s} {size / MB:9.2f} MB")
    print(f"retained heap: {heap:.1f} MB")
    for e in bench.errors:
        print(f"FAILED {e}", file=sys.stderr)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "warm_passes": args.passes,
        "page_size_mb": round(page / MB, 2),
        "storage_memory_used_mb": round(storage / MB, 2),
        "blocks_mb": round(total / MB, 2),
        "by_kind": {k: {"blocks": n, "mb": round(s / MB, 2)} for k, (n, s) in kinds.items()},
        "largest": [{"block": name, "kind": kind, "mb": round(size / MB, 2)}
                    for kind, name, size in largest],
        "retained_heap_mb": round(heap, 1),
        "failed": failed,
    }))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
