#!/usr/bin/env python
"""Measured sweep of SPARK_GRAFT_STREAM_PARTITIONS (r17, verdict item #8).

For each streaming slug, time best-of-N executions per state-partition
setting in ONE bench-shaped session per (cpus, partitions) configuration —
the knob is read at query start and every run wipes its checkpoint dirs, so
within-process sweeping is valid, but a fresh process per configuration
keeps JIT/GC state comparable. Emits one JSON line:

    {"cpus": C, "partitions": P, "slugs": {slug: best_sec, ...}}

Usage: python scripts/stream_partitions_sweep.py [cpus [reps]]
(driver of the sweep: run it once per partitions value via the env var).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

STREAM_SLUGS = [
    "streaming_windowed_aggs",
    "streaming_session_windows",
    "streaming_stateful_dedup",
    "streaming_custom_stateful",
    "streaming_stream_static_join",
    "streaming_stream_stream_join",
]

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))) if "__file__" in dir() else "/root/repo")
sys.path.insert(0, "/root/repo")
from pyspark_coding_challenge_spark import registry
from pyspark_coding_challenge_spark.session import get_spark
cpus = sys.argv[1]
reps = int(sys.argv[2])
slugs = sys.argv[3].split(",")
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark(app_name="stream-sweep", master=f"local[{cpus}]")
spark.sparkContext.setLogLevel("ERROR")
qs = registry.queries()
out = {}
for slug in slugs:
    fn = qs[slug]
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    out[slug] = round(best, 3)
print(json.dumps(out))
spark.stop()
"""


def main() -> int:
    cpus = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_CPUS", "32")
    reps = sys.argv[2] if len(sys.argv) > 2 else "2"
    parts = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8")
    env = dict(os.environ)
    r = subprocess.run(
        [sys.executable, "-c", _CHILD, cpus, reps, ",".join(STREAM_SLUGS)],
        capture_output=True, text=True, env=env, cwd="/root/repo")
    line = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
    try:
        slugs = json.loads(line)
    except ValueError:
        # the child died mid-output: show why instead of a traceback here
        sys.stderr.write(r.stderr)
        print(f"sweep child (exit {r.returncode}) printed no JSON result: "
              f"{line[:200]!r}", file=sys.stderr)
        return 1
    print(json.dumps({"cpus": int(cpus), "partitions": int(parts),
                      "slugs": slugs}))
    return 0 if r.returncode == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
