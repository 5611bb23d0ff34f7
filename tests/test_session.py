"""Session defaults that change how the engine runs, not what it returns."""

from __future__ import annotations

import json
import os
import stat
import subprocess
import sys

from pyspark_coding_challenge_spark.session import (
    CODEGEN_CACHE_MAX_ENTRIES,
    PAGE_SIZE,
    SCRATCH_PREFIX,
    scratch_dir,
)
from tests.test_artifacts import SF_DIR  # the sf0.001 test data

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORPUS_REFRESH = ("dedup_exact", "llm_corpus_curation", "text_vocab_topn",
                  "embedding_topk")

# Runs in a fresh JVM: the codegen cache is JVM-wide and its size is read
# once, when the first session of the process starts, so neither the suite's
# shared session nor what earlier tests compiled may leak into the counts.
_CHILD = """
import json, sys
from pyspark_coding_challenge_spark import registry
from pyspark_coding_challenge_spark.session import get_spark

sf_dir, slugs = sys.argv[1], sys.argv[2:]
spark = get_spark(app_name="codegen-cache", master="local[2]", shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
queries = registry.queries()
deltas = []
for _ in range(2):
    c0 = metrics.METRIC_COMPILATION_TIME().getCount()
    for slug in slugs:
        queries[slug](spark, sf_dir).write.format("noop").mode("overwrite").save()
    deltas.append(metrics.METRIC_COMPILATION_TIME().getCount() - c0)
print(json.dumps(deltas))
spark.stop()
"""


# Runs the two events-table slugs that write scratch (the parquet sink's
# round trip, a stream's sink and checkpoint) in a fresh process, then
# reports its pid and the mode of every entry in its temp dir.
_SCRATCH_CHILD = """
import json, os, stat, sys
from pyspark_coding_challenge_spark import registry
from pyspark_coding_challenge_spark.session import get_spark

spark = get_spark(app_name="scratch", master="local[2]", shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
for slug in ("sink_parquet", "streaming_stateful_dedup"):
    registry.queries()[slug](spark, sys.argv[1]).count()
tmp = os.environ["TMPDIR"]
print(json.dumps({"pid": os.getpid(), "entries": {
    e: stat.S_IMODE(os.lstat(os.path.join(tmp, e)).st_mode)
    for e in os.listdir(tmp)}}))
spark.stop()
"""


# Runs in a fresh JVM with a 1 GB heap at local[1]: the page size is read
# once, when the SparkContext starts, and Spark's own default at that heap
# is 16 MB. Broadcast-joins 100 rows on a string key (a hash relation built
# on Tungsten pages) onto 10k rows, then reports the driver's storage memory
# in use while the broadcast is still live.
_BROADCAST_CHILD = """
import json
from pyspark.sql import functions as F
from pyspark_coding_challenge_spark.session import get_spark

spark = get_spark(app_name="page-size", master="local[1]", shuffle_partitions=1)
spark.sparkContext.setLogLevel("ERROR")
small = spark.range(100).select(F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
                                F.col("id").alias("v"))
big = spark.range(10_000).select(F.concat(F.lit("k"), (F.col("id") % 100).cast("string")).alias("k"))
joined = big.join(F.broadcast(small), "k")
assert joined.count() == 10_000
env = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()
print(json.dumps({"page": env.memoryManager().pageSizeBytes(),
                  "storage": env.memoryManager().storageMemoryUsed()}))
spark.stop()
"""


def _child_env(**extra) -> dict:
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_DRIVER_MEM="1g", **extra)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    return env


def test_scratch_dir_private_and_keyed():
    """Engine scratch lives under one mkdtemp-created 0700 root per process
    (unpredictable and unshared, so nobody can pre-create a slot or plant a
    symlink on a shared host); each key gets its own slot, so two sessions
    keyed apart never wipe each other's parquet; a reused slot comes back
    empty and private."""
    r1 = scratch_dir("app-one:/corpus/a")
    r2 = scratch_dir("app-two:/corpus/a")
    assert r1 != r2, "two keys shared one slot"
    root = os.path.dirname(r1)
    assert os.path.dirname(r2) == root
    assert os.path.basename(root).startswith(f"{SCRATCH_PREFIX}{os.getpid()}_")
    assert stat.S_IMODE(os.stat(root).st_mode) == 0o700
    assert stat.S_IMODE(os.stat(r1).st_mode) == 0o700
    open(os.path.join(r1, "stale"), "w").close()
    assert scratch_dir("app-one:/corpus/a") == r1 and os.listdir(r1) == []


def test_scratch_root_is_private_swept_and_removed_at_exit(tmp_path):
    """A process that runs the parquet sink and a stream writes all of it
    under one private root in its temp dir, sweeps the root a dead process
    left, keeps a live process's root, and leaves nothing behind at a
    normal exit."""
    tmp = tmp_path / "tmp"
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    dead_root = f"{SCRATCH_PREFIX}{dead.pid}_planted"
    live_root = f"{SCRATCH_PREFIX}{os.getpid()}_planted"
    for name in (dead_root, live_root):
        (tmp / name / "slot").mkdir(parents=True)
    proc = subprocess.run(
        [sys.executable, "-c", _SCRATCH_CHILD, SF_DIR], cwd=REPO,
        env=_child_env(TMPDIR=str(tmp),
                       SPARK_LOCAL_DIRS=str(tmp_path / "local")),
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    seen = json.loads(proc.stdout.strip().splitlines()[-1])
    own = [e for e in seen["entries"]
           if e.startswith(f"{SCRATCH_PREFIX}{seen['pid']}_")]
    assert len(own) == 1, seen
    assert seen["entries"][own[0]] == 0o700, seen
    assert set(seen["entries"]) == {own[0], live_root}, seen
    assert os.listdir(tmp) == [live_root]


def test_get_spark_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES)
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_get_spark_sizes_the_memory_page(spark):
    assert spark.conf.get("spark.buffer.pageSize") == PAGE_SIZE


def test_small_broadcast_does_not_hold_a_whole_default_page():
    """A broadcast hash relation of 100 rows keeps a few KB of data, but the
    driver stores it as built, Tungsten page included. With Spark's default
    page at a 1 GB heap (16 MB) the block store held 16.05 MB after this
    join; with ``PAGE_SIZE`` (2 MB) it held 2.03 MB."""
    proc = subprocess.run(
        [sys.executable, "-c", _BROADCAST_CHILD], cwd=REPO, env=_child_env(),
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    seen = json.loads(proc.stdout.strip().splitlines()[-1])
    assert seen["storage"] <= 4 * 2**20, seen


def test_second_run_of_corpus_refresh_reuses_compiled_classes():
    """Run the four corpus_refresh slugs twice in one fresh session and count
    the classes Spark compiles each time (``CodegenMetrics``). The second run
    plans the same queries, so it should find their generated classes in the
    codegen cache: at most 10% may compile again, which leaves room for the
    few classes whose generated code differs on every call.

    With Spark's default cap of 100 entries this fails: the first run alone
    compiles more classes than the cache holds, the LRU evicts each class
    before its next use, and about 70% of them compile again on the second
    run (187 of 273 measured). With the cap alone, stage ids in the class
    names still made 30 of 264 (11%) compile again; with both settings of
    ``get_spark`` 6 of 234 did."""
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, SF_DIR, *CORPUS_REFRESH],
        cwd=REPO, env=_child_env(), capture_output=True, text=True,
        timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    first, second = json.loads(proc.stdout.strip().splitlines()[-1])
    # more classes than Spark's default cache holds, or the test shows nothing
    assert first > 100, (first, second)
    assert second <= 0.10 * first, (
        f"second run recompiled {second} of the first run's {first} classes")
