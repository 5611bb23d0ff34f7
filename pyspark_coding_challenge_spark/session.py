"""SparkSession construction with scale-appropriate defaults.

Local testing runs ``local[N]``; the same configuration block is what we would
ship to a 1000-executor cluster — AQE on (runtime partition coalescing, skew
join splitting, join-strategy switching), Arrow enabled for the few pandas-UDF
operators, and shuffle partitions sized by the caller rather than hard-coded
(the reference hard-codes ``repartition(200, ...)`` at
``pyspark-coding-challenge/src/pipeline.py:153-156``; we do not).

``scratch_dir`` is the one place the engine gets a directory for what it
writes on its own behalf.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

from pyspark_coding_challenge_spark import session_state

# Entries in Spark's JVM-wide LRU of Janino-compiled generated classes
# (``CodeGenerator.cache``). Every operator is built-in Catalyst
# expressions, so every plan runs as whole-stage codegen and each query is
# a set of compiled classes. Spark's default of 100 entries is smaller than
# one warm pass over the engine's queries, so the LRU evicted each class
# before its next use and every warm query compiled again. Classes compiled
# in the cold pass, then in each warm pass (scripts/layer_probe.py, which
# reads CodegenMetrics; 4-vCPU host), at the default cap -> with this cap
# and the stage-id-free class names set in get_spark:
#   - all 50 registered slugs at sf0.01: 3,015 then ~1,870 -> 1,656 then
#     8-23 (with stage ids in the class names the cold pass needs 2,169);
#   - the benchmark's corpus_refresh slugs: 288 then 204-207 -> 242 then
#     0-6; events_pipeline: 114 then 74-91 -> 94 then 0.
# 4096 holds the registry with room for the few classes whose code differs
# on every call. Each cached class retains about 25 KB of heap (full
# registry 272 -> 307 MB), paid only for classes actually compiled, never up
# to the cap. Static conf: read once per JVM when CodeGenerator first
# initialises, so it only takes effect when get_spark creates the session
# (getOrCreate on an existing session ignores it, like spark.driver.memory).
CODEGEN_CACHE_MAX_ENTRIES = 4096

# Size of the pages Spark's Tungsten memory manager hands to every sorter,
# hash aggregate and hash-join build (``spark.buffer.pageSize``). Unset,
# Spark derives it from execution memory / cores / 16, rounded up to a power
# of two and clamped to 1-64 MB, so the 8 GB driver at local[4] gets 64 MB
# pages: each such operator allocates and zeroes at least one 64 MB on-heap
# long[] per task however few rows it holds, and the driver keeps each live
# broadcast relation as built, whole page included, for as long as a
# session-cached plan holds it. The benchmark's corpus_refresh after its
# cold pass, 2 warm passes and the GC loop (the block-store and heap
# readings of scripts/layer_probe.py, seed 1, 4-vCPU host), by page size
# -> driver block store, retained heap:
#   - Spark's 64 MB: 67.0 MB (66.0 MB broadcast relations, one of them
#     64.1 MB as built against 0.09 MB serialized), 156.9 MB;
#   - 8 MB: 11.0, 103.8; 4 MB: 7.0, 99.8; 2 MB: 5.0, 96.2; 1 MB: 4.0, 92.8.
# events_pipeline keeps no blocks and reads 74.6-75.5 MB at 64, 4, 2 and
# 1 MB. Below 2 MB the saving is a few MB, while a task may hold at most
# 8192 pages (TaskMemoryManager's page table), 16 GB at 2 MB. More rows, or
# a row larger than a page, take more or larger pages, so outputs cannot
# change. Static conf: read when the SparkContext starts, so it only takes
# effect when get_spark creates the session (like spark.driver.memory).
PAGE_SIZE = "2m"


def _cpus_as_partitions() -> int:
    """SPARK_GRAFT_CPUS as a shuffle-partition count — read at CALL time
    (not import: the env var may be set after import) and tolerant of
    non-numeric local[] specs like '*' (fall back to 32 rather than
    crashing the import chain on a documented env-var shape)."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return int(raw) if raw.isdigit() else 32


def get_spark(
    app_name: str = "pyspark-coding-challenge-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    All settings are cluster-safe: nothing here assumes local mode except the
    default master, which is overridden by ``spark.master`` when submitted to
    a real cluster.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or _cpus_as_partitions()))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Some driver testdata generations store events.ts as parquet
        # TIMESTAMP(NANOS), which Spark cannot read natively; with this conf
        # it surfaces as long nanos, which the reader normalizes
        # (sources/readers.py::canonicalize_ts) alongside the newer
        # TIMESTAMP_NTZ micros generation.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Iterative operators (connected components, IVF training) leave
        # localCheckpoint RDDs that the ContextCleaner only reclaims after a
        # driver GC; long many-query sessions (the bench runs ~150 query
        # executions in one JVM) otherwise accumulate them into GC spikes.
        .config("spark.cleaner.periodicGC.interval", "1min")
        # Files: 128 MiB split targets keep scan partitions executor-friendly
        # at any SF; AQE coalesces the small end.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        # The cache is keyed by generated source, and by default each
        # whole-stage class is named after its codegen stage id: a
        # per-query counter whose values, under AQE, vary between runs of
        # the same query. An unchanged stage then missed the cache under a
        # new name (every class the corpus_refresh slugs recompiled in warm
        # passes differed from a cached one only in that id), and equal
        # stages of different queries could not share a class. Explain
        # output keeps the ids; stack traces name the class
        # GeneratedIterator.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.buffer.pageSize", PAGE_SIZE)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    # getOrCreate IGNORES builder configs when a session already exists in
    # the process — re-assert the runtime-settable correctness-critical
    # conf on whatever session came back (static confs like master and
    # driver memory are unfixable post-hoc; the timezone decides oracle
    # parity of every date/timestamp slug and must hold regardless).
    # shuffle.partitions, by contrast, is legitimate runtime tuning: force
    # it only when the caller EXPLICITLY asked for a value — silently
    # resetting it on a shared pre-existing session would clobber other
    # code's deliberate spark.conf.set (r5 advisory).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark


#: name prefix of a process's scratch root; the pid follows it, so a later
#: process can tell which roots belong to processes that are gone
SCRATCH_PREFIX = "spark_graft_scratch_"


def _scratch_root() -> str:
    """Create this process's scratch root: one ``mkdtemp`` under the temp
    dir (mode 0700, unpredictable name, so no other user can pre-create
    it or plant a symlink there), removed at exit by the process that
    created it and by no forked child. A root whose pid is gone (the
    process was killed before its exit hook ran) is swept here, once per
    process."""
    tmp = tempfile.gettempdir()
    for entry in os.listdir(tmp):
        pid = entry[len(SCRATCH_PREFIX):].split("_", 1)[0]
        if not entry.startswith(SCRATCH_PREFIX) or not pid.isdigit() or \
                int(pid) == os.getpid():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(tmp, entry), ignore_errors=True)
        except PermissionError:
            pass  # another user's live process
    owner = os.getpid()
    root = tempfile.mkdtemp(prefix=f"{SCRATCH_PREFIX}{owner}_")

    def _remove() -> None:
        if os.getpid() == owner:
            shutil.rmtree(root, ignore_errors=True)

    atexit.register(_remove)
    return root


def scratch_dir(key: str) -> str:
    """A fresh private directory for what the engine writes on its own
    behalf (stream sinks and checkpoints, the parquet sink's round trip,
    the derived snapshots and artifacts of the stored-state sections):
    ``<root>/<md5(key)>`` under this process's scratch root, wiped and
    recreated 0700 on every call. The same key reuses its slot, so
    repeated runs overwrite instead of accumulating copies; callers key
    by whatever must not share a slot (slug, corpus, session)."""
    root = session_state.get_or_build("scratch_root", None, None, _scratch_root)
    path = os.path.join(root, hashlib.md5(key.encode()).hexdigest())
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, mode=0o700)
    return path
