"""Session defaults that change how the engine runs, not what it returns."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark_coding_challenge_spark.session import CODEGEN_CACHE_MAX_ENTRIES
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


def test_get_spark_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES)
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


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
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, SF_DIR, *CORPUS_REFRESH],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    first, second = json.loads(proc.stdout.strip().splitlines()[-1])
    # more classes than Spark's default cache holds, or the test shows nothing
    assert first > 100, (first, second)
    assert second <= 0.10 * first, (
        f"second run recompiled {second} of the first run's {first} classes")
