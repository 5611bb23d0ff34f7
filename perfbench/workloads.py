"""Workload definitions and metric names of the benchmark.

Each workload is a fixed list of registered slugs, run in order by one
client that sends the next slug only when the previous one finished (a
closed loop). ``OWNER`` names the module that owns each slug; the traced run
attributes Spark counters to those modules.
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    # The events table end to end: the paper's last-K prior-day history
    # pipeline (execution and shuffle in plans.* and operators.history),
    # then availableNow streaming queries over the same table, run to
    # completion at construction, and the partitioned parquet sink
    # (checkpoints, state stores, the write path). No llm code.
    "events_pipeline": (
        "user_history_topk", "training_examples",
        "streaming_stateful_dedup", "sink_parquet",
    ),
    # The LLM-corpus refresh family: Spark-driver work, job launches and
    # session-cached artifacts, so the cold pass is far slower than a warm
    # one. No plans.* history or streaming code.
    "corpus_refresh": (
        "dedup_exact", "llm_corpus_curation", "text_vocab_topn",
        "embedding_topk",
    ),
}

OWNER: dict[str, str] = {
    "user_history_topk": "plans.flagship",
    "training_examples": "plans.training_demo",
    "sink_parquet": "plans.relational",
    "dedup_exact": "llm.dedup",
    "llm_corpus_curation": "llm.curation",
    "text_vocab_topn": "llm.text",
    "embedding_topk": "llm.similarity",
    "streaming_stateful_dedup": "streaming.windows",
}

MODULES = ("plans.flagship", "plans.training_demo", "plans.relational",
           "llm.dedup", "llm.curation", "llm.text", "llm.similarity",
           "streaming.windows")

# Counters read from the Spark event log (and /proc for disk writes), per
# owning module, over the first timed pass; cold_jobs over the cold pass.
MODULE_QUANTITIES = (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                     ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
                     ("disk_write_mb", "MB"), ("cold_jobs", "count"))

# From a StreamingQueryListener, over the first timed pass.
STREAM_QUANTITIES = (("batches", "count"), ("input_rows", "count"),
                     ("trigger_s", "s"), ("add_batch_s", "s"), ("commit_s", "s"),
                     ("state_commit_s", "s"), ("state_rows", "count"))

END_TO_END = (
    ("setup_s", "s"),
    ("pass_cpu_s", "s"),
    ("retained_heap_mb", "MB"),
)


def all_slugs() -> list[str]:
    return [s for slugs in WORKLOADS.values() for s in slugs]


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric, the same list for every workload (a layer a
    workload does not touch reads 0)."""
    out = []
    for slug in all_slugs():
        out += [(f"{slug}.build_s", "s"), (f"{slug}.exec_s", "s"), (f"{slug}.cpu_s", "s")]
    out += [("registry.build_s", "s"), ("registry.exec_s", "s"), ("registry.cpu_s", "s"),
            ("registry.pass_s", "s"), ("registry.cold_pass_s", "s")]
    for mod in MODULES:
        out += [(f"{mod}.{q}", u) for q, u in MODULE_QUANTITIES]
    out += [(f"streaming.windows.{q}", u) for q, u in STREAM_QUANTITIES]
    out += [("sources.readers.scan_s", "s"), ("operators.history.rolling_s", "s"),
            ("session.get_spark_s", "s")]
    out += [("trace.overhead_cpu_s", "s"), ("trace.pass_self_s", "s")]
    return out
