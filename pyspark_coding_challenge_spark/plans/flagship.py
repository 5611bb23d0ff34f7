"""Flagship query: the reference's signature computation recast onto the
driver's ``events`` table (FIXTURES.md §B role mapping).

For every event, emit the user's last-K event history *strictly before that
event's day* (no same-day leakage), most-recent-first, zero-padded — exactly
the reference's training-example semantics
(``pyspark-coding-challenge/README.md:13-31``) with ``user_id -> customer_id``,
``event_id -> item_id``, ``ts -> action_time``, ``event_type`` dictionary-
encoded as the action type.

Event-type encoding (stable, alphabetical):
click=1, error=2, purchase=3, signup=4, view=5, pad=0.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_coding_challenge_spark.operators.history import history_per_row
from pyspark_coding_challenge_spark.sources.readers import read_table

EVENT_TYPE_CODES = {"click": 1, "error": 2, "purchase": 3, "signup": 4, "view": 5}

DEFAULT_K = 8


def encode_event_type(col: str = "event_type") -> Column:
    # Build when-chain; unknown types -> 0 would collide with pad, use 99.
    chain = None
    for name, code in EVENT_TYPE_CODES.items():
        chain = (
            F.when(F.col(col) == name, code)
            if chain is None
            else chain.when(F.col(col) == name, code)
        )
    return chain.otherwise(99).cast("int")


def user_history_features(
    spark: SparkSession, sf_dir: str, k: int = DEFAULT_K
) -> DataFrame:
    """Per-event last-K prior-day action history over ``events``."""
    events = read_table(spark, sf_dir, "events")

    acts = events.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("ts").alias("action_time"),
        F.col("event_id").cast("bigint").alias("item_id"),
        encode_event_type().alias("action_type"),
    ).filter(
        F.col("user_id").isNotNull()
        & F.col("item_id").isNotNull()
        & F.col("action_time").isNotNull()
    )

    ev = events.select(
        F.col("event_id").cast("bigint"),
        F.col("user_id").cast("bigint"),
        F.to_date("ts").alias("d"),
    )

    # Each event is its own cutoff row in the history window: no per-day
    # aggregate and no join back.
    out = history_per_row(
        acts,
        ev,
        k=k,
        entity_col="user_id",
        time_col="action_time",
        cutoff_col="d",
        payload_cols=("item_id", "action_type"),
        out_cols=("actions", "action_types"),
    )
    return out.select(
        F.col("event_id").cast("bigint"),
        F.col("user_id").cast("bigint"),
        F.col("d").cast("string").alias("dt"),
        F.col("actions"),
        F.col("action_types"),
    )


def user_history_features_flat(
    spark: SparkSession, sf_dir: str, k: int = DEFAULT_K
) -> DataFrame:
    """Driver-gate variant: array columns serialized to comma-joined strings.

    The driver's correctness canonicalizer hashes values with pandas, which
    cannot hash Python lists (CORRECTNESS_r01.json: ``TypeError: unhashable
    type: 'list'``). The oracle serializes with ``array_to_string`` so both
    sides compare as scalars; pytest keeps the array-native variant.
    """
    out = user_history_features(spark, sf_dir, k=k)
    return out.select(
        "event_id",
        "user_id",
        "dt",
        F.array_join(F.col("actions").cast("array<string>"), ",").alias("actions"),
        F.array_join(F.col("action_types").cast("array<string>"), ",").alias("action_types"),
    )
