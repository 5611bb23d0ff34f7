"""Impression explosion (SURVEY §2.4).

Reference parity: ``pyspark-coding-challenge/src/pipeline.py:67-96``
(``explode_impressions``): one output row per impression *item*, keeping the
0-based array position, with ``posexplode_outer`` so rows whose impression
array is NULL/empty survive (with NULL item columns), and the binary label
derived from ``is_order`` (NULL -> 0).

Operator slugs covered: posexplode, field_access, case_when.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def explode_impressions(impressions: DataFrame) -> DataFrame:
    """Explode ``impressions array<struct<item_id,is_order>>`` positionally.

    ``posexplode_outer`` preserves ranking rows with NULL/empty arrays,
    matching the reference's defensive choice at ``src/pipeline.py:85,89``.
    """
    return impressions.select(
        F.col("dt").cast("string").alias("dt"),
        F.col("ranking_id").cast("string").alias("ranking_id"),
        F.col("customer_id").cast("bigint").alias("customer_id"),
        F.posexplode_outer("impressions").alias("impression_pos", "imp"),
    ).select(
        "dt",
        "ranking_id",
        "customer_id",
        F.col("impression_pos").cast("int").alias("impression_pos"),
        F.col("imp.item_id").cast("bigint").alias("impression_item_id"),
        F.when(F.col("imp.is_order") == True, 1).otherwise(0).cast("int").alias("label"),  # noqa: E712
    )
