"""Driver-checkable instantiation of the reference's composite pipeline
(``produce_training_examples``) on the TPC-H-ish testdata.

The reference's input tables (impressions + clicks/carts/orders streams) do
not exist in the driver testdata, so they are DERIVED deterministically from
``orders``/``lineitem``:

* one impression ranking per order: items = the order's parts ordered by
  (linenumber, partkey, is_order); ``is_order`` = returnflag 'R'
* clicks      = every lineitem, at its shipdate
* add-to-cart = lineitems with returnflag 'R'
* order-action= lineitems with returnflag 'A'

Every shipdate is >= its own order's date, so an order's OWN lineitems never
appear in its history — the no-leakage cut (README.md:31) is structurally
exercised. The oracle reimplements the full pipeline in DuckDB SQL; arrays
serialized per the driver-canonicalizer rule.

Reference parity: ``pyspark-coding-challenge/src/pipeline.py:118-220``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_coding_challenge_spark.operators.actions import (
    ACTION_TYPE_ADD_TO_CART,
    ACTION_TYPE_CLICK,
    ACTION_TYPE_ORDER,
)
from pyspark_coding_challenge_spark.plans.training import examples_from_actions
from pyspark_coding_challenge_spark.sources.readers import read_table

K = 5


def _base(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "l_partkey",
        "l_linenumber",
        "l_shipdate",
        "l_returnflag",
    )


def training_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The base join feeds the impressions and one tagged projection that
    # is all three action streams at once, so the executed plan (sf0.01)
    # scans lineitem twice and broadcast-joins each scan to orders. It is
    # NOT persisted (r17): the audited session cache of the persisted join
    # served warm runs from storage built outside the timed region (the
    # bench's untimed warm-up), and the un-persisted plan measured faster
    # anyway (best-of-3 warm: 3.24 s vs 3.85 s persisted, 3.42 s per-call
    # localCheckpoint). The reference's reuse-persistence hint
    # (README.md:64) is exercised by produce_training_examples'
    # persist_actions parameter and the persist_hint slug; it is not
    # load-bearing here.
    base = _base(spark, sf_dir)

    imps = (
        base.groupBy("o_orderkey", "o_custkey", "o_orderdate")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("l_linenumber").alias("ln"),
                        F.col("l_partkey").alias("item_id"),
                        (F.col("l_returnflag") == "R").alias("is_order"),
                    )
                )
            ).alias("sorted")
        )
        .select(
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("dt"),
            F.col("o_orderkey").cast("string").alias("ranking_id"),
            F.col("o_custkey").alias("customer_id"),
            F.transform(
                F.col("sorted"),
                lambda x: F.struct(
                    x["item_id"].alias("item_id"), x["is_order"].alias("is_order")
                ),
            ).alias("impressions"),
        )
    )

    # Every lineitem is a click (1); 'R' lines are also carts (2) and 'A'
    # lines orders (3). The projection has normalize_actions' schema.
    action_type = F.explode(F.filter(
        F.array(
            F.lit(ACTION_TYPE_CLICK),
            F.when(F.col("l_returnflag") == "R", ACTION_TYPE_ADD_TO_CART),
            F.when(F.col("l_returnflag") == "A", ACTION_TYPE_ORDER),
        ),
        lambda t: t.isNotNull(),
    ))
    actions = base.select(
        F.col("o_custkey").cast("bigint").alias("customer_id"),
        F.col("l_partkey").cast("bigint").alias("item_id"),
        F.col("l_shipdate").cast("timestamp").alias("action_time"),
        action_type.alias("action_type"),
    ).filter(
        F.col("customer_id").isNotNull()
        & F.col("item_id").isNotNull()
        & F.col("action_time").isNotNull()
    )

    out = examples_from_actions(imps, actions, max_history=K)
    return out.select(
        "dt",
        "ranking_id",
        "customer_id",
        "impression_pos",
        "impression_item_id",
        "label",
        F.array_join(F.col("actions").cast("array<string>"), ",").alias("actions"),
        F.array_join(F.col("action_types").cast("array<string>"), ",").alias("action_types"),
    )


_ZEROS = "[" + ",".join(["0"] * K) + "]"

TRAINING_EXAMPLES_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderdate, l_partkey, l_linenumber,
         l_shipdate, l_returnflag
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
imp AS (
  SELECT strftime(o_orderdate, '%Y-%m-%d') AS dt,
         CAST(o_orderkey AS VARCHAR) AS ranking_id,
         o_custkey AS customer_id,
         CAST(row_number() OVER (PARTITION BY o_orderkey
              ORDER BY l_linenumber, l_partkey, (l_returnflag='R')) - 1 AS INTEGER)
           AS impression_pos,
         l_partkey AS impression_item_id,
         CAST(CASE WHEN l_returnflag='R' THEN 1 ELSE 0 END AS INTEGER) AS label,
         date_trunc('day', o_orderdate) AS cutoff_ts
  FROM base
),
acts AS (
  SELECT o_custkey AS customer_id, l_partkey AS item_id,
         l_shipdate AS action_time, 1 AS action_type FROM base
  UNION ALL
  SELECT o_custkey, l_partkey, l_shipdate, 2 FROM base WHERE l_returnflag='R'
  UNION ALL
  SELECT o_custkey, l_partkey, l_shipdate, 3 FROM base WHERE l_returnflag='A'
),
cut AS (SELECT DISTINCT customer_id, cutoff_ts FROM imp),
hist AS (
  SELECT c.customer_id, c.cutoff_ts,
         list_slice(list(a.item_id ORDER BY a.action_time DESC, a.item_id, a.action_type),
                    1, {K}) AS ids,
         list_slice(list(a.action_type ORDER BY a.action_time DESC, a.item_id, a.action_type),
                    1, {K}) AS tps
  FROM cut c
  JOIN acts a ON c.customer_id = a.customer_id AND a.action_time < c.cutoff_ts
  GROUP BY 1, 2
)
SELECT i.dt, i.ranking_id, i.customer_id, i.impression_pos, i.impression_item_id,
       i.label,
       array_to_string(list_slice(list_concat(COALESCE(h.ids, CAST([] AS BIGINT[])),
                       CAST({_ZEROS} AS BIGINT[])), 1, {K}), ',') AS actions,
       array_to_string(list_slice(list_concat(COALESCE(h.tps, CAST([] AS INT[])),
                       CAST({_ZEROS} AS INT[])), 1, {K}), ',') AS action_types
FROM imp i
LEFT JOIN hist h ON i.customer_id = h.customer_id AND i.cutoff_ts = h.cutoff_ts
"""


def register_all(register) -> None:
    register("training_examples", training_examples, TRAINING_EXAMPLES_ORACLE)
