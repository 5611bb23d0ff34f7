"""Temporal anti-leakage history: per-entity last-K events strictly before a
cutoff, as fixed-length most-recent-first zero-padded parallel arrays.

This generalizes the reference's signature computation
(``pyspark-coding-challenge/src/pipeline.py:118-220``) with the SURVEY §4.4
fixes, and restructures it for scale:

* **True left semantics.** The reference applies the no-leakage predicate in a
  ``.where()`` *after* its ``left_outer`` join (``src/pipeline.py:159-160``),
  silently converting it to an inner join and dropping zero-history entities
  (SURVEY §4.4-2, verified). Here ``history_per_row`` keeps every row it
  is given, and zero-history rows come out as all-pad arrays; the join form
  keeps the temporal predicate **in the join condition**, and
  ``attach_history`` left-joins and pads its result.
* **Deterministic ordering.** ``ORDER BY time DESC`` alone is nondeterministic
  on timestamp ties (§4.4-3); we always add the payload columns as secondary
  sort keys.
* **Scale: one window, no aggregate, no join.** The reference joins the
  full action history onto *exploded impression items*
  (``src/pipeline.py:159``): each customer's actions are replicated per row
  before its window keeps K. ``history_per_row`` instead sorts the action
  rows and the output rows together, per entity, in one window: every
  output row is its own cutoff, counts the actions before it, and collects
  the K just before that count. Each action is shuffled once, and no
  per-day aggregate, struct-array sort or join back runs. The window
  evaluates its ``collect_list`` on every spine row, action rows
  included (their lists are dropped after), so it copies up to
  (actions + rows) x min(K, prior actions) structs.
* **No hard-coded repartition.** The reference forces
  ``repartition(200, customer_id)`` (``src/pipeline.py:153-156``); the one
  keyed repartition here has no partition count, so AQE coalesces it and
  splits skew.

Operator slugs covered: join_history_asof, window_topk, groupby_collect,
struct_pack, array_sort_structs, array_transform, array_pad_truncate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark_coding_challenge_spark.functions.arrays import pad_truncate, sorted_parallel_arrays

# Above this K, an unset ``lookback_days`` defaults to
# ``ROLLING_AUTO_LOOKBACK_DAYS``: large-K models (the training default is
# K=1000) read at most a year of behavior. This is a semantic choice, not
# a cost guard: the horizon filters the K actions the window has already
# collected, so it does not make the window cheaper. Every registered slug
# runs K<=8 and keeps the exact unbounded semantics; a nonpositive
# ``lookback_days`` removes the horizon at any K.
ROLLING_AUTO_LOOKBACK_MIN_K = 64
ROLLING_AUTO_LOOKBACK_DAYS = 365


def last_k_history(
    actions: DataFrame,
    cutoffs: DataFrame,
    k: int,
    entity_col: str = "customer_id",
    time_col: str = "action_time",
    cutoff_col: str = "cutoff_ts",
    payload_cols: tuple[str, ...] = ("item_id", "action_type"),
    out_cols: tuple[str, ...] = ("actions", "action_types"),
    pad: int = 0,
    lookback: str | None = None,
) -> DataFrame:
    """For each row of ``cutoffs`` (distinct ``entity_col, cutoff_col``),
    collect the entity's last ``k`` actions with ``time_col`` strictly before
    ``cutoff_col``, most-recent-first, padded/truncated to exactly ``k``.

    Returns ``entity_col, cutoff_col, *out_cols`` — INNER result: entities
    with zero qualifying history are absent (attach with ``attach_history``
    to get the all-pad rows).

    Scale warning: the cutoff-x-actions join emits O(A x D) rows per entity
    (A lifetime actions, D distinct cutoffs) before the top-K filter — fine
    at test scale, quadratic on power users at 100 TB. Two remedies:
    ``lookback`` (an INTERVAL string, e.g. ``'90 days'``) bounds the join
    window — only K most-recent survive anyway, so any horizon that holds K
    actions is lossless in practice; or use ``history_per_row`` (or
    ``rolling_last_k_history`` for day cutoffs), which shuffles each action
    exactly once and joins nothing. This form stays as their reference."""
    act = actions.select(entity_col, time_col, *payload_cols)
    cut = cutoffs.select(entity_col, cutoff_col).distinct()

    join_cond = [
        cut[entity_col] == act[entity_col],
        act[time_col] < cut[cutoff_col],
    ]
    if lookback is not None:
        join_cond.append(
            act[time_col] >= cut[cutoff_col] - F.expr(f"INTERVAL {lookback}")
        )

    joined = cut.join(act, on=join_cond, how="inner").select(
        cut[entity_col], cut[cutoff_col], act[time_col], *[act[c] for c in payload_cols]
    )

    # Deterministic top-K per (entity, cutoff): time desc, then payloads asc.
    w = (
        Window.partitionBy(entity_col, cutoff_col)
        .orderBy(F.col(time_col).desc(), *[F.col(c).asc() for c in payload_cols])
    )
    topk = (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
    )

    # _rn FIRST in the struct: array_sort compares field-by-ordinal, so
    # sorting the collected structs restores recency order.
    grouped = topk.groupBy(entity_col, cutoff_col).agg(
        F.collect_list(F.struct(F.col("_rn"), *[F.col(c) for c in payload_cols])).alias("_structs")
    )
    per_field = sorted_parallel_arrays(F.col("_structs"), payload_cols)
    arrays = [
        pad_truncate(col, k, pad).alias(o)
        for col, o in zip(per_field, out_cols)
    ]
    return grouped.select(entity_col, cutoff_col, *arrays)


def _prior_actions(actions, rows, k, entity_col, time_col, cutoff_col,
                   payload_cols, lookback_days) -> DataFrame:
    """``rows`` plus ``_h``: the entity's last ``k`` action structs strictly
    before the row's cutoff day, most-recent-first, from one sorted spine of
    the action rows and ``rows`` together."""
    if lookback_days is None and k > ROLLING_AUTO_LOOKBACK_MIN_K:
        lookback_days = ROLLING_AUTO_LOOKBACK_DAYS
    if lookback_days is not None and lookback_days <= 0:
        lookback_days = None

    # NULL entities never match (the join form's equi-join), and NULL
    # times are never "before" a cutoff.
    fields = [F.col(c) for c in payload_cols]
    if lookback_days is not None:
        fields.append(F.to_date(time_col).alias("_day"))
    act = actions.filter(
        F.col(entity_col).isNotNull() & F.col(time_col).isNotNull()
    ).select(
        F.col(entity_col),
        F.col(time_col).cast("timestamp").alias("_t"),
        F.struct(*fields).alias("_a"),
    )
    cut = rows.withColumn("_t", F.to_date(cutoff_col).cast("timestamp"))
    # One shuffle, keyed by entity alone: both windows below plan with no
    # further exchange, and each action is shuffled once. No fixed
    # partition count: AQE sizes it.
    spine = cut.unionByName(act, allowMissingColumns=True).repartition(F.col(entity_col))

    # Cut rows (NULL _a) sort before the actions of their own instant, so
    # an action at exactly a cutoff's midnight is not before it; actions
    # of one instant sort by their payloads, descending. _ai counts the
    # actions strictly before each row; the actions numbered _ai-k ..
    # _ai-1 are its history, collected in the frame's order: oldest first.
    # Reversed, that is the tie rule of last_k_history (time desc, then
    # payloads asc).
    w = Window.partitionBy(entity_col)
    order = w.orderBy(F.col("_t"), F.col("_a").desc_nulls_first())
    spine = spine.withColumn(
        "_ai", F.count("_a").over(order.rowsBetween(Window.unboundedPreceding, -1))
    )
    prior = F.reverse(F.collect_list("_a").over(w.orderBy("_ai").rangeBetween(-k, -1)))
    if lookback_days is not None:
        # The horizon is a time suffix, so the top K inside it are the
        # overall top K that fall inside it.
        horizon = F.date_sub(F.to_date("_t"), lookback_days)
        prior = F.filter(prior, lambda a: a["_day"] >= horizon)
    return (
        spine.select(*rows.columns, "_a", prior.alias("_h"))
        .where(F.col("_a").isNull())
        .drop("_a")
    )


def _history_arrays(k, payload_cols, out_cols, pad) -> list:
    per_field = sorted_parallel_arrays(F.col("_h"), payload_cols, presorted=True)
    return [pad_truncate(c, k, pad).alias(o) for c, o in zip(per_field, out_cols)]


def history_per_row(
    actions: DataFrame,
    rows: DataFrame,
    k: int,
    entity_col: str = "customer_id",
    time_col: str = "action_time",
    cutoff_col: str = "cutoff_ts",
    payload_cols: tuple[str, ...] = ("item_id", "action_type"),
    out_cols: tuple[str, ...] = ("actions", "action_types"),
    pad: int = 0,
    lookback_days: int | None = None,
) -> DataFrame:
    """Every row of ``rows`` plus ``out_cols``: its entity's last ``k``
    actions with ``time_col`` strictly before the day of the row's
    ``cutoff_col`` (a date, or a timestamp or date string taken at its
    day), most-recent-first, padded to exactly ``k``. Rows with no prior
    action, a NULL entity or a NULL cutoff come out all-pad, so this is
    ``attach_history(rows, last_k_history(...))`` with no join.

    ``lookback_days`` keeps only actions on or after the cutoff day minus
    that many days. Unset above ``ROLLING_AUTO_LOOKBACK_MIN_K`` it is
    ``ROLLING_AUTO_LOOKBACK_DAYS``; a nonpositive value means no horizon.
    """
    prior = _prior_actions(actions, rows, k, entity_col, time_col, cutoff_col,
                           payload_cols, lookback_days)
    return prior.select(*rows.columns, *_history_arrays(k, payload_cols, out_cols, pad))


def rolling_last_k_history(
    actions: DataFrame,
    cutoffs: DataFrame,
    k: int,
    entity_col: str = "customer_id",
    time_col: str = "action_time",
    cutoff_col: str = "cutoff_ts",
    payload_cols: tuple[str, ...] = ("item_id", "action_type"),
    out_cols: tuple[str, ...] = ("actions", "action_types"),
    pad: int = 0,
    lookback_days: int | None = None,
) -> DataFrame:
    """``last_k_history`` for DAY-GRANULAR cutoffs, computed like
    ``history_per_row`` on one row per distinct (entity, cutoff day), with
    ``cutoff_col`` at that day's midnight. Inner result, as in
    ``last_k_history``: cutoffs with no qualifying history are absent.
    ``lookback_days`` as in ``history_per_row``.
    """
    days = cutoffs.select(
        F.col(entity_col), F.to_date(cutoff_col).cast("timestamp").alias(cutoff_col)
    ).distinct()
    prior = _prior_actions(actions, days, k, entity_col, time_col, cutoff_col,
                           payload_cols, lookback_days)
    return prior.where(F.size("_h") > 0).select(
        entity_col, cutoff_col, *_history_arrays(k, payload_cols, out_cols, pad)
    )


def attach_history(
    base: DataFrame,
    history: DataFrame,
    k: int,
    join_cols: tuple[str, ...],
    out_cols: tuple[str, ...] = ("actions", "action_types"),
    out_types: tuple[str, ...] = ("array<bigint>", "array<int>"),
    pad: int = 0,
) -> DataFrame:
    """Left-join per-entity history arrays onto ``base``; entities with no
    history get all-pad arrays (the documented contract the reference's
    inner-join bug violates — README.md:21, SURVEY §4.4-2).
    """
    joined = base.join(history, on=list(join_cols), how="left")
    fills = {
        o: F.coalesce(F.col(o), F.array_repeat(F.lit(pad), k)).cast(t).alias(o)
        for o, t in zip(out_cols, out_types)
    }
    return joined.select(
        *[c for c in joined.columns if c not in out_cols],
        *[fills[o] for o in out_cols],
    )
