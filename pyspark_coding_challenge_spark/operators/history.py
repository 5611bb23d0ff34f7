"""Temporal anti-leakage history: per-entity last-K events strictly before a
cutoff, as fixed-length most-recent-first zero-padded parallel arrays.

This generalizes the reference's signature computation
(``pyspark-coding-challenge/src/pipeline.py:118-220``) with the SURVEY §4.4
fixes, and restructures it for scale:

* **True left semantics.** The reference applies the no-leakage predicate in a
  ``.where()`` *after* its ``left_outer`` join (``src/pipeline.py:159-160``),
  silently converting it to an inner join and dropping zero-history entities
  (SURVEY §4.4-2, verified). Here the temporal predicate lives **in the join
  condition**; zero-history entities come out as all-pad arrays via the
  caller-side left join + coalesce (``attach_history``).
* **Deterministic ordering.** ``ORDER BY time DESC`` alone is nondeterministic
  on timestamp ties (§4.4-3); we always add the payload columns as secondary
  sort keys.
* **Scale: history once per (entity, cutoff), not once per output row.** The
  reference joins the full action history onto *exploded impression items*
  (``src/pipeline.py:159``) and runs its window per impression row — each
  customer's actions are replicated per item shown. Since the cutoff is
  day-granular, every row of the same (customer, day) shares one history; we
  compute it once on the distinct (entity, cutoff) set and hash-join the
  small fixed-size arrays back. At 100 TB this cuts the join + window input
  by the average items-per-ranking factor (10-20x) and the heavy arrays are
  built AFTER aggregation, so shuffle payloads stay thin.
* **No hard-coded repartition.** The reference forces
  ``repartition(200, customer_id)`` (``src/pipeline.py:153-156``); we let the
  join/window shuffle on its natural keys and rely on AQE for coalescing and
  skew splitting (hot entities are exactly the AQE skew-join case).

Operator slugs covered: join_history_asof, window_topk, groupby_collect,
struct_pack, array_sort_structs, array_transform, array_pad_truncate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark_coding_challenge_spark.functions.arrays import pad_truncate, sorted_parallel_arrays

# The unbounded rolling path's running-top-K frame flattens up to K daily
# lists of up to K structs — O(K^2) copies per (entity, active day) when
# daily lists saturate, i.e. ~10^6 at the training default K=1000. Above
# this K, an unset ``lookback_days`` defaults to
# ``ROLLING_AUTO_LOOKBACK_DAYS``: the range-frame path's cost is the ACTUAL
# number of in-horizon actions (linear in data, not K^2), and any horizon
# that holds K actions is lossless — at K=1000 a customer must average <3
# actions/day over a whole year before the bound can bite, and a model
# consuming less than a year of behavior is the common case anyway. Small-K
# callers (every registered slug runs K<=8) keep the exact unbounded
# semantics. Callers that truly need unbounded large-K history pass an
# explicit huge lookback_days.
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
    actions is lossless in practice; or use ``rolling_last_k_history``,
    which shuffles each action exactly once (the reference's own
    materialized rolling-history design, README.md:69-72).
    """
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
    """Scale-path twin of ``last_k_history`` for DAY-GRANULAR cutoffs
    (``cutoff_col`` at midnight; "history strictly before that day") — the
    reference's materialized rolling-history design
    (``pyspark-coding-challenge/README.md:69-72``) as two explicit operators:

    1. **Per-day pre-aggregation**: actions collapse to one row per
       (entity, day) holding that day's top-K struct list (at most K of a
       day's actions can reach any final top-K). Each action is shuffled
       EXACTLY ONCE — join-input volume drops from O(A x D) to O(A).
    2. **Window over days**: per entity, ordered by day, the frame
       ``(unbounded preceding, -1 row)`` concatenates prior days' lists;
       sort + slice K. The expansion is CPU inside a sorted partition —
       never shuffle payload — and ``lookback_days`` turns the frame into a
       bounded range for long-lived entities.

    The day spine is built as a UNION of the daily rows and flagged cutoff
    rows (not a join): the window's own partition-by-entity shuffle sorts
    both row kinds together, so adding the cutoff days costs zero extra
    shuffles, and the flag replaces a final semi-join.

    Because every daily list is truncated to K, the global top-K can draw
    from at most K distinct prior days — so the unbounded path carries a
    **bounded** sliding frame over the last K daily rows (running top-K
    state) instead of accumulating every prior day's list. Per active day
    the frame flattens up to K daily lists of up to K structs, i.e.
    O(days x K^2) element copies per entity — linear in entity LIFETIME
    (the round-1 shape was O(days^2) in it), but quadratic in K — which is
    why the large-K guard below auto-selects the bounded range-frame path
    above ``ROLLING_AUTO_LOOKBACK_MIN_K``. Cutoff
    rows then pick up the most recent strictly-prior day's carried state
    via ``last(ignorenulls)`` over a growing frame — a scalar-cheap pass
    that copies at most K structs per row.

    Output and ordering semantics are IDENTICAL to ``last_k_history``
    (time desc, then payloads asc on ties; inner result) WHEN the same
    horizon applies — i.e. always for ``k <=
    ROLLING_AUTO_LOOKBACK_MIN_K``, and for larger ``k`` whenever the data
    (or the model's appetite) fits inside the auto-selected horizon.
    Verified by the equivalence property tests and the unchanged flagship
    oracle hashes.

    Large-K guard (r4 verdict #4): when ``k`` exceeds
    ``ROLLING_AUTO_LOOKBACK_MIN_K`` and ``lookback_days`` is None, the
    bounded path is selected automatically with
    ``ROLLING_AUTO_LOOKBACK_DAYS`` — see its comment for why the
    unbounded frame is quadratic in K and the horizon is lossless in
    practice. This CHANGES semantics for large-K entities whose last K
    actions stretch past the horizon (older actions drop out). Pass any
    NONPOSITIVE (``<= 0``) ``lookback_days`` to force the exact unbounded path at any K
    (accepting its O(K^2)-per-active-day cost) — explicit, so the caller
    owns the cost knowingly. Property-tested equivalent at K=1000 on real
    testdata.
    """
    if lookback_days is None and k > ROLLING_AUTO_LOOKBACK_MIN_K:
        lookback_days = ROLLING_AUTO_LOOKBACK_DAYS
    # a nonpositive value from the caller means "exact unbounded path";
    # letting it through would build an inverted rangeBetween frame and
    # fail analysis
    if lookback_days is not None and lookback_days <= 0:
        lookback_days = None  # explicit unbounded opt-in

    # NULL-entity actions are dropped to match last_k_history's equi-join
    # semantics: Window.partitionBy GROUPS null keys, so without this
    # filter a NULL-entity cutoff would accumulate history from other
    # NULL-entity actions — rows the join form never produces. NULL TIMES
    # are dropped for the same parity (r10 review finding): the join
    # form's `time < cutoff` predicate excludes them and the bounded
    # range frame's datediff(NULL) excludes them, but here a NULL time
    # would sort FIRST in the ascending struct sort (NULL _neg_us) and
    # rank as the most-recent history entry — three different answers
    # from operators documented as identical.
    act = actions.filter(
        F.col(entity_col).isNotNull() & F.col(time_col).isNotNull()
    ).select(entity_col, time_col, *payload_cols)

    # ONE shuffle of the action rows, keyed by entity alone (r17, guide
    # §2.4 "share one exchange"): hash(entity) satisfies the daily
    # aggregate's (entity, day) clustering AND both downstream windows'
    # partitionBy(entity), so the per-day aggregate and the running-state
    # window plan with NO further exchange — previously the plan paid an
    # (entity, day) exchange of the partially-aggregated daily buffers
    # and then a second entity exchange of the daily lists (measured at
    # sf0.1: 3.49 s -> 1.84 s best-of-3 for the operator in isolation,
    # plan 4 -> 3 exchanges). Per-day lists are near 1:1 with raw actions
    # here, so the removed partial-aggregation does not cost shuffle
    # bytes. No fixed partition count: AQE sizes a keyed repartition.
    act = act.repartition(F.col(entity_col))

    # Sort key: ascending struct sort == (time desc, payloads asc).
    neg_us = (-F.unix_micros(F.col(time_col))).alias("_neg_us")
    daily = (
        act.groupBy(F.col(entity_col), F.to_date(F.col(time_col)).alias("_day"))
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct(neg_us, *[F.col(c) for c in payload_cols]))
                ),
                1,
                k,
            ).alias("_daily")
        )
        .withColumn("_is_cut", F.lit(False))
    )

    cut_days = (
        cutoffs.select(F.col(entity_col), F.to_date(F.col(cutoff_col)).alias("_day"))
        .distinct()
        .withColumn("_is_cut", F.lit(True))
    )

    if lookback_days is None:
        # Running top-K state on DAILY rows only: the last K daily lists
        # (bounded sliding frame, inclusive of the current day) always
        # contain the true top-K "as of end of day" — K actions span at
        # most K days, and per-day truncation to K is lossless for the
        # same reason.
        w_state = (
            Window.partitionBy(entity_col)
            .orderBy("_day")
            .rowsBetween(-(k - 1), 0)
        )
        state = F.slice(
            F.array_sort(F.flatten(F.collect_list("_daily").over(w_state))), 1, k
        )
        daily_state = daily.select(
            F.col(entity_col), F.col("_day"), F.col("_is_cut"), state.alias("_state")
        )
        spine = daily_state.unionByName(
            cut_days.withColumn(
                "_state", F.lit(None).cast(daily_state.schema["_state"].dataType)
            )
        )
        # Cutoff rows sort BEFORE same-day daily rows (_is_cut desc), so the
        # growing frame's last non-null state is the most recent STRICTLY
        # prior day's top-K — the no-same-day-leakage contract.
        w_last = (
            Window.partitionBy(entity_col)
            .orderBy(F.col("_day").asc(), F.col("_is_cut").desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        per_day = (
            spine.select(
                F.col(entity_col),
                F.col("_day"),
                F.col("_is_cut"),
                F.last("_state", ignorenulls=True).over(w_last).alias("_structs"),
            )
            .where(F.col("_is_cut"))
            .drop("_is_cut")
        )
    else:
        # Bounded-lookback path: a range frame ending at -1 day excludes
        # same-day rows by value (no secondary sort key — range frames
        # forbid one), and the lookback bound already caps the frame, so
        # the accumulate-prior-lists shape is linear here by construction.
        spine = daily.unionByName(
            cut_days.withColumn(
                "_daily", F.lit(None).cast(daily.schema["_daily"].dataType)
            )
        )
        w = (
            Window.partitionBy(entity_col)
            .orderBy(F.datediff(F.col("_day"), F.lit("1970-01-01")))
            .rangeBetween(-lookback_days, -1)
        )
        accumulated = spine.select(
            F.col(entity_col),
            F.col("_day"),
            F.col("_is_cut"),
            F.collect_list("_daily").over(w).alias("_prior"),
        )
        structs = F.slice(F.array_sort(F.flatten("_prior")), 1, k)
        per_day = accumulated.where(F.col("_is_cut")).select(
            F.col(entity_col), F.col("_day"), structs.alias("_structs")
        )

    # presorted: both branches build _structs as slice(array_sort(...), 1, k)
    per_field = sorted_parallel_arrays(F.col("_structs"), payload_cols,
                                       presorted=True)
    arrays = [pad_truncate(col, k, pad).alias(o) for col, o in zip(per_field, out_cols)]
    return per_day.where(F.size("_structs") > 0).select(
        F.col(entity_col),
        F.col("_day").cast("timestamp").alias(cutoff_col),
        *arrays,
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
