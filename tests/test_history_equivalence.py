"""rolling_last_k_history must produce EXACTLY what last_k_history produces
for day-granular cutoffs — on real testdata and on crafted edge cases
(timestamp ties, cutoff days with no actions, entities with zero history,
bounded lookback)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from pyspark_coding_challenge_spark.operators.history import (
    attach_history,
    history_per_row,
    last_k_history,
    rolling_last_k_history,
)

ACTIONS_DDL = "customer_id BIGINT, action_time TIMESTAMP, item_id BIGINT, action_type INT"
CUTOFFS_DDL = "customer_id BIGINT, cutoff_ts TIMESTAMP"


def ts(s: str) -> datetime:
    return datetime.strptime(s, "%Y-%m-%d %H:%M:%S")


def _collect(df):
    return sorted(
        ((r.customer_id, str(r.cutoff_ts), tuple(r.actions), tuple(r.action_types))
         for r in df.collect()),
    )


def _assert_equivalent(spark, actions, cutoffs, k, **kw):
    a = last_k_history(actions, cutoffs, k=k, lookback=kw.pop("join_lookback", None))
    b = rolling_last_k_history(actions, cutoffs, k=k, **kw)
    assert _collect(a) == _collect(b)


def test_equivalence_on_events_testdata(spark):
    from pyspark_coding_challenge_spark.plans.flagship import encode_event_type
    from pyspark_coding_challenge_spark.sources.readers import read_table

    events = read_table(spark, "/root/testdata/sf0.001", "events")
    acts = events.select(
        F.col("user_id").cast("bigint").alias("customer_id"),
        F.col("ts").alias("action_time"),
        F.col("event_id").cast("bigint").alias("item_id"),
        encode_event_type().alias("action_type"),
    )
    cutoffs = events.select(
        F.col("user_id").cast("bigint").alias("customer_id"),
        F.to_date("ts").cast("timestamp").alias("cutoff_ts"),
    ).distinct()
    _assert_equivalent(spark, acts, cutoffs, k=4)


def test_equivalence_edge_cases(spark):
    actions = spark.createDataFrame(
        [
            # timestamp TIE on customer 1, day 1 — payload tie-break order
            (1, ts("2025-01-01 10:00:00"), 30, 2),
            (1, ts("2025-01-01 10:00:00"), 10, 1),
            (1, ts("2025-01-01 10:00:00"), 10, 3),
            (1, ts("2025-01-02 09:00:00"), 20, 1),
            # same-day action must NOT leak into the same day's cutoff
            (1, ts("2025-01-03 00:00:00"), 99, 1),
            # customer 2: single action far in the past
            (2, ts("2024-06-01 12:00:00"), 7, 2),
        ],
        schema=ACTIONS_DDL,
    )
    cutoffs = spark.createDataFrame(
        [
            (1, ts("2025-01-02 00:00:00")),
            (1, ts("2025-01-03 00:00:00")),
            (1, ts("2025-01-04 00:00:00")),
            (2, ts("2025-01-01 00:00:00")),
            # cutoff day with no actions at all for customer 3
            (3, ts("2025-01-01 00:00:00")),
        ],
        schema=CUTOFFS_DDL,
    )
    _assert_equivalent(spark, actions, cutoffs, k=3)

    # truncation: k smaller than available history
    _assert_equivalent(spark, actions, cutoffs, k=1)


def test_rolling_same_day_leakage_excluded(spark):
    actions = spark.createDataFrame(
        [(1, ts("2025-01-02 00:00:00"), 5, 1)], schema=ACTIONS_DDL
    )
    cutoffs = spark.createDataFrame(
        [(1, ts("2025-01-02 00:00:00"))], schema=CUTOFFS_DDL
    )
    out = rolling_last_k_history(actions, cutoffs, k=2)
    assert out.count() == 0  # midnight action is ON the cutoff day


def test_equivalence_at_training_default_k1000(spark):
    """r4 verdict #4: nothing above K=5 was ever executed while the training
    default is max_history=1000. At K>ROLLING_AUTO_LOOKBACK_MIN_K an unset
    lookback selects the 365-day horizon, a day filter on the K actions the
    window collects; on data spanning far less than a year the filter
    drops nothing, so the result must still EXACTLY equal the unbounded
    join formulation."""
    from pyspark_coding_challenge_spark.plans.flagship import encode_event_type
    from pyspark_coding_challenge_spark.sources.readers import read_table

    events = read_table(spark, "/root/testdata/sf0.01", "events")
    span_days = events.select(
        F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts")))
    ).collect()[0][0]
    assert span_days < 300  # precondition: horizon cannot bite on this data

    acts = events.select(
        F.col("user_id").cast("bigint").alias("customer_id"),
        F.col("ts").alias("action_time"),
        F.col("event_id").cast("bigint").alias("item_id"),
        encode_event_type().alias("action_type"),
    )
    cutoffs = events.select(
        F.col("user_id").cast("bigint").alias("customer_id"),
        F.to_date("ts").cast("timestamp").alias("cutoff_ts"),
    ).distinct()
    _assert_equivalent(spark, acts, cutoffs, k=1000)


def test_bounded_lookback_drops_ancient_history(spark):
    actions = spark.createDataFrame(
        [
            (1, ts("2024-01-01 10:00:00"), 1, 1),  # ~1 year before cutoff
            (1, ts("2024-12-30 10:00:00"), 2, 1),  # 2 days before cutoff
        ],
        schema=ACTIONS_DDL,
    )
    cutoffs = spark.createDataFrame(
        [(1, ts("2025-01-01 00:00:00"))], schema=CUTOFFS_DDL
    )
    rows_join = last_k_history(actions, cutoffs, k=5, lookback="30 days").collect()
    rows_roll = rolling_last_k_history(actions, cutoffs, k=5, lookback_days=30).collect()
    assert [tuple(r.actions) for r in rows_join] == [(2, 0, 0, 0, 0)]
    assert [tuple(r.actions) for r in rows_roll] == [(2, 0, 0, 0, 0)]


def test_nonpositive_lookback_normalizes_to_unbounded_at_any_k(spark):
    """A nonpositive lookback_days, at small or large K, must select the
    exact unbounded path, not build an inverted rangeBetween frame that
    fails analysis."""
    actions = spark.createDataFrame(
        [(1, ts("2025-03-01 10:00:00"), 7, 1), (1, ts("2025-03-03 10:00:00"), 8, 2)],
        ACTIONS_DDL)
    cutoffs = spark.createDataFrame([(1, ts("2025-03-05 00:00:00"))], CUTOFFS_DDL)
    for bad in (0, -1):
        # k > ROLLING_AUTO_LOOKBACK_MIN_K forces the guard path too
        got = _collect(rolling_last_k_history(actions, cutoffs, k=100,
                                              lookback_days=bad))
        assert got and got[0][2][:2] == (8, 7)  # most-recent-first, unbounded


def test_null_action_time_dropped_like_join_form(spark):
    """r10 review: a NULL action_time sorted FIRST in the rolling form's
    ascending struct sort (NULL _neg_us) and ranked as the MOST RECENT
    history entry, while the join form's `time < cutoff` and the bounded
    range frame both exclude it — all three paths must agree: dropped."""
    import datetime as dt

    from pyspark.sql import functions as F

    from pyspark_coding_challenge_spark.operators.history import (
        last_k_history,
        rolling_last_k_history,
    )

    acts = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 10), 100, 1),
            (1, None, 999, 2),  # the NULL-time row must never appear
            (1, dt.datetime(2024, 1, 2, 9), 101, 3),
        ],
        "customer_id bigint, action_time timestamp, item_id bigint, action_type int",
    )
    cuts = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 3))],
        "customer_id bigint, cutoff_ts timestamp",
    )
    kw = dict(k=5, entity_col="customer_id", time_col="action_time",
              cutoff_col="cutoff_ts", payload_cols=("item_id", "action_type"),
              out_cols=("actions", "action_types"))
    for lookback in (None, 30):
        rolled = rolling_last_k_history(acts, cuts, lookback_days=-1 if lookback is None else lookback, **kw).collect()
        assert len(rolled) == 1
        assert 999 not in rolled[0].actions, f"lookback={lookback}"
        assert rolled[0].actions[:2] == [101, 100]
    joined = last_k_history(acts, cuts, **kw).collect()
    assert 999 not in joined[0].actions
    assert joined[0].actions[:2] == [101, 100]


def _per_row_case(seed: int):
    """Random actions and output rows for a handful of customers: exact
    timestamp ties with different payloads, actions at exactly midnight,
    several actions per day, NULL entities, NULL times and NULL payloads
    among the actions, and rows with a NULL entity, a NULL cutoff date or no prior
    action (customers 7-8 never act)."""
    import random
    from datetime import date, timedelta

    rng = random.Random(seed)
    base = datetime(2025, 3, 1)
    actions = []
    for _ in range(120):
        cust = rng.choice([1, 2, 3, 4, 5, 6, None])
        when = base + timedelta(days=rng.randint(0, 9),
                                seconds=rng.choice([0, 0, 3600, 3600, 43200, 86399]))
        if rng.random() < 0.03:
            when = None
        actions.append((cust, when, rng.choice([1, 2, 3, 4, None]), rng.randint(1, 3)))
    rows = []
    for rid in range(150):
        cust = rng.choice([1, 2, 3, 4, 5, 6, 7, 8, None])
        day = date(2025, 3, 1) + timedelta(days=rng.randint(0, 11))
        rows.append((rid, cust, None if rng.random() < 0.05 else day))
    return actions, rows


def test_per_row_history_equals_join_reference(spark):
    """history_per_row equals attach_history(rows, last_k_history(...)) on
    every row, K in {1, 3, 7}. The kernel relies on collect_list keeping
    the window frame's order; this pins that order."""
    actions, rows = _per_row_case(2026)
    adf = spark.createDataFrame(actions, ACTIONS_DDL)
    rdf = spark.createDataFrame(rows, "rid INT, customer_id BIGINT, d DATE")
    cutoffs = rdf.select("customer_id", F.col("d").cast("timestamp").alias("cutoff_ts"))

    def by_rid(df):
        return {r.rid: (r.customer_id, r.d, tuple(r.actions), tuple(r.action_types))
                for r in df.collect()}

    for k in (1, 3, 7):
        hist = (last_k_history(adf, cutoffs, k=k)
                .withColumn("d", F.to_date("cutoff_ts")).drop("cutoff_ts"))
        want = by_rid(attach_history(rdf, hist, k=k, join_cols=("customer_id", "d")))
        got = by_rid(history_per_row(adf, rdf, k=k, cutoff_col="d"))
        assert got == want, f"k={k}"
        assert len(got) == len(rows)
        # the case exercises more than padding: some row has a full history
        assert any(0 not in v[2] for v in got.values()), f"k={k}"
