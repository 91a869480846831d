"""Behavioral / event-sequence analytics over event streams.

The reference's event pipeline stops at windowed aggregation; production
event analytics (and training-data telemetry) also need ordered-sequence
operators: funnel conversion, cohort retention, transition matrices, and
rolling anomaly detection.  All four are expressed as compositions of
built-in DataFrame ops — no Python row loops — and every shuffle is keyed
by ``user_id`` or a coarse time bucket, so the shapes hold at 100 TB:

- funnel: one filtered min-aggregate per step (k small, k-1 broadcast-able
  joins on user_id — the per-step frames are one row per converted user,
  far smaller than the event stream);
- retention: two user-keyed aggregates + one date-diff projection;
- transitions: one window pass per user ordered by (ts, event_id) — the
  tie-break makes the lag deterministic under any partitioning;
- anomalies: per-bucket counts (coarse key), then an O(window) running
  sum/sumsq window per series — integer partials, so the z-score is
  bit-reproducible across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import session


def funnel(events: DataFrame, steps: list[str], user_col: str = "user_id",
           ts_col: str = "ts", type_col: str = "event_type") -> DataFrame:
    """Strict-order funnel: a user converts step *i* only with an event of
    ``steps[i]`` strictly after their step *i-1* conversion time.

    Returns (step, step_idx, users) — users reaching each step.

    ONE user-keyed exchange for any number of steps: stage-`i`'s
    conversion time is a per-user window min conditioned on stage
    `i-1`'s column (consecutive ``Window.partitionBy(user)`` operators
    share the exchange — Catalyst re-sorts but never re-shuffles), and
    the step counts reduce in a single scalar aggregate.  (The
    alternative — one filtered groupBy + join per stage — scans the
    event stream k times and pays 2k-ish exchanges.)
    """
    w = Window.partitionBy(user_col)
    df = events.select(user_col, ts_col, type_col)
    prev_col = None
    t_cols = []
    for i, step in enumerate(steps):
        cond = F.col(type_col) == step
        if prev_col is not None:
            # strictly after the previous stage's conversion; a NULL
            # previous stage nulls the comparison → condition false
            cond = cond & (F.col(ts_col) > F.col(prev_col))
        name = f"_t{i}"
        df = df.withColumn(name, F.min(F.when(cond, F.col(ts_col))).over(w))
        t_cols.append(name)
        prev_col = name
    counts = df.agg(
        *[
            F.count_distinct(
                F.when(F.col(t).isNotNull(), F.col(user_col))
            ).alias(f"_u{i}")
            for i, t in enumerate(t_cols)
        ]
    )
    stack_expr = ", ".join(
        f"'{step}', CAST({i + 1} AS BIGINT), `_u{i}`"
        for i, step in enumerate(steps)
    )
    return counts.select(
        F.expr(
            f"stack({len(steps)}, {stack_expr}) as (step, step_idx, users)"
        )
    )


def retention_cohorts(events: DataFrame, offsets: list[int],
                      user_col: str = "user_id",
                      ts_col: str = "ts") -> DataFrame:
    """Day-granularity cohort retention: users are cohorted by their first
    active day; a cohort is "retained at offset d" if the user has any
    activity exactly d days later.

    Returns (cohort_day, offset_days, users).  Two user-keyed aggregates
    (first day, distinct active days) and one join on ``user_col`` — the
    distinct-day frame is tiny relative to the stream, and the offset
    filter prunes before the final coarse-keyed count.
    """
    if not offsets:
        raise ValueError("offsets must be a non-empty list of day offsets")
    day = F.col(ts_col).cast("date")
    first = (
        events.groupBy(user_col)
        .agg(F.min(day).alias("cohort_day"))
    )
    active = events.select(user_col, day.alias("active_day")).distinct()
    offs = ", ".join(str(int(o)) for o in offsets)
    return (
        active.join(first, user_col)
        .withColumn("offset_days",
                    F.datediff("active_day", "cohort_day").cast("bigint"))
        .filter(F.expr(f"offset_days IN ({offs})"))
        .groupBy("cohort_day", "offset_days")
        .agg(F.count_distinct(F.col(user_col)).alias("users"))
    )


def transition_matrix(events: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts", type_col: str = "event_type",
                      id_col: str = "event_id") -> DataFrame:
    """Per-user event-type transition counts and probabilities (first-order
    Markov estimate).  One window pass per user ordered by (ts, id) — the
    id tie-break makes ``lag`` deterministic when timestamps collide.

    Returns (from_type, to_type, transitions, prob) with ``prob``
    rounded to 6 places; row counts are exact integers so the division is
    reproducible across engines.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = (
        events.withColumn("_from", F.lag(type_col).over(w))
        .filter(F.col("_from").isNotNull())
        .groupBy(F.col("_from").alias("from_type"),
                 F.col(type_col).alias("to_type"))
        .agg(F.count(F.lit(1)).alias("transitions"))
    )
    wf = Window.partitionBy("from_type")
    return pairs.withColumn(
        "prob",
        F.round(F.col("transitions") / F.sum("transitions").over(wf), 6),
    )


def rolling_zscore(events: DataFrame, window_rows: int = 24,
                   ts_col: str = "ts",
                   type_col: str = "event_type") -> DataFrame:
    """Rolling z-score anomaly detection over hourly event counts.

    Counts events per (event_type, hour), then scores each bucket against
    the preceding ``window_rows`` buckets of the same series using exact
    integer partials: mean = Σx/n, var = (Σx² − (Σx)²/n)/(n−1).  Because
    the windowed sums are integers, the double-arithmetic z-score is
    bit-identical across engines and partitionings — no stddev-algorithm
    variance.  Returns (event_type, bucket_hour, n_events, zscore) for
    buckets with a full lookback window.

    Scale shape: the count aggregate is the only data-sized shuffle (coarse
    (type, hour) key); the window runs over the tiny bucket series.
    """
    hour = F.date_trunc("hour", F.col(ts_col))
    counts = (
        events.groupBy(F.col(type_col).alias("event_type"),
                       hour.alias("bucket_hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_hour")
        .rowsBetween(-window_rows, -1)
    )
    n = F.count(F.lit(1)).over(w).cast("double")
    sx = F.sum("n_events").over(w).cast("double")
    sxx = F.sum(F.col("n_events") * F.col("n_events")).over(w).cast("double")
    mean = sx / n
    var = (sxx - sx * sx / n) / (n - F.lit(1.0))
    x = F.col("n_events").cast("double")
    # zero-variance lookback (perfectly flat baseline) would give z = x/0 →
    # NULL, silently UN-flagging the most anomalous possible bucket; emit a
    # ±1e9 sentinel ("infinite z") instead, and exact-mean → 0.
    z = (
        F.when(var > 0, F.round((x - mean) / F.sqrt(var), 6))
        .when(x == mean, F.lit(0.0))
        .otherwise(F.when(x > mean, F.lit(1e9)).otherwise(F.lit(-1e9)))
    )
    return (
        counts.withColumn("_n", n)
        .withColumn("zscore", z)
        .filter(F.col("_n") >= window_rows)
        .drop("_n")
    )


def followed_within(events: DataFrame, first_type: str, then_type: str,
                    within: str = "10 minutes", user_col: str = "user_id",
                    ts_col: str = "ts", type_col: str = "event_type",
                    id_col: str = "event_id") -> DataFrame:
    """CEP-style sequence pattern: for every ``first_type`` event, the
    earliest ``then_type`` event by the same user STRICTLY after it and
    within ``within`` (an interval literal like '10 minutes').

    One event-time RANGE-frame window per user — no self-join, no range
    explosion: the frame `(1 µs, within]` over ``unix_micros(ts)`` gives
    the matching follower in a single pass with O(frame) state.  (Batch
    operator; the streaming equivalent is an ``applyInPandasWithState``
    keyed by user with a ``within``-bounded event buffer, as in
    ``streaming/stateful.py``.)  Returns (user_col, first_us, matched_us)
    with matched_us null when the pattern did not complete.
    """
    import re

    m = re.match(r"(\d+)\s*(second|minute|hour)s?", within)
    if not m:
        raise ValueError(f"unsupported interval: {within!r}")
    mult = {"second": 1, "minute": 60, "hour": 3600}[m.group(2)]
    within_us = int(m.group(1)) * mult * 1_000_000
    us = F.unix_micros(F.col(ts_col))
    ev = events.select(
        user_col,
        F.col(type_col).alias("_type"),
        us.alias("_us"),
        F.col(id_col).alias("_id"),
    )
    w = Window.partitionBy(user_col).orderBy("_us").rangeBetween(1, within_us)
    follower = F.min(
        F.when(F.col("_type") == then_type, F.col("_us"))
    ).over(w)
    return (
        ev.withColumn("_next", follower)
        .filter(F.col("_type") == first_type)
        .select(
            user_col,
            F.col("_us").alias("first_us"),
            F.col("_next").alias("matched_us"),
        )
    )


def trailing_ewma(df: DataFrame, part_col: str, order_cols: list[str],
                  value_col: str, window_rows: int = 8, alpha: float = 0.3,
                  round_dp: int = 6) -> DataFrame:
    """Per-entity trailing exponentially-weighted moving average over the
    last ``window_rows`` events — the smoothing a feature pipeline
    applies to noisy per-user signals before training or alerting.
    Weights are (1-α)^j for lag j, normalized over the finite window:
    both the numerator and the weight mass come from the SAME fold-left
    recurrence acc = acc·(1-α) + x, so the arithmetic is one
    deterministic pass per row (and replays exactly engine-to-engine —
    DuckDB's list_reduce folds in the identical order).

    Plan shape: one window (partition by entity, bounded rows frame)
    collecting the trailing values, one codegen'd ``F.aggregate`` fold —
    no self-join, no explode, state bounded by ``window_rows``
    regardless of history length.  Returns the ordering/entity columns
    plus ``ewma``."""
    w = (
        Window.partitionBy(part_col)
        .orderBy(*order_cols)
        .rowsBetween(-(int(window_rows) - 1), 0)
    )
    decay = 1.0 - float(alpha)
    trail = df.withColumn(
        "_l", F.collect_list(F.col(value_col).cast("double")).over(w)
    )
    num = F.aggregate(
        F.col("_l"), F.lit(0.0), lambda a, x: a * F.lit(decay) + x
    )
    den = F.aggregate(
        F.col("_l"), F.lit(0.0), lambda a, x: a * F.lit(decay) + F.lit(1.0)
    )
    return trail.select(
        part_col, *order_cols,
        F.round(num / den, round_dp).alias("ewma"),
    )


def seasonal_hod_anomaly(events: DataFrame, factor: int = 2) -> DataFrame:
    """Seasonality-aware anomaly flags over hourly event counts: each
    (event_type, hour) bucket is judged against the LEAVE-ONE-OUT mean
    of the same type at the same HOUR OF DAY on other days — the
    correction that stops the 9am traffic ramp from looking like an
    incident, which a trailing z-score (rolling_zscore) cannot do.

    The flag is exact integer arithmetic, no float mean:
    high iff x·(n−1) > factor·(Σ−x), low iff factor·x·(n−1) < (Σ−x) —
    i.e. the hour is ``factor``× above/below its LOO seasonal baseline.
    Plan: one count aggregate + one window over (type, hod) — two
    shuffles total, both on bounded key spaces.  Buckets with no peer
    (n = 1) are never flagged.  Returns (event_type, bucket_hour,
    n_events, n_peer_hours, loo_baseline, ratio, anomaly)."""
    hourly = (
        events.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket_hour")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    w = Window.partitionBy("event_type", F.hour("bucket_hour"))
    x = F.col("n_events")
    tot = F.sum("n_events").over(w).cast("bigint")
    n = F.count(F.lit(1)).over(w).cast("bigint")
    loo = (tot - x).cast("double") / (n - 1).cast("double")
    f = int(factor)
    high = x * (n - 1) > f * (tot - x)
    low = f * x * (n - 1) < (tot - x)
    return hourly.select(
        "event_type", "bucket_hour", "n_events",
        (n - 1).alias("n_peer_hours"),
        F.when(n > 1, F.round(loo, 6)).alias("loo_baseline"),
        F.when((n > 1) & (tot != x),
               F.round(x.cast("double") / loo, 6)).alias("ratio"),
        F.when(n > 1, high | low).otherwise(F.lit(False)).alias("anomaly"),
    )


def markov_attribution(events: DataFrame, conversion: str = "purchase",
                       user_col: str = "user_id", ts_col: str = "ts",
                       type_col: str = "event_type", id_col: str = "event_id",
                       iterations: int = 12) -> DataFrame:
    """First-order Markov multi-touch attribution by REMOVAL EFFECT: per
    user, the ordered event path up to (and including) the first
    conversion becomes a chain ``__START__ -> ch1 -> ... -> __CONV__``
    (non-converting paths end in ``__NULL__``); channel ``c``'s removal
    effect is how much the START->CONV absorption probability drops
    when every transition into ``c`` is redirected to ``__NULL__`` —
    the standard data-driven alternative to last-touch heuristics.

    Absorption probabilities come from a FIXED ``iterations``-step value
    iteration (the pagerank contract: the horizon is part of the
    operator, so both engines run bit-identical arithmetic — per-step
    contributions round to 9 dp and accumulate in DECIMAL(28,12)).  All
    removal variants iterate TOGETHER as one (variant, state) keyed
    relation, so the chain solve is ONE plan regardless of channel
    count.  Scale shape: one (ts, id)-ordered window pass per user
    builds transitions; everything after is dimension-sized
    (|variants| x |states| rows).  Returns one row per channel:
    (channel, p_conv, p_conv_removed, removal_effect,
    attribution_share)."""
    FULL, START, CONV, NULLS = "__full__", "__START__", "__CONV__", "__NULL__"
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    prior = F.sum(
        (F.col(type_col) == conversion).cast("int")
    ).over(w.rowsBetween(Window.unboundedPreceding, -1))
    path = events.withColumn("_prior", F.coalesce(prior, F.lit(0))).filter(
        F.col("_prior") == 0
    )
    w2 = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    seq = path.select(
        user_col, ts_col, id_col, type_col,
        F.lead(type_col).over(w2).alias("_nxt"),
        F.row_number().over(w2).alias("_rn"),
    )
    absorb = lambda c: (
        F.when(c == conversion, F.lit(CONV)).otherwise(c)
    )
    first = seq.filter(F.col("_rn") == 1).select(
        F.lit(START).alias("src"), absorb(F.col(type_col)).alias("dst")
    )
    mids = seq.filter(F.col(type_col) != conversion).select(
        F.col(type_col).alias("src"),
        F.when(F.col("_nxt").isNull(), F.lit(NULLS))
        .otherwise(absorb(F.col("_nxt")))
        .alias("dst"),
    )
    tcounts = (
        first.unionByName(mids)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    channels = tcounts.filter(F.col("src") != START).select(
        F.col("src").alias("variant")
    ).distinct()
    variants = channels.unionByName(
        channels.sparkSession.createDataFrame([(FULL,)], "variant string")
    )
    vtrans = (
        tcounts.crossJoin(F.broadcast(variants))
        .filter(F.col("src") != F.col("variant"))
        .select(
            "variant", "src",
            F.when(F.col("dst") == F.col("variant"), F.lit(NULLS))
            .otherwise(F.col("dst"))
            .alias("dst"),
            "n",
        )
        .groupBy("variant", "src", "dst")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )
    tot = vtrans.groupBy("variant", "src").agg(F.sum("n").cast("bigint").alias("_tot"))
    probs = session.materialize(
        vtrans.join(tot, ["variant", "src"]).select(
            "variant", "src", "dst",
            (F.col("n").cast("double") / F.col("_tot").cast("double")).alias("p"),
        )
    )  # iterated 12x below; dimension-sized
    states = probs.select("variant", F.col("src").alias("state")).distinct()
    p_prev = states.select("variant", "state", F.lit(0.0).alias("p"))
    for _ in range(int(iterations)):
        joined = probs.join(
            p_prev.select(
                F.col("variant").alias("_v"),
                F.col("state").alias("_s"),
                F.col("p").alias("_pp"),
            ),
            (F.col("variant") == F.col("_v")) & (F.col("dst") == F.col("_s")),
            "left",
        )
        pd_ = F.when(F.col("dst") == CONV, F.lit(1.0)).otherwise(
            F.coalesce(F.col("_pp"), F.lit(0.0))
        )
        # per-round checkpoint (the pagerank discipline): the state is
        # |variants| x |states| rows, but without it each round's plan
        # contains all prior rounds and analysis cost grows O(k^2)
        p_prev = session.materialize(
            joined.withColumn(
                "_t", F.round(F.col("p") * pd_, 9).cast("decimal(28,12)")
            )
            .groupBy("variant", F.col("src").alias("state"))
            .agg(F.round(F.sum("_t").cast("double"), 9).alias("p"))
        )
    full_p = p_prev.filter(
        (F.col("variant") == FULL) & (F.col("state") == START)
    ).select(F.col("p").alias("_p_conv"))
    rem = p_prev.filter(
        (F.col("variant") != FULL) & (F.col("state") == START)
    ).select(F.col("variant").alias("channel"), F.col("p").alias("_p_rem"))
    re = rem.crossJoin(F.broadcast(full_p)).select(
        "channel",
        F.round(F.col("_p_conv"), 6).alias("p_conv"),
        F.round(F.col("_p_rem"), 6).alias("p_conv_removed"),
        F.greatest(
            F.when(
                F.col("_p_conv") > 0,
                F.round(1 - F.col("_p_rem") / F.col("_p_conv"), 6),
            ).otherwise(F.lit(0.0)),
            F.lit(0.0),
        ).alias("removal_effect"),
    )
    total = re.agg(
        F.sum(F.col("removal_effect").cast("decimal(18,6)"))
        .cast("double")
        .alias("_total")
    )
    return re.crossJoin(F.broadcast(total)).select(
        "channel", "p_conv", "p_conv_removed", "removal_effect",
        F.when(
            F.col("_total") > 0,
            F.round(F.col("removal_effect") / F.col("_total"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("attribution_share"),
    )


def cusum_drift(events: DataFrame, type_col: str = "event_type",
                ts_col: str = "ts", flag_den: int = 40) -> DataFrame:
    """Page's CUSUM over hourly per-type event counts, expressed
    RELATIONALLY through the prefix-extrema identity: the recursive
    ``S_t = max(0, S_{t-1} + dev_t)`` fold equals ``P_t - min_{j<=t}
    P_j`` over the deviation prefix sums ``P`` (and the downward
    statistic mirrors with the running max), so the whole detector is
    one groupBy + two window passes — no recursion, no UDF, no fold.

    Deviations are SCALED INTEGERS (``T·n_t - total``, which sums to
    zero over the series), so every statistic is exact and
    engine-identical; the drift flag fires when the statistic exceeds
    ``total·T / flag_den`` — i.e. a sustained cumulative deviation of
    more than ``1/flag_den`` of the series' total volume.  CUSUM
    accumulates small persistent level shifts that the rolling z-score
    (per-bucket outliers) and the seasonal screen (hour-of-day) both
    miss.  Returns (event_type, bucket_hour, n_events, cusum_up,
    cusum_down, drift_flag)."""
    from ..session import normalize_events  # noqa: F401  (callers normalize)

    buckets = (
        events.groupBy(
            F.col(type_col),
            F.date_trunc("hour", F.col(ts_col)).alias("bucket_hour"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    wall = Window.partitionBy(type_col)
    stats = buckets.withColumn(
        "_T", F.count(F.lit(1)).over(wall).cast("bigint")
    ).withColumn("_total", F.sum("n_events").over(wall).cast("bigint"))
    dev = F.col("_T") * F.col("n_events") - F.col("_total")
    worder = Window.partitionBy(type_col).orderBy("bucket_hour")
    run = worder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p = F.sum(dev).over(run)
    scored = stats.withColumn("_p", p).withColumn(
        "cusum_up",
        (F.col("_p") - F.least(F.lit(0).cast("bigint"),
                               F.min("_p").over(run))).cast("bigint"),
    ).withColumn(
        "cusum_down",
        (F.greatest(F.lit(0).cast("bigint"), F.max("_p").over(run))
         - F.col("_p")).cast("bigint"),
    )
    thr = F.col("_total") * F.col("_T")
    return scored.select(
        F.col(type_col),
        F.col("bucket_hour").cast("string").alias("bucket_hour"),
        "n_events", "cusum_up", "cusum_down",
        ((F.col("cusum_up") * flag_den > thr)
         | (F.col("cusum_down") * flag_den > thr)).alias("drift_flag"),
    )


def holt_linear_forecast(df: DataFrame, key_col: str, order_col: str,
                         value_col: str, alpha: float = 0.5,
                         beta: float = 0.5, round_dp: int = 6) -> DataFrame:
    """Holt's linear (double-exponential) smoothing per key, as one
    deterministic fold: level ℓ_t = α·x_t + (1−α)(ℓ_{t−1}+b_{t−1}),
    trend b_t = β(ℓ_t−ℓ_{t−1}) + (1−β)b_{t−1}, initialized ℓ_0 = x_0,
    b_0 = 0 — the one-step-ahead forecast ℓ+b is the classic trend-aware
    baseline a metrics pipeline keeps per series.

    Determinism: a sequential per-key fold — same double-op sequence
    every run regardless of partitioning (the EWMA precedent, extended
    to two-field state); the oracle replays it as a recursive CTE, NOT
    ``list_reduce`` (DuckDB's struct-state reduce updates accumulator
    fields sequentially in place, so field 2's expression sees field 1's
    new value — measured divergence at element 3).  The series collects
    via ``array_sort`` on (order, value) structs, never order-sensitive
    ``collect_list`` alone.

    Scale shape: one groupBy(key) building the per-key array (bounded:
    one element per period, not per event — aggregate FIRST), one
    codegen'd sequential ``F.aggregate`` fold.  Returns
    (key, n_periods, level, trend, forecast_next)."""
    series = (
        df.groupBy(F.col(key_col).alias("key"))
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(order_col).alias("o"),
                        F.col(value_col).cast("double").alias("x"),
                    )
                )
            ).alias("_s")
        )
    )
    xs = F.transform(F.col("_s"), lambda s: s["x"])
    a, b = float(alpha), float(beta)
    # flattened recurrence (substitute level' into the trend update):
    #   level' = α·x + (1−α)·ℓ + (1−α)·b
    #   trend' = αβ·x − αβ·ℓ + (1−αβ)·b
    # each field is a single linear form of (x, ℓ, b) — no nested reuse
    # of level' inside trend', which DuckDB's struct-lambda evaluation
    # mis-shares (measured: the nested form diverges at element 3) —
    # and the oracle replays the identical expression tree term order.
    init = F.struct(
        F.element_at(xs, 1).alias("level"),
        F.lit(0.0).alias("trend"),
        F.lit(0).cast("bigint").alias("i"),
    )

    def step(acc, x):
        lvl = F.when(acc["i"] == 0, acc["level"]).otherwise(
            F.lit(a) * x + F.lit(1 - a) * acc["level"]
            + F.lit(1 - a) * acc["trend"]
        )
        trd = F.when(acc["i"] == 0, acc["trend"]).otherwise(
            F.lit(a * b) * x - F.lit(a * b) * acc["level"]
            + F.lit(1 - a * b) * acc["trend"]
        )
        return F.struct(
            lvl.alias("level"), trd.alias("trend"), (acc["i"] + 1).alias("i")
        )

    fold = F.aggregate(xs, init, step)
    return series.select(
        F.col("key").alias(key_col),
        F.size("_s").cast("bigint").alias("n_periods"),
        F.round(fold["level"], round_dp).alias("level"),
        F.round(fold["trend"], round_dp).alias("trend"),
        F.round(fold["level"] + fold["trend"], round_dp).alias("forecast_next"),
    )
