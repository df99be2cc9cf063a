"""Batch operators over the events table (time windows, sessionization,
stateful dedup's batch twin, JSON extraction).

These are the batch twins of the Structured Streaming operators in
streaming/events.py — same logical results, so the streaming versions are
validated against these oracle-checked plans.

Timezone discipline: all registered outputs are **epoch microseconds
(BIGINT)**, computed via ``unix_micros`` on the timestamp *instant*. The
driver's SparkSession timezone is unknown, and anything session-TZ-
dependent (``date_trunc``, timestamp rendering in toPandas) would silently
shift results against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hints import gated_broadcast

US_PER_MIN = 60 * 1_000_000


def tumbling_counts(events: DataFrame, minutes: int = 60) -> DataFrame:
    """(window_start_us, event_type, n, sum_value): tumbling window agg.

    Epoch-floor windowing == ``date_trunc`` for hour-aligned windows but
    independent of the session timezone.
    """
    width = minutes * US_PER_MIN
    wstart = (F.unix_micros("ts") - F.unix_micros("ts") % width).alias("window_start_us")
    return events.groupBy(wstart, "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value")
    )


def sliding_counts(events: DataFrame, width_minutes: int = 60, slide_minutes: int = 30) -> DataFrame:
    """(window_start_us, event_type, n, sum_value): sliding (hopping)
    window agg — each event lands in ``width/slide`` windows.

    Batch twin of ``F.window(ts, width, slide)``: the covering window
    starts are generated per event and exploded (epoch arithmetic, so
    session-timezone-proof like the rest of this module).
    """
    width = width_minutes * US_PER_MIN
    slide = slide_minutes * US_PER_MIN
    k = width // slide
    anchor = F.unix_micros("ts") - F.unix_micros("ts") % slide
    starts = F.transform(
        F.sequence(F.lit(0), F.lit(int(k - 1))), lambda i: anchor - i * slide
    )
    return (
        events.select(
            F.explode(starts).alias("window_start_us"),
            "event_type",
            "value",
            F.unix_micros("ts").alias("_ts_us"),
        )
        .filter(
            (F.col("_ts_us") >= F.col("window_start_us"))
            & (F.col("_ts_us") < F.col("window_start_us") + width)
        )
        .groupBy("window_start_us", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
    )


def _session_ids(events: DataFrame, gap_minutes: int) -> DataFrame:
    """Per-event session assignment shared by ``sessionize`` and
    ``session_paths``: (user_id, ts_us, event_id, event_type,
    session_seq) via the gaps-and-islands cumulative-flag sum. All
    windows partition by user — never corpus-wide."""
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_minutes * US_PER_MIN
    with_flag = events.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
        F.when(
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(by_user)) > gap_us, F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("new_session"),
    )
    cum = Window.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return with_flag.withColumn("session_seq", F.sum("new_session").over(cum))


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gaps-and-islands sessionization per user.

    (user_id, session_start_us, n_events, duration_s): a new session starts
    when the gap to the user's previous event exceeds ``gap_minutes``.
    """
    return (
        _session_ids(events, gap_minutes)
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts_us").alias("session_start_us"),
            F.count(F.lit(1)).alias("n_events"),
            F.round((F.max("ts_us") - F.min("ts_us")) / F.lit(1_000_000.0), 6).alias(
                "duration_s"
            ),
        )
        .select("user_id", "session_start_us", "n_events", "duration_s")
    )


def dedup_events(events: DataFrame) -> DataFrame:
    """Stateful-dedup batch twin: first event per (user_id, event_type) —
    earliest ts, smallest event_id on ties."""
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "event_id", F.unix_micros("ts").alias("ts_us"), "user_id", "event_type", "value"
        )
    )


def value_percentiles(events: DataFrame) -> DataFrame:
    """(event_type, n, p50, p90, p99): exact linear-interpolation
    percentiles of ``value`` — Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the interpolation rule, so this stays
    oracle-checkable (rounded)."""
    pct = F.expr("percentile(value, array(0.5D, 0.9D, 0.99D))")
    return (
        events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), pct.alias("_p"))
        .select(
            "event_type",
            "n",
            F.round(F.col("_p")[0], 6).alias("p50"),
            F.round(F.col("_p")[1], 6).alias("p90"),
            F.round(F.col("_p")[2], 6).alias("p99"),
        )
    )


def approx_value_percentiles(events: DataFrame, accuracy: int = 10_000) -> DataFrame:
    """(event_type, quantile, value): sketch-based percentiles — the
    100 TB path next to the exact ``value_percentiles``. ``percentile_approx``
    builds one bounded-memory rank sketch per group (map-side combinable,
    never a per-group sort of all values); rank error ≤ 1/accuracy.
    Rows-only checked (the sketch picks an actual data value near the true
    quantile — accuracy-dependent, not SQL-stable); pytest pins each
    approximation between tight exact quantile brackets.
    """
    qs = [0.5, 0.9, 0.99]
    agg = events.groupBy("event_type").agg(
        F.percentile_approx("value", [float(q) for q in qs], accuracy).alias("_p")
    )
    return agg.select("event_type", F.posexplode("_p").alias("_qi", "_v")).select(
        "event_type",
        F.element_at(F.array(*[F.lit(float(q)) for q in qs]), F.col("_qi") + 1).alias(
            "quantile"
        ),
        F.round(F.col("_v"), 6).alias("value"),
    )


def daily_rollup(events: DataFrame) -> DataFrame:
    """Hypertable-style rollup: counts and value sums at (day, event_type),
    (day), and grand-total grain in one pass (``ROLLUP`` grouping sets).

    (day_us, event_type, n, sum_value) with NULLs marking rolled-up
    levels; day boundaries are epoch floors (timezone-proof).
    """
    day_us = 86_400 * 1_000_000
    day = (F.unix_micros("ts") - F.unix_micros("ts") % day_us).alias("day_us")
    return (
        events.select(day, "event_type", "value")
        .rollup("day_us", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
    )


def cube_counts(events: DataFrame) -> DataFrame:
    """Full CUBE over (day, event_type): all four grouping sets — (day,
    type), (day), (type), () — in one pass, completing the grouping-sets
    surface next to ``daily_rollup`` (which only descends the hierarchy).

    (day_us, event_type, g_day, g_type, n, sum_value): ``g_*`` are the
    standard ``GROUPING()`` flags (1 = the column is aggregated away at
    this grain), so consumers can distinguish a rolled-up NULL from a
    NULL data value without guessing. Day boundaries are epoch floors
    (timezone-proof like the rest of this module).

    Plan: one hash aggregate over an Expand of the four grouping sets —
    map-side combinable per set, output bounded by |days|·|types|, so the
    cube costs one scan at any corpus size.
    """
    day_us = 86_400 * 1_000_000
    day = (F.unix_micros("ts") - F.unix_micros("ts") % day_us).alias("day_us")
    return (
        events.select(day, "event_type", "value")
        .cube("day_us", "event_type")
        .agg(
            F.grouping("day_us").cast("int").alias("g_day"),
            F.grouping("event_type").cast("int").alias("g_type"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


def user_event_analytics(events: DataFrame, top_per_user: int = 3) -> DataFrame:
    """Analytic-window family over events: per user, the top-N events by
    value with their rank, the value delta to the user's previous event in
    time (lag), and the user's running event index.

    (user_id, event_id, value_rank, value, prev_delta, event_seq)
    """
    by_value = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    by_time = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            "user_id",
            "event_id",
            "value",
            F.row_number().over(by_value).alias("value_rank"),
            F.round(F.col("value") - F.lag("value").over(by_time), 6).alias("prev_delta"),
            F.row_number().over(by_time).alias("event_seq"),
        )
        .filter(F.col("value_rank") <= top_per_user)
    )


def distinct_users(events: DataFrame) -> DataFrame:
    """(event_type, n_users): exact distinct-aggregation (Spark expands
    this to a two-stage partial-distinct plan automatically)."""
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )


def approx_distinct_users(events: DataFrame, rsd: float = 0.05) -> DataFrame:
    """(event_type, n_users_approx): HyperLogLog++ distinct estimate — the
    100 TB path where an exact distinct would shuffle every key; sketch
    merge is associative, so it map-side combines like any sum."""
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=rsd).alias("n_users_approx")
    )


def json_props_stats(events: DataFrame) -> DataFrame:
    """(event_type, n, avg_k): extract JSON ``props.k`` and aggregate."""
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("k"), 6).alias("avg_k"))
    )


def event_conversions(
    events: DataFrame,
    first_type: str = "click",
    then_type: str = "purchase",
    within_minutes: int = 30,
) -> DataFrame:
    """(user_id, first_event_id, then_event_id, first_us, then_us):
    funnel correlation — every ``then_type`` event that follows a
    ``first_type`` event by the same user within the interval.

    Physically an equi-join on ``user_id`` with the time bound as a
    residual predicate — the same shape Spark gives a watermarked
    stream-stream interval join, where the bound also limits join state
    retention.
    """
    width = within_minutes * US_PER_MIN
    first = events.filter(F.col("event_type") == first_type).select(
        "user_id",
        F.col("event_id").alias("first_event_id"),
        F.unix_micros("ts").alias("first_us"),
    )
    then = events.filter(F.col("event_type") == then_type).select(
        "user_id",
        F.col("event_id").alias("then_event_id"),
        F.unix_micros("ts").alias("then_us"),
    )
    return (
        first.join(then, "user_id")
        .filter(
            (F.col("then_us") > F.col("first_us"))
            & (F.col("then_us") <= F.col("first_us") + F.lit(width))
        )
        .select("user_id", "first_event_id", "then_event_id", "first_us", "then_us")
    )


def cohort_retention(events: DataFrame, max_day_offset: int = 35) -> DataFrame:
    """Cohort retention matrix: users grouped by their first-activity day;
    for each later day, how many came back.

    (cohort_day_us, day_offset, n_active, n_cohort, retention) — epoch-
    floor day boundaries (timezone-proof like every events output),
    ``retention`` = n_active / n_cohort rounded to 6dp; day_offset 0 is
    the cohort day itself (retention 1.0 by construction).

    Plan shape: one (user, day) distinct, one per-user min, then a join
    back on user_id — which arrives partitioned by user_id from the min
    aggregate, so the join reuses that shuffle; everything after is
    day-grain aggregates over at most |users|·days rows. No windows, no
    self-joins: linear at 100 TB of events.
    """
    day_us = 86_400 * 1_000_000
    day = (F.unix_micros("ts") - F.unix_micros("ts") % day_us).alias("day_us")
    acts = events.select("user_id", day).distinct()
    first = acts.groupBy("user_id").agg(F.min("day_us").alias("cohort_day_us"))
    sizes = first.groupBy("cohort_day_us").agg(F.count(F.lit(1)).alias("n_cohort"))
    ret = (
        acts.join(first, "user_id")
        .withColumn(
            "day_offset", F.expr(f"(day_us - cohort_day_us) div {day_us}")
        )
        .filter(F.col("day_offset") <= max_day_offset)
        .groupBy("cohort_day_us", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))  # (user, day) already distinct
    )
    return ret.join(sizes, "cohort_day_us").select(
        "cohort_day_us",
        "day_offset",
        "n_active",
        "n_cohort",
        F.round(F.col("n_active") / F.col("n_cohort"), 6).alias("retention"),
    )


def funnel(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
) -> DataFrame:
    """Ordered multi-step funnel: for each user, the earliest time they
    completed each step *strictly after* completing the previous one.

    (user_id, step1_us, step2_us, ..., reached) — one row per user who
    performed step 1 at all; ``stepN_us`` is NULL once the chain breaks;
    ``reached`` counts completed steps. The per-user "earliest qualifying
    event" semantics make the result insensitive to duplicate events.

    Plan shape: one filtered min-aggregate per step, each joined to the
    previous step's per-user timestamp. Every aggregate is map-side
    combinable on user_id, every join is user_id-equi (the aggregates
    leave the data hash-partitioned on user_id, so AQE reuses the
    exchange); no windows, no self-join of the raw stream. Cost is
    O(len(steps)) passes over a filtered scan — at 100 TB the
    event_type filter is pushed into the parquet scan per step.
    """
    us = F.unix_micros("ts")
    prev: DataFrame | None = None
    for i, step in enumerate(steps, start=1):
        ev = events.filter(F.col("event_type") == step).select(
            "user_id", us.alias("_us")
        )
        if prev is None:
            prev = ev.groupBy("user_id").agg(F.min("_us").alias(f"step{i}_us"))
        else:
            nxt = (
                ev.join(prev.select("user_id", f"step{i - 1}_us"), "user_id")
                .filter(F.col("_us") > F.col(f"step{i - 1}_us"))
                .groupBy("user_id")
                .agg(F.min("_us").alias(f"step{i}_us"))
            )
            prev = prev.join(nxt, "user_id", "left")
    reached = sum(
        (F.col(f"step{i}_us").isNotNull().cast("int") for i in range(1, len(steps) + 1)),
        F.lit(0),
    )
    return prev.withColumn("reached", reached)


def value_anomalies(events: DataFrame, z: float = 3.0) -> DataFrame:
    """Per-event-type z-score outliers: events whose ``value`` deviates
    from the type mean by more than ``z`` sample standard deviations.

    (event_id, event_type, value, zscore) with zscore rounded to 6dp.

    Plan shape: one tiny per-type aggregate (|event_type| rows) broadcast
    back onto the scan, so the detection pass is scan-resident — the
    canonical two-pass streaming-friendly outlier shape. At 100 TB the
    stats side is a handful of rows regardless of data volume.
    """
    stats = events.groupBy("event_type").agg(
        F.avg("value").alias("_mean"), F.stddev_samp("value").alias("_std")
    )
    zscore = (F.col("value") - F.col("_mean")) / F.col("_std")
    return (
        events.select("event_id", "event_type", "value")
        .join(gated_broadcast(stats, "|event_type| rows: the event-type taxonomy is data-model bounded"), "event_type")
        .filter(F.abs(zscore) > z)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(zscore, 6).alias("zscore"),
        )
    )


def resample_forward_fill(events: DataFrame, minutes: int = 60) -> DataFrame:
    """Gap-filled regular resampling with forward fill — the hypertable
    ``time_bucket_gapfill`` + ``locf`` analog: per event_type, an
    unbroken ``minutes``-grain grid from the stream's first to last
    bucket, carrying the last observed mean ``value`` across empty
    buckets.

    (event_type, bucket_us, value, is_gap): ``value`` is the bucket's
    mean (6dp) or the previous bucket's carried value; ``is_gap`` marks
    carried rows. A type's leading buckets before its first observation
    stay NULL (nothing to carry).

    Plan shape: one (type, bucket) aggregate over the scan, a 1-row
    global-bounds broadcast, a per-type grid explode (grid size is
    span/step — a property of TIME, not data volume), and ONE window
    partitioned by event_type over that grid. At 100 TB the only
    unbounded-data operator is the initial aggregate; everything after
    runs on the time-bounded grid.
    """
    from pyspark.sql import Window

    width = minutes * US_PER_MIN
    bucket = (F.unix_micros("ts") - F.unix_micros("ts") % width).alias("bucket_us")
    obs = events.select("event_type", bucket, "value").groupBy(
        "event_type", "bucket_us"
    ).agg(F.round(F.avg("value"), 6).alias("_obs"))
    bounds = obs.agg(
        F.min("bucket_us").alias("_lo"), F.max("bucket_us").alias("_hi")
    )
    grid = (
        obs.select("event_type")
        .distinct()
        .join(gated_broadcast(bounds, "1-row global aggregate"))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("_lo"), F.col("_hi"), F.lit(width))
            ).alias("bucket_us"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_us")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    joined = grid.join(obs, ["event_type", "bucket_us"], "left")
    return joined.select(
        "event_type",
        "bucket_us",
        F.last("_obs", ignorenulls=True).over(w).alias("value"),
        F.col("_obs").isNull().alias("is_gap"),
    )


def moving_average(events: DataFrame, minutes: int = 60, window: int = 3) -> DataFrame:
    """(event_type, bucket_us, value, moving_avg): trailing ``window``-
    bucket rolling mean over the gap-filled regular grid — the classic
    hypertable smoothing query on top of :func:`resample_forward_fill`
    (nulls from leading gaps are ignored, like SQL AVG).

    Scale shape: inherits the gap-fill plan (one aggregate over the scan,
    then grid-sized work); the rolling window is ROWS-bounded over the
    time grid, never over raw events.
    """
    from pyspark.sql import Window

    filled = resample_forward_fill(events, minutes)
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_us")
        .rowsBetween(-(window - 1), 0)
    )
    return filled.select(
        "event_type",
        "bucket_us",
        "value",
        F.round(F.avg("value").over(w), 6).alias("moving_avg"),
    )


def value_trend(events: DataFrame) -> DataFrame:
    """(event_type, n, slope, intercept, r2): per-type least-squares
    linear trend of ``value`` over event time (days since epoch — unit
    chosen so slopes land at printable magnitudes). ANSI ``REGR_*``
    aggregates — one map-side-combinable pass, identical semantics in
    DuckDB for the oracle twin."""
    x = F.unix_micros("ts") / F.lit(86_400_000_000.0)
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.regr_slope(F.col("value"), x), 6).alias("slope"),
        F.round(F.regr_intercept(F.col("value"), x), 6).alias("intercept"),
        F.round(F.regr_r2(F.col("value"), x), 6).alias("r2"),
    )


def type_transitions(events: DataFrame) -> DataFrame:
    """(from_type, to_type, n): consecutive event-type transition counts
    per user in event-time order ((ts, event_id) total order) — the
    Markov transition corpus next-event prediction models train on. One
    window + one aggregate, both keyed by columns the scan already has."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("_to", F.lead("event_type").over(w))
        .filter(F.col("_to").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"), F.col("_to").alias("to_type")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def decayed_activity(
    events: DataFrame,
    half_life_hours: float = 24.0,
) -> DataFrame:
    """(user_id, n_events, decay_score): exponentially time-decayed
    activity per user at the stream's reference instant (its max
    timestamp) — the recency-weighted engagement score behind churn/
    ranking features: each event contributes value · 0.5^(Δt/half_life).

    Cross-engine determinism: Δt is integer microseconds (unix_micros),
    the exponent Δus / half_life_us is one double division, and the
    contribution one pow(0.5, ·) — the same three correctly-rounded ops
    in both engines; the per-user sum rounds to 6dp (log-free scores are
    irrational in practice, never on a rounding tie). Plan shape: a
    1-row max-ts aggregate broadcast onto the scan, one user-keyed sum —
    linear, and incrementally maintainable in the additive algebra IF
    the reference instant is pinned (decay factors then never change;
    with a moving reference the whole table rescales by a constant,
    which a consumer can apply at read time instead of rewriting
    state)."""
    ref = events.agg(F.max(F.unix_micros("ts")).alias("_ref"))
    half_us = half_life_hours * 3600.0 * 1_000_000.0
    contrib = F.col("value") * F.pow(
        F.lit(0.5), (F.col("_ref") - F.unix_micros("ts")) / F.lit(half_us)
    )
    return (
        events.crossJoin(gated_broadcast(ref, "1-row global aggregate"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum(contrib), 6).alias("decay_score"),
        )
    )


def session_paths(
    events: DataFrame, gap_minutes: int = 30, n: int = 3, top_k: int = 20
) -> DataFrame:
    """(path, n_occurrences): the ``top_k`` most frequent within-session
    event-type n-gram paths — funnel *discovery* (the existing ``funnel``
    operator measures a GIVEN path; this mines which paths are worth
    measuring, the product-analytics path/flow report).

    A path is ``n`` consecutive events inside one session (sliding, so a
    5-event session contributes 3 trigrams), joined with '>'.
    Determinism: within-session order is (ts, event_id); the top-k sorts
    by (count DESC, path). Plan shape: per-(user, session) LEAD windows —
    never corpus-wide — then a bounded |distinct paths| aggregate and a
    global limit over it."""
    w = Window.partitionBy("user_id", "session_seq").orderBy("ts_us", "event_id")
    sids = _session_ids(events, gap_minutes)
    steps = [F.col("event_type")] + [
        F.lead("event_type", i).over(w) for i in range(1, n)
    ]
    paths = sids.select(F.concat_ws(">", *steps).alias("path"), steps[-1].alias("_last"))
    return (
        paths.where(F.col("_last").isNotNull())
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("path"))
        .limit(top_k)
    )


def time_split_report(events: DataFrame, cutoff_us: int) -> DataFrame:
    """One row (cutoff_us, n_train, n_test, n_train_users, n_test_users,
    n_cold_users, cold_fraction): the temporal-holdout audit an offline
    evaluation owes before trusting its metrics — events strictly before
    the cutoff instant are train, the rest test; a test user with no
    train history is cold-start (their test events can never be
    predicted from history, and silently counting them biases every
    sequential-recommendation metric downward).

    cold_fraction = n_cold_users / n_test_users (6dp, NULL when the test
    side is empty). Epoch-microsecond cutoff keeps it session-timezone-
    proof like the rest of this module. Plan: one scan into two
    conditional aggregates + one distinct-user anti-join flag."""
    ts_us = F.unix_micros("ts")
    base = events.select(
        "user_id", ts_us.alias("_t"), (ts_us < cutoff_us).alias("_is_train")
    )
    counts = base.agg(
        F.sum(F.when(F.col("_is_train"), 1).otherwise(0)).alias("n_train"),
        F.sum(F.when(~F.col("_is_train"), 1).otherwise(0)).alias("n_test"),
    )
    train_users = base.where("_is_train").select("user_id").distinct()
    test_users = base.where(~F.col("_is_train")).select("user_id").distinct()
    cold = test_users.join(train_users, "user_id", "left_anti")
    users = (
        train_users.agg(F.count(F.lit(1)).alias("n_train_users"))
        .crossJoin(gated_broadcast(test_users.agg(F.count(F.lit(1)).alias("n_test_users")), "1-row global aggregate"))
        .crossJoin(gated_broadcast(cold.agg(F.count(F.lit(1)).alias("n_cold_users")), "1-row global aggregate"))
    )
    return counts.crossJoin(gated_broadcast(users, "1-row global aggregate")).select(
        F.lit(int(cutoff_us)).alias("cutoff_us"),
        "n_train",
        "n_test",
        "n_train_users",
        "n_test_users",
        "n_cold_users",
        F.when(
            F.col("n_test_users") > 0,
            F.round(F.col("n_cold_users") / F.col("n_test_users"), 6),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("cold_fraction"),
    )


def interarrival_profile(events: DataFrame) -> DataFrame:
    """(event_type, gap_bucket, n): per-type histogram of log2-bucketed
    inter-arrival gaps between a user's consecutive events of that type —
    the burstiness fingerprint behind rate-limit tuning, bot detection
    and session-gap calibration (the empirical basis for choosing
    ``sessionize``'s gap parameter instead of folklore 30 minutes).

    gap_bucket = floor(log2(gap_seconds)) for positive gaps, -1 for
    same-instant repeats; integer-exact on both engines because the
    bucket comes from BIGINT second gaps via length-of-binary rather
    than float log2 (floor(log2(n)) = bit_length(n) - 1). Windows
    partition per (user, type) — never corpus-wide."""
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    # integer DIV, not a double cast: Spark CAST(double AS BIGINT)
    # truncates while DuckDB's rounds — DIV sidesteps the divergence
    gaps = (
        events.select(
            "event_type",
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias(
                "_gap_us"
            ),
        )
        .where(F.col("_gap_us").isNotNull())
        .select("event_type", F.expr("_gap_us DIV 1000000").alias("_gap_s"))
    )
    bucket = F.when(F.col("_gap_s") <= 0, F.lit(-1)).otherwise(
        # floor(log2(n)) via the bit length of the BIGINT gap: exact,
        # no float log edge cases at bucket boundaries
        F.length(F.conv(F.col("_gap_s"), 10, 2)) - 1
    )
    return gaps.groupBy("event_type", bucket.cast("long").alias("gap_bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )


def value_anomalies_mad(events: DataFrame, k: float = 3.5) -> DataFrame:
    """Robust per-type outliers via the median/MAD rule (Iglewicz &
    Hoaglin 1993): events whose ``value`` sits more than ``k`` scaled
    median-absolute-deviations from the type median. The companion to
    the z-score detector for exactly the data that breaks it — the
    outliers themselves inflate mean and stddev until z-scores go
    blind, while median and MAD barely move (50% breakdown point).

    (event_id, event_type, value, robust_z) with
    robust_z = (value − median) / (1.4826·MAD), 6dp; types with
    MAD = 0 (over half the values identical) emit nothing rather than
    dividing by zero.

    Plan: two per-type exact-percentile aggregates (|event_type| rows
    each, broadcast back) around one scan-resident filter — the same
    two-pass shape as ``value_anomalies``."""
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("_med")
    )
    withmed = events.select("event_id", "event_type", "value").join(gated_broadcast(med, "|event_type| rows: the event-type taxonomy is data-model bounded"), "event_type")
    mad = withmed.groupBy("event_type").agg(
        F.expr("percentile(abs(value - _med), 0.5D)").alias("_mad")
    )
    rz = (F.col("value") - F.col("_med")) / (F.lit(1.4826) * F.col("_mad"))
    return (
        withmed.join(gated_broadcast(mad, "|event_type| rows: the event-type taxonomy is data-model bounded"), "event_type")
        .where(F.col("_mad") > 0)
        .filter(F.abs(rz) > k)
        .select("event_id", "event_type", "value", F.round(rz, 6).alias("robust_z"))
    )


def hourly_periodicity(events: DataFrame) -> DataFrame:
    """(event_type, n, chi2, peak_hour, peak_share): is each event type
    uniform over the 24 UTC hours, or periodic? chi2 is Pearson's
    goodness-of-fit statistic against the uniform expectation n/24
    (>> ~35 at 23 dof means real daily structure; bots and cron jobs
    show extreme values, organic traffic moderate ones) — the signal
    behind rate-limit schedules and traffic-shape anomaly baselines.

    Hour = (epoch_us DIV 3600·10⁶) mod 24: pure epoch arithmetic,
    session-timezone-proof like the rest of this module. Counts are
    exact integers; chi2 sums 24 doubles per type (rounded 6dp);
    peak_hour ties break by hour ascending.

    Plan: one (type, hour) aggregate (≤ 24·|types| rows), one rollup."""
    hour = (
        F.expr("unix_micros(ts) DIV 3600000000") % 24
    ).cast("long").alias("hour")
    counts = events.groupBy("event_type", hour).agg(
        F.count(F.lit(1)).alias("_c")
    )
    w_peak = Window.partitionBy("event_type").orderBy(
        F.desc("_c"), F.asc("hour")
    )
    with_tot = counts.join(
        gated_broadcast(
            counts.groupBy("event_type").agg(F.sum("_c").alias("_n")), "|event_type| rows: the event-type taxonomy is data-model bounded"
        ),
        "event_type",
    )
    chi_term = F.pow(F.col("_c") - F.col("_n") / 24, 2) / (F.col("_n") / 24)
    agg = (
        with_tot.withColumn("_rk", F.row_number().over(w_peak))
        .groupBy("event_type")
        .agg(
            F.max("_n").alias("n"),
            F.sum(chi_term).alias("_chi_obs"),
            # hours with ZERO events never reach the group — each still
            # contributes (0-e)^2/e = e to the statistic
            F.count(F.lit(1)).alias("_nh"),
            F.max(F.when(F.col("_rk") == 1, F.col("hour"))).alias("peak_hour"),
            F.round(
                F.max(F.when(F.col("_rk") == 1, F.col("_c"))) / F.max("_n"), 6
            ).alias("peak_share"),
        )
    )
    return agg.select(
        "event_type",
        "n",
        F.round(
            F.col("_chi_obs") + (24 - F.col("_nh")) * (F.col("n") / 24), 6
        ).alias("chi2"),
        "peak_hour",
        "peak_share",
    )


def stickiness_report(events: DataFrame) -> DataFrame:
    """One row (n_days, avg_dau, mau, stickiness): the DAU/MAU
    engagement ratio over the stream's span — the classic product
    health number (a user active 1 day in 30 contributes 1/30; a daily
    user contributes 1.0, so stickiness = expected fraction of days a
    monthly-active user shows up).

    avg_dau = (Σ_d distinct users on day d) / n_days over epoch-UTC
    days with any activity; mau = distinct users over the whole table.
    Exact integer counts, one final division pair, 6dp. Plan: one
    (day, user) distinct + bounded per-day aggregate, one global
    distinct."""
    day = F.expr("unix_micros(ts) DIV 86400000000").alias("_day")
    du = events.select(day, "user_id").distinct()
    daily = du.groupBy("_day").agg(F.count(F.lit(1)).alias("_dau"))
    d_agg = daily.agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("_dau").alias("_dau_sum")
    )
    mau = events.agg(F.countDistinct("user_id").alias("mau"))
    return d_agg.crossJoin(gated_broadcast(mau, "1-row global aggregate")).select(
        "n_days",
        F.round(F.col("_dau_sum") / F.col("n_days"), 6).alias("avg_dau"),
        "mau",
        F.round(
            F.col("_dau_sum") / F.col("n_days") / F.col("mau"), 6
        ).alias("stickiness"),
    )
