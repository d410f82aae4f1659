"""Windowed event-stream aggregation (batch + streaming shared core).

No reference analog (the reference is batch-only PII linkage); the brief's
training-data-pipeline surface wants time-windowed rollups over event
streams — tumbling windows via the built-in ``F.window`` (codegen'd, SQL-
expressible, so the batch path is oracle-checkable in DuckDB via
``time_bucket``). The streaming variant adds an event-time watermark so
late rows older than the bound are dropped and window state is evicted —
bounded state at 10^12-event scale.

JSON ``props`` are parsed with the built-in ``get_json_object`` (JVM-side,
no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def windowed_event_stats(
    events: DataFrame,
    window: str = "1 hour",
    exact_users: bool = True,
) -> DataFrame:
    """Tumbling-window rollup per event_type.

    (window_start epoch secs, event_type, n_events, sum_value, sum_k
    [, n_users]). ``exact_users`` uses count_distinct — batch only;
    streaming aggregations pass False (distinct is unsupported on
    unbounded state; approx_count_distinct would be the streaming choice
    but is not byte-stable, so it stays out of the oracle-checked set).
    """
    aggs = [
        F.count("*").alias("n_events"),
        # sum at fixed micro precision: floor(value*1e6) is the same long
        # on any engine evaluating IEEE doubles, and summing longs is
        # order-independent — a plain double sum re-associates differently
        # across engines/partitionings and can flake a hash-exact oracle
        # near a rounding boundary
        (F.sum(F.floor(F.col("value") * F.lit(1e6))) / F.lit(1e6)).alias("sum_value"),
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
    ]
    if exact_users:
        aggs.append(F.count_distinct("user_id").alias("n_users"))
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(*aggs)
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            *[c for c in ("n_events", "sum_value", "sum_k", "n_users") if exact_users or c != "n_users"],
        )
    )


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization, batch form.

    A session is a maximal run of a user's events with inter-event gaps
    <= ``gap_minutes``. Classic lag + running-sum-of-boundaries: both
    windows are partitioned per user (small, no skew concern). Returns
    (user_id, session_start, session_end, n_events) in epoch seconds.
    The streaming twin (``streaming.incremental.sessionize_stream``)
    computes the same sessions incrementally with
    ``applyInPandasWithState``.
    """
    t = F.unix_timestamp("ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    boundary = F.when(
        F.lag(t).over(w).isNull() | (t - F.lag(t).over(w) > gap_minutes * 60), 1
    ).otherwise(0)
    with_sess = events.select(
        "user_id", t.alias("t"), F.sum(boundary).over(w).alias("sess_id")
    )
    return with_sess.groupBy("user_id", "sess_id").agg(
        F.min("t").alias("session_start"),
        F.max("t").alias("session_end"),
        F.count("*").alias("n_events"),
    ).drop("sess_id")


def event_value_percentiles(events: DataFrame) -> DataFrame:
    """Exact per-type p50/p95/p99 of ``value`` (type-7 linear interpolation).

    ``F.percentile`` is Spark's EXACT percentile (sort-based aggregate,
    index = p*(n-1) with linear interpolation) — the same definition as
    ANSI ``percentile_cont`` / DuckDB ``quantile_cont``, so the result is
    byte-reproducible by the oracle, unlike ``approx_percentile``
    (t-digest, engine-specific). Exact percentile shuffles each group's
    values to one aggregator — right for bounded group counts (event
    types); at unbounded cardinality switch to approx_percentile and
    accept a weaker check.
    """
    aggs = [
        F.percentile("value", F.lit(p)).alias(f"p{int(p * 100)}")
        for p in (0.5, 0.95, 0.99)
    ]
    return events.groupBy("event_type").agg(
        F.count("*").alias("n_events"), *aggs
    )


def top_users_per_type(events: DataFrame, k: int = 3) -> DataFrame:
    """Top-k users by event count per event_type (T1 surface over events).

    Deterministic ranking: count desc, then user_id asc. Partial
    (map-side) aggregation does the heavy lifting; the ranking window
    runs over the small (type, user) count table, partitioned by type —
    never a global sort.
    """
    counts = events.groupBy("event_type", "user_id").agg(
        F.count("*").alias("n_events")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("n_events"), F.asc("user_id")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("event_type", "user_id", "n_events", "rank")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    payload_cols: tuple[str, ...] = ("event_id", "ts", "value"),
    strict: bool = False,
) -> DataFrame:
    """Point-in-time (as-of) left join: for every left row, the latest
    right row with ``right.ts <= left.ts`` (``<`` when ``strict``) and
    the same ``user_id``; null payload when no such row exists. Payload
    columns come back prefixed ``asof_``.

    Spark has no native as-of join (pandas ``merge_asof`` is
    single-node), and the naive range join is quadratic per key. This is
    the scale-correct composition: tag the two sides, union, and run ONE
    carry-forward window — ``last(payload, ignorenulls=True)`` over
    (key) ordered by (ts, side, event_id) — then keep the left rows.
    Exactly one exchange (hash by key) and one sort; cost is that of any
    per-key window regardless of how many right rows precede each left
    row. Skew: a hot key serializes its own sort only — same bound as
    sessionization; salt upstream if a single key exceeds a partition.

    Tie semantics are part of the contract: at equal ``ts`` the right
    row is visible iff not ``strict`` (side tag orders right before/after
    left), and among right rows sharing (key, ts) the one with the
    largest ``event_id`` wins — deterministic, and reproducible in
    engines with native ASOF (DuckDB) by pre-deduplicating the right
    side to max(``event_id``) per (key, ts).
    """
    r_side = 0 if not strict else 2
    payload = F.struct(*[F.col(c).alias(c) for c in payload_cols])
    r = right.select(
        F.col("user_id").alias("_k"),
        F.col("ts").alias("_ts"),
        F.lit(r_side).alias("_side"),
        F.col("event_id").cast("long").alias("_ord"),
        payload.alias("_payload"),
        F.lit(None).cast(
            left.select(F.struct(*left.columns).alias("s")).schema["s"].dataType
        ).alias("_lrow"),
    )
    l = left.select(
        F.col("user_id").alias("_k"),
        F.col("ts").alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(0).cast("long").alias("_ord"),
        F.lit(None).cast(r.schema["_payload"].dataType).alias("_payload"),
        F.struct(*left.columns).alias("_lrow"),
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side", "_ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        r.unionByName(l)
        .withColumn("_carry", F.last("_payload", ignorenulls=True).over(w))
        .where(F.col("_side") == 1)
    )
    out_cols = [F.col(f"_lrow.{c}").alias(c) for c in left.columns]
    out_cols += [F.col(f"_carry.{c}").alias(f"asof_{c}") for c in payload_cols]
    return carried.select(*out_cols)


def range_join(
    left: DataFrame,
    right: DataFrame,
    lower_us: int = -3_600_000_000,
    upper_us: int = 3_600_000_000,
) -> DataFrame:
    """Interval join: all right rows with the same ``user_id`` whose
    timestamp falls in ``[left.ts + lower_us, left.ts + upper_us]``
    (microseconds) -> the left columns, the right row's ``r_event_id``,
    ``r_ts``, ``r_value``, and ``delta_us``.

    The naive plan — equi-join on key, filter the range — materializes
    the full per-key product before filtering: a hot key with n left ×
    m right rows costs n·m regardless of how narrow the window is.
    This operator uses the standard bin-bucketing rewrite: right rows
    land in ONE time bin of width (upper-lower), left rows replicate to
    the ≤2 bins their window can touch, and the equi-join runs on
    (key, bin) — so join fan-out is bounded by actual bin occupancy,
    i.e. by rows per key per window-width, not rows per key. The exact
    BETWEEN predicate filters bin-edge false positives after the join.

    TIMESTAMP_NTZ columns are cast to session-zone TIMESTAMP for the
    epoch arithmetic; a constant zone offset shifts every bin uniformly
    and cancels in the BETWEEN predicate and delta_us, so the joined
    pair set is zone-independent.

    Bins use integer floor-division on epoch microseconds (``div`` —
    exact; truncation == floor because epochs here are positive), so
    binning is engine-reproducible. Requires ``upper_us > lower_us``
    and non-negative event epochs.
    """
    if upper_us <= lower_us:
        raise ValueError(f"empty window: [{lower_us}, {upper_us}]")
    width = upper_us - lower_us
    payload = ("event_id", "ts", "value")
    r = right.select(
        F.col("user_id").alias("_k"),
        F.expr("unix_micros(cast(ts as timestamp))").alias("_rus"),
        F.expr(f"unix_micros(cast(ts as timestamp)) div {width}").alias("_bin"),
        *[F.col(c).alias(f"r_{c}") for c in payload],
    )
    l_cols = [F.col(c) for c in left.columns]
    l = left.select(
        *l_cols,
        F.col("user_id").alias("_k"),
        F.expr("unix_micros(cast(ts as timestamp))").alias("_lus"),
        F.explode(
            F.sequence(
                F.expr(f"(unix_micros(cast(ts as timestamp)) + ({lower_us})) div {width}"),
                F.expr(f"(unix_micros(cast(ts as timestamp)) + ({upper_us})) div {width}"),
            )
        ).alias("_bin"),
    )
    out = (
        l.join(r, ["_k", "_bin"])
        .where(
            (F.col("_rus") >= F.col("_lus") + F.lit(lower_us))
            & (F.col("_rus") <= F.col("_lus") + F.lit(upper_us))
        )
        .withColumn("delta_us", F.col("_rus") - F.col("_lus"))
    )
    return out.select(*left.columns, *[f"r_{c}" for c in payload], "delta_us")


def funnel_steps(
    events: DataFrame,
    steps: list[str],
    within: str = "1 hour",
) -> DataFrame:
    """Ordered-funnel analysis: per user, the earliest completion time of
    each step given the previous one, each transition bounded by
    ``within`` -> (user_id, t_1..t_k, stage).

    The product-analytics staple ("view -> click -> purchase inside an
    hour"). No self-join over event pairs: step 1 is a min-aggregate;
    every later step i is ONE left join of the (per-user, slim) stage
    frame against the step-i events plus a conditional min — all keyed
    on the user, so after the first exchange every join and aggregate
    reuses the same hash partitioning. k steps cost k passes over
    single-type event slices, never |events|² pairs. stage = number of
    steps completed; users who never fired step 1 are absent (funnel
    entry defines the cohort).

    Time bounds use native interval arithmetic (microsecond-exact in
    both Spark and the SQL twin); a strictly-later ``ts`` is required
    for each next step, so same-timestamp events cannot complete two
    stages at once.
    """
    if len(steps) < 2:
        raise ValueError("funnel needs at least 2 steps")
    ty = F.col("event_type")
    cur = events.where(ty == steps[0]).groupBy("user_id").agg(F.min("ts").alias("t_1"))
    for i, step in enumerate(steps[1:], start=2):
        prev = F.col(f"t_{i - 1}")
        nxt = events.where(ty == step).select("user_id", F.col("ts").alias("_ts"))
        carry = [f"t_{j}" for j in range(1, i)]
        cur = (
            cur.join(nxt, "user_id", "left")
            .groupBy("user_id", *carry)
            .agg(
                F.min(
                    F.when(
                        (F.col("_ts") > prev)
                        & (F.col("_ts") <= prev + F.expr(f"INTERVAL {within}")),
                        F.col("_ts"),
                    )
                ).alias(f"t_{i}")
            )
        )
    stage = F.lit(1)
    for i in range(2, len(steps) + 1):
        stage = stage + F.col(f"t_{i}").isNotNull().cast("int")
    return cur.select(
        "user_id",
        *[f"t_{i}" for i in range(1, len(steps) + 1)],
        stage.cast("long").alias("stage"),
    )


def cohort_retention(events: DataFrame) -> DataFrame:
    """Weekly cohort-retention matrix -> (cohort_week, week_offset,
    n_users): of the users whose FIRST activity fell in cohort_week,
    how many were active again week_offset weeks later.

    The funnel's companion report. Three keyed stages: first-activity
    per user (min-agg), the activity join back (same user_id hash
    partitioning — no extra exchange shape), and the final
    count-distinct on (cohort, offset) whose key space is O(weeks²) —
    tiny forever. Weeks are ``date_trunc('week', ts)`` (ISO Monday
    start, identical in Spark and the SQL twin) and the offset is an
    exact integer day-difference DIV 7, so no timezone or float
    boundary can shift a user between cells.
    """
    cohort = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    act = events.select("user_id", F.date_trunc("week", "ts").alias("_aw")).distinct()
    joined = act.join(cohort, "user_id")
    off = F.expr("CAST(datediff(to_date(_aw), to_date(cohort_week)) DIV 7 AS BIGINT)")
    return (
        joined.select("user_id", "cohort_week", off.alias("week_offset"))
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct(F.col("user_id")).alias("n_users"))
    )


def windowed_anomaly(
    events: DataFrame,
    window: str = "1 hour",
    trailing: int = 6,
    min_windows: int = 3,
) -> DataFrame:
    """Trailing-window anomaly score per (type, window) ->
    (event_type, window_start, n_events, n_prev, mean_u, z_u).

    The monitoring primitive behind every "traffic spiked" alert: each
    window's event count is z-scored against the TRAILING ``trailing``
    observed windows of the same type (population variance). Windows
    with fewer than ``min_windows`` observed predecessors are withheld
    (cold start); gaps in time count as absent, not zero — the trailing
    frame is the last k OBSERVED windows, documented semantics for
    sparse types.

    Exactness: the per-window counts are integers, the trailing
    ``sum``/``sum of squares`` are integer window aggregates, and the
    mean / variance / sqrt / z chain is a fixed tree of exactly-rounded
    double operations on those integers — bit-identical across engines
    and partitionings (``mean_u``/``z_u`` are floored micro-units; a
    variance that rounds to <= 0 pins z_u to 0 on both engines).
    Overflow: counts fit comfortably — n² sums need n under ~3e9 per
    window per type.

    Scale shape: one map-side-combined groupBy to the (type, window)
    grain — the heavy reduction — then a per-type ordered window over
    the (tiny) window-count table. The per-type window partitions are
    bounded by windows-per-retention, not by events.
    """
    if trailing < 1:
        raise ValueError(f"trailing must be >= 1, got {trailing}")
    if min_windows < 1 or min_windows > trailing:
        raise ValueError(
            f"min_windows must be in [1, trailing], got {min_windows}"
        )
    counts = (
        events.groupBy(F.window(F.col("ts"), window).alias("_w"), F.col("event_type"))
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            "event_type",
            F.unix_timestamp(F.col("_w.start")).alias("window_start"),
            "n_events",
        )
    )
    frame = (
        Window.partitionBy("event_type")
        .orderBy("window_start")
        .rowsBetween(-trailing, -1)
    )
    stats = counts.select(
        "event_type",
        "window_start",
        "n_events",
        F.count("n_events").over(frame).cast("long").alias("n_prev"),
        F.sum("n_events").over(frame).cast("long").alias("_s1"),
        F.sum(F.col("n_events") * F.col("n_events")).over(frame).cast("long").alias(
            "_s2"
        ),
    ).where(F.col("n_prev") >= min_windows)
    npd = F.col("n_prev").cast("double")
    mean = F.col("_s1").cast("double") / npd
    var = (
        F.col("_s2").cast("double")
        - F.col("_s1").cast("double") * F.col("_s1").cast("double") / npd
    ) / npd
    z = (F.col("n_events").cast("double") - mean) / F.sqrt(var)
    return stats.select(
        "event_type",
        "window_start",
        "n_events",
        "n_prev",
        F.floor(F.lit(1000000.0) * mean).cast("long").alias("mean_u"),
        F.when(var > 0, F.floor(F.lit(1000000.0) * z))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("z_u"),
    )


def type_transitions(events: DataFrame) -> DataFrame:
    """Per-user event-type transition matrix -> (prev_type, event_type,
    n, p), the first-order Markov behavior model.

    Which action follows which: the input to funnel design, bot
    detection (self-loops at machine rates) and session modeling.
    Consecutive events per user are paired with ONE lag window ordered
    by (ts, id) — the deterministic total order shared with
    sessionization, so equal timestamps break consistently — then
    counted on the tiny (prev, next) key space. ``p`` is the row-
    normalized probability: one exact integer division per cell
    (n / Σ_row n), bit-stable across engines.

    Scale shape: one hash exchange on user_id + per-user sort (the same
    shuffle sessionization pays), then a map-side-combined count to
    |types|² rows; the row marginal is a window over that tiny frame.
    """
    byuser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type"),
            F.lag("event_type").over(byuser).alias("prev_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    row_total = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "event_type",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(row_total).cast("double")
        ).alias("p"),
    )
