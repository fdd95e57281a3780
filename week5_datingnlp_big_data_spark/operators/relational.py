"""Reusable relational/analytic operators beyond plain DataFrame calls:
sessionization, as-of joins, top-k per group — the extension surface for
the events/TPC-H-ish tables (SURVEY.md section 2.10).

Everything composes built-in window/join primitives: one hash shuffle on
the partition key, no UDFs, AQE-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: float = 30.0,
    id_cols: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since
    the user's previous event exceeds ``gap_minutes``. Adds ``session_seq``
    (per-user session ordinal, 1-based).

    Classic lag + cumulative-sum: one shuffle on ``user_col``; both window
    passes share the same partitioning so Catalyst plans a single
    exchange."""
    w = Window.partitionBy(user_col).orderBy(ts_col, *id_cols)
    gap_usec = F.unix_micros(F.col(ts_col)) - F.lag(
        F.unix_micros(F.col(ts_col))
    ).over(w)
    is_new = F.when(
        gap_usec.isNull() | (gap_usec > int(gap_minutes * 60 * 1_000_000)), 1
    ).otherwise(0)
    return events.withColumn(
        "session_seq",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def session_stats(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: float = 30.0,
) -> DataFrame:
    """Per-session aggregates: event count, span seconds, start/end."""
    s = sessionize(events, user_col, ts_col, gap_minutes)
    return s.groupBy(user_col, "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        (
            (F.unix_micros(F.max(ts_col)) - F.unix_micros(F.min(ts_col))) / 1_000_000.0
        ).alias("span_sec"),
    )


def asof_join_last_event(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    mark: Column | None = None,
    mark_name: str = "anchor",
    id_cols: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """As-of join within one stream: attach to every row the timestamp of
    the most recent *marked* row (``mark`` predicate) at or before it, per
    key. The classic Spark formulation: conditional last_value with
    ignorenulls over an unbounded-preceding window — equivalent to an
    ASOF JOIN but with ONE shuffle and no range join explosion."""
    if mark is None:
        raise ValueError("mark predicate required")
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, *id_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked_ts = F.when(mark, F.col(ts_col))
    return events.withColumn(
        f"last_{mark_name}_ts", F.last(marked_ts, ignorenulls=True).over(w)
    )


def asof_join_two_tables(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    left_vals: tuple[str, ...],
    right_vals: tuple[str, ...],
    right_tiebreak: tuple[str, ...] | None = None,
) -> DataFrame:
    """General two-table as-of join: for each left row, the latest right
    row with ``right_ts <= left_ts`` on the same key. Union trick: tag both
    sides, sort within key by time, carry right values forward with
    last(ignorenulls), keep left rows. ONE shuffle on ``key`` and no
    range-join explosion — the 100 TB-safe formulation.

    Output: (key, left_ts, *left_vals, *asof_<right_vals>). Ties
    (right_ts == left_ts): the right row sorts first (side 0 < 1), so a
    simultaneous right row IS visible — standard ASOF `<=` semantics.

    When several right rows share (key, right_ts), the carried row is the
    LAST one ordered by ``right_tiebreak`` (default: ``right_vals``), so
    results are deterministic across runs and partitionings — a
    sort-order-dependent pick here would make oracle comparisons flaky."""
    if right_tiebreak is None:
        right_tiebreak = right_vals
    extra = tuple(c for c in right_tiebreak if c not in right_vals)
    lt = left.select(
        F.col(key), F.col(left_ts).alias("_ts"), F.lit(1).alias("_side"),
        *[F.col(c) for c in left_vals],
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(c)
            for c in (*right_vals, *extra)
        ],
    )
    rt = right.select(
        F.col(key), F.col(right_ts).alias("_ts"), F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_vals],
        *[F.col(c) for c in (*right_vals, *extra)],
    )
    w = (
        Window.partitionBy(key)
        .orderBy("_ts", "_side", *[F.col(c) for c in right_tiebreak])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = lt.unionByName(rt).select(
        "*",
        *[
            F.last(F.when(F.col("_side") == 0, F.col(c)), ignorenulls=True)
            .over(w)
            .alias(f"asof_{c}")
            for c in right_vals
        ],
    )
    return carried.filter(F.col("_side") == 1).select(
        F.col(key),
        F.col("_ts").alias(left_ts),
        *[F.col(c) for c in left_vals],
        *[F.col(f"asof_{c}") for c in right_vals],
    )


def funnel_conversion(
    events: DataFrame,
    steps: tuple[str, ...],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel analysis: for each step sequence position i, count
    users whose earliest step-i event STRICTLY FOLLOWS their committed
    step-(i-1) timestamp (the classic product-analytics funnel; order
    matters, a purchase before the signup does not convert).

    Output: one row per step —
    ``(step_idx, step, n_users, conv_from_prev, conv_from_first)`` with
    conversion ratios as 6-dp-rounded doubles. The rate columns are
    TOTAL (never NULL): an empty upstream stage converts at 0.0, and
    step 1's from-prev is defined as its from-first rate — a nullable
    rate would make the driver's sorted-tuple value compare mix NULL
    markers with floats whenever counts tie across steps.

    Scale shape: the per-user step timestamps are chained full-partition
    window minima over ONE hash exchange on ``user_col`` (Catalyst stacks
    the Window operators on the shared partitioning); the final rollup is
    a single 1-row aggregate exploded to len(steps) rows. No joins, no
    per-step corpus rescans."""
    if len(steps) < 2:
        raise ValueError("a funnel needs at least two steps")
    w = Window.partitionBy(user_col)
    # NULL-key policy: anonymous (NULL-user) and untimed events are
    # excluded up front. Spark's window partitioning groups NULLs into a
    # phantom user while SQL joins drop them — an explicit filter is the
    # only semantics both engines share.
    out = events.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(user_col, ts_col, type_col)
    for i, step in enumerate(steps):
        hit = F.col(type_col) == step
        if i > 0:
            hit = hit & (F.col(ts_col) > F.col(f"_s{i - 1}"))
        out = out.withColumn(
            f"_s{i}", F.min(F.when(hit, F.col(ts_col))).over(w)
        )
    per_user = out.groupBy(user_col).agg(
        *[F.max(f"_s{i}").alias(f"_s{i}") for i in range(len(steps))]
    )
    totals = per_user.agg(
        *[F.count(f"_s{i}").alias(f"n{i}") for i in range(len(steps))]
    )

    def _rate(num: str, den: str):
        return F.when(
            F.col(den) > 0,
            F.round(F.col(num).cast("double") / F.col(den), 6),
        ).otherwise(F.lit(0.0))

    rows = totals.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i + 1).alias("step_idx"),
                        F.lit(step).alias("step"),
                        F.col(f"n{i}").alias("n_users"),
                        _rate(f"n{i}", f"n{max(i - 1, 0)}").alias(
                            "conv_from_prev"
                        ),
                        _rate(f"n{i}", "n0").alias("conv_from_first"),
                    )
                    for i, step in enumerate(steps)
                ]
            )
        ).alias("r")
    )
    return rows.select("r.*")


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention matrix: users are cohorted by the ISO week
    (Monday-truncated) of their FIRST event; each later active week
    contributes to that cohort's retention at ``week_offset`` weeks.

    Output: ``(cohort_week, week_offset, n_active, retention)`` where
    retention = n_active / cohort size (the offset-0 count — every user
    is active in their own first week by construction), 6-dp rounded.

    Scale shape: (user, week) activity is de-duplicated FIRST (groupBy —
    map-side partial), the cohort week rides a per-user window min on the
    same key family, and cohort size is a window max over the final
    small (cohort × offset) grid — never a self-join or corpus rescan.
    Week arithmetic stays integral: both engines truncate to Monday, so
    the day-diff is exactly divisible by 7."""
    wk = F.date_trunc("week", F.col(ts_col))
    # NULL-key policy: see funnel_conversion — NULL users/timestamps out.
    active = (
        events.filter(
            F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
        )
        .groupBy(F.col(user_col), wk.alias("wk"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    w_user = Window.partitionBy(user_col)
    tagged = active.withColumn("cohort_week", F.min("wk").over(w_user))
    grid = tagged.groupBy("cohort_week",
        F.floor(F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
        .cast("bigint")
        .alias("week_offset"),
    ).agg(F.count(F.lit(1)).alias("n_active"))
    w_cohort = Window.partitionBy("cohort_week")
    size = F.max(F.when(F.col("week_offset") == 0, F.col("n_active"))).over(
        w_cohort
    )
    return grid.select(
        "cohort_week",
        "week_offset",
        "n_active",
        F.round(F.col("n_active").cast("double") / size, 6).alias("retention"),
    )


def time_bucket_gapfill(
    events: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Gap-filled hourly rollup with last-observation-carried-forward
    (the Timescale ``time_bucket_gapfill`` + ``locf`` shape): aggregate
    per (group, hour), then densify each group's time axis between ITS
    OWN min and max hour, filling missing buckets with n_events = 0 and
    carrying the last seen hourly sum forward.

    Output: ``(group, hour, n_events, sum_value, filled_value, is_gap)``
    — ``sum_value`` is NULL on fabricated rows, ``filled_value`` is the
    LOCF series (never NULL: each group's axis starts at an observed
    hour), ``is_gap`` marks fabricated rows.

    Scale shape: the dense axis is generated DISTRIBUTED — per-group
    min/max + ``sequence()`` explode — never a driver-side calendar
    collect; the explode factor is bounded by each group's own span.
    LOCF is one last(ignorenulls) window per group. Sums are 4-dp
    pre-rounded so the carried value is bit-identical cross-engine."""
    hour = F.date_trunc("hour", F.col(ts_col))
    # NULL-key policy: a NULL group or timestamp cannot anchor a dense
    # axis (and JOIN USING would silently drop it oracle-side) — exclude.
    agg = (
        events.filter(
            F.col(group_col).isNotNull() & F.col(ts_col).isNotNull()
        )
        .groupBy(F.col(group_col), hour.alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 4).alias("sum_value"),
        )
    )
    axis = (
        agg.groupBy(group_col)
        .agg(F.min("hour").alias("_mn"), F.max("hour").alias("_mx"))
        .select(
            group_col,
            F.explode(
                F.sequence(F.col("_mn"), F.col("_mx"), F.expr("interval 1 hour"))
            ).alias("hour"),
        )
    )
    filled = axis.join(agg, [group_col, "hour"], "left")
    w = (
        Window.partitionBy(group_col)
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return filled.select(
        group_col,
        "hour",
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        "sum_value",
        F.last("sum_value", ignorenulls=True).over(w).alias("filled_value"),
        F.col("n_events").isNull().alias("is_gap"),
    )


def interval_concurrency(
    intervals: DataFrame,
    start_col: str = "session_start",
    end_col: str = "session_end",
) -> DataFrame:
    """Sweep-line concurrency: for every hour containing an interval
    boundary, the maximum number of simultaneously-open intervals
    (inclusive [start, end] — a zero-length interval still counts as
    open at its instant). The classic +1/−1 boundary walk.

    Output: ``(hour, max_concurrent)``.

    Scale shape: the naive formulation is a running sum over ONE global
    ordering — a single-partition window that serializes the whole
    boundary stream through one task. This version uses the two-level
    prefix-sum decomposition instead: boundaries cumsum WITHIN their
    hour bucket (parallel, one hash exchange), per-hour delta totals
    cumsum on the tiny hour axis (single-partition window over ≤ a few
    thousand rows — 8,760 per year), and the hour offsets broadcast back.
    run(b) = offset(hour(b)) + within-hour prefix — identical to the
    global walk, executed at full parallelism.

    Determinism: boundaries order by (ts, delta DESC) so a start at the
    exact instant an interval ends counts as overlapping; tied equal
    deltas permute only within a run of identical increments, which
    leaves every prefix-sum value — and hence the hourly max — unchanged."""
    # One pass over the (possibly expensive) interval source: explode each
    # interval to its two boundaries inline instead of a union of two
    # selects — a union would evaluate the upstream plan twice.
    b = intervals.select(
        F.explode(
            F.array(
                F.struct(
                    F.col(start_col).alias("ts"), F.lit(1).alias("delta")
                ),
                F.struct(
                    F.timestamp_micros(
                        F.unix_micros(F.col(end_col)) + 1
                    ).alias("ts"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("_b")
    ).select(
        F.col("_b.ts").alias("ts"),
        F.col("_b.delta").alias("delta"),
        F.date_trunc("hour", F.col("_b.ts")).alias("hour"),
    )
    # The boundary frame feeds BOTH the within-hour cumsum and the hour
    # offsets — persist so the upstream (e.g. a sessionize window) runs
    # once. Two slim columns per boundary: negligible storage.
    b = b.persist()
    w_in = (
        Window.partitionBy("hour")
        .orderBy(F.col("ts"), F.desc("delta"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = b.withColumn("run_in", F.sum("delta").over(w_in))
    w_hours = Window.orderBy("hour").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        b.groupBy("hour")
        .agg(F.sum("delta").alias("_hd"))
        .select(
            "hour",
            F.coalesce(F.sum("_hd").over(w_hours), F.lit(0)).alias("_off"),
        )
    )
    return (
        within.join(F.broadcast(offsets), "hour")
        .groupBy("hour")
        .agg(F.max(F.col("run_in") + F.col("_off")).alias("max_concurrent"))
    )


def winsorize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
) -> DataFrame:
    """Per-group percentile winsorization: clip ``value_col`` to its
    group's [p_lo, p_hi] exact interpolated percentiles — the standard
    outlier-robustness pass before value-sensitive aggregation. Adds
    ``value_w`` (clipped, 4-dp rounded — the engine's percentile
    rounding convention) and ``was_clipped``.

    NULL values stay NULL — guarded explicitly, because least/greatest
    SKIP nulls on both engines and would otherwise quietly replace a
    NULL with the lower fence.

    Scale shape: the fences are aggregate-as-window over the group
    partition (one exchange, no join-back); at 100 TB swap the exact
    percentile for percentile_approx exactly as orders_price_percentiles
    documents — kept exact here so the oracle pins values."""
    w = Window.partitionBy(group_col)
    lo = F.percentile(value_col, F.lit(p_lo)).over(w)
    hi = F.percentile(value_col, F.lit(p_hi)).over(w)
    v = F.col(value_col)
    return df.select(
        "*",
        F.when(
            v.isNotNull(), F.round(F.least(F.greatest(v, lo), hi), 4)
        ).alias("value_w"),
        F.when(v.isNotNull(), (v < lo) | (v > hi)).alias("was_clipped"),
    )


def group_trend(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group simple linear regression (OLS) from INTEGER sufficient
    statistics: ``x_col``/``y_col`` must be integral (day indexes,
    counts) so n, Σx, Σy, Σx², Σxy are exact, both closed-form
    numerators/denominators are exact integers, and slope/intercept are
    each ONE IEEE division — bit-identical on any engine (the
    stat-moments discipline: never sum floats, derive from power sums).

    x is re-based to each group's own minimum, so the intercept is the
    fitted y at the group's first x (and the power sums stay far inside
    the 2^53 double-exact integer range for epoch-day magnitudes).

    Output: ``(group, n_points, slope, intercept)`` — slope/intercept
    NULL for degenerate groups (a single distinct x). One groupBy plus
    a window min on the same key: one exchange."""
    w = Window.partitionBy(group_col)
    based = df.withColumn(
        "_xs", F.col(x_col) - F.min(x_col).over(w)
    )
    stats = based.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("_xs").alias("_sx"),
        F.sum(y_col).alias("_sy"),
        F.sum(F.col("_xs") * F.col("_xs")).alias("_sxx"),
        F.sum(F.col("_xs") * F.col(y_col)).alias("_sxy"),
    )
    den = (
        F.col("n_points") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    )
    slope_num = (
        F.col("n_points") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    )
    icept_num = (
        F.col("_sy") * F.col("_sxx") - F.col("_sx") * F.col("_sxy")
    )
    return stats.select(
        group_col,
        "n_points",
        F.when(
            den != 0, F.round(slope_num.cast("double") / den, 6)
        ).alias("slope"),
        F.when(
            den != 0, F.round(icept_num.cast("double") / den, 6)
        ).alias("intercept"),
    )


def scd2_from_events(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
    id_cols: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """Slowly-changing-dimension type 2 from an event stream: collapse
    each per-user run of identical ``state_col`` values into one
    versioned validity interval — the gaps-and-islands → SCD2 idiom
    every warehouse needs for "what was the state at time t" joins
    (compose with asof_join_two_tables downstream).

    Output: ``(user_id, state, version, eff_start, eff_end, n_events)``
    with eff_end = next island's start (half-open chaining) and NULL on
    the current state. Consecutive NULL states merge into one island
    (null-safe change comparison; the first row is detected by row
    number, NOT by lag-is-null — a lag-based test would shatter every
    NULL-state run into per-event islands).

    Scale shape: change detection, island numbering, the per-island
    rollup, and validity chaining are all windows/groupBys on the same
    ``user_col`` hash partitioning — one exchange end to end."""
    w = Window.partitionBy(user_col).orderBy(ts_col, *id_cols)
    chg = F.when(
        (F.row_number().over(w) == 1)
        | ~F.col(state_col).eqNullSafe(F.lag(state_col).over(w)),
        1,
    ).otherwise(0)
    grp = events.select(
        user_col, ts_col, state_col, *id_cols
    ).withColumn(
        "_g",
        F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    island = grp.groupBy(user_col, state_col, "_g").agg(
        F.min(ts_col).alias("eff_start"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w_chain = Window.partitionBy(user_col).orderBy("eff_start", "_g")
    return island.select(
        F.col(user_col),
        F.col(state_col).alias("state"),
        F.col("_g").cast("bigint").alias("version"),
        "eff_start",
        F.lead("eff_start").over(w_chain).alias("eff_end"),
        "n_events",
    )


def basket_pair_support(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 3,
    max_basket_size: int = 100,
) -> DataFrame:
    """The pair-support core of :func:`basket_copurchase` without the
    lift/confidence enrichment: unordered ``(item_a, item_b, support)``
    with item_a < item_b, co-occurring in ≥ ``min_support`` baskets and
    the same mega-basket guard. This IS the co-occurrence edge list —
    graph consumers (:func:`operators.graph.triangle_stats`) take it
    directly and Catalyst never plans the three enrichment joins."""
    bi = df.select(
        F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
    ).distinct()
    sized = (
        bi.withColumn(
            "_bs", F.count(F.lit(1)).over(Window.partitionBy("basket"))
        )
        .filter(F.col("_bs") <= max_basket_size)
        .drop("_bs")
    )
    a = sized.alias("a")
    b = sized.alias("b")
    return (
        a.join(
            b,
            (F.col("a.basket") == F.col("b.basket"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_support)
    )


def basket_copurchase(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 3,
    max_basket_size: int = 100,
) -> DataFrame:
    """Market-basket pair mining (A-priori level 2): unordered item
    pairs co-occurring in ≥ ``min_support`` distinct baskets, with lift
    and both directed confidences.

    Output: ``(item_a, item_b, support, lift, conf_a_to_b, conf_b_to_a)``
    with item_a < item_b. Lift/confidence derive from integer counts in
    one IEEE division + 6-dp round — bit-identical cross-engine.

    Scale shape: the within-basket self-join emits C(b,2) pairs per
    basket, so one pathological mega-basket (a bot account, a default
    user id) can emit millions of rows. ``max_basket_size`` drops such
    baskets BEFORE the join — the standard co-occurrence guard (a
    100-item basket contributes ~5k pairs; a 100k-item one would
    contribute 5×10⁹). Everything else is hash-join + groupBy: the pair
    aggregation absorbs duplicates map-side, and the basket total rides
    a 1-row broadcast, never a driver collect."""
    bi = df.select(
        F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
    ).distinct()
    # Basket-size guard as a WINDOW count, not groupBy+semi-join: the
    # window leaves `sized` hash-partitioned on basket, which is exactly
    # the self-join key — Catalyst reuses the layout and the pair join
    # needs no further exchange.
    sized = (
        bi.withColumn(
            "_bs", F.count(F.lit(1)).over(Window.partitionBy("basket"))
        )
        .filter(F.col("_bs") <= max_basket_size)
        .drop("_bs")
        .persist()
    )
    ic = sized.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
    n_baskets = sized.agg(
        F.countDistinct("basket").alias("n_baskets")
    )
    a = sized.alias("a")
    b = sized.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.basket") == F.col("b.basket"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_support)
    )
    enriched = (
        pairs.join(ic.withColumnRenamed("item", "item_a")
                     .withColumnRenamed("c", "c_a"), "item_a")
        .join(ic.withColumnRenamed("item", "item_b")
                .withColumnRenamed("c", "c_b"), "item_b")
        .crossJoin(F.broadcast(n_baskets))
    )
    return enriched.select(
        "item_a",
        "item_b",
        "support",
        F.round(
            (F.col("support") * F.col("n_baskets")).cast("double")
            / (F.col("c_a") * F.col("c_b")),
            6,
        ).alias("lift"),
        F.round(F.col("support").cast("double") / F.col("c_a"), 6).alias(
            "conf_a_to_b"
        ),
        F.round(F.col("support").cast("double") / F.col("c_b"), 6).alias(
            "conf_b_to_a"
        ),
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bucket_micros: int,
) -> DataFrame:
    """Interval×interval OVERLAP join — every (left, right) pair whose
    half-open spans ``[ls, le) × [rs, re)`` intersect — via time-axis
    bucketization, the interval sibling of
    :func:`range_join_point_in_interval` (which handles point-in-span).

    Both sides explode to the buckets they touch, the join is a plain
    equi join on the bucket, and each qualifying pair is kept EXACTLY
    ONCE without a distinct pass: a pair that shares k buckets is
    counted only in the bucket containing ``greatest(ls, rs)`` — the
    overlap's first instant, which by construction lies in exactly one
    shared bucket (the "meet rule"; a distinct over all shared buckets
    would shuffle the full duplicated pair stream).

    Sizing follows the point variant: explode factor ≈ span/bucket + 1
    per row; set ``bucket_micros`` near the typical span so rows explode
    to ~2 buckets. All columns of both inputs are preserved; callers
    ensure distinct names. Integer epoch-microsecond comparisons — the
    engine's cross-engine time discipline."""
    ls = F.unix_micros(F.col(left_start).cast("timestamp"))
    le_ = F.unix_micros(F.col(left_end).cast("timestamp"))
    rs = F.unix_micros(F.col(right_start).cast("timestamp"))
    re_ = F.unix_micros(F.col(right_end).cast("timestamp"))

    def _explode(df, s, e, out):
        sb = F.floor(s / bucket_micros)
        eb = F.floor((e - 1) / bucket_micros)  # end exclusive
        return df.withColumn(
            out,
            F.explode(
                F.when(eb >= sb, F.sequence(sb, eb)).otherwise(
                    F.array().cast("array<bigint>")
                )
            ),
        )

    lb = _explode(left, ls, le_, "_lb")
    rb = _explode(right, rs, re_, "_rb")
    joined = lb.join(rb, F.col("_lb") == F.col("_rb"))
    return joined.filter(
        (ls < re_)
        & (rs < le_)
        # meet rule: keep the pair only in the bucket of the overlap start
        & (F.floor(F.greatest(ls, rs) / bucket_micros) == F.col("_lb"))
    ).drop("_lb", "_rb")


def contingency_cells(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Chi-square contingency analysis as a PER-CELL table: observed
    count, expected count under independence (row_total × col_total /
    grand_total), and the cell's chi-square contribution
    (observed − expected)² / expected.

    Emitting cells instead of the summed statistic is deliberate: the
    total is a float sum over cells whose addition order differs across
    engines/partitionings — per-cell values involve exactly one
    division chain from integer counts, so every row is bit-identical
    everywhere (round 6dp both sides). Consumers needing the statistic
    sum the column and own the tolerance.

    Scale shape: one groupBy on (row, col); marginals ride window sums
    over the cell grid (cardinality = |rows|×|cols|, tiny), never a
    second scan of the input."""
    cells = df.groupBy(
        F.col(row_col).alias("row_key"), F.col(col_col).alias("col_key")
    ).agg(F.count(F.lit(1)).alias("observed"))
    w_row = Window.partitionBy("row_key")
    w_col = Window.partitionBy("col_key")
    w_all = Window.partitionBy()
    with_margins = cells.select(
        "row_key",
        "col_key",
        "observed",
        F.sum("observed").over(w_row).alias("_rt"),
        F.sum("observed").over(w_col).alias("_ct"),
        F.sum("observed").over(w_all).alias("_n"),
    )
    expected = (F.col("_rt") * F.col("_ct")).cast("double") / F.col("_n")
    return with_margins.select(
        "row_key",
        "col_key",
        "observed",
        F.round(expected, 6).alias("expected"),
        F.round(
            (F.col("observed") - expected) * (F.col("observed") - expected)
            / expected,
            6,
        ).alias("chi2_contrib"),
    )


def range_join_point_in_interval(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_point: str,
    right_start: str,
    right_end: str,
    bucket_micros: int,
) -> DataFrame:
    """Range join — every (left, right) pair on the same ``key`` where
    ``right_start <= left_point < right_end`` — via BUCKETIZATION, the
    equi-join reduction Spark lacks natively (a naive theta join plans as
    a per-key cross product; Catalyst has no interval-join strategy, so
    at crawl scale the inner loop explodes on hot keys).

    Trick: points and intervals are mapped onto fixed ``bucket_micros``
    buckets of the epoch-microsecond axis. A point falls in EXACTLY ONE
    bucket; an interval explodes to every bucket it overlaps. The join is
    then a plain equi join on (key, bucket) plus the residual range
    predicate — and because the point's bucket is unique, each qualifying
    pair meets exactly once: NO distinct pass needed.

    Sizing: explode factor per right row ≈ interval_len / bucket_micros
    (+1); join selectivity within a bucket falls as buckets shrink. Set
    ``bucket_micros`` to the TYPICAL interval length — intervals then
    explode to ~2 buckets while unrelated points stay separated. All
    columns of both inputs are preserved; callers ensure distinct names.

    Timestamps are compared in integer epoch microseconds (DATE columns
    cast to midnight timestamps first), the same integer discipline as
    events_trailing_hour — float seconds would drift cross-engine."""
    lp = F.unix_micros(F.col(left_point).cast("timestamp"))
    rs = F.unix_micros(F.col(right_start).cast("timestamp"))
    re_ = F.unix_micros(F.col(right_end).cast("timestamp"))
    lb = left.withColumn("_pb", F.floor(lp / bucket_micros))
    rb = right.withColumn("_sb", F.floor(rs / bucket_micros)).withColumn(
        # end is EXCLUSIVE: an interval ending exactly on a bucket
        # boundary does not reach into that bucket
        "_eb",
        F.floor((re_ - 1) / bucket_micros),
    )
    rb = rb.withColumn(
        "_b",
        F.explode(
            # guard: empty/negative intervals get no buckets (Spark's
            # sequence(a, b) runs DESCENDING when b < a — without the
            # guard an empty interval would fabricate buckets)
            F.when(
                F.col("_eb") >= F.col("_sb"),
                F.sequence(F.col("_sb"), F.col("_eb")),
            ).otherwise(F.array().cast("array<bigint>"))
        ),
    ).drop("_sb", "_eb")
    joined = lb.join(
        rb,
        (lb[key] == rb[key]) & (F.col("_pb") == F.col("_b")),
    ).drop(rb[key]).drop("_pb", "_b")
    return joined.filter(
        (F.unix_micros(F.col(right_start).cast("timestamp"))
         <= F.unix_micros(F.col(left_point).cast("timestamp")))
        & (F.unix_micros(F.col(left_point).cast("timestamp"))
           < F.unix_micros(F.col(right_end).cast("timestamp")))
    )


def daily_count_anomalies(
    events: DataFrame,
    ts_col: str = "ts",
    z_threshold: float = 3.5,
) -> DataFrame:
    """Pipeline-health anomaly detection on daily ingest volume — the
    data-quality monitor every production feed runs: each day's event
    count is compared against its WEEKDAY cohort (volume is weekly-
    seasonal, so Monday compares to Mondays) with the robust modified
    z-score (Iglewicz & Hoaglin 1993: 0.6745·|x − median| / MAD — the
    0.6745 factor normalizes MAD to the stddev of a normal, so the 3.5
    default threshold is the cited rule's cutoff in its own units;
    means/stddevs would let one outage day poison its own baseline).

    Determinism discipline: the weekday index is pure integer
    arithmetic (days-since-epoch mod 7 — locale/engine-independent,
    unlike dayofweek functions that disagree on week start), and
    median/MAD over integer counts produce exactly-representable
    halves; the z-score evaluates ``0.6745 * abs_dev / mad`` with the
    identical association in the DuckDB oracle, so the same IEEE ops
    value-match bit-for-bit. Degenerate
    cohorts (MAD = 0: all counts equal) report z = 0 and never flag —
    a constant feed is not anomalous.

    Scale shape: one groupBy day (map-side partials at scan
    parallelism) collapses the corpus to a CALENDAR-sized table;
    everything after — the weekday-cohort median window, the MAD
    window, the flag — runs over #days rows. At 100 TB the cost is the
    scan, exactly where it should be."""
    daily = (
        events.filter(F.col(ts_col).isNotNull())
        .groupBy(F.to_date(F.col(ts_col)).alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return score_daily_counts(daily, z_threshold=z_threshold)


def score_daily_counts(daily: DataFrame, z_threshold: float = 3.5) -> DataFrame:
    """Scoring half of :func:`daily_count_anomalies`, split out so the
    streaming path (streaming/counts.streaming_daily_volume — the same
    per-day counts accumulated incrementally) drains into the identical
    weekday-cohort median/MAD modified-z stages and hash-matches the
    batch oracle. Input: ``(day DATE, n_events BIGINT)``."""
    daily = daily.withColumn(
        "wd",
        (
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")) % 7
        ).cast("int"),
    )
    w = Window.partitionBy("wd")
    med = F.percentile(F.col("n_events"), F.lit(0.5)).over(w)
    scored = daily.withColumn("med", med).withColumn(
        "abs_dev", F.abs(F.col("n_events") - F.col("med"))
    )
    mad = F.percentile(F.col("abs_dev"), F.lit(0.5)).over(w)
    flagged = scored.withColumn("mad", mad).withColumn(
        "z",
        F.when(
            F.col("mad") > 0,
            F.round(F.lit(0.6745) * F.col("abs_dev") / F.col("mad"), 6),
        ).otherwise(F.lit(0.0)),
    )
    return flagged.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        "wd",
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        "z",
        (F.col("z") > z_threshold).alias("is_anomaly"),
    )


def session_paths(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    gap_minutes: float = 30.0,
    max_steps: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Top-k session paths — the product-analytics path-mining query
    (the data behind every Sankey/flow diagram): sessionize, take each
    session's first ``max_steps`` event types in time order, join them
    into a '>'-delimited path string, and rank paths by session count.
    Output: ``(path, n_sessions, n_users, rank)``, rank ≤ ``top_k``.

    Deterministic: within-session order ties break on event_id, path
    ties in the ranking break lexicographically — the DuckDB oracle
    re-runs the whole pipeline (sessionize CTE, step windows,
    string_agg) and value-matches.

    Scale shape: sessionize + step numbering share ONE hash exchange on
    the user (same-partitioning windows), the path rollup is a second
    exchange on (user, session), the count a third on the path string —
    all with map-side partials; the final rank window sees only the
    DISTINCT-path table (bounded by event-type^max_steps, not corpus
    size)."""
    s = sessionize(events, user_col, ts_col, gap_minutes)
    w_sess = Window.partitionBy(user_col, "session_seq").orderBy(
        ts_col, "event_id"
    )
    stepped = s.withColumn("step", F.row_number().over(w_sess)).filter(
        F.col("step") <= max_steps
    )
    paths = stepped.groupBy(user_col, "session_seq").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("step", type_col))),
                lambda x: x[type_col],
            ),
            ">",
        ).alias("path")
    )
    counts = paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.countDistinct(user_col).alias("n_users"),
    )
    w_rank = Window.orderBy(F.col("n_sessions").desc(), F.col("path"))
    return (
        counts.withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rank") <= top_k)
        .select("path", "n_sessions", "n_users", "rank")
    )


def attribution_credits(
    events: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("view", "click"),
    lookback_hours: int = 24,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Marketing attribution over an event stream: every conversion's
    value is credited to the user's touches (``touch_types``) in the
    preceding ``lookback_hours`` under the three standard rules —
    'linear' (value split across touches in proportion to each type's
    count), 'first' and 'last' (full value to the first/last touch's
    type); conversions with no in-window touch emit one
    'unattributed' row, so every scheme's credits sum to total
    conversion value (conservation — unit-pinned).

    Output: one row per (conversion, scheme, touch_type) —
    ``(conv_id, scheme, touch_type, n_touches, credit)``. Per-cell rows
    instead of corpus-wide credit sums keep every float a ONE-STEP
    product of input values, so the DuckDB oracle value-matches (the
    lang_source_contingency discipline: no cross-engine float SUM).

    Scale shape: the touch-conversion pairing is the bucketized
    point-in-interval equi-join reduction (range_join_point_in_interval
    — never a per-user cross product); the credit rules are two
    grouped aggregates and one rank window over the PAIRS table, whose
    size is bounded by touches-per-lookback x conversions, the
    quantity attribution inherently needs."""
    lookback_us = int(lookback_hours) * 3_600 * 1_000_000
    conv = events.filter(F.col(type_col) == conversion_type).select(
        F.col(user_col),
        F.col(id_col).alias("conv_id"),
        F.col(ts_col).alias("conv_ts"),
        F.col(value_col).alias("value"),
    ).withColumn(
        "win_start",
        F.timestamp_micros(F.unix_micros(F.col("conv_ts")) - lookback_us),
    )
    touches = events.filter(F.col(type_col).isin(*touch_types)).select(
        F.col(user_col),
        F.col(id_col).alias("touch_id"),
        F.col(ts_col).alias("touch_ts"),
        F.col(type_col).alias("touch_type"),
    )
    pairs = range_join_point_in_interval(
        touches,
        conv,
        key=user_col,
        left_point="touch_ts",
        right_start="win_start",
        right_end="conv_ts",
        bucket_micros=lookback_us,
    ).select("conv_id", "value", "touch_id", "touch_ts", "touch_type")

    totals = pairs.groupBy("conv_id", "value").agg(
        F.count(F.lit(1)).alias("n_total")
    )
    linear = (
        pairs.groupBy("conv_id", "value", "touch_type")
        .agg(F.count(F.lit(1)).alias("n_type"))
        .join(totals.drop("value"), "conv_id")
        .select(
            "conv_id",
            F.lit("linear").alias("scheme"),
            "touch_type",
            F.col("n_type").alias("n_touches"),
            F.round(
                F.col("value") * F.col("n_type") / F.col("n_total"), 6
            ).alias("credit"),
        )
    )
    w_first = Window.partitionBy("conv_id").orderBy("touch_ts", "touch_id")
    w_last = Window.partitionBy("conv_id").orderBy(
        F.col("touch_ts").desc(), F.col("touch_id").desc()
    )
    ranked = pairs.withColumn("rn_f", F.row_number().over(w_first)).withColumn(
        "rn_l", F.row_number().over(w_last)
    )
    ends = []
    for scheme, rn in (("first", "rn_f"), ("last", "rn_l")):
        ends.append(
            ranked.filter(F.col(rn) == 1)
            .join(totals.drop("value"), "conv_id")
            .select(
                "conv_id",
                F.lit(scheme).alias("scheme"),
                "touch_type",
                F.col("n_total").alias("n_touches"),
                F.round("value", 6).alias("credit"),
            )
        )
    unattributed = (
        conv.join(pairs.select("conv_id").distinct(), "conv_id", "left_anti")
        .select(
            "conv_id",
            F.lit("unattributed").alias("scheme"),
            F.lit("none").alias("touch_type"),
            F.lit(0).cast("bigint").alias("n_touches"),
            F.round("value", 6).alias("credit"),
        )
    )
    out = linear
    for df in ends + [unattributed]:
        out = out.unionByName(df)
    return out


def latest_state(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    op_col: str,
    delete_ops: tuple[str, ...] = (),
) -> DataFrame:
    """Changelog → snapshot compaction: the LAST row per key under
    ``order_cols`` (descending, e.g. [ts, seq]), with keys whose last
    operation is a delete dropped entirely. One shuffle on the key; the
    window's rank-1 filter is a map-side WindowGroupLimit in Spark 3.5+
    so only one row per key survives the exchange."""
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.desc(c) for c in order_cols]
    )
    latest = (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if delete_ops:
        latest = latest.filter(~F.col(op_col).isin(*delete_ops))
    return latest


def apply_changelog(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    op_col: str,
    delete_ops: tuple[str, ...] = (),
) -> DataFrame:
    """CDC MERGE (the Hudi/Delta copy-on-write compaction shape): apply
    an insert/update/delete changelog onto a base snapshot. Per key, the
    LAST change wins: a delete removes the key, anything else upserts
    the change row; untouched base rows pass through.

    Semantics invariant (the oracle):
        apply_changelog(snapshot(t0), changelog(t0..t1)) == snapshot(t1)
    for ANY cutoff t0 — snapshot built by :func:`latest_state` over the
    full log. The registry query exercises exactly this equality.

    Scale shape: the changelog compacts to one row per changed key (one
    window shuffle over the CHANGELOG, not the base); the base is then
    touched by a single anti-join on the changed-key set — typically a
    broadcast, since a CDC batch is orders of magnitude smaller than the
    table — plus a union. No base shuffle at all when the anti-join
    broadcasts, which is the property that makes incremental merges
    cheap at 100 TB."""
    latest = latest_state(changes, key_cols, order_cols, op_col)
    changed_keys = latest.select(*key_cols).distinct()
    kept_base = base.join(changed_keys, key_cols, "left_anti")
    upserts = latest.filter(
        ~F.col(op_col).isin(*delete_ops) if delete_ops else F.lit(True)
    ).select(*base.columns)
    return kept_base.unionByName(upserts)
