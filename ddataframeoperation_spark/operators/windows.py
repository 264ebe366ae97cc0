"""Window functions and event-time idioms.

SURVEY.md §2 B17–B20 and B35. The reference's only seed here is the
"latest completed run" positional pick (``bcd$DataLocation[dtlocationlength]``,
``R/DataFrameOperationR.R:136-140``) — generalized to the deterministic
``row_number() == 1`` top-1-per-group idiom.

Scale posture: all windows below are PARTITION BY'd on a key (user,
customer) — one shuffle on the partition key, then per-partition sort; no
global-ordering windows (an un-partitioned window is a single-task
bottleneck at any scale and never appears here). Skewed partition keys are
AQE's problem for joins but NOT for windows — if a key is pathologically
hot, pre-aggregate or salt upstream.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "epoch_seconds",
    "ranked",
    "with_lag_lead",
    "running_agg",
    "latest_per_key",
    "top_n_per_group",
    "sessionize",
    "scd2_history",
    "funnel_counts",
    "retention_cohorts",
    "transition_counts",
    "debounce",
    "next_event_examples",
    "last_touch_attribution",
    "linear_attribution",
    "activity_streaks",
    "top_paths",
    "period_over_period",
    "time_to_convert",
    "churn_cohorts",
    "rank_movers",
]


def _w(partition_by: Sequence[str], order_by: Sequence[Column | str]):
    return Window.partitionBy(*partition_by).orderBy(*order_by)


def epoch_seconds(c: Column) -> Column:
    """Event-time column → epoch seconds (double). Hops through TIMESTAMP
    because TIMESTAMP_NTZ has no direct numeric cast (a no-op for LTZ
    inputs); any session-tz shift cancels wherever two epochs are
    subtracted. Shared by sessionize and the as-of join."""
    return c.cast("timestamp").cast("double")


def ranked(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """B17 — the ranking family side by side (row_number/rank/dense_rank)."""
    w = _w(partition_by, order_by)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .withColumn("rnk", F.rank().over(w))
        .withColumn("dense_rnk", F.dense_rank().over(w))
    )


def with_lag_lead(
    df: DataFrame,
    col: str,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    offset: int = 1,
) -> DataFrame:
    """B18 — lag/lead analytics (reference A10 family: neighbors in an
    ordered-by-completion sequence)."""
    w = _w(partition_by, order_by)
    return df.withColumn(f"{col}_lag", F.lag(col, offset).over(w)).withColumn(
        f"{col}_lead", F.lead(col, offset).over(w)
    )


def running_agg(
    df: DataFrame,
    agg_col: str,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    frame_rows: tuple[int, int] = (Window.unboundedPreceding, Window.currentRow),
    name: str = "running_sum",
    agg=F.sum,
) -> DataFrame:
    """B19 — framed window aggregate (running sum / moving average via
    ``agg=F.avg`` + a bounded frame). ROWS frames need a total order inside
    the partition — callers must pass a tiebreaking order_by for
    determinism."""
    w = _w(partition_by, order_by).rowsBetween(*frame_rows)
    return df.withColumn(name, agg(agg_col).over(w))


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """B20 — top-1-per-group: the Spark form of the reference's
    latest-completed-output resolution (``R/DataFrameOperationR.R:136-140``,
    last element of the filtered status list). Deterministic when order_by
    ends with a unique tiebreaker."""
    return top_n_per_group(df, keys, order_by, 1).drop("rn")


def top_n_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    n: int,
) -> DataFrame:
    """B17/B20 — keep the first n rows per key under the given order.
    One shuffle on keys; filter happens before any downstream join, so the
    reduced cardinality propagates."""
    w = _w(keys, order_by)
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= n)


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_minutes: float,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """B35 — gap-based sessionization (batch form): a new session starts
    when the gap to the previous event of the same user exceeds
    ``gap_minutes``. Classic two-window formulation: lag → boundary flag →
    running sum of flags = session id. Both windows share one partitioning
    (user) and one sort (ts) — a single shuffle+sort serves both.

    Streaming twin: streaming.windows.session_window_agg (F.session_window).
    """
    order = [F.col(ts_col), *[F.col(c) for c in tiebreak]]
    w = Window.partitionBy(user_col).orderBy(*order)
    gap_sec = gap_minutes * 60.0
    prev_ts = F.lag(ts_col).over(w)
    is_new = F.when(
        prev_ts.isNull()
        | ((epoch_seconds(F.col(ts_col)) - epoch_seconds(prev_ts)) > gap_sec),
        F.lit(1),
    ).otherwise(F.lit(0))
    return df.withColumn("session_seq", F.sum(is_new).over(w)).withColumn(
        "session_id",
        F.concat_ws("-", F.col(user_col).cast("string"), F.col("session_seq").cast("string")),
    )


def scd2_history(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    attr_cols: Sequence[str],
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Slowly-changing-dimension Type-2 build from a change log: collapse
    consecutive rows whose ``attr_cols`` did not change, and emit one
    validity interval per surviving change — (keys, attrs, valid_from,
    valid_to, is_current), where valid_to is the NEXT change's timestamp
    and NULL for the open current row. The standard dimension-history
    shape (warehouse SCD2 / temporal table), derivable purely from two
    windows:

        1. change detection: keep rows where any attr IS DISTINCT FROM
           its lag (null-safe — a NULL→value transition IS a change);
        2. interval close: valid_to = lead(valid_from) over the SAME
           key partitioning.

    Both windows share one (key, ts) shuffle+sort — Catalyst reuses the
    exchange, so the whole history build is a single shuffle at any
    scale. Late-arriving changes are a re-run, not a merge (the operator
    is deterministic over its input snapshot).
    """
    order = [F.col(ts_col), *[F.col(c) for c in tiebreak]]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    cur = F.struct(*[F.col(c) for c in attr_cols])
    prev = F.lag(cur).over(w)
    changed = df.withColumn(
        "_chg", prev.isNull() | ~cur.eqNullSafe(prev)
    ).filter(F.col("_chg"))
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    return changed.select(
        *key_cols,
        *attr_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def funnel_counts(
    df: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    max_gap_seconds: float | None = None,
) -> DataFrame:
    """B35 adjunct — ordered conversion funnel: how many users performed
    step 1, then step 2 STRICTLY AFTER their first step 1, then step 3
    after that, ... (the product-analytics staple; strict event-time
    ordering, each stage anchored at the user's EARLIEST qualifying time,
    which is the standard first-touch attribution rule).

    Plan: one filtered min-aggregate per step, chained by an equi-join on
    the user key — every shuffle is on ``user_col``, so AQE reuses one
    exchange layout; per-step frames shrink monotonically (stage k+1 joins
    only stage-k converters). No window, no explode; at 100 TB this is
    k small hash-aggregates over one scan each (or one multi-min scan if
    the event table is pre-filtered to the step types).

    ``max_gap_seconds`` bounds each conversion: stage k counts only
    users whose earliest qualifying stage-k event falls within the gap
    of their stage-(k-1) anchor — the "converted within 7 days" form
    every product funnel actually reports. The bound is applied to the
    CANDIDATE events before the min, so an event past the window never
    becomes an anchor (and a later within-window event can't be hidden
    by it). Gap arithmetic is exact integer microseconds.

    Returns (step, step_name, n_users) with step 1..len(steps), n_users
    non-increasing.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    if max_gap_seconds is not None and max_gap_seconds <= 0:
        raise ValueError("max_gap_seconds must be > 0")
    gap_us = (
        None if max_gap_seconds is None else int(round(max_gap_seconds * 1e6))
    )
    prev: DataFrame | None = None
    for i, s in enumerate(steps):
        ev = df.filter(F.col(type_col) == s)
        if prev is None:
            cur = ev.groupBy(user_col).agg(F.min(ts_col).alias(f"_t{i}"))
        else:
            cond = F.col(ts_col) > F.col(f"_t{i-1}")
            if gap_us is not None:
                cond = cond & (
                    F.unix_micros(F.col(ts_col))
                    - F.unix_micros(F.col(f"_t{i-1}"))
                    <= gap_us
                )
            cur = (
                ev.join(prev, on=user_col)
                .filter(cond)
                .groupBy(user_col)
                .agg(F.min(ts_col).alias(f"_t{i}"))
            )
        prev = cur
        counts = prev.agg(F.count("*").cast("long").alias("n_users")).select(
            F.lit(i + 1).alias("step"),
            F.lit(s).alias("step_name"),
            "n_users",
        )
        if i == 0:
            out = counts
        else:
            out = out.unionByName(counts)
    return out


def retention_cohorts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    granularity: str = "week",
) -> DataFrame:
    """B35 adjunct — retention-cohort triangle: users bucketed by the
    period of their FIRST activity (the cohort), counted in each
    subsequent period they return. The canonical growth-analytics rollup
    (cohort × period_offset → distinct actives).

    Plan: per-user first-activity aggregate (one shuffle on the user key)
    joined back onto the event stream — the cohort side is one row per
    user, so at 100 TB it is the standard big-big equi-join on a
    well-distributed key; then one count-distinct aggregate over
    (cohort, offset), whose key space is tiny (periods²/2).

    Returns (cohort, period_offset, n_users). The offset length is
    DERIVED from ``granularity`` (week=7d, day=1d) so cohort labels and
    period offsets can never drift apart; calendar-month cohorts need
    months_between semantics — out of scope here, pass week/day.
    """
    period_days = {"week": 7, "day": 1}.get(granularity)
    if period_days is None:
        raise ValueError("granularity must be 'week' or 'day'")
    # NULL-ts events have no period: they would compute a NULL offset
    # and accrete into phantom (cohort, NULL) triangle rows — and a
    # user whose events are ALL untimed would form a NULL cohort. Drop
    # them; a user with no timed activity has no cohort by definition.
    df = df.filter(F.col(ts_col).isNotNull())
    first = df.groupBy(user_col).agg(F.min(ts_col).alias("_first_ts"))
    joined = df.select(user_col, ts_col).join(first, on=user_col)
    # DATE-typed cohort key: engines disagree on whether date_trunc of a
    # timestamp stays a timestamp; a calendar bucket is a date anyway.
    cohort = F.to_date(F.date_trunc(granularity, F.col("_first_ts")))
    offset = (
        F.floor(
            F.datediff(F.to_date(ts_col), F.to_date("_first_ts"))
            / F.lit(int(period_days))
        )
        .cast("int")
        .alias("period_offset")
    )
    return (
        joined.select(cohort.alias("cohort"), offset, F.col(user_col))
        .groupBy("cohort", "period_offset")
        .agg(F.countDistinct(user_col).cast("long").alias("n_users"))
    )


def transition_counts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """B18 applied — first-order Markov transition counts: for each user's
    time-ordered event sequence, count (state -> next state) pairs across
    the whole log, plus terminal transitions to NULL (sequence end). The
    input to journey analysis / next-event models.

    One lead() window per user (single shuffle+sort on the user key) and
    a tiny (|types|²) count aggregate. Deterministic when ``tiebreak``
    makes the per-user order total.

    Returns (from_type, to_type, n) with to_type NULL for sequence ends.
    """
    # Drop unlabeled and untimed events up front. A NULL type_col event
    # mid-sequence would make its PREDECESSOR emit to_type NULL — the
    # exact encoding this operator reserves for "sequence end", so
    # terminal counts would silently inflate (and the (NULL, x) rows it
    # emits are transitions from a state that does not exist). A NULL
    # ts event sorts BEFORE all time (Spark asc = NULLS FIRST) and
    # would fabricate the sequence's first transition from an event
    # with no position on the time line.
    df = df.filter(F.col(type_col).isNotNull() & F.col(ts_col).isNotNull())
    order = [F.col(ts_col), *[F.col(c) for c in tiebreak]]
    w = Window.partitionBy(user_col).orderBy(*order)
    nxt = df.withColumn("_next", F.lead(type_col).over(w))
    return (
        nxt.groupBy(
            F.col(type_col).alias("from_type"), F.col("_next").alias("to_type")
        )
        .agg(F.count("*").cast("long").alias("n"))
    )


def debounce(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    min_gap_seconds: float = 5.0,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Telemetry de-noising: drop events that follow the IMMEDIATELY
    preceding event of the same key by less than ``min_gap_seconds`` —
    the standard duplicate-click / sensor-chatter filter. (Throttling
    relative to the previously KEPT event is a sequential fold — use the
    streaming path or an ewma-style array fold when that exact semantics
    is needed; this lag-based form is the stateless approximation every
    batch pipeline uses.)

    One lag() window per key — single shuffle+sort, then a row-local
    filter; composes with :func:`sessionize` (same partitioning, Catalyst
    reuses the exchange when chained).
    """
    order = [F.col(ts_col), *[F.col(c) for c in tiebreak]]
    w = Window.partitionBy(user_col).orderBy(*order)
    prev_ts = F.lag(ts_col).over(w)
    gap = epoch_seconds(F.col(ts_col)) - epoch_seconds(prev_ts)
    return (
        df.withColumn("_gap", gap)
        .filter(F.col("_gap").isNull() | (F.col("_gap") >= min_gap_seconds))
        .drop("_gap")
    )


def next_event_examples(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    label_col: str = "event_type",
    context: int = 3,
    tiebreak: Sequence[str] = (),
    sep: str = " ",
    context_col: str = "context",
    target_col: str = "target",
) -> DataFrame:
    """Sequence-model training-pair builder: for every event, emit the
    labels of (up to) the ``context`` immediately preceding events of the
    same key as the model input, and the event's own label as the target —
    the (context, next-token) example shape behind next-event-prediction /
    session-recommendation fine-tunes.

    The context is ``sep``-joined into ONE string column rather than an
    array: training exports serialize it anyway, and a scalar column keeps
    the result exactly hashable by engine-independent oracles.

    Rows with no predecessor (each key's first event) are dropped — there
    is no input to condition on; with fewer than ``context`` predecessors
    the shorter prefix is kept (the warm-up examples a trainer pads).

    Plan: one PARTITION BY key window (shuffle on the key, per-partition
    sort by (ts, *tiebreak) — pass a unique tiebreaker for a total order),
    ``collect_list`` over a bounded ROWS frame (≤ ``context`` elements of
    state per row — never whole-partition buffering), then a row-local
    join+filter. No second shuffle; composes with sessionize/debounce on
    the same exchange.
    """
    if context < 1:
        raise ValueError("context must be >= 1")
    # Same drop-unlabeled/untimed contract as top_paths /
    # transition_counts: a NULL label would be silently SKIPPED by
    # collect_list, shortening the context while still occupying a
    # frame slot (a malformed training example), and a NULL ts sorts
    # before all time, fabricating every affected key's context prefix
    # from an event with no sequence position.
    df = df.filter(F.col(label_col).isNotNull() & F.col(ts_col).isNotNull())
    order = [F.col(ts_col), *[F.col(c) for c in tiebreak]]
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(-context, -1)
    )
    ctx = F.collect_list(label_col).over(w)
    return (
        df.withColumn("_ctx", ctx)
        .filter(F.size("_ctx") >= 1)
        .withColumn(context_col, F.array_join("_ctx", sep))
        .withColumn(target_col, F.col(label_col))
        .drop("_ctx")
    )


def last_touch_attribution(
    df: DataFrame,
    conversion_type: str = "purchase",
    touch_types: Sequence[str] = ("click", "view"),
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str | None = "value",
    max_gap_seconds: float = 86400.0,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """B35 — last-touch conversion attribution: every conversion event is
    credited to the user's most recent preceding touch event (click,
    view, ...) within the attribution window, or to ``'none'`` if no
    touch qualifies — the standard marketing-analytics report.

    Plan: ONE key-partitioned window. Touch rows project their (ts,
    type) into nullable columns; ``last(..., ignorenulls=True)`` over
    rows-unbounded-preceding-to-1-preceding carries the latest touch
    forward (conversion rows never see themselves or later events);
    a row-local gap test (exact integer microseconds) decides in-window
    vs 'none'; one map-side-combined aggregate emits the report. No
    self-join, no explode — the event table shuffles once on the user
    key, which sessionize/funnel reuse.

    Returns (touch_type, n_conversions, attributed_value) — value summed
    over DECIMAL(20,4)-quantized inputs so the total is engine-exact
    (the §20 numerics rule); NULL values count as 0.
    """
    if max_gap_seconds <= 0:
        raise ValueError("max_gap_seconds must be > 0")
    from pyspark.sql import Window

    gap_us = int(round(max_gap_seconds * 1e6))
    is_touch = F.col(type_col).isin(*touch_types)
    order = [F.col(ts_col), *[F.col(c) for c in tiebreak]]
    w = (
        Window.partitionBy(user_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch_ts = F.last(
        F.when(is_touch, F.col(ts_col)), ignorenulls=True
    ).over(w)
    touch_ty = F.last(
        F.when(is_touch, F.col(type_col)), ignorenulls=True
    ).over(w)
    conv = (
        df.withColumn("_tts", touch_ts)
        .withColumn("_tty", touch_ty)
        .filter(F.col(type_col) == conversion_type)
    )
    in_window = F.col("_tts").isNotNull() & (
        F.unix_micros(F.col(ts_col)) - F.unix_micros(F.col("_tts")) <= gap_us
    )
    credited = conv.withColumn(
        "touch_type", F.when(in_window, F.col("_tty")).otherwise(F.lit("none"))
    )
    val = (
        F.lit(0).cast("decimal(20,4)")
        if value_col is None
        else F.coalesce(
            F.col(value_col).cast("decimal(20,4)"),
            F.lit(0).cast("decimal(20,4)"),
        )
    )
    return credited.groupBy("touch_type").agg(
        F.count("*").cast("long").alias("n_conversions"),
        F.round(F.sum(val).cast("double"), 4).alias("attributed_value"),
    )


def activity_streaks(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    top_per_key: int = 1,
) -> DataFrame:
    """B18 — consecutive-day activity streaks (gaps-and-islands): per
    key, maximal runs of consecutive calendar days with ≥1 event, ranked
    longest-first — the engagement-streak metric, and the canonical
    islands idiom (``day - row_number()`` is constant within an island).

    Plan: events reduce to the DISTINCT (key, day) grid first (the same
    first move as rolling_distinct — one aggregate, the only pass over
    raw events), then ONE key-partitioned window assigns row numbers,
    a row-local date_sub derives the island anchor, and a (key, anchor)
    aggregate + per-key ranking window emit the streaks. Everything
    after the grid shuffles (key, date) pairs on the key; both windows
    and the aggregate share that one exchange. NULL keys/timestamps are
    dropped.

    Returns (key, streak_start, streak_days, streak_rank), the
    ``top_per_key`` longest streaks per key (ties: earlier start wins).
    """
    if top_per_key < 1:
        raise ValueError("top_per_key must be >= 1")
    per = (
        df.select(
            F.col(key_col).alias("_k"), F.to_date(F.col(ts_col)).alias("_d")
        )
        .filter(F.col("_k").isNotNull() & F.col("_d").isNotNull())
        .distinct()
    )
    w = Window.partitionBy("_k").orderBy("_d")
    anchored = per.withColumn(
        "_anchor", F.date_sub(F.col("_d"), F.row_number().over(w))
    )
    streaks = anchored.groupBy("_k", "_anchor").agg(
        F.min("_d").alias("streak_start"),
        F.count("*").cast("long").alias("streak_days"),
    )
    r = Window.partitionBy("_k").orderBy(
        F.desc("streak_days"), F.asc("streak_start")
    )
    return (
        streaks.withColumn("streak_rank", F.row_number().over(r))
        .filter(F.col("streak_rank") <= top_per_key)
        .select(
            F.col("_k").alias(key_col),
            "streak_start",
            "streak_days",
            "streak_rank",
        )
    )


def top_paths(
    df: DataFrame,
    path_len: int = 3,
    top_n: int = 20,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak: Sequence[str] = (),
    sep: str = " > ",
) -> DataFrame:
    """B35 — most frequent length-k event paths: every window of
    ``path_len`` consecutive events in a user's time-ordered sequence
    counts one occurrence of its label path — the journey-mining report
    one order above :func:`transition_counts`' first-order pairs.

    Plan: ``path_len - 1`` ``lead()`` expressions over ONE user-key
    window (a single shuffle+sort — the same exchange transitions /
    sessionize use; lead holds O(path_len) state per row, never the
    partition), a row-local concat, one map-side-combined count, and a
    TakeOrderedAndProject top-k. Windows shorter than ``path_len``
    (sequence tails) emit nothing.

    NULL contract (ADVICE r7): rows with a NULL ``type_col`` are
    dropped UP FRONT — a NULL label is an unlabeled event, not a path
    step. Without the filter, ``concat_ws`` silently skips NULLs, so a
    NULL mid-sequence would emit a shortened, malformed path counted
    under the wrong key (and diverge from the NULL-propagating
    ``e1 || sep || e2`` SQL form). The sibling operators
    (:func:`transition_counts`, :func:`sessionize`) state the same
    drop-unlabeled contract.

    Returns (path, n) — count-desc, path-asc tiebreak.
    """
    if path_len < 2:
        raise ValueError("path_len must be >= 2")
    if top_n < 1:
        raise ValueError("top_n must be >= 1")
    # NULL ts dropped too: an untimed event sorts BEFORE all time
    # (Spark asc = NULLS FIRST) and would fabricate every affected
    # user's path PREFIX out of an event with no sequence position.
    df = df.filter(F.col(type_col).isNotNull() & F.col(ts_col).isNotNull())
    order = [F.col(ts_col), *[F.col(c) for c in tiebreak]]
    w = Window.partitionBy(user_col).orderBy(*order)
    steps = [F.col(type_col)] + [
        F.lead(type_col, i).over(w) for i in range(1, path_len)
    ]
    # Window expressions must materialize before the filter can see them.
    paths = (
        df.withColumn("_last", steps[-1])
        .withColumn("_path", F.concat_ws(sep, *steps[:-1], F.col("_last")))
        .filter(F.col("_last").isNotNull())
    )
    return (
        paths.groupBy(F.col("_path").alias("path"))
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(int(top_n))
    )


def period_over_period(
    df: DataFrame,
    group_cols: Sequence[str],
    period: Column,
    value_cents: Column,
) -> DataFrame:
    """B17/B24 — period-over-period growth per group, exact to the basis
    point: aggregate ``value_cents`` (an exact integer fixed-point
    expression, e.g. ``floor(x*100+0.5)`` cents) per (group, period),
    then growth vs the previous period as INTEGER basis points:

        growth_bp = (cur - prev) * 10000 div prev

    Integer end-to-end (the §22/§25 no-float rung): sums accumulate in
    decimal so map-side partials can't wrap, land in long (bound: per
    period-group totals under 9.2e16 cents — $9.2e14 — far above any real
    period revenue), and the division is truncating integer `div`, which
    Spark and DuckDB agree on. The first period of each group has NULL
    prev/growth. One shuffle for the aggregate, one lag() over the
    (group)-partitioned period order — periods per group are
    calendar-bounded, never corpus-bounded.
    """
    per = df.groupBy(*group_cols, period.alias("period")).agg(
        F.sum(value_cents.cast("decimal(20,0)"))
        .cast("long")
        .alias("value_cents")
    )
    w = Window.partitionBy(*group_cols).orderBy("period")
    lagged = per.withColumn("prev_cents", F.lag("value_cents").over(w))
    growth = F.when(
        F.col("prev_cents").isNotNull() & (F.col("prev_cents") != 0),
        F.expr("((value_cents - prev_cents) * 10000) div prev_cents"),
    )
    return lagged.select(
        *group_cols,
        "period",
        "value_cents",
        "prev_cents",
        growth.alias("growth_bp"),
    )


def time_to_convert(
    df: DataFrame,
    from_type: str,
    to_type: str,
    bucket_minutes: int = 60,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """B35 — conversion-latency histogram: for each user, the time from
    their FIRST ``from_type`` event to the first ``to_type`` event at or
    after it, bucketed into ``bucket_minutes`` bins — the "how long does
    click→purchase take" distribution one level above funnel_counts'
    yes/no. Returns (latency_bucket, n_users): bucket b covers
    [b*bucket, (b+1)*bucket) minutes; bucket -1 counts users who started
    but never converted (NULL-safe explicit, not a dropped row — funnel
    leakage IS the signal). A conversion at the exact same timestamp
    counts (>=, zero latency).

    Exact integers end-to-end: latency in integer microseconds
    (``unix_micros``, never second-truncating unix_timestamp), truncating
    integer `div` to the bucket. Plan: the first-start is a user-window
    min (one shuffle on user), the conversion min and the bucket count
    stay co-partitioned, so the whole histogram is one user shuffle plus
    a bucket-sized aggregate.
    """
    if bucket_minutes < 1:
        raise ValueError("bucket_minutes must be >= 1")
    w = Window.partitionBy(user_col)
    t0 = F.min(
        F.when(F.col(type_col) == from_type, F.col(ts_col))
    ).over(w)
    e = df.withColumn("_t0", t0).filter(F.col("_t0").isNotNull())
    starters = e.select(user_col, "_t0").distinct()
    conv = (
        e.filter(
            (F.col(type_col) == to_type) & (F.col(ts_col) >= F.col("_t0"))
        )
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t1"))
    )
    j = starters.join(conv, user_col, "left")
    bucket_us = int(bucket_minutes) * 60_000_000
    lat = F.unix_micros(F.col("_t1")) - F.unix_micros(F.col("_t0"))
    # Truncating div of the NONNEGATIVE latency (t1 >= t0 by
    # construction): x - x%m is an exact multiple of m, so the double
    # division is exact well past any real latency (m divides it; the
    # quotient stays far under 2^53).
    bucket = F.when(F.col("_t1").isNull(), F.lit(-1)).otherwise(
        ((lat - lat % F.lit(bucket_us)) / F.lit(bucket_us)).cast("long")
    )
    return (
        j.select(bucket.alias("latency_bucket"))
        .groupBy("latency_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


def churn_cohorts(
    df: DataFrame,
    inactive_days: int = 14,
    user_col: str = "user_id",
    ts_col: str = "ts",
    cohort_granularity: str = "week",
) -> DataFrame:
    """B35 — inactivity churn by signup cohort: a user is churned when
    their LAST activity is more than ``inactive_days`` before the
    corpus's observation end (max ts — the as-of-now convention for an
    event log). Users are cohorted by the ``cohort_granularity``
    (day/week/month) of their FIRST activity;
    per cohort week the output is exact integers:

      cohort_week   date_trunc('week', first activity)
      n_users       cohort size
      n_churned     users whose last activity < max_ts − inactive_days
      churn_bp      n_churned * 10000 div n_users

    The churn boundary is exact integer-microsecond arithmetic off the
    corpus max (one 1-row broadcast aggregate); per-user first/last are
    ONE map-side-combined aggregate on the user key. Output is bounded
    by the calendar, never the corpus. NULL users/timestamps drop.
    """
    if inactive_days < 1:
        raise ValueError("inactive_days must be >= 1")
    if cohort_granularity not in ("day", "week", "month"):
        raise ValueError(
            f"cohort_granularity must be day/week/month, got "
            f"{cohort_granularity!r}"
        )
    base = df.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
    per_user = base.groupBy(user_col).agg(
        F.min(ts_col).alias("_first"), F.max(ts_col).alias("_last")
    )
    mx = base.agg(F.max(ts_col).alias("_mx"))
    cutoff_us = F.unix_micros(F.col("_mx")) - F.lit(
        int(inactive_days) * 86_400_000_000
    )
    j = per_user.crossJoin(F.broadcast(mx))
    churned = F.unix_micros(F.col("_last")) < cutoff_us
    g = j.groupBy(
        F.date_trunc(cohort_granularity, "_first").alias("cohort_week")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when(churned, 1).otherwise(0)).cast("long").alias("n_churned"),
    )
    return g.select(
        "cohort_week",
        "n_users",
        "n_churned",
        F.expr("(n_churned * 10000) div n_users").alias("churn_bp"),
    )


def linear_attribution(
    df: DataFrame,
    conversion_type: str = "purchase",
    touch_types: Sequence[str] = ("click", "view"),
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    max_gap_seconds: float = 86400.0,
) -> DataFrame:
    """B35 — LINEAR (multi-touch) conversion attribution, the
    equal-credit twin of :func:`last_touch_attribution`: every
    conversion splits one unit of credit equally across ALL of the
    user's touch events inside the attribution window, instead of
    handing it to the latest one — the report that stops over-crediting
    the final retargeting click.

      touch_type      a touch channel, or 'none'
      n_conversions   conversions with >=1 in-window touch of this type
                      ('none': conversions with zero in-window touches)
      credit_ppm      Σ over conversions of floor(c_t · 10^6 /
                      n_touches) where c_t = this type's in-window
                      touches and n_touches = all of them ('none'
                      rows carry the full 10^6 per untouched
                      conversion)

    Exact-integer contract (the pr_auc posture): per-conversion credits
    are integer floors at parts-per-million scale, identically computed
    on both engines; the floors undershoot the exact rational split by
    < |touch_types| ppm per conversion — stated, not hidden. Window
    membership is exact integer microseconds via ``unix_micros`` (the
    §20 rule — second-truncation would misclassify sub-second gaps):
    a RANGE frame of [-gap_us, -1] relative to the conversion, so
    same-microsecond touches are excluded identically everywhere.

    Plan: ONE key-partitioned range window computes every per-type
    in-window count (|touch_types| conditional sums over the same
    frame — no self-join, no explode of the event table); conversions
    project a |touch_types|+1-row stack and one map-side-combined
    aggregate emits the report. The event table shuffles once on the
    user key, the same exchange sessionize/funnel/last-touch reuse.
    """
    if max_gap_seconds <= 0:
        raise ValueError("max_gap_seconds must be > 0")
    if not touch_types:
        raise ValueError("touch_types must be non-empty")
    gap_us = int(round(max_gap_seconds * 1e6))
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (
        Window.partitionBy(user_col)
        .orderBy(us)
        .rangeBetween(-gap_us, -1)
    )
    # coalesce: an EMPTY frame (the user's first event) sums to NULL,
    # which would silently drop the conversion from every bucket
    # including 'none' — it must count as zero touches instead.
    counts = [
        F.coalesce(
            F.sum(F.when(F.col(type_col) == t, 1).otherwise(0)).over(w),
            F.lit(0),
        )
        .cast("long")
        .alias(f"_c_{i}")
        for i, t in enumerate(touch_types)
    ]
    conv = (
        df.select(F.col(type_col).alias("_ty"), *counts)
        .filter(F.col("_ty") == conversion_type)
        .withColumn(
            "_n",
            sum(F.col(f"_c_{i}") for i in range(len(touch_types))).cast(
                "long"
            ),
        )
    )
    pairs = []
    for i, t in enumerate(touch_types):
        pairs.append(
            F.struct(
                F.lit(t).alias("touch_type"),
                F.col(f"_c_{i}").alias("_c"),
                F.when(
                    F.col("_n") > 0,
                    F.expr(f"(_c_{i} * 1000000) div _n"),
                )
                .otherwise(F.lit(0))
                .cast("long")
                .alias("_credit"),
            )
        )
    pairs.append(
        F.struct(
            F.lit("none").alias("touch_type"),
            F.when(F.col("_n") == 0, F.lit(1)).otherwise(F.lit(0))
            .cast("long")
            .alias("_c"),
            F.when(F.col("_n") == 0, F.lit(1_000_000)).otherwise(F.lit(0))
            .cast("long")
            .alias("_credit"),
        )
    )
    exploded = conv.select(
        F.explode(F.array(*pairs)).alias("_p")
    ).select("_p.touch_type", "_p._c", "_p._credit")
    return (
        exploded.groupBy("touch_type")
        .agg(
            F.sum(F.when(F.col("_c") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_conversions"),
            F.sum("_credit").cast("long").alias("credit_ppm"),
        )
        .filter((F.col("n_conversions") > 0) | (F.col("credit_ppm") > 0))
    )


def rank_movers(
    df: DataFrame,
    group_cols: "Sequence[str]",
    period: Column,
    value_cents: Column,
) -> DataFrame:
    """B17 — rank movement across periods: rank every group WITHIN each
    period by its exact integer value (DESC, group-key tiebreak), then
    diff each group's rank against its previous period — the "biggest
    climbers/sliders" leaderboard, the ordinal complement of
    :func:`period_over_period`'s basis-point growth (rank deltas are
    robust to market-wide swings that move every group's value at once).

    All-integer output; every window is partitioned (ranking by period,
    lag by group). Ranks are dense over the groups PRESENT in a period;
    a group absent from the previous period reports NULL prev_rank and
    NULL delta (no fabricated movement — stated). delta = prev − rank,
    positive = climbed.

    Output: (group_cols..., period, value_cents, rnk, prev_rank, delta).
    Plan: one (group, period) hash-aggregate, one per-period rank
    window, one per-group lag window — aggregate-sized data throughout.
    """
    gc = list(group_cols)
    agg = df.groupBy(*gc, period.alias("period")).agg(
        F.sum(value_cents.cast("decimal(38,0)"))
        .cast("long")
        .alias("value_cents")
    )
    w_rank = Window.partitionBy("period").orderBy(
        F.col("value_cents").desc(), *[F.col(c).asc() for c in gc]
    )
    w_lag = Window.partitionBy(*gc).orderBy("period")
    ranked = agg.withColumn("rnk", F.rank().over(w_rank).cast("int"))
    return ranked.select(
        *gc,
        "period",
        "value_cents",
        "rnk",
        F.lag("rnk").over(w_lag).cast("int").alias("prev_rank"),
        (F.lag("rnk").over(w_lag) - F.col("rnk")).cast("int").alias("delta"),
    )
