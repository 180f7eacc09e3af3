"""Event-time windowing, batch form (SURVEY.md §2.9).

MapReduce is strictly batch (OSDI'04) — the reference model has no streams,
watermarks, or windows. These queries compute tumbling / sliding / session
windows over the batch ``events`` table; the ``streaming`` package holds the
Structured-Streaming equivalents (same aggregations over ``readStream`` with
``withWatermark``), which are exercised in unit tests, not in the t2 surface
(the DuckDB oracle is batch-only).

Scale notes (100 TB):
- Tumbling/sliding use Spark's native ``window()`` expression: bucket
  assignment is map-side arithmetic; the only shuffle is the final group-by,
  carrying one partial aggregate per (bucket, key).
- Sliding windows multiply data ×(window/slide) — here ×4; this is inherent
  to the semantics, not the implementation.
- Sessionization is lag + running-sum over one per-user shuffle — the same
  answer Structured Streaming's ``session_window`` gives, expressed as batch.
- Window starts are output as strings (date_format) so results are
  timezone-proof on both engines (SURVEY.md §7.3.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exactmath import round_div, round_div_long, sql_round_div
from ..registry import register
from ..sources.io import load

_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


@register(
    "window_tumbling",
    oracle=f"""
    select strftime(date_trunc('hour', ts), '{_FMT_DUCK}') as hour_start,
           event_type,
           count(*) as cnt,
           round(sum(value), 2) as sum_value
    from events
    group by hour_start, event_type
    """,
)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling counts + value sums per event type."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", _FMT_SPARK).alias("hour_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


@register(
    "window_sliding",
    oracle=f"""
    select strftime(win_start, '{_FMT_DUCK}') as win_start,
           count(*) as cnt,
           round(sum(value), 2) as sum_value
    from (
      select to_timestamp(floor(epoch(ts) / 900) * 900 - off) as win_start, value
      from events, (select unnest([0, 900, 1800, 2700]) as off)
    )
    group by win_start
    """,
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 minutes.

    Each event lands in exactly 4 windows (60/15); the oracle reproduces
    Spark's epoch-aligned window starts by truncating to the 15-min slide
    grid and stepping back 0/15/30/45 minutes.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", _FMT_SPARK).alias("win_start"),
            "cnt",
            "sum_value",
        )
    )


@register(
    "window_session",
    oracle="""
    with flagged as (
      select user_id, event_id, ts, value,
             case when lag(ts) over w is null
                       or epoch_us(ts) - epoch_us(lag(ts) over w) > 1800000000
                  then 1 else 0 end as new_session
      from events
      window w as (partition by user_id order by ts, event_id)
    ), sessions as (
      select user_id, ts, value,
             sum(new_session) over (partition by user_id order by ts, event_id
                                    rows between unbounded preceding
                                             and current row) as session_id
      from flagged
    )
    select user_id, cast(session_id as bigint) as session_id,
           count(*) as n_events,
           epoch_us(max(ts)) - epoch_us(min(ts)) as duration_us,
           round(sum(value), 2) as sum_value
    from sessions
    group by user_id, session_id
    """,
)
def window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization with a 30-minute inactivity gap.

    Classic batch sessionization (lag → gap flag → running sum = session id)
    — identical answers to Structured Streaming's session_window, see
    streaming/windows.py for the streaming twin.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_session",
        F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0),
    )
    wsum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = flagged.withColumn(
        "session_id", F.sum("new_session").over(wsum).cast("bigint")
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("duration_us"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "events_rate_anomaly",
    oracle=f"""
    with hourly as (
      select event_type,
             cast(epoch(date_trunc('hour', ts)) as bigint) as hour_epoch,
             strftime(date_trunc('hour', ts), '{_FMT_DUCK}') as hour_start,
             count(*) as cnt
      from events
      group by all),
    stats as (
      select *,
             avg(cnt) over w as mu,
             stddev_samp(cnt) over w as sd,
             count(*) over w as n_prior
      from hourly
      window w as (partition by event_type order by hour_epoch
                   range between 86400 preceding and 3600 preceding))
    select event_type, hour_start, cnt, round((cnt - mu) / sd, 4) as z
    from stats
    where n_prior >= 12 and sd > 0
    order by z desc, hour_epoch, event_type
    limit 20
    """,
)
def events_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 anomalous hours by event-rate z-score against each type's
    TRAILING 24h window (current hour excluded) — the rate-spike monitor an
    ingest pipeline runs over its event firehose.

    Stats come from :func:`rate_anomaly_stats` (plan notes there); z is
    rounded before ranking and the pre-limit ordering is total
    (z, hour_epoch, event_type), so top-20 membership is engine-stable.
    """
    stats = rate_anomaly_stats(load(spark, sf_dir, "events"))
    return (
        stats.orderBy(F.desc("z"), F.asc("hour_epoch"), F.asc("event_type"))
        .select("event_type", "hour_start", "cnt", "z")
        .limit(20)
    )


def rate_anomaly_stats(ev: DataFrame) -> DataFrame:
    """(event_type, hour_epoch, hour_start, cnt, z) for every hour whose
    trailing-24h baseline is defined — the shared core of the batch query
    and the streaming twin's equality test (streaming/windows.py
    rate_anomaly_stream).

    The trailing frame is RANGE-based on epoch seconds, not ROWS-based:
    hourly buckets can be missing (zero-event hours), and a row frame would
    silently stretch the baseline window across gaps. One shuffle for the
    hourly rollup, one for the per-type window; hours needing fewer than 12
    prior buckets or a zero-variance baseline are excluded (z undefined).
    """
    hourly = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "event_type",
            F.unix_seconds(F.col("w.start")).alias("hour_epoch"),
            F.date_format("w.start", _FMT_SPARK).alias("hour_start"),
            "cnt",
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_epoch")
        .rangeBetween(-86400, -3600)
    )
    return (
        hourly.withColumn("mu", F.avg("cnt").over(w))
        .withColumn("sd", F.stddev("cnt").over(w))
        .withColumn("n_prior", F.count(F.lit(1)).over(w))
        .filter((F.col("n_prior") >= 12) & (F.col("sd") > 0))
        .withColumn(
            "z", F.round((F.col("cnt") - F.col("mu")) / F.col("sd"), 4)
        )
    )


@register(
    "events_gap_fill",
    oracle=f"""
    with hourly as (
      select event_type,
             cast(epoch(date_trunc('hour', ts)) as bigint) as hour_epoch,
             count(*) as cnt,
             sum(value) as sum_value
      from events
      group by all),
    span as (
      select min(hour_epoch) as mn, max(hour_epoch) as mx from hourly),
    grid as (
      select t.event_type, g.hour_epoch
      from (select distinct event_type from events) t
      cross join (
        select unnest(generate_series(mn, mx, 3600)) as hour_epoch
        from span) g),
    joined as (
      select g.event_type, g.hour_epoch,
             coalesce(h.cnt, 0) as n_events,
             h.sum_value,
             h.sum_value is null as was_gap
      from grid g
      left join hourly h
        on h.event_type = g.event_type and h.hour_epoch = g.hour_epoch)
    select event_type,
           strftime(make_timestamp(hour_epoch * 1000000), '{_FMT_DUCK}')
             as hour_start,
           n_events,
           round(last_value(sum_value ignore nulls) over (
             partition by event_type order by hour_epoch
             rows between unbounded preceding and current row), 2)
             as sum_value_ffill,
           was_gap
    from joined
    """,
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each event type onto the full hourly grid, forward-filling
    gaps with the last observed hour's value sum — the regularization step
    every downstream time-series consumer (anomaly scoring, forecasting,
    rate dashboards) assumes has already happened.

    Plan shape: one partial-aggregated shuffle for the hourly rollup; the
    grid is types x hours built from a 1-row (min, max) aggregate via
    ``sequence`` + ``explode`` — its size is bounded by the TIME SPAN, not
    the corpus, so the build-side stays broadcastable at 100 TB. The
    forward fill is ``last(ignorenulls)`` over a per-type ROWS window on
    the gap-free grid (ROWS is correct here precisely because the grid has
    no missing buckets — contrast rate_anomaly_stats, which must use RANGE
    on the raw hourly table).
    """
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            "event_type",
            F.unix_seconds(F.col("w.start")).alias("hour_epoch"),
            "cnt",
            "sum_value",
        )
    )
    span = hourly.agg(
        F.min("hour_epoch").alias("mn"), F.max("hour_epoch").alias("mx")
    )
    hours = span.select(
        F.explode(F.sequence("mn", "mx", F.lit(3600))).alias("hour_epoch")
    )
    grid = ev.select("event_type").distinct().crossJoin(F.broadcast(hours))
    joined = grid.join(hourly, ["event_type", "hour_epoch"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_epoch")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "event_type",
        F.date_format(F.timestamp_seconds("hour_epoch"), _FMT_SPARK).alias(
            "hour_start"
        ),
        F.coalesce("cnt", F.lit(0)).alias("n_events"),
        F.round(
            F.last("sum_value", ignorenulls=True).over(w), 2
        ).alias("sum_value_ffill"),
        F.col("sum_value").isNull().alias("was_gap"),
    )


#: EWMA smoothing factor — mirrored in the oracle lambda below.
EWMA_ALPHA = 0.2


def ewma_series(values):
    """array<double> -> array<double>: left-to-right EWMA fold (alpha =
    EWMA_ALPHA, seeded with the first element) as a single ``aggregate``
    higher-order expression — the shared core of events_ewma and the
    randomized property test (tests/test_property.py pits it against a
    plain-Python reference fold)."""
    a = float(EWMA_ALPHA)
    return F.aggregate(
        values,
        F.array().cast("array<double>"),
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.when(F.size(acc) == 0, x).otherwise(
                    F.lit(a) * x + F.lit(1 - a) * F.element_at(acc, -1)
                )
            ),
        ),
    )


@register(
    "events_ewma",
    oracle=f"""
    with hourly as (
      select event_type,
             cast(epoch(date_trunc('hour', ts)) as bigint) as hour_epoch,
             cast(count(*) as double) as cnt
      from events
      group by all),
    lists as (
      select event_type,
             list(cnt order by hour_epoch) as vals,
             list(hour_epoch order by hour_epoch) as hours
      from hourly
      group by event_type),
    idx as (
      select event_type, hours, vals,
             unnest(generate_series(1, len(vals))) as i
      from lists)
    select event_type,
           strftime(make_timestamp(hours[i] * 1000000), '{_FMT_DUCK}')
             as hour_start,
           cast(vals[i] as bigint) as cnt,
           round(list_reduce(vals[1:i],
                             (acc, x) -> {EWMA_ALPHA} * x
                                         + {1 - EWMA_ALPHA} * acc), 4)
             as ewma
    from idx
    """,
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the hourly event rate per
    type (alpha=0.2, seeded with the first observation).

    EWMA's recurrence is non-associative, so no built-in window frame
    computes it; instead each type's hourly counts are collected into a
    time-ordered array (bounded by the TIME SPAN — hours, not corpus rows —
    so the per-group array stays small at any data scale after the rollup
    shuffle collapses 100 TB to one row per (type, hour)) and folded
    sequentially with the ``aggregate`` higher-order function, carrying the
    running series in the accumulator. Both engines run the identical
    left-to-right double fold over integer-exact counts, so values agree
    bit-for-bit before rounding. The DuckDB twin re-folds a prefix slice per
    row (O(n^2) in hours) — fine for an oracle, while the engine side stays
    O(n) per key.
    """
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "event_type",
            F.unix_seconds(F.col("w.start")).alias("hour_epoch"),
            "cnt",
        )
    )
    per_type = hourly.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(F.struct("hour_epoch", "cnt"))
        ).alias("series")
    )
    folded = per_type.select(
        "event_type",
        F.col("series"),
        ewma_series(
            F.transform("series", lambda s: s.cnt.cast("double"))
        ).alias("ewmas"),
    )
    pos = folded.select(
        "event_type",
        F.explode(
            F.arrays_zip(F.col("series"), F.col("ewmas").alias("ewma"))
        ).alias("z"),
    )
    return pos.select(
        "event_type",
        F.date_format(
            F.timestamp_seconds(F.col("z.series.hour_epoch")), _FMT_SPARK
        ).alias("hour_start"),
        F.col("z.series.cnt").alias("cnt"),
        F.round(F.col("z.ewma"), 4).alias("ewma"),
    )


#: Series-similarity knobs — mirrored verbatim in the oracle SQL below.
SERIES_TOP_USERS = 40
SERIES_TOP_PAIRS = 20


@register(
    "events_series_topk",
    oracle=f"""
    with daily as (
      select user_id, cast(ts as date) as day,
             cast(count(*) as bigint) as cnt
      from events
      group by all),
    totals as (
      select user_id,
             cast(sum(cnt) as bigint) as sx,
             cast(sum(cnt * cnt) as bigint) as sx2
      from daily
      group by user_id),
    top as (
      select * from totals
      order by sx desc, user_id asc
      limit {SERIES_TOP_USERS}),
    span as (
      select date_diff('day', min(cast(ts as date)),
                       max(cast(ts as date))) + 1 as n_days
      from events),
    co as (
      select a.user_id as user_a, b.user_id as user_b,
             cast(sum(a.cnt * b.cnt) as bigint) as sxy,
             count(*) as co_days
      from daily a
      join daily b on a.day = b.day and a.user_id < b.user_id
      where a.user_id in (select user_id from top)
        and b.user_id in (select user_id from top)
      group by 1, 2),
    scored as (
      select user_a, user_b, co_days,
             (cast(n_days as double) * cast(sxy as double)
              - cast(ta.sx as double) * cast(tb.sx as double))
             / sqrt((cast(n_days as double) * cast(ta.sx2 as double)
                     - cast(ta.sx as double) * cast(ta.sx as double))
                    * (cast(n_days as double) * cast(tb.sx2 as double)
                       - cast(tb.sx as double) * cast(tb.sx as double)))
               as corr
      from co
      join top ta on co.user_a = ta.user_id
      join top tb on co.user_b = tb.user_id, span
      where (cast(n_days as double) * cast(ta.sx2 as double)
             - cast(ta.sx as double) * cast(ta.sx as double)) > 0
        and (cast(n_days as double) * cast(tb.sx2 as double)
             - cast(tb.sx as double) * cast(tb.sx as double)) > 0)
    select user_a, user_b, co_days, round(corr, 6) as corr_r
    from scored
    order by round(corr, 6) desc, user_a, user_b
    limit {SERIES_TOP_PAIRS}
    """,
)
def events_series_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search: the top-k most correlated pairs of
    users by their aligned daily activity-count vectors (Pearson r over the
    full day span, zero-filled implicitly).

    The trick that makes this both scale-safe and bit-exact: Pearson
    correlation over the dense day grid is computed from integer sufficient
    statistics only — per-user ``sum(cnt)`` / ``sum(cnt^2)`` and pairwise
    ``sum(cnt_a * cnt_b)`` — so the dense grid never materializes (days
    where either series is zero contribute nothing to any sum), and both
    engines evaluate the identical double expression over exact BIGINT
    inputs, giving bit-identical r before rounding.

    Scale shape (100 TB):
    - ``daily`` is one map-side-combined shuffle collapsing the corpus to
      |users| x |days| rows.
    - Candidate entities are bounded up front: the top ``SERIES_TOP_USERS``
      most active users via TakeOrdered (no single-partition window), so
      the pairwise stage handles at most N*D rows — broadcastable at any
      corpus size.
    - Pair candidates come from the co-activity equi-join on ``day`` (never
      an all-pairs cross join); a pair with zero co-active days has r < 0
      and cannot reach the positive top-k, so restricting to co-active
      pairs is lossless for the result (the oracle applies the identical
      restriction).
    - Zero-variance series (constant daily count across the whole span) are
      filtered identically on both engines rather than relying on div-by-
      zero semantics, which differ between Spark (NULL) and DuckDB.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    totals = daily.groupBy("user_id").agg(
        F.sum("cnt").alias("sx"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sx2"),
    )
    top = totals.orderBy(F.desc("sx"), F.asc("user_id")).limit(
        SERIES_TOP_USERS
    )
    span = ev.agg(
        (
            F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))) + 1
        ).alias("n_days")
    )
    tdaily = daily.join(F.broadcast(top.select("user_id")), "user_id")
    co = (
        tdaily.alias("a")
        .join(
            F.broadcast(tdaily.alias("b")),
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
        )
        .agg(
            F.sum(F.col("a.cnt") * F.col("b.cnt")).alias("sxy"),
            F.count(F.lit(1)).alias("co_days"),
        )
    )
    stats_a = top.select(
        F.col("user_id").alias("user_a"),
        F.col("sx").alias("sxa"),
        F.col("sx2").alias("sx2a"),
    )
    stats_b = top.select(
        F.col("user_id").alias("user_b"),
        F.col("sx").alias("sxb"),
        F.col("sx2").alias("sx2b"),
    )
    n = F.col("n_days").cast("double")
    var_a = n * F.col("sx2a").cast("double") - F.col("sxa").cast(
        "double"
    ) * F.col("sxa").cast("double")
    var_b = n * F.col("sx2b").cast("double") - F.col("sxb").cast(
        "double"
    ) * F.col("sxb").cast("double")
    corr = (
        n * F.col("sxy").cast("double")
        - F.col("sxa").cast("double") * F.col("sxb").cast("double")
    ) / F.sqrt(var_a * var_b)
    scored = (
        co.join(F.broadcast(stats_a), "user_a")
        .join(F.broadcast(stats_b), "user_b")
        .crossJoin(F.broadcast(span))
        .filter((var_a > 0) & (var_b > 0))
        .select(
            "user_a",
            "user_b",
            "co_days",
            F.round(corr, 6).alias("corr_r"),
        )
    )
    return scored.orderBy(
        F.desc("corr_r"), F.asc("user_a"), F.asc("user_b")
    ).limit(SERIES_TOP_PAIRS)


@register(
    "events_ohlc_daily",
    oracle=f"""
    with ranked as (
      select event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') as day,
             value, ts, event_id,
             row_number() over (partition by event_type, date_trunc('day', ts)
                                order by ts, event_id) as rn_open,
             row_number() over (partition by event_type, date_trunc('day', ts)
                                order by ts desc, event_id desc) as rn_close
      from events)
    select event_type, day,
           round(max(case when rn_open = 1 then value end), 4) as open,
           round(max(value), 4) as high,
           round(min(value), 4) as low,
           round(max(case when rn_close = 1 then value end), 4) as close,
           cast(count(*) as bigint) as n_events
    from ranked
    group by event_type, day
    order by event_type, day
    """,
)
def events_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC gauge rollup per event type — the hypertable downsample
    (TimescaleDB continuous-aggregate / Grafana candlestick shape): open =
    first value by event time, high/low = extremes, close = last value.

    First/last are rank-1 rows of two mirrored row_number windows with an
    event_id tiebreak (deterministic under ts collisions — the same armor
    as window_lag_lead); both windows and the final rollup share ONE
    (event_type, day) shuffle. At 100 TB this is the query that turns a
    raw gauge stream into a queryable downsample: partial aggregation
    handles high/low map-side, and the window sort is per (type, day)
    partition — bounded by a day's events per type, never global. The
    same expression over ``window()`` buckets is the Structured-Streaming
    continuous-aggregate form.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "value",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    )
    wkey = ["event_type", "day"]
    w_open = Window.partitionBy(*wkey).orderBy("ts", "event_id")
    w_close = Window.partitionBy(*wkey).orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = ev.withColumn("rn_open", F.row_number().over(w_open)).withColumn(
        "rn_close", F.row_number().over(w_close)
    )
    return (
        ranked.groupBy(*wkey)
        .agg(
            F.round(
                F.max(F.when(F.col("rn_open") == 1, F.col("value"))), 4
            ).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(
                F.max(F.when(F.col("rn_close") == 1, F.col("value"))), 4
            ).alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "events_seasonal_index",
    oracle=f"""
    with daily as (
      select event_type, cast(ts as date) as day,
             cast(count(*) as bigint) as cnt
      from events
      group by all),
    by_dow as (
      select event_type, cast(isodow(day) as int) as dow_iso,
             cast(count(*) as bigint) as n_days,
             cast(sum(cnt) as bigint) as dow_cnt
      from daily
      group by all)
    select event_type, dow_iso, n_days,
           {sql_round_div('dow_cnt', 'n_days', 4)} as avg_cnt,
           {sql_round_div(
               '''dow_cnt * sum(n_days) over (partition by event_type)''',
               '''n_days * sum(dow_cnt) over (partition by event_type)''',
               4)} as seasonal_index
    from by_dow
    """,
)
def events_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality per event type: average daily count per ISO
    weekday, and its ratio to the type's overall daily average (the
    seasonal index a forecaster divides out before trend fitting).

    Plan: one map-side-combining daily rollup (corpus collapses to
    types x days), a second tiny groupBy to weekdays, and a window over
    the <= types x 7 rollup for the per-type normalizer — nothing
    downstream of the first shuffle scales with corpus size. Counts stay
    integer until the two final divisions, so the index is
    partitioning-independent. Weekdays are ISO (1=Monday) on both engines
    (Spark ``weekday()+1`` == DuckDB ``isodow``).
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    by_dow = daily.groupBy(
        "event_type",
        (F.weekday("day") + 1).cast("int").alias("dow_iso"),
    ).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("cnt").alias("dow_cnt"),
    )
    w = Window.partitionBy("event_type")
    return by_dow.select(
        "event_type",
        "dow_iso",
        "n_days",
        # both are integer ratios — (dow/n_d)/(all/n_a) folds to
        # dow*n_a/(n_d*all) — rounded via the all-integer half-up
        round_div_long(F.col("dow_cnt"), F.col("n_days"), 4).alias(
            "avg_cnt"
        ),
        round_div(
            F.col("dow_cnt") * F.sum("n_days").over(w),
            F.col("n_days") * F.sum("dow_cnt").over(w),
            4,
        ).alias("seasonal_index"),
    )


#: churn buckets in EXACT elapsed microseconds since the watermark:
#: active within 6 h, lapsed within 24 h, else churned (the fixture's
#: per-user inactivity spread is hour-scale; integer epoch-us arithmetic
#: sidesteps the engines' differing boundary-count date_diff semantics).
CHURN_ACTIVE_US = 6 * 3600 * 1_000_000
CHURN_LAPSED_US = 24 * 3600 * 1_000_000


@register(
    "events_inactivity_churn",
    oracle=f"""
    with nowts as (select max(ts) as now from events),
    last_seen as (
      select user_id, max(ts) as last_ts, count(*) as n_events
      from events group by user_id),
    bucketed as (
      select case
               when epoch_us(now) - epoch_us(last_ts) <= {CHURN_ACTIVE_US}
                 then 'active'
               when epoch_us(now) - epoch_us(last_ts) <= {CHURN_LAPSED_US}
                 then 'lapsed'
               else 'churned'
             end as status,
             n_events
      from last_seen, nowts)
    select status,
           count(*) as n_users,
           cast(sum(n_events) as bigint) as n_events,
           {sql_round_div('count(*)', '(select count(*) from last_seen)',
                          4)} as user_share
    from bucketed
    group by status
    order by status
    """,
)
def events_inactivity_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-based churn segmentation: users bucketed by time since
    their last event relative to the corpus watermark (max ts) — active
    (<= 6 h), lapsed (<= 24 h), churned — with each segment's user count,
    event volume, and share of the base. The lifecycle health report of
    an events warehouse.

    One map-side-combining groupBy to per-user last-seen rows, a 1-row
    broadcast watermark, and a 3-row rollup — no windows at all. Gaps are
    exact integer microseconds (unix_micros / epoch_us), so bucket
    membership is engine-stable by construction — no date_diff boundary
    semantics in a key position (§7.3.1).
    """
    ev = load(spark, sf_dir, "events")
    nowts = ev.agg(F.max("ts").alias("now"))
    last_seen = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"), F.count(F.lit(1)).alias("n_events")
    )
    gap_us = F.unix_micros("now") - F.unix_micros("last_ts")
    status = (
        F.when(gap_us <= CHURN_ACTIVE_US, F.lit("active"))
        .when(gap_us <= CHURN_LAPSED_US, F.lit("lapsed"))
        .otherwise(F.lit("churned"))
    )
    total = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        last_seen.crossJoin(F.broadcast(nowts))
        .select(status.alias("status"), "n_events")
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_events").cast("bigint").alias("n_events"),
        )
        .select(
            "status",
            "n_users",
            "n_events",
            round_div_long(
                F.col("n_users"), F.sum("n_users").over(total), 4
            ).alias("user_share"),
        )
        .orderBy("status")
    )


@register(
    "events_burstiness",
    oracle="""
    with gaps as (
      select event_type,
             epoch_us(ts) - lag(epoch_us(ts)) over (
               partition by user_id, event_type
               order by ts, event_id) as gap_us
      from events),
    ex as (
      select event_type,
             count(*) as n_gaps,
             sum(cast(gap_us as decimal(38,0))) as s1,
             sum(cast(gap_us as decimal(38,0))
                 * cast(gap_us as decimal(38,0))) as s2
      from gaps where gap_us is not null
      group by event_type),
    stats as (
      select event_type, n_gaps,
             cast(s1 as double) / n_gaps / 1e6 as mu_s,
             case when n_gaps < 2 then 0.0
                  else sqrt(greatest(
                    (cast(s2 as double)
                     - cast(s1 as double) * cast(s1 as double) / n_gaps)
                    / (n_gaps - 1), 0.0)) / 1e6 end as sigma_s
      from ex)
    select event_type,
           cast(n_gaps as bigint) as n_gaps,
           round(mu_s, 2) as mean_gap_s,
           round(sigma_s, 2) as std_gap_s,
           round(case when sigma_s + mu_s = 0 then 0.0
                      else (sigma_s - mu_s) / (sigma_s + mu_s) end, 4)
             as burstiness
    from stats
    """,
)
def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type burstiness of the inter-arrival process: the
    Goh-Barabási index B = (σ−μ)/(σ+μ) over per-user gap sequences —
    B→−1 is a metronome (bot traffic), B≈0 Poisson, B→+1 heavy bursts
    (organic sessions). The traffic-shape diagnostic behind rate anomaly
    thresholds.

    Gaps come from one per-(user, type) lag window (microsecond integers —
    the unique event_id tiebreak makes every gap engine-deterministic).
    The moment sums accumulate as decimal(38,0) — EXACT and
    order-independent, so μ and σ derive from bit-identical sums on both
    engines and no float summation-order noise reaches the rounded output
    (the same trick as eval_auc's decimal rollups; a double sum of 1e12
    squared-microsecond terms would differ per partitioning). Everything
    after the lag is a types-sized rollup.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gaps = ev.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    d = F.col("gap_us").cast("decimal(38,0)")
    ex = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(d).alias("s1"),
        F.sum(d * d).alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n_gaps") / 1e6
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double")
        / F.col("n_gaps")
    ) / (F.col("n_gaps") - 1)
    sigma = F.when(F.col("n_gaps") < 2, F.lit(0.0)).otherwise(
        F.sqrt(F.greatest(var, F.lit(0.0))) / 1e6
    )
    stats = ex.select(
        "event_type",
        F.col("n_gaps").cast("bigint").alias("n_gaps"),
        mu.alias("mu_s"),
        sigma.alias("sigma_s"),
    )
    return stats.select(
        "event_type",
        "n_gaps",
        F.round("mu_s", 2).alias("mean_gap_s"),
        F.round("sigma_s", 2).alias("std_gap_s"),
        F.round(
            F.when(F.col("sigma_s") + F.col("mu_s") == 0, F.lit(0.0)).otherwise(
                (F.col("sigma_s") - F.col("mu_s"))
                / (F.col("sigma_s") + F.col("mu_s"))
            ),
            4,
        ).alias("burstiness"),
    )


#: events_session_length_hist: a gap longer than this many minutes starts a
#: new session (the same 30-min industry default as window_session).
SESSION_HIST_GAP_MIN = 30


@register(
    "events_session_length_hist",
    oracle=f"""
    with flags as (
      select user_id, ts, event_id,
             case when lag(ts) over w is null
                  or epoch_us(ts) - lag(epoch_us(ts)) over w
                     > {SESSION_HIST_GAP_MIN} * 60 * 1000000
                  then 1 else 0 end as new_sess
      from events
      window w as (partition by user_id order by ts, event_id)),
    sess as (
      select user_id, ts,
             sum(new_sess) over (partition by user_id order by ts, event_id
                                 rows unbounded preceding) as sess_id
      from flags),
    per_sess as (
      select user_id, sess_id, count(*) as n_events,
             epoch_us(max(ts)) - epoch_us(min(ts)) as dur_us
      from sess group by user_id, sess_id)
    select cast(n_events as int) as session_len,
           cast(count(*) as bigint) as n_sessions,
           {sql_round_div('sum(cast(dur_us as decimal(38,0)))',
                          'count(*) * 1000000', 2)} as avg_duration_s
    from per_sess
    group by n_events
    """,
)
def events_session_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-length distribution under {SESSION_HIST_GAP_MIN}-min-gap
    sessionization: how many sessions contain k events, with mean session
    duration per length — the engagement profile behind session-window
    state sizing (window_session shows per-session rows; this is the
    corpus-level shape).

    The sessionizer is the lag-flag + per-user running count idiom: both
    windows partition by user (per-user slices, never corpus-sized), and
    the unique event_id tiebreak plus integer-microsecond gap comparison
    make session boundaries engine-deterministic. Durations sum as
    decimal(38,0) before the mean (order-independent). Output is bounded
    by the longest session.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    flags = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                (us - F.lag(us).over(w))
                > SESSION_HIST_GAP_MIN * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = flags.select(
        "user_id",
        "ts",
        F.sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sess_id"),
    )
    per_sess = sess.groupBy("user_id", "sess_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "dur_us"
        ),
    )
    return per_sess.groupBy(
        F.col("n_events").cast("int").alias("session_len")
    ).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        round_div(
            F.sum(F.col("dur_us").cast("decimal(38,0)")),
            F.count(F.lit(1)) * F.lit(1_000_000),
            2,
        ).alias("avg_duration_s"),
    )


@register(
    "events_dau_mau_ratio",
    oracle="""
    with daily as (
      select strftime(ts, '%Y-%m') as month, strftime(ts, '%Y-%m-%d') as day,
             count(distinct user_id) as dau
      from events group by all),
    monthly as (
      select strftime(ts, '%Y-%m') as month, count(distinct user_id) as mau
      from events group by month)
    select d.month as month,
           {avg_dau} as avg_dau,
           cast(max(mau) as bigint) as mau,
           {stickiness} as stickiness
    from daily d join monthly m on d.month = m.month
    group by d.month
    """.format(
        avg_dau=sql_round_div("sum(dau)", "count(*)", 2),
        stickiness=sql_round_div("sum(dau)", "count(*) * max(mau)", 4),
    ),
)
def events_dau_mau_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stickiness (DAU/MAU): average daily active users over monthly
    active users, per month — the canonical engagement ratio (1.0 = every
    monthly user shows up daily).

    Two distinct-count rollups over (month, day) and (month) — each a
    partial-distinct shuffle of (key, user) pairs, never raw events twice —
    joined on the month key. Both sides are months-sized, so the join
    broadcasts one of them; no side is forced, because when the planner
    builds on ``daily`` the final groupBy(month) reuses the ``monthly``
    rollup's month partitioning and skips one shuffle.
    At 100 TB the same shape runs on per-day HLL sketches with a 31-sketch
    merge (agg_hll_union shows the machinery); exact kept for the oracle.
    """
    ev = load(spark, sf_dir, "events")
    month = F.date_format("ts", "yyyy-MM").alias("month")
    daily = (
        ev.select(month, F.date_format("ts", "yyyy-MM-dd").alias("day"),
                  "user_id")
        .groupBy("month", "day")
        .agg(F.countDistinct("user_id").alias("dau"))
    )
    monthly = (
        ev.select(month, "user_id")
        .groupBy("month")
        .agg(F.countDistinct("user_id").alias("mau"))
    )
    return (
        daily.join(monthly, "month")
        .groupBy("month")
        .agg(
            # all-integer half-up rounds (exactmath.py, r15 tie rework):
            # stickiness = avg(dau)/mau = sum(dau)/(n_days*mau), rational
            round_div(F.sum("dau"), F.count(F.lit(1)), 2).alias("avg_dau"),
            F.max("mau").alias("mau"),
            round_div(
                F.sum("dau"), F.count(F.lit(1)) * F.max("mau"), 4
            ).alias("stickiness"),
        )
    )


@register(
    "events_funnel_time_to_convert",
    oracle="""
    with v as (select user_id, min(ts) as first_view from events
               where event_type = 'view' group by user_id),
    p as (select e.user_id, min(e.ts) as first_purchase
          from events e join v on e.user_id = v.user_id
          where e.event_type = 'purchase' and e.ts >= v.first_view
          group by e.user_id),
    d as (select epoch_us(first_purchase) - epoch_us(v.first_view) as us,
                 (epoch_us(first_purchase) - epoch_us(v.first_view))
                 / 3600000000.0 as hours
          from v join p on v.user_id = p.user_id)
    select cast(count(*) as bigint) as n_converted,
           {p50_hours} as p50_hours,
           {p90_hours} as p90_hours,
           {avg_hours} as avg_hours
    from d
    """.format(
        p50_hours=sql_round_div(
            "cast(round(quantile_cont(us, 0.5) * 2) as bigint)",
            "7200000000", 2
        ),
        p90_hours=sql_round_div(
            "cast(round(quantile_cont(us, 0.9) * 10) as bigint)",
            "36000000000", 2
        ),
        avg_hours=sql_round_div("sum(us)", "count(*) * 3600000000", 2)
    ),
)
def events_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel velocity: hours from a user's first view to their first
    subsequent purchase — funnel_conversion counts WHO converts, this
    measures HOW FAST (the number an activation team actually moves).

    Two per-user min rollups (view floor, then purchase-after-view floor)
    joined on user_id — co-partitioned shuffles, no window over raw
    events. Hours derive from integer microsecond differences (exact,
    engine-stable); the percentile is Spark's exact interpolated
    ``percentile`` mirroring DuckDB quantile_cont (the agg_percentiles
    parity pattern) over the converted-users frame.
    """
    ev = load(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    d = v.join(p, "user_id").select(
        (F.unix_micros("first_purchase") - F.unix_micros("first_view")).alias(
            "us"
        ),
        (
            (F.unix_micros("first_purchase") - F.unix_micros("first_view"))
            / 3.6e9
        ).alias("hours"),
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_converted"),
        # interpolated percentiles re-derived from the INTEGER
        # microsecond order statistics: q50*2 = a+b and q90*10 = a+9b
        # are exact integers recovered from the double (error << 0.5),
        # so the 2-dp hour rounds become all-integer half-ups — the
        # us/3.6e9 rational CAN tie at 2 dp (us divisible by 36e8/...)
        round_div(
            F.round(F.percentile("us", F.lit(0.5)) * 2).cast("long"),
            F.lit(7_200_000_000),
            2,
        ).alias("p50_hours"),
        round_div(
            F.round(F.percentile("us", F.lit(0.9)) * 10).cast("long"),
            F.lit(36_000_000_000),
            2,
        ).alias("p90_hours"),
        # avg from the INTEGER microsecond sum via the all-integer
        # half-up round (exactmath.py, r15): sum(us)/(n*3.6e9) is
        # rational and can land exactly on a 2-dp half
        round_div(
            F.sum("us"), F.count(F.lit(1)) * F.lit(3_600_000_000), 2
        ).alias("avg_hours"),
    )


#: Autocorrelation lags reported by events_acf: adjacent hours plus the
#: daily-seasonality lag (the events fixture has a 24 h cycle —
#: events_seasonal_index measures it in level form, the ACF in
#: correlation form).
ACF_LAGS = (1, 2, 3, 24)


def _acf_oracle() -> str:
    per_lag = "\n      union all\n".join(
        f"""
      select {k} as lag, x, lag(x, {k}) over (order by hour_epoch) as y
      from filled"""
        for k in ACF_LAGS
    )
    return f"""
    with hourly as (
      select cast(epoch(date_trunc('hour', ts)) as bigint) as hour_epoch,
             count(*) as cnt
      from events group by 1),
    span as (select min(hour_epoch) as mn, max(hour_epoch) as mx from hourly),
    filled as (
      select g.hour_epoch, coalesce(h.cnt, 0) as x
      from (select unnest(generate_series(mn, mx, 3600)) as hour_epoch
            from span) g
      left join hourly h on h.hour_epoch = g.hour_epoch),
    lagged as (
      {per_lag}),
    moments as (
      select lag,
             count(*) as n,
             sum(x) as sx, sum(y) as sy, sum(xy) as sxy,
             sum(xx) as sxx, sum(yy) as syy
      from (
        select lag,
               cast(x as decimal(38,0)) as x,
               cast(y as decimal(38,0)) as y,
               cast(x as decimal(38,0)) * y as xy,
               cast(x as decimal(38,0)) * x as xx,
               cast(y as decimal(38,0)) * y as yy
        from lagged where y is not null)
      group by lag)
    select cast(lag as int) as lag,
           n as n_pairs,
           case when (n * cast(sxx as double)
                      - cast(sx as double) * cast(sx as double))
                     * (n * cast(syy as double)
                        - cast(sy as double) * cast(sy as double)) = 0
                then null
                else round((n * cast(sxy as double)
                            - cast(sx as double) * cast(sy as double))
                           / sqrt((n * cast(sxx as double)
                                   - cast(sx as double) * cast(sx as double))
                                  * (n * cast(syy as double)
                                     - cast(sy as double)
                                       * cast(sy as double))), 6) end as acf
    from moments
    order by lag
    """


@register("events_acf", oracle=_acf_oracle())
def events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the global hourly event rate at lags 1/2/3/24 —
    the seasonality/persistence diagnostic a forecasting pipeline runs
    before choosing model order (the 24 h lag exposes the fixture's daily
    cycle as correlation, complementing events_seasonal_index's level
    view).

    Scale plan: ONE map-side-combining groupBy collapses the corpus to
    the hourly rollup; the zero-filled spine and the lag projection run
    over that CALENDAR-bounded series (rows = span hours regardless of
    corpus size — a century is <1M rows), so the single-partition
    ordering window is bounded by construction. All four lags are read
    from ONE window pass (`lag(x, k)` over the same orderBy — r13's
    four separately-scheduled windowed aggregates paid 4× scheduling
    overhead under suite load, the round's one bench-regression flag),
    then stack()ed into (lag, x, y) pairs and rolled up by a single
    4-group aggregate. Counts and their products accumulate as
    decimal(38,0) (hourly counts reach 1e10 at 100 TB; their squares
    overflow bigint) and only each lag's final Pearson expression
    divides in doubles — guarded to NULL when a lag's pair set has zero
    variance (constant series, or a spine of exactly lag+1 hours gives
    one pair): numerator and denominator are both exactly 0.0 there and
    ANSI-mode double 0/0 raises where DuckDB yields NULL (ADVICE r13).
    """
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        (F.floor(F.unix_seconds(F.date_trunc("hour", F.col("ts")))))
        .cast("bigint")
        .alias("hour_epoch")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    span = hourly.agg(
        F.min("hour_epoch").alias("mn"), F.max("hour_epoch").alias("mx")
    )
    spine = span.select(
        F.explode(F.sequence("mn", "mx", F.lit(3600))).alias("hour_epoch")
    )
    filled = spine.join(hourly, "hour_epoch", "left").select(
        "hour_epoch", F.coalesce("cnt", F.lit(0)).alias("x")
    )
    w = Window.orderBy("hour_epoch")
    lagged = filled.select(
        "x", *[F.lag("x", k).over(w).alias(f"y{k}") for k in ACF_LAGS]
    )
    stack_args = ", ".join(f"{k}, y{k}" for k in ACF_LAGS)
    d38 = "decimal(38,0)"
    pairs = (
        lagged.select(
            F.col("x").cast(d38).alias("x"),
            F.expr(
                f"stack({len(ACF_LAGS)}, {stack_args}) as (lag, ylong)"
            ),
        )
        .filter(F.col("ylong").isNotNull())
        .select("lag", "x", F.col("ylong").cast(d38).alias("y"))
    )
    dd = lambda c: c.cast("double")  # noqa: E731
    n = F.count(F.lit(1))
    num = n * dd(F.sum(F.col("x") * F.col("y"))) - dd(F.sum("x")) * dd(
        F.sum("y")
    )
    den = (
        n * dd(F.sum(F.col("x") * F.col("x")))
        - dd(F.sum("x")) * dd(F.sum("x"))
    ) * (
        n * dd(F.sum(F.col("y") * F.col("y")))
        - dd(F.sum("y")) * dd(F.sum("y"))
    )
    return (
        pairs.groupBy(F.col("lag").cast("int").alias("lag"))
        .agg(
            n.alias("n_pairs"),
            F.when(den == 0, F.lit(None))
            .otherwise(F.round(num / F.sqrt(den), 6))
            .alias("acf"),
        )
        .orderBy("lag")
    )


#: Cross-correlation design: does XCORR_X activity lead XCORR_Y activity?
#: r is measured between x_t and y_{t+k} for each lead/lag k — positive k
#: asks whether today's x predicts y k hours LATER.
XCORR_LAGS = (-3, -2, -1, 0, 1, 2, 3)
XCORR_X = "view"
XCORR_Y = "purchase"


def _xcorr_oracle() -> str:
    shifted = "\n      union all\n".join(
        f"""
      select {k} as lag, x,
             {"lead" if k >= 0 else "lag"}(y, {abs(k)})
               over (order by hour_epoch) as ys
      from filled"""
        for k in XCORR_LAGS
    )
    return f"""
    with hourly as (
      select cast(epoch(date_trunc('hour', ts)) as bigint) as hour_epoch,
             count(*) filter (where event_type = '{XCORR_X}') as xc,
             count(*) filter (where event_type = '{XCORR_Y}') as yc
      from events group by 1),
    span as (select min(hour_epoch) as mn, max(hour_epoch) as mx from hourly),
    filled as (
      select g.hour_epoch, coalesce(h.xc, 0) as x, coalesce(h.yc, 0) as y
      from (select unnest(generate_series(mn, mx, 3600)) as hour_epoch
            from span) g
      left join hourly h on h.hour_epoch = g.hour_epoch),
    lagged as (
      {shifted}),
    moments as (
      select lag,
             count(*) as n,
             sum(x) as sx, sum(y) as sy, sum(xy) as sxy,
             sum(xx) as sxx, sum(yy) as syy
      from (
        select lag,
               cast(x as decimal(38,0)) as x,
               cast(ys as decimal(38,0)) as y,
               cast(x as decimal(38,0)) * ys as xy,
               cast(x as decimal(38,0)) * x as xx,
               cast(ys as decimal(38,0)) * ys as yy
        from lagged where ys is not null)
      group by lag)
    select cast(lag as int) as lag,
           n as n_pairs,
           case when (n * cast(sxx as double)
                      - cast(sx as double) * cast(sx as double))
                     * (n * cast(syy as double)
                        - cast(sy as double) * cast(sy as double)) = 0
                then null
                else round((n * cast(sxy as double)
                            - cast(sx as double) * cast(sy as double))
                           / sqrt((n * cast(sxx as double)
                                   - cast(sx as double) * cast(sx as double))
                                  * (n * cast(syy as double)
                                     - cast(sy as double)
                                       * cast(sy as double))), 6) end
             as xcorr
    from moments
    order by lag
    """


@register("events_cross_correlation", oracle=_xcorr_oracle())
def events_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead/lag cross-correlation between the hourly XCORR_X ('view')
    rate and the hourly XCORR_Y ('purchase') rate at lags -3..+3 — the
    bivariate companion of events_acf that a forecasting pipeline runs to
    find which upstream signal LEADS the metric it predicts (positive-lag
    peaks mean x activity foreshadows y).

    Same engine shape as the fused events_acf (its r14 single-pass form):
    ONE map-side-combining groupBy collapses the corpus to an hourly
    (x, y) rollup via conditional counts; the zero-filled spine bounds
    everything after it by CALENDAR hours; all seven shifts are read from
    ONE window pass (lead for k >= 0, lag for k < 0) and stack()ed into
    (lag, x, y) pairs for a single 7-group Pearson rollup. Moments
    accumulate as decimal(38,0); zero-variance pair sets yield NULL on
    both engines (the ADVICE r13 guard class).
    """
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        (F.floor(F.unix_seconds(F.date_trunc("hour", F.col("ts")))))
        .cast("bigint")
        .alias("hour_epoch")
    ).agg(
        F.count(F.when(F.col("event_type") == XCORR_X, 1)).alias("xc"),
        F.count(F.when(F.col("event_type") == XCORR_Y, 1)).alias("yc"),
    )
    span = hourly.agg(
        F.min("hour_epoch").alias("mn"), F.max("hour_epoch").alias("mx")
    )
    spine = span.select(
        F.explode(F.sequence("mn", "mx", F.lit(3600))).alias("hour_epoch")
    )
    filled = spine.join(hourly, "hour_epoch", "left").select(
        "hour_epoch",
        F.coalesce("xc", F.lit(0)).alias("x"),
        F.coalesce("yc", F.lit(0)).alias("y"),
    )
    w = Window.orderBy("hour_epoch")
    shift = lambda k: (  # noqa: E731
        F.lead("y", k).over(w) if k >= 0 else F.lag("y", -k).over(w)
    )
    lagged = filled.select(
        "x", *[shift(k).alias(f"ys_{i}") for i, k in enumerate(XCORR_LAGS)]
    )
    stack_args = ", ".join(
        f"{k}, ys_{i}" for i, k in enumerate(XCORR_LAGS)
    )
    d38 = "decimal(38,0)"
    pairs = (
        lagged.select(
            F.col("x").cast(d38).alias("x"),
            F.expr(
                f"stack({len(XCORR_LAGS)}, {stack_args}) as (lag, ylong)"
            ),
        )
        .filter(F.col("ylong").isNotNull())
        .select("lag", "x", F.col("ylong").cast(d38).alias("y"))
    )
    dd = lambda c: c.cast("double")  # noqa: E731
    n = F.count(F.lit(1))
    num = n * dd(F.sum(F.col("x") * F.col("y"))) - dd(F.sum("x")) * dd(
        F.sum("y")
    )
    den = (
        n * dd(F.sum(F.col("x") * F.col("x")))
        - dd(F.sum("x")) * dd(F.sum("x"))
    ) * (
        n * dd(F.sum(F.col("y") * F.col("y")))
        - dd(F.sum("y")) * dd(F.sum("y"))
    )
    return (
        pairs.groupBy(F.col("lag").cast("int").alias("lag"))
        .agg(
            n.alias("n_pairs"),
            F.when(den == 0, F.lit(None))
            .otherwise(F.round(num / F.sqrt(den), 6))
            .alias("xcorr"),
        )
        .orderBy("lag")
    )


def grouped_lower_median(
    df: DataFrame, val: str, out: str,
    key: str = "event_type", order: str = "hour_epoch",
) -> DataFrame:
    """(key, out): the LOWER median of ``val`` per group — the element at
    row_number (n+1)//2 under the total (val, order) ordering, so the
    pick is integer-exact and engine-stable. Windows partition by the
    group key over group-bounded input (callers pass calendar-bounded
    rollups). Shared by events_mad_outliers (median + MAD) and the
    randomized property test (tests/test_property.py pits it against
    a plain-Python sorted()[(n-1)//2])."""
    wp = Window.partitionBy(key).orderBy(val, order)
    wn = Window.partitionBy(key)
    return (
        df.select(
            key,
            F.col(val),
            F.row_number().over(wp).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .select(key, F.col(val).alias(out))
    )


#: MAD outlier gate: |x - median| > MAD_K * MAD (both medians are the
#: LOWER middle element — rn = (n+1) // 2 under a (value, hour) total
#: order — so the statistic is integer-exact on both engines).
MAD_K = 3


@register(
    "events_mad_outliers",
    oracle=f"""
    with hourly as (
      select event_type,
             cast(epoch(date_trunc('hour', ts)) as bigint) as hour_epoch,
             count(*) as cnt
      from events group by all),
    span as (select min(hour_epoch) as mn, max(hour_epoch) as mx from hourly),
    grid as (
      select t.event_type, g.hour_epoch
      from (select distinct event_type from events) t
      cross join (select unnest(generate_series(mn, mx, 3600)) as hour_epoch
                  from span) g),
    filled as (
      select g.event_type, g.hour_epoch, coalesce(h.cnt, 0) as cnt
      from grid g
      left join hourly h
        on h.event_type = g.event_type and h.hour_epoch = g.hour_epoch),
    med as (
      select event_type, cnt as med
      from (select event_type, cnt,
                   row_number() over (partition by event_type
                                      order by cnt, hour_epoch) as rn,
                   count(*) over (partition by event_type) as n
            from filled)
      where rn = (n + 1) // 2),
    dev as (
      select f.event_type, f.hour_epoch, f.cnt, m.med,
             abs(f.cnt - m.med) as adev
      from filled f join med m using (event_type)),
    mad as (
      select event_type, adev as mad
      from (select event_type, adev,
                   row_number() over (partition by event_type
                                      order by adev, hour_epoch) as rn,
                   count(*) over (partition by event_type) as n
            from dev)
      where rn = (n + 1) // 2)
    select d.event_type,
           strftime(make_timestamp(d.hour_epoch * 1000000), '{_FMT_DUCK}')
             as hour_start,
           d.cnt, d.med, m.mad, d.adev
    from dev d join mad m using (event_type)
    where d.adev > {MAD_K} * m.mad
    order by d.adev desc, d.event_type, d.hour_epoch
    limit 20
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 hourly rate outliers per the median/MAD rule (|x - med| >
    3 * MAD per event type) — the robust anomaly detector that, unlike
    the z-score in events_rate_anomaly, is not itself dragged by the
    outliers it hunts.

    Both medians are exact LOWER-median picks (row_number = (n+1)//2
    under a total (value, hour) order), so the whole statistic is
    integer arithmetic — no float enters before the final ordering.
    Scale plan: the corpus collapses to the (type, hour) rollup in one
    partial-agg shuffle; every window partitions BY TYPE over the
    calendar-bounded series, and the two per-type median tables are
    type-arity-sized broadcast joins.
    """
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.floor(F.unix_seconds(F.date_trunc("hour", F.col("ts"))))
        .cast("bigint")
        .alias("hour_epoch"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    span = hourly.agg(
        F.min("hour_epoch").alias("mn"), F.max("hour_epoch").alias("mx")
    )
    spine = span.select(
        F.explode(F.sequence("mn", "mx", F.lit(3600))).alias("hour_epoch")
    )
    grid = (
        ev.select("event_type").distinct().crossJoin(F.broadcast(spine))
    )
    filled = grid.join(hourly, ["event_type", "hour_epoch"], "left").select(
        "event_type",
        "hour_epoch",
        F.coalesce("cnt", F.lit(0)).alias("cnt"),
    )

    med = grouped_lower_median(filled, "cnt", "med")
    dev = filled.join(F.broadcast(med), "event_type").select(
        "event_type",
        "hour_epoch",
        "cnt",
        "med",
        F.abs(F.col("cnt") - F.col("med")).alias("adev"),
    )
    mad = grouped_lower_median(dev, "adev", "mad")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("adev") > MAD_K * F.col("mad"))
        .select(
            "event_type",
            F.date_format(
                F.timestamp_seconds("hour_epoch"), _FMT_SPARK
            ).alias("hour_start"),
            "cnt",
            "med",
            "mad",
            "adev",
        )
        .orderBy(F.desc("adev"), "event_type", "hour_start")
        .limit(20)
    )


def changepoint_split(filled: DataFrame) -> DataFrame:
    """One-row argmax of the CUSUM between-segment statistic over a
    gap-free (hour_epoch, x) series: (hour_epoch, t, s, n, stot, gstat)
    for the best split, earliest-t tiebreak on exact double ties. S_t and
    S_N are exact integer prefix sums; G(t) is evaluated in doubles from
    those integers (identical IEEE expression on both engines). Shared by
    events_changepoint and the randomized property test (plain-Python
    brute-force argmax)."""
    w = Window.orderBy("hour_epoch")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pre = filled.select(
        "hour_epoch",
        F.row_number().over(w).alias("t"),
        F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("s"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("x").over(wall).alias("stot"),
    )
    scored = pre.filter(F.col("t") < F.col("n")).withColumn(
        "gstat",
        F.pow(
            F.col("n").cast("double") * F.col("s")
            - F.col("t").cast("double") * F.col("stot"),
            2,
        )
        / (F.col("t").cast("double") * (F.col("n") - F.col("t"))),
    )
    return (
        scored.withColumn(
            "rn", F.row_number().over(Window.orderBy(F.desc("gstat"), "t"))
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "events_changepoint",
    oracle=f"""
    with hourly as (
      select cast(epoch(date_trunc('hour', ts)) as bigint) as hour_epoch,
             count(*) as cnt
      from events group by 1),
    span as (select min(hour_epoch) as mn, max(hour_epoch) as mx from hourly),
    filled as (
      select g.hour_epoch, coalesce(h.cnt, 0) as x
      from (select unnest(generate_series(mn, mx, 3600)) as hour_epoch
            from span) g
      left join hourly h on h.hour_epoch = g.hour_epoch),
    pre as (
      select hour_epoch,
             row_number() over (order by hour_epoch) as t,
             sum(x) over (order by hour_epoch
                          rows between unbounded preceding and current row)
               as s,
             count(*) over () as n,
             sum(x) over () as stot
      from filled),
    scored as (
      select hour_epoch, t, s, n, stot,
             pow(cast(n as double) * s - cast(t as double) * stot, 2)
               / (cast(t as double) * (n - t)) as gstat
      from pre where t < n),
    best as (
      select * from (
        select *, row_number() over (order by gstat desc, t) as rn
        from scored)
      where rn = 1)
    select strftime(make_timestamp((hour_epoch + 3600) * 1000000),
                    '%Y-%m-%d %H:%M:%S') as split_start,
           cast(t as bigint) as t,
           cast(n as bigint) as n_hours,
           {sql_round_div('s', 't', 6)} as mean_before,
           {sql_round_div('(stot - s)', '(n - t)', 6)} as mean_after,
           {sql_round_div(
               '(cast(n as hugeint) * s - cast(t as hugeint) * stot)'
               ' * (cast(n as hugeint) * s - cast(t as hugeint) * stot)',
               'cast(t as hugeint) * (n - t) * n', 6)} as gstat
    from best
    """,
)
def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single most-likely level-shift changepoint in the global hourly
    event rate (binary-segmentation first split: the hour boundary
    maximizing the between-segment CUSUM statistic
    G(t) = (N*S_t - t*S_N)^2 / (t*(N-t)*N)) — the monitoring primitive a
    pipeline health check runs over ingest rates.

    Scale plan: identical skeleton to events_acf — one partial-agg
    shuffle to the hourly rollup, then every prefix sum and the argmax
    run over the CALENDAR-bounded spine, so the single-partition window
    is bounded by construction. S_t and S_N are exact integer prefix
    sums; G(t) is evaluated in doubles from those exact integers
    (identical IEEE expression on both engines) and the argmax breaks
    exact ties toward the earliest t. ``split_start`` is the first hour
    of the AFTER segment.
    """
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.floor(F.unix_seconds(F.date_trunc("hour", F.col("ts"))))
        .cast("bigint")
        .alias("hour_epoch")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    span = hourly.agg(
        F.min("hour_epoch").alias("mn"), F.max("hour_epoch").alias("mx")
    )
    spine = span.select(
        F.explode(F.sequence("mn", "mx", F.lit(3600))).alias("hour_epoch")
    )
    filled = spine.join(hourly, "hour_epoch", "left").select(
        "hour_epoch", F.coalesce("cnt", F.lit(0)).alias("x")
    )
    best = changepoint_split(filled)
    return best.select(
        F.date_format(
            F.timestamp_seconds(F.col("hour_epoch") + 3600), _FMT_SPARK
        ).alias("split_start"),
        F.col("t").cast("bigint").alias("t"),
        F.col("n").cast("bigint").alias("n_hours"),
        round_div_long(F.col("s"), F.col("t"), 6).alias("mean_before"),
        round_div_long(
            F.col("stot") - F.col("s"), F.col("n") - F.col("t"), 6
        ).alias("mean_after"),
        # G/N = (N*S_t - t*S_N)^2 / (t*(N-t)*N) re-derived from the exact
        # integer prefix sums (the double gstat column stays argmax-only);
        # decimal path — the squared numerator outgrows longs
        round_div(
            (
                F.col("n").cast("decimal(38,0)") * F.col("s")
                - F.col("t").cast("decimal(38,0)") * F.col("stot")
            )
            * (
                F.col("n").cast("decimal(38,0)") * F.col("s")
                - F.col("t").cast("decimal(38,0)") * F.col("stot")
            ),
            F.col("t").cast("decimal(38,0)")
            * (F.col("n") - F.col("t"))
            * F.col("n"),
            6,
        ).alias("gstat"),
    )


#: Holt linear (double-exponential) smoothing parameters — mirrored
#: verbatim in the recursive-CTE oracle.
HOLT_ALPHA = 0.2
HOLT_BETA = 0.1


def holt_state(values):
    """array<double> (len >= 2) -> struct(l, b, sse): Holt linear
    smoothing final state via one ``aggregate`` higher-order fold with a
    struct accumulator (init l=x2, b=x2-x1; sse accumulates squared
    1-step errors from t=3). Shared by events_holt_forecast and the
    randomized property test (plain-Python reference fold)."""
    a, bta = float(HOLT_ALPHA), float(HOLT_BETA)
    init = F.struct(
        F.element_at(values, 2).alias("l"),
        (F.element_at(values, 2) - F.element_at(values, 1)).alias("b"),
        F.lit(0.0).alias("sse"),
    )

    def fold(acc, x):
        lp = F.lit(a) * x + F.lit(1 - a) * (acc.l + acc.b)
        lp2 = F.lit(a) * x + F.lit(1 - a) * (acc.l + acc.b)
        return F.struct(
            lp.alias("l"),
            (F.lit(bta) * (lp2 - acc.l) + F.lit(1 - bta) * acc.b).alias("b"),
            (acc.sse + (x - (acc.l + acc.b)) * (x - (acc.l + acc.b))).alias(
                "sse"
            ),
        )

    return F.aggregate(
        F.slice(values, 3, F.greatest(F.size(values) - 2, F.lit(0))),
        init,
        fold,
    )


@register(
    "events_holt_forecast",
    oracle=f"""
    with recursive hourly as (
      select event_type,
             cast(epoch(date_trunc('hour', ts)) as bigint) as hour_epoch,
             cast(count(*) as double) as cnt
      from events group by all),
    lists as (
      select event_type, list(cnt order by hour_epoch) as vals
      from hourly group by event_type),
    step as (
      select event_type, 2 as t, len(vals) as n, vals,
             vals[2] as l, vals[2] - vals[1] as b,
             cast(0.0 as double) as sse
      from lists where len(vals) >= 2
      union all
      select event_type, t + 1, n, vals,
             {HOLT_ALPHA} * vals[t + 1] + {1 - HOLT_ALPHA} * (l + b),
             {HOLT_BETA} * ({HOLT_ALPHA} * vals[t + 1]
                            + {1 - HOLT_ALPHA} * (l + b) - l)
               + {1 - HOLT_BETA} * b,
             sse + (vals[t + 1] - (l + b)) * (vals[t + 1] - (l + b))
      from step where t < n)
    select event_type,
           cast(n as bigint) as n_hours,
           round(l, 4) as level,
           round(b, 4) as trend,
           round(l + b, 4) as forecast_next,
           case when n > 2 then round(sqrt(sse / (n - 2)), 4)
                else null end as rmse_1step
    from step where t = n
    order by event_type
    """,
)
def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (double-exponential) smoothing of the hourly rate per
    event type: final level/trend state, the 1-step-ahead forecast, and
    the in-sample 1-step RMSE — the trend-aware forecaster one notch up
    from events_ewma, with the same engine shape.

    The coupled (level, trend) recurrence is non-associative, so — as for
    EWMA — each type's counts collapse to a time-ordered array (bounded
    by the TIME SPAN after the rollup shuffle) and fold left-to-right
    with a STRUCT accumulator carrying (l, b, sse); init l=x2, b=x2-x1 at
    t=2. Both engines execute the identical IEEE expression tree in the
    identical order (the oracle's recursive CTE inlines the same l'
    formula), so state matches bit-for-bit before the 4 dp rounding.
    Types with a single observed hour are dropped (trend undefined); a
    type with EXACTLY two observed hours passes the size >= 2 gate with
    zero smoothing steps, so sse = 0 and n - 2 = 0 — rmse_1step is NULL
    there (ANSI double 0/0 raises; DuckDB yields NULL — ADVICE r13),
    mirrored in the oracle's CASE.
    """
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "event_type",
            F.unix_seconds(F.col("w.start")).alias("hour_epoch"),
            "cnt",
        )
    )
    per_type = hourly.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("hour_epoch", "cnt"))),
            lambda s: s.cnt.cast("double"),
        ).alias("vals")
    ).filter(F.size("vals") >= 2)

    folded = per_type.select(
        "event_type",
        F.size("vals").alias("n"),
        holt_state(F.col("vals")).alias("st"),
    )
    return folded.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_hours"),
        F.round(F.col("st.l"), 4).alias("level"),
        F.round(F.col("st.b"), 4).alias("trend"),
        F.round(F.col("st.l") + F.col("st.b"), 4).alias("forecast_next"),
        F.when(
            F.col("n") > 2,
            F.round(F.sqrt(F.col("st.sse") / (F.col("n") - 2)), 4),
        )
        .otherwise(F.lit(None))
        .alias("rmse_1step"),
    ).orderBy("event_type")
