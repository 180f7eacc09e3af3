"""Extended relational surface (beyond the core SURVEY.md §2 checklist).

Rounds out the operator inventory with the remaining widely-used batch
shapes: pivot, exact percentiles, CUBE grouping, ntile bucketing,
first/last-value windows, string scalar functions, date-part extraction,
conditional (filtered) aggregation. Each stays a single declarative plan —
one shuffle for the aggregates, zero for the scalar maps — and keeps the
determinism rules (unique-key ordering, rounded doubles) used everywhere
else in the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exactmath import round_div, round_div_long, sql_round_div
from ..registry import register
from ..sources.io import load

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "pivot_event_counts",
    oracle="""
    select cast(user_id % 16 as bigint) as user_bucket,
           count(*) filter (where event_type = 'click')    as click,
           count(*) filter (where event_type = 'error')    as error,
           count(*) filter (where event_type = 'purchase') as purchase,
           count(*) filter (where event_type = 'signup')   as signup,
           count(*) filter (where event_type = 'view')     as view
    from events
    group by user_bucket
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type into count columns per user bucket.

    The explicit value list keeps the plan single-pass (no extra distinct
    scan to discover pivot values) — required at 100 TB.
    """
    ev = load(spark, sf_dir, "events")
    piv = (
        ev.groupBy((F.col("user_id") % 16).cast("bigint").alias("user_bucket"))
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return piv.na.fill(0, subset=list(EVENT_TYPES))


@register(
    "agg_percentiles",
    oracle="""
    select event_type,
           round(quantile_cont(value, 0.5), 4) as p50,
           round(quantile_cont(value, 0.9), 4) as p90,
           round(quantile_cont(value, 0.99), 4) as p99
    from events
    group by event_type
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type.

    Spark ``percentile`` and DuckDB ``quantile_cont`` both use linear
    interpolation at rank (n-1)·p, so values agree (rounded for fp).
    At 100 TB the sketch path is ``approx_percentile`` (t-digest, mergeable);
    exact percentile requires a per-group sort and is kept for parity.
    """
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
    )


@register(
    "agg_cube",
    oracle="""
    select o_orderstatus, o_orderpriority,
           round(sum(o_totalprice), 2) as revenue,
           count(*) as n_orders
    from orders
    group by cube(o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping sets in one Expand pass."""
    orders = load(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "window_ntile",
    oracle="""
    select o_orderkey, o_orderpriority,
           ntile(4) over (partition by o_orderpriority
                          order by o_totalprice, o_orderkey) as quartile
    from orders
    """,
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile bucketing within each priority class (unique-key order)."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "window_first_last",
    oracle="""
    select distinct o_custkey,
           first_value(o_orderkey) over w as first_order,
           last_value(o_orderkey) over w as last_order
    from orders
    window w as (partition by o_custkey order by o_orderdate, o_orderkey
                 rows between unbounded preceding and unbounded following)
    """,
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First and last order per customer in date order (deterministic frame)."""
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
    ).distinct()


@register(
    "map_string_funcs",
    oracle="""
    select p_partkey,
           upper(p_name) as name_upper,
           substr(p_type, 1, 4) as type_prefix,
           concat_ws('-', p_brand, p_type) as brand_type,
           cast(length(p_name) as bigint) as name_len,
           lpad(cast(p_size as varchar), 4, '0') as size_padded
    from part
    """,
)
def map_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function surface: upper/substring/concat/length/lpad —
    all codegen'd map-side, zero shuffle."""
    part = load(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_type", 1, 4).alias("type_prefix"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
    )


@register(
    "date_parts_agg",
    oracle="""
    select cast(year(o_orderdate) as int) as o_year,
           cast(month(o_orderdate) as int) as o_month,
           cast(isodow(o_orderdate) as int) as o_isodow,
           count(*) as n_orders
    from orders
    group by all
    """,
)
def date_parts_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal extraction surface: orders per (year, month, ISO weekday).

    Spark ``weekday()`` is 0=Monday; +1 matches DuckDB ``isodow`` (1=Monday).
    """
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("o_year"),
            F.month("o_orderdate").alias("o_month"),
            (F.weekday("o_orderdate") + 1).alias("o_isodow"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "funnel_conversion",
    oracle="""
    with v as (
      select user_id, min(ts) as t0 from events
      where event_type = 'view' group by user_id),
    c as (
      select e.user_id, min(e.ts) as t1
      from events e join v on e.user_id = v.user_id and e.ts > v.t0
      where e.event_type = 'click' group by e.user_id),
    p as (
      select e.user_id, min(e.ts) as t2
      from events e join c on e.user_id = c.user_id and e.ts > c.t1
      where e.event_type = 'purchase' group by e.user_id)
    select (select count(*) from v) as n_view,
           (select count(*) from c) as n_view_click,
           (select count(*) from p) as n_full_funnel
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel: users who viewed, then clicked AFTER the
    first view, then purchased AFTER that click.

    Stage n+1 joins only the stage-n survivors (semi-join-shrinking keys),
    each stage one min-aggregation — no per-user event sorting, no windows
    over the full stream. Timestamps are compared, never output
    (SURVEY.md §7.3.2: both engines read the ns column truncated to µs, so
    comparisons agree; raw ts values stay off the t2 surface).
    """
    ev = load(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_full_funnel")))
    )


@register(
    "sample_hash_split",
    oracle="""
    select case when o_orderkey % 10 < 8 then 'train'
                when o_orderkey % 10 = 8 then 'val'
                else 'test' end as split,
           count(*) as n_orders,
           round(sum(o_totalprice), 2) as total_price
    from orders
    group by split
    order by split
    """,
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 80/10/10 train/val/test split by key-mod bucketing.

    The training-pipeline sampling primitive: membership is a pure function
    of the row key (no rand(), no sampled-file state), so the split is
    stable across runs, engines, and incremental reprocessing — any subset
    of the corpus lands in the same split when reprocessed. Map-side only;
    the single shuffle is the summary aggregation. At 100 TB the same
    expression works as a partition filter for split-wise training reads.
    (Arithmetic mod rather than Spark hash() so DuckDB reproduces buckets —
    with uniformly-dense surrogate keys the two are equivalent samplers;
    for skewed natural keys swap in xxhash64(key) % 10, same plan shape.)
    """
    orders = load(spark, sf_dir, "orders")
    split = (
        F.when(F.col("o_orderkey") % 10 < 8, "train")
        .when(F.col("o_orderkey") % 10 == 8, "val")
        .otherwise("test")
    )
    return (
        orders.groupBy(split.alias("split"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("split")
    )


@register(
    "sql_shipping_priority",
    oracle="""
    select l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue,
           o_orderpriority
    from customer
    join orders   on c_custkey = o_custkey
    join lineitem on l_orderkey = o_orderkey
    where c_mktsegment = 'BUILDING'
      and o_orderdate < timestamp '1998-01-01'
      and l_shipdate  > timestamp '1998-01-01'
    group by l_orderkey, o_orderpriority
    order by revenue desc, l_orderkey
    limit 10
    """,
)
def sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape written through the SQL front-end (``spark.sql`` over
    temp views) — witnesses that the engine's surface is reachable as ANSI
    SQL, not only as the DataFrame API. Catalyst produces the identical
    plan either way."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        select l_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue,
               o_orderpriority
        from v_customer
        join v_orders   on c_custkey = o_custkey
        join v_lineitem on l_orderkey = o_orderkey
        where c_mktsegment = 'BUILDING'
          and o_orderdate < timestamp '1998-01-01'
          and l_shipdate  > timestamp '1998-01-01'
        group by l_orderkey, o_orderpriority
        order by revenue desc, l_orderkey
        limit 10
        """
    )


@register(
    "filter_above_avg",
    oracle="""
    select o_orderkey, o_totalprice
    from orders
    where o_totalprice > (select avg(o_totalprice) from orders)
    """,
)
def filter_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery filter: orders above the mean price.

    The average is computed once and broadcast as a one-row join — the
    Spark-native scalar subquery; no driver-side collect. Both engines
    compare against their own double mean; the predicate only flips for a
    row within one ulp of the mean, which cannot occur for these inputs
    (prices are well separated from the mean's error bound).
    """
    orders = load(spark, sf_dir, "orders")
    avg_price = orders.agg(F.avg("o_totalprice").alias("avg_price"))
    return (
        orders.crossJoin(F.broadcast(avg_price))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "reduce_variance",
    oracle="""
    select l_returnflag,
           round(stddev_samp(l_quantity), 2) as sd_qty,
           round(var_samp(l_quantity), 2) as var_qty,
           round(stddev_pop(l_quantity), 2) as sd_pop_qty
    from lineitem
    group by l_returnflag
    """,
)
def reduce_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates (sample/population stddev, variance)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 2).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 2).alias("var_qty"),
        F.round(F.stddev_pop("l_quantity"), 2).alias("sd_pop_qty"),
    )


@register(
    "agg_correlation",
    oracle=f"""
    select l_returnflag,
           round(corr(l_quantity, l_extendedprice), 4) as corr_qty_price,
           {sql_round_div(
               '(count(*) * sum(cast(l_quantity as hugeint)'
               '               * cast(round(l_extendedprice * 100) as hugeint))'
               ' - sum(cast(l_quantity as hugeint))'
               '   * sum(cast(round(l_extendedprice * 100) as hugeint)))',
               'count(*) * (count(*) - 1) * 100', 2)} as covar_qty_price
    from lineitem
    group by l_returnflag
    """,
)
def agg_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics: Pearson correlation + sample covariance.

    corr passes through sqrt (irrational off a measure-zero set — double
    round portable); covar_samp of an integer and a 2-dp money column is
    the exact rational (n*Sxy - Sx*Sy)/(100*n*(n-1)), rounded via the
    all-integer half-up (r16 tie rework)."""
    li = load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    pc = F.round(F.col("l_extendedprice") * 100).cast("long")
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    n = F.count(F.lit(1))
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        round_div(
            d38(n) * F.sum(q * pc) - d38(F.sum(q)) * F.sum(pc),
            d38(n) * (n - 1) * 100,
            2,
        ).alias("covar_qty_price"),
    )


@register(
    "agg_conditional",
    oracle=f"""
    select event_type,
           cast(count_if(value > 100) as bigint) as n_high,
           round(sum(value) filter (where value > 100), 2) as sum_high,
           {sql_round_div(
               'sum(cast(round(value * 100) as bigint))'
               ' filter (where value > 100)',
               '100 * count_if(value > 100)', 2)} as avg_high
    from events
    group by event_type
    """,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered/conditional aggregation (count_if / FILTER / CASE-in-agg)."""
    ev = load(spark, sf_dir, "events")
    high = F.when(F.col("value") > 100, F.col("value"))
    return ev.groupBy("event_type").agg(
        F.count_if(F.col("value") > 100).alias("n_high"),
        F.round(F.sum(high), 2).alias("sum_high"),
        # 2-dp mean via integer cents (reachable .xx5 ties); zero
        # matching rows -> NULL den -> NULL, matching avg-of-empty
        round_div(
            F.sum(F.round(high * 100).cast("long")),
            F.lit(100) * F.count_if(F.col("value") > 100),
            2,
        ).alias("avg_high"),
    )


@register(
    "unpivot_event_counts",
    oracle="""
    with piv as (
      select cast(user_id % 16 as bigint) as user_bucket,
             count(*) filter (where event_type = 'click')    as click,
             count(*) filter (where event_type = 'error')    as error,
             count(*) filter (where event_type = 'purchase') as purchase,
             count(*) filter (where event_type = 'signup')   as signup,
             count(*) filter (where event_type = 'view')     as view
      from events
      group by user_bucket)
    select user_bucket, event_type, cnt
    from piv
    unpivot (cnt for event_type in (click, error, purchase, signup, view))
    where cnt > 0
    """,
)
def unpivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt the pivoted per-bucket count columns back to long form
    (user_bucket, event_type, cnt) — the wide→long half of the reshape
    pair, via ``stack`` (Spark's UNPIVOT). Round-tripping through
    pivot+unpivot recovers exactly the nonzero groupBy counts, which is
    what the oracle checks.

    Map-side only after the pivot's single aggregation: stack expands each
    row to k rows with no shuffle — the plan stays one exchange total.
    """
    piv = pivot_event_counts(spark, sf_dir)
    cols = ", ".join(f"'{t}', {t}" for t in EVENT_TYPES)
    return (
        piv.select(
            "user_bucket",
            F.expr(
                f"stack({len(EVENT_TYPES)}, {cols}) as (event_type, cnt)"
            ),
        )
        .filter(F.col("cnt") > 0)
    )


@register(
    "window_percent_rank",
    oracle=f"""
    with r as (
      select o_orderkey,
             rank() over w - 1 as rk,
             row_number() over w as rn,
             count(*) over (partition by o_orderpriority) as n
      from orders
      window w as (partition by o_orderpriority
                   order by o_totalprice, o_orderkey))
    select o_orderkey,
           case when n = 1 then 0.0
                else {sql_round_div('rk', '(n - 1)', 6)} end as pr,
           {sql_round_div('rn', 'n', 6)} as cd
    from r
    """,
)
def window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist per priority partition — the relative-rank
    pair completing the analytic-window surface (rank/dense_rank, lag/lead,
    ntile, first/last, running sums are elsewhere). The (price, orderkey)
    ordering is total, so both functions are engine-deterministic; values
    are exact rationals of partition counts, rounded identically.
    """
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wp = Window.partitionBy("o_orderpriority")
    # percent_rank = (rank-1)/(n-1), cume_dist = rn/n (total order, so
    # no rank ties): both are integer ratios whose 6-dp double round can
    # tie engine-divergently (1/128 -> 0.0078125) — all-integer half-up.
    # r17 optimization round (guide §2.4/§7.2): name the THREE window
    # columns once, then round over attribute refs. Inlined, every
    # reference inside round_div_long's guard branches became its OWN
    # window expression — the Window operator computed 28 separate
    # count(1) and 10 rank/row_number columns per partition
    # (_we0.._we52).
    ranked = orders.select(
        "o_orderkey",
        (F.rank().over(w) - 1).alias("rk"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    n = F.col("n")
    return ranked.select(
        "o_orderkey",
        F.when(n == 1, F.lit(0.0))
        .otherwise(round_div_long(F.col("rk"), n - 1, 6))
        .alias("pr"),
        round_div_long(F.col("rn"), n, 6).alias("cd"),
    )


@register(
    "agg_collect_sorted",
    oracle="""
    select cast(user_id % 16 as bigint) as user_bucket,
           string_agg(distinct event_type, ',' order by event_type)
             as event_types,
           count(distinct event_type) as n_types
    from events
    group by user_bucket
    """,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic list aggregation: distinct event types per user bucket
    as a SORTED csv — collect_set order is nondeterministic across runs and
    engines, so sort_array before join is what makes a collected column
    hashable/comparable at all (the listagg/string_agg equivalent).
    """
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        (F.col("user_id") % 16).cast("bigint").alias("user_bucket")
    ).agg(
        F.array_join(
            F.sort_array(F.collect_set("event_type")), ","
        ).alias("event_types"),
        F.countDistinct("event_type").alias("n_types"),
    )


@register(
    "orders_repeat_purchase_curve",
    oracle=f"""
    with per_cust as (
      select o_custkey, count(*) as n_orders from orders group by o_custkey),
    hist as (
      select n_orders as k, count(*) as n_customers_exact
      from per_cust group by n_orders)
    select cast(k as bigint) as k, n_customers_exact,
           cast(sum(n_customers_exact) over (
                  order by k desc
                  rows between unbounded preceding and current row)
                as bigint) as n_customers_at_least,
           {sql_round_div(
               '''sum(n_customers_exact) over (
                   order by k desc
                   rows between unbounded preceding and current row)''',
               '(select sum(n_customers_exact) from hist)', 4)}
             as retention
    from hist
    order by k
    """,
)
def orders_repeat_purchase_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase retention curve: for each order count k, how many
    customers placed exactly k and at least k orders, plus the share of
    the customer base reaching k — the lifecycle curve behind "what
    fraction of customers ever come back?".

    Two map-side-combining aggregations (orders -> per-customer counts ->
    k-histogram); the cumulative "at least k" sum windows over the
    k-cardinality histogram only (tens of rows at any corpus size —
    the same bounded-rollup trick as eval_auc and
    pipeline_curriculum_order). Integer counts end-to-end; the retention
    ratio is the single terminal divide.
    """
    orders = load(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    hist = per_cust.groupBy(F.col("n_orders").alias("k")).agg(
        F.count(F.lit(1)).alias("n_customers_exact")
    )
    w = Window.orderBy(F.desc("k")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    at_least = F.sum("n_customers_exact").over(w)
    return hist.select(
        F.col("k").cast("bigint").alias("k"),
        "n_customers_exact",
        at_least.cast("bigint").alias("n_customers_at_least"),
        round_div_long(
            at_least, F.sum("n_customers_exact").over(total), 4
        ).alias("retention"),
    ).orderBy("k")
