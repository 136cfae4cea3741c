"""Relational analytics over the star schema.

The reference has no joins and no Spark-side aggregation (SURVEY
§2.6-2.7: its whole query workload is five pandas aggregates); this
module is the engine's general-purpose analytic surface — joins,
grouped/rolled-up aggregation, window functions, set ops,
sessionization — built so the physical plans hold at 100 TB:

- Dimension joins take ``broadcast()`` hints (region/nation/supplier/
  customer are small at any SF; AQE would pick broadcast anyway, the
  hint removes the dependency on stats).
- Top-k is always ``orderBy().limit(k)`` → TakeOrderedAndProject
  (per-partition heaps, no global sort).
- All money aggregates are rounded at the boundary so results are
  reproducible bit-for-bit against the DuckDB oracle.
- Sessionization is a two-window composition (lag → running sum) —
  shuffles once on user_id, then both windows reuse that partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pricing_summary(lineitem: DataFrame, cutoff: str = "2000-12-01") -> DataFrame:
    """TPC-H Q1 shape: one narrow scan → partial/final hash agg.
    The shipdate filter pushes down to the parquet scan."""
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit(cutoff)))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def shipping_priority(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    date: str = "1998-01-01",
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → broadcast join → agg →
    top-k. customer is broadcast (tiny after the segment filter);
    orders⋈lineitem shuffles on orderkey once."""
    revenue = F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
    cust = customer.filter(F.col("c_mktsegment") == segment).select("c_custkey")
    return (
        lineitem.filter(F.col("l_shipdate") > F.to_timestamp(F.lit(date)))
        .join(
            orders.filter(F.col("o_orderdate") < F.to_timestamp(F.lit(date))),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(revenue.alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(k)
    )


def nation_revenue(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """TPC-H Q5 shape: 6-way join, local-supplier condition
    (c_nationkey = s_nationkey). All dims broadcast; the only big
    shuffle is lineitem⋈orders on orderkey."""
    revenue = F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(revenue.alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("r_name"), F.asc("n_name"))
    )


def top_customers(customer: DataFrame, orders: DataFrame, k: int = 10) -> DataFrame:
    """Revenue top-k with deterministic tiebreak."""
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .join(F.broadcast(customer.select("c_custkey", "c_name")),
              F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "revenue", "n_orders")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(k)
    )


def mktsegment_rollup(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """ROLLUP over (segment, status) — subtotals + grand total."""
    return (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .rollup("c_mktsegment", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def orders_cube(orders: DataFrame) -> DataFrame:
    """CUBE over (status, priority)."""
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
    )


def customer_order_rank(orders: DataFrame, k: int = 3) -> DataFrame:
    """Top-k orders per customer — partitioned window; shuffles once
    on o_custkey, scales with the number of customers."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= k)
    )


def customers_without_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Anti join (NOT EXISTS)."""
    return customer.join(
        orders.select("o_custkey"),
        customer["c_custkey"] == F.col("o_custkey"),
        "left_anti",
    ).select("c_custkey", "c_name")


def purchasing_customers(customer: DataFrame, events: DataFrame) -> DataFrame:
    """Semi join (EXISTS): customers with at least one purchase event
    (events.user_id keys into c_custkey)."""
    purchases = events.filter(F.col("event_type") == "purchase").select("user_id")
    return customer.join(
        purchases, customer["c_custkey"] == F.col("user_id"), "left_semi"
    ).select("c_custkey", "c_name")


def open_not_pending_customers(orders: DataFrame) -> DataFrame:
    """EXCEPT (distinct set difference) — ``subtract`` is Spark's
    EXCEPT DISTINCT (``exceptAll`` would be bag semantics)."""
    opened = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    pending = orders.filter(F.col("o_orderstatus") == "P").select("o_custkey")
    return opened.subtract(pending)


def viewers_and_clickers(events: DataFrame) -> DataFrame:
    """INTERSECT."""
    views = events.filter(F.col("event_type") == "view").select("user_id")
    clicks = events.filter(F.col("event_type") == "click").select("user_id")
    return views.intersect(clicks)


def distinct_stats(events: DataFrame) -> DataFrame:
    """Multi-distinct aggregate (expands to two shuffles; exact)."""
    return events.agg(
        F.countDistinct("user_id").alias("users"),
        F.countDistinct("event_type").alias("types"),
        F.count(F.lit(1)).alias("n"),
    )


def approx_distinct_users(events: DataFrame, rsd: float = 0.02) -> DataFrame:
    """HyperLogLog++ sketch — the 100 TB answer to COUNT(DISTINCT):
    one pass, no distinct-expand shuffle, mergeable partial sketches.
    Non-deterministic vs an exact oracle → rows-only check."""
    return events.agg(F.approx_count_distinct("user_id", rsd).alias("approx_users"))


def approx_distinct_check(events: DataFrame, rsd: float = 0.02) -> DataFrame:
    """Accuracy-bounded form of the HLL sketch for the oracle gate:
    exact distinct count alongside `within_tolerance` asserting the
    sketch is within 3·rsd of exact. The sketch is deterministic for
    fixed input, so the boolean is reproducible and an exact-SQL
    oracle can demand `true`."""
    agg = events.agg(
        F.approx_count_distinct("user_id", rsd).alias("approx"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return agg.select(
        "exact_users",
        (
            F.abs(F.col("approx") - F.col("exact_users")) / F.col("exact_users")
            <= 3 * rsd
        ).alias("within_tolerance"),
    )


def approx_quantiles_check(
    orders: DataFrame, accuracy: int = 10000, tol: float = 0.005
) -> DataFrame:
    """Quantile sketch with an accuracy-bounded oracle — the
    percentile counterpart of approx_distinct_check. percentile_approx
    (Greenwald-Khanna sketch: one pass, mergeable partials, no global
    sort) is compared in-query against the exact interpolated
    percentile; the oracle demands the exact values plus
    `within_tolerance = true`. At 100 TB the sketch path is the only
    viable one — exact percentile needs a full sort or a
    single-partition window."""
    ps = [0.5, 0.9, 0.99]
    agg = orders.agg(
        F.percentile_approx("o_totalprice", ps, accuracy).alias("approx"),
        F.percentile("o_totalprice", ps).alias("exact"),
    )
    within = F.aggregate(
        F.zip_with(
            F.col("approx"),
            F.col("exact"),
            lambda a, e: (F.abs(a - e) / e) <= tol,
        ),
        F.lit(True),
        lambda acc, x: acc & x,
    )
    return agg.select(
        # 4dp, matching revenue_percentiles: interpolated midpoints of
        # 2dp prices stop at the 3rd decimal, so a 4dp round never
        # sits on a half-way knife edge (see PERF.md float discipline)
        F.round(F.element_at("exact", 1), 4).alias("exact_p50"),
        F.round(F.element_at("exact", 2), 4).alias("exact_p90"),
        F.round(F.element_at("exact", 3), 4).alias("exact_p99"),
        within.alias("within_tolerance"),
    )


def events_hourly(events: DataFrame) -> DataFrame:
    """Tumbling-window aggregate (batch form of the streaming windowed
    agg — same window() operator Structured Streaming uses)."""
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gaps-and-islands sessionization: new session when the gap from
    the previous event of the same user exceeds ``gap_minutes``.

    Both windows share the user_id partitioning → one shuffle total.
    (The streaming twin uses session_window — streaming/pipeline.py.)
    """
    w_user = Window.partitionBy("user_id").orderBy("ts")
    gap_us = gap_minutes * 60 * 1_000_000
    is_new = (
        F.col("prev_ts").isNull()
        | ((F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev_ts"))) > gap_us)
    ).cast("long")
    return (
        events.select("user_id", "ts")
        .withColumn("prev_ts", F.lag("ts").over(w_user))
        .withColumn("is_new", is_new)
        .withColumn(
            "session_id",
            F.sum("is_new").over(
                w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# Shared defaults for the churn/bootstrap statistical family. The SQL
# oracles in plans/registry.py interpolate THESE values (f-strings),
# so changing a default here keeps operator and oracle in lockstep —
# a hand-edited literal on one side can no longer desync the parity
# gate (ADVICE r3).
CHURN_HORIZON_DAYS = 90
BOOTSTRAP_REPS = 100

# Round-4 family defaults — interpolated into the SQL oracles in
# plans/registry.py (f-strings), same lockstep contract as above.
KS_BIN_USD = 10
BLOOM_M_BITS = 32768
BLOOM_K_HASHES = 4
DEBOUNCE_GAP_S = 300
WATERMARK_BLOCK = 1000
WATERMARK_DELAYS_S = (60, 300, 3600)
DOW_Z_THRESH = 3.0


def bootstrap_ci_ranks(n_reps: int) -> tuple[int, int]:
    """Percentile-bootstrap 95% CI ranks, standard convention:
    lo = ceil((R+1)·0.025), hi = floor((R+1)·0.975) — symmetric
    (drops the same replicate mass on both tails; for R=100 that is
    ranks 3 and 98). Shared by the operator and its SQL oracle."""
    import math

    lo = max(1, math.ceil((n_reps + 1) * 0.025))
    hi = min(n_reps, math.floor((n_reps + 1) * 0.975))
    return lo, hi


def event_type_pivot(events: DataFrame) -> DataFrame:
    """PIVOT with an explicit value list (no extra distinct-scan job);
    absent combinations are 0, not NULL."""
    out = events.groupBy("user_id").pivot("event_type", EVENT_TYPES).count()
    return out.na.fill(0, EVENT_TYPES).select(
        "user_id", *[F.col(t).cast("long").alias(t) for t in EVENT_TYPES]
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_salts: int = 8,
) -> DataFrame:
    """Skew-mitigating equi-join: fact rows scatter across `n_salts`
    sub-keys (deterministic hash of the whole row, no RNG), the dim
    side replicates ×n_salts, and the join runs on (key, salt) so one
    hot key spreads over n_salts reducers instead of one straggler.

    AQE's skew-join split handles moderate skew automatically; this is
    the explicit form for pathological keys (or non-AQE engines).
    Result is identical to the plain join — tests assert it.
    """
    fact_salted = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(n_salts))
    )
    dim_salted = dim.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<long>")),
    )
    return (
        fact_salted.join(
            dim_salted,
            (fact_salted[fact_key] == dim_salted[dim_key])
            & (fact_salted["_salt"] == dim_salted["_salt"]),
        )
        .drop("_salt")
    )


def clicks_before_errors(events: DataFrame, window_minutes: int = 5) -> DataFrame:
    """Time-range join, banded: for each error event, count clicks by
    the same user in the preceding `window_minutes`.

    A naive `t BETWEEN a AND b` join compiles to a nested-loop — fatal
    at scale. Banding makes it an equi-join: both sides bucket time by
    the window size; a qualifying click can only be in the error's
    bucket or the one before, so each error probes exactly two
    (user, bucket) keys and the exact range predicate filters within
    candidates. Shuffle is keyed on (user, bucket) — uniform.
    """
    gap_us = window_minutes * 60 * 1_000_000
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.unix_micros("ts").alias("click_us"),
        (F.unix_micros("ts") / gap_us).cast("long").alias("c_bucket"),
    )
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("e_user"),
        F.unix_micros("ts").alias("err_us"),
        (F.unix_micros("ts") / gap_us).cast("long").alias("e_bucket"),
    )
    probes = errors.withColumn(
        "c_bucket", F.explode(F.array(F.col("e_bucket") - 1, F.col("e_bucket")))
    )
    return (
        probes.join(
            clicks,
            (F.col("c_user") == F.col("e_user"))
            & (clicks["c_bucket"] == probes["c_bucket"]),
        )
        .filter(
            (F.col("click_us") >= F.col("err_us") - gap_us)
            & (F.col("click_us") < F.col("err_us"))
        )
        .groupBy("error_id")
        .agg(F.count(F.lit(1)).alias("n_preceding_clicks"))
    )


def props_avg_by_type(events: DataFrame) -> DataFrame:
    """Semi-structured extraction: pull a field out of the JSON props
    column (JVM-side get_json_object — no parse to Python)."""
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return events.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"), F.count(k).alias("n_with_k")
    )


def props_variant_stats(events: DataFrame) -> DataFrame:
    """Same extraction through Spark 4's VARIANT type (parse once into
    a binary semi-structured value, typed access via variant_get) —
    the modern path when props are accessed repeatedly: the parse
    happens once per row, not once per JsonPath."""
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "int")
    return events.groupBy("event_type").agg(
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.count(k).alias("n_with_k"),
    )


def daily_revenue_moving_avg(orders: DataFrame, days: int = 7) -> DataFrame:
    """Frame-based window: N-row moving average over the (tiny) daily
    aggregate — the window runs on ~2400 rows, not the raw orders."""
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(F.sum("o_totalprice").alias("revenue"))
    w = Window.orderBy("day").rowsBetween(-(days - 1), 0)
    return daily.select(
        "day",
        F.round("revenue", 2).alias("revenue"),
        F.round(F.avg("revenue").over(w), 4).alias(f"ma{days}"),
        F.round(F.col("revenue") - F.lag("revenue", 1).over(Window.orderBy("day")), 2).alias(
            "dod_delta"
        ),
    )


def last_signup_asof(events: DataFrame) -> DataFrame:
    """As-of association via running conditional max — for each event,
    the most recent signup time of the same user at or before it.
    Deliberately join-free: a windowed running max scales as one
    shuffle on user_id, where the naive as-of join would be
    events×orders per key."""
    w = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    signup_ts = F.when(F.col("event_type") == "signup", F.col("ts"))
    return events.select(
        "event_id", "user_id", "ts", F.max(signup_ts).over(w).alias("last_signup_ts")
    )


def revenue_percentiles(orders: DataFrame) -> DataFrame:
    """Exact continuous percentiles (interpolated, matching ANSI
    percentile_cont). The sketch-based alternative for 100 TB is
    approx_percentile — see approx_distinct_users for the pattern."""
    return orders.agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
    )


def latest_order_asof_events(events: DataFrame, orders: DataFrame) -> DataFrame:
    """Latest order per user attached to every event: one mergeable
    max_by aggregate over orders (argmax on (o_orderdate, o_orderkey)
    — deterministic tiebreak), then a key join into events. All JVM:
    measured 23.4 s → 1.3 s at sf0.1 vs the cogrouped-pandas variant
    below, which shipped the whole events table through Arrow for
    what is algebraically an aggregate + join. The pandas cogroup
    surface stays covered by latest_order_asof_events_cogroup
    (pytest-equality-pinned to this plan) for the per-key alignment
    logic Spark SQL genuinely can't express."""
    latest = orders.groupBy(F.col("o_custkey").alias("user_id")).agg(
        F.max_by(
            "o_orderkey", F.struct("o_orderdate", "o_orderkey")
        ).alias("latest_orderkey")
    )
    return events.select("event_id", "user_id").join(
        latest, "user_id", "left"
    ).select("event_id", "user_id", "latest_orderkey")


def latest_order_asof_events_cogroup(
    events: DataFrame, orders: DataFrame
) -> DataFrame:
    """Cogrouped applyInPandas: per user, as-of merge events against
    that customer's order history (pandas merge_asof semantics,
    deterministic tiebreak on orderkey). Both sides shuffle once on
    the key; pandas sees one (events, orders) frame pair per user —
    the cogroup API surface for per-key alignment logic Spark SQL
    can't express directly. Kept as the cogroup demonstration;
    results are pinned equal to latest_order_asof_events in tests."""
    import pandas as pd

    def merge(evts: pd.DataFrame, ords: pd.DataFrame) -> pd.DataFrame:
        if len(evts) == 0:
            return pd.DataFrame(
                columns=["event_id", "user_id", "latest_orderkey"]
            )
        if len(ords) == 0:
            latest = None
        else:
            # latest order; ties on o_orderdate broken by max orderkey
            top = ords.sort_values(["o_orderdate", "o_orderkey"]).iloc[-1]
            latest = int(top["o_orderkey"])
        return pd.DataFrame(
            {
                "event_id": evts["event_id"],
                "user_id": evts["user_id"],
                "latest_orderkey": latest,
            }
        )

    return (
        events.select("event_id", "user_id")
        .groupBy("user_id")
        .cogroup(
            orders.select("o_custkey", "o_orderkey", "o_orderdate").groupBy(
                "o_custkey"
            )
        )
        .applyInPandas(
            merge, schema="event_id long, user_id long, latest_orderkey long"
        )
    )


def _temp_view(df: DataFrame, prefix: str) -> str:
    """Collision-safe temp view (unique name per call, so concurrent
    query invocations in one session can't clobber each other)."""
    import uuid

    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    df.createOrReplaceTempView(name)
    return name


def segment_priority_grouping_sets(
    spark, customer: DataFrame, orders: DataFrame
) -> DataFrame:
    """GROUPING SETS via the SQL surface (every engine query is also
    runnable as spark.sql — SURVEY M2)."""
    c = _temp_view(customer, "gs_customer")
    o = _temp_view(orders, "gs_orders")
    return spark.sql(
        f"""SELECT c_mktsegment, o_orderpriority, count(*) AS n_orders
           FROM {o} JOIN {c} ON o_custkey = c_custkey
           GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority))"""
    )


def above_avg_orders(spark, orders: DataFrame) -> DataFrame:
    """Correlated subquery (decorrelated by Catalyst into an
    aggregate + join): orders larger than their customer's average."""
    t = _temp_view(orders, "sub_orders")
    return spark.sql(
        f"""SELECT o_orderkey, o_custkey, o_totalprice FROM {t} o
           WHERE o_totalprice > 2 * (SELECT avg(i.o_totalprice)
                                     FROM {t} i
                                     WHERE i.o_custkey = o.o_custkey)"""
    )


def daily_revenue_range_ma(orders: DataFrame, days: int = 7) -> DataFrame:
    """RANGE-frame moving average (calendar days, not rows): gaps in
    the date sequence shrink the window, unlike the ROWS frame of
    daily_revenue_moving_avg. Spark range frames need a numeric
    ordering key → unix_date."""
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum("o_totalprice").alias("revenue")
    )
    w = (
        Window.orderBy(F.unix_date(F.col("day")))
        .rangeBetween(-(days - 1), 0)
    )
    return daily.select(
        "day",
        F.round("revenue", 2).alias("revenue"),
        F.round(F.avg("revenue").over(w), 4).alias("range_ma"),
    )


def customer_revenue_quartiles(orders: DataFrame) -> DataFrame:
    """ntile bucketing over per-customer revenue (deterministic
    tiebreak on the key)."""
    rev = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    w = Window.orderBy(F.desc("revenue"), F.asc("o_custkey"))
    return rev.select(
        "o_custkey", "revenue", F.ntile(4).over(w).cast("long").alias("quartile")
    )


def user_event_type_sets(events: DataFrame) -> DataFrame:
    """Distinct event types per user as a sorted comma-joined string
    (portable scalar rendering of the set) plus the set cardinality."""
    return events.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("types"),
        F.size(F.collect_set("event_type")).alias("n_types"),
    )


def largest_order_per_customer(orders: DataFrame) -> DataFrame:
    """Argmax aggregation (max_by) with a deterministic struct
    tiebreak — one row per customer without a window."""
    return orders.groupBy("o_custkey").agg(
        F.expr(
            "max_by(o_orderkey, struct(o_totalprice, o_orderkey))"
        ).alias("top_orderkey"),
        F.round(F.max("o_totalprice"), 2).alias("top_price"),
    )


def orders_by_month(orders: DataFrame) -> DataFrame:
    """Calendar bucketing on the natural time column."""
    return (
        orders.groupBy(F.to_date(F.date_trunc("month", "o_orderdate")).alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("month")
    )


def conversion_funnel(events: DataFrame) -> DataFrame:
    """Ordered conversion funnel view → click → purchase.

    A user advances a stage only with an event strictly AFTER the
    timestamp that completed the previous stage (first-touch
    attribution). Implemented as three key-partitioned conditional
    aggregations joined on user_id — every shuffle is on user_id, so
    with the events table bucketed by user_id the whole funnel runs
    exchange-free; nothing is quadratic and no window over the full
    event log is needed.
    """
    first_view = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    first_click = (
        events.filter(F.col("event_type") == "click")
        .join(first_view, "user_id")
        .filter(F.col("ts") > F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    first_purchase = (
        events.filter(F.col("event_type") == "purchase")
        .join(first_click, "user_id")
        .filter(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    stages = [
        ("1_view", first_view),
        ("2_click_after_view", first_click),
        ("3_purchase_after_click", first_purchase),
    ]
    out = None
    for name, df in stages:
        row = df.agg(
            F.lit(name).alias("stage"), F.count(F.lit(1)).alias("n_users")
        )
        out = row if out is None else out.unionAll(row)
    return out


def cohort_retention(events: DataFrame) -> DataFrame:
    """Daily cohort retention matrix: users grouped by the day of
    their first event; for each later day, how many were active
    (classic retention triangle; the corpus spans one month so the
    cohort grain is daily).

    Two aggregations and one join, all keyed on user_id / cohort —
    the distinct() collapses the event log to user-days first so the
    join input is tiny relative to the raw log.
    """
    cohort = events.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("cohort_day")
    )
    active = events.select(
        "user_id", F.to_date("ts").alias("act_day")
    ).distinct()
    return (
        active.join(cohort, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("act_day", F.col("cohort_day")).alias("days_since"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


def promo_revenue_share(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q14 shape: percentage of revenue from PROMO-type parts.
    part broadcasts; lineitem is scanned once with a conditional
    partial aggregate (no shuffle of line-level rows — only the two
    partial sums move)."""
    from .text import round4

    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            round4(F.lit(100.0) * F.sum(promo) / F.sum(rev)).alias(
                "promo_share_pct"
            )
        )
    )


def returned_items_report(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    k: int = 20,
) -> DataFrame:
    """TPC-H Q10 shape: customers who returned the most revenue
    (l_returnflag = 'R'). The returnflag filter is pushed to the
    parquet scan; customer/nation broadcast; the only big shuffle is
    lineitem⋈orders on orderkey; top-k is TakeOrderedAndProject."""
    revenue = F.round(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
    )
    return (
        lineitem.filter(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(revenue.alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(k)
    )


def top_suppliers_by_revenue(
    lineitem: DataFrame, supplier: DataFrame, k: int = 5
) -> DataFrame:
    """TPC-H Q15 shape: rank suppliers by shipped revenue, keep the
    top k INCLUDING ties (rank(), not row_number()). The per-supplier
    aggregate is tiny, so the single-partition ranking window is over
    supplier-count rows, never line-level data."""
    revenue = F.round(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
    )
    per_supp = (
        lineitem.groupBy("l_suppkey").agg(revenue.alias("revenue"))
    )
    w = Window.orderBy(F.desc("revenue"))
    return (
        per_supp.withColumn("rnk", F.rank().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey"), F.col("s_name"), F.col("revenue"), F.col("rnk")
        )
        .orderBy("rnk", "s_suppkey")
    )


def large_volume_orders(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    min_qty: float = 250.0,
    k: int = 20,
) -> DataFrame:
    """TPC-H Q18 shape: orders whose total line quantity exceeds a
    threshold (GROUP BY + HAVING over the fact table), joined back to
    order/customer detail. The HAVING aggregate collapses lineitem to
    per-order rows BEFORE any join — the join inputs are the filtered
    survivors, not line-level data."""
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > min_qty)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            F.round(F.col("o_totalprice"), 2).alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(k)
    )


def late_shipment_priority(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4 shape: order counts by priority where at least one
    line shipped after the order date — an EXISTS (left-semi) join
    whose condition mixes an equi key with an inequality. The semi
    join keeps orders rows only; lineitem never widens the output."""
    late_lines = lineitem.select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            late_lines,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late_orders"))
        .orderBy("o_orderpriority")
    )


def daily_revenue_delta(orders: DataFrame) -> DataFrame:
    """Day-over-day revenue change (lag window over the daily
    aggregate). The window runs over day-count rows — the raw orders
    are collapsed first, so the unpartitioned ordering is never
    applied to fact-table volume."""
    from .text import round4

    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("day")
    prev = F.lag("revenue").over(w)
    return daily.select(
        "day",
        "revenue",
        F.round(F.col("revenue") - prev, 2).alias("delta"),
        round4((F.col("revenue") - prev) / prev * 100).alias("pct_change"),
    )


def waiting_suppliers(
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    late_days: int = 60,
    k: int = 10,
) -> DataFrame:
    """TPC-H Q21-style: suppliers who were the SOLE late shipper in a
    multi-supplier finished order — the hardest join shape in the
    surface (EXISTS + NOT EXISTS, each an equi-join on the order key
    with a supplier-inequality residual).

    Scale shape: the semi and the anti join key on l_orderkey only —
    the supplier inequality is a post-match residual, never a join
    key — so both are ordinary hash joins (AQE broadcasts the late
    set when it is small; at full scale they shuffle on the shared
    l_orderkey partitioning). No correlated per-row subquery and no
    nested-loop join exists anywhere in the plan.
    """
    li = lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
    fin = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    late = (
        li.join(fin, li.l_orderkey == fin.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS")
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    others = li.select("l_orderkey", "l_suppkey").distinct()
    a = late.alias("a")
    with_other = a.join(
        others.alias("b"),
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_suppkey") != F.col("b.l_suppkey")),
        "left_semi",
    )
    sole_late = with_other.alias("a").join(
        late.alias("c"),
        (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
        & (F.col("a.l_suppkey") != F.col("c.l_suppkey")),
        "left_anti",
    )
    return (
        sole_late.join(
            F.broadcast(supplier), sole_late.l_suppkey == supplier.s_suppkey
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(k)
    )


def event_type_unpivot(events: DataFrame) -> DataFrame:
    """UNPIVOT (melt): the wide per-user event-type matrix back to
    long (user_id, event_type, n) rows — the reshape inverse of
    event_type_pivot. unpivot() is a zero-shuffle projection over the
    already-aggregated wide table (Expand node, map-side only); rows
    with n = 0 are dropped to mirror the long-form groupBy exactly.
    """
    wide = event_type_pivot(events)
    return (
        wide.unpivot("user_id", EVENT_TYPES, "event_type", "n")
        .filter(F.col("n") > 0)
    )


# ------------------------------------------------------------------
# TPC-H-style join/subquery shapes (adapted to this star schema: no
# partsupp table, no commitdate/receiptdate/shipmode columns)
# ------------------------------------------------------------------

def _rev():
    """Line revenue expression (built lazily — F.col needs a session)."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def volume_shipping(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
) -> DataFrame:
    """TPC-H Q7 shape: bilateral shipping volume between two nations
    by ship year. The nation dimension participates TWICE (supplier
    side and customer side) — both copies broadcast, so the only
    line-level shuffle is lineitem⋈orders on orderkey. The nation-pair
    filter is applied before the aggregate so only qualifying rows
    reach the final groupBy."""
    supp_nation = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust_nation = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == nation_a) & (F.col("cust_nation") == nation_b)
    ) | ((F.col("supp_nation") == nation_b) & (F.col("cust_nation") == nation_a))
    return (
        lineitem.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cust_nation), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def nation_market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part: DataFrame,
    target_nation: str = "NATION_2",
    target_region: str = "ASIA",
    part_type: str = "ECONOMY",
) -> DataFrame:
    """TPC-H Q8 shape: the target nation's share of revenue for one
    part type sold into one region, per order year. All dimensions
    broadcast; the share is a conditional-sum ratio computed in a
    single aggregate pass (no second scan for the denominator)."""
    from .text import round4

    cust_nation = (
        nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == target_region)
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    supp_nation = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    in_share = F.when(F.col("supp_nation") == target_nation, _rev()).otherwise(
        F.lit(0.0)
    )
    return (
        lineitem.join(
            F.broadcast(part.filter(F.col("p_type") == part_type)),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cust_nation), F.col("c_nationkey") == F.col("cn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(round4(F.sum(in_share) / F.sum(_rev())).alias("mkt_share"))
        .orderBy("o_year")
    )


def product_profit(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    part: DataFrame,
    name_token: str = "widget",
    cost_factor: float = 0.8,
) -> DataFrame:
    """TPC-H Q9 shape adapted (no partsupp → supply cost is proxied as
    ``cost_factor * p_retailprice``): profit on parts whose name
    contains a token, by supplier nation and ship year. part/supplier/
    nation broadcast; lineitem is scanned once and never re-widened."""
    profit = _rev() - F.lit(cost_factor) * F.col("p_retailprice") * F.col(
        "l_quantity"
    )
    return (
        lineitem.join(
            F.broadcast(part.filter(F.col("p_name").contains(name_token))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"), F.year("l_shipdate").alias("l_year")
        )
        .agg(F.round(F.sum(profit), 2).alias("profit"))
        .orderBy("nation", F.desc("l_year"))
    )


def customer_order_distribution(
    customer: DataFrame, orders: DataFrame
) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed how many orders,
    INCLUDING zero-order customers (the left outer join is the point —
    an inner join would silently drop the largest bucket). Two
    aggregations: per-customer counts shuffle on custkey; the
    histogram over those counts is tiny."""
    per_cust = (
        customer.join(
            orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.desc("n_orders"))
    )


def min_price_supplier(
    lineitem: DataFrame, part: DataFrame, supplier: DataFrame, k: int = 25
) -> DataFrame:
    """TPC-H Q2 shape adapted (no partsupp → the 'offer' is the
    observed unit price ``l_extendedprice / l_quantity``): for each
    part, the supplier with the cheapest observed unit price. The
    min-per-group is a window row_number partitioned BY PART KEY — a
    keyed window that scales out, not a global sort. Detail joins are
    applied to the one-row-per-part survivors only."""
    unit = (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    offers = (
        lineitem.select("l_partkey", "l_suppkey", unit)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("unit_price").alias("best"))
    )
    w = Window.partitionBy("l_partkey").orderBy(F.asc("best"), F.asc("l_suppkey"))
    return (
        offers.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "p_partkey",
            "p_name",
            "s_suppkey",
            "s_name",
            F.round(F.col("best"), 2).alias("best_price"),
        )
        .orderBy("p_partkey")
        .limit(k)
    )


def forecast_revenue(
    lineitem: DataFrame,
    year: int = 1996,
    discount: float = 0.05,
    max_qty: float = 24.0,
) -> DataFrame:
    """TPC-H Q6 shape: revenue increase if discounts in a band were
    eliminated — a pure filter + single-value aggregate. Every
    predicate (year, discount band, quantity) pushes to the parquet
    scan; only two partial-sum doubles ever move between stages."""
    return (
        lineitem.filter(
            (F.year("l_shipdate") == year)
            & (F.col("l_discount") >= discount - 0.011)
            & (F.col("l_discount") <= discount + 0.011)
            & (F.col("l_quantity") < max_qty)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


def supplier_part_breadth(
    lineitem: DataFrame,
    part: DataFrame,
    excluded_brand: str = "Brand#1",
    sizes: tuple[int, ...] = (1, 5, 10, 15, 20, 25),
) -> DataFrame:
    """TPC-H Q16 shape adapted (supplier-part pairs observed in
    lineitem stand in for partsupp): how many distinct suppliers can
    ship each (brand, type) bucket. COUNT(DISTINCT) expands to a
    two-level aggregate — the first level dedups (brand, type,
    suppkey) triples map-side before anything wide shuffles."""
    return (
        lineitem.join(
            F.broadcast(
                part.filter(
                    (F.col("p_brand") != excluded_brand)
                    & F.col("p_size").isin(list(sizes))
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type")
    )


def small_qty_part_revenue(
    lineitem: DataFrame, part: DataFrame, brand: str = "Brand#3"
) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue lost if small-quantity
    orders (below 20% of the part's average quantity) were not taken.
    The per-part average is its own aggregate joined back ON THE PART
    KEY — co-partitioned with the probe side, so the correlated
    subquery decorrelates into one keyed shuffle, not a rescan per
    row."""
    brand_lines = lineitem.join(
        F.broadcast(part.filter(F.col("p_brand") == brand)),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    avg_qty = brand_lines.groupBy(F.col("l_partkey").alias("ak_partkey")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_cutoff")
    )
    return (
        brand_lines.join(
            F.broadcast(avg_qty), F.col("l_partkey") == F.col("ak_partkey")
        )
        .filter(F.col("l_quantity") < F.col("qty_cutoff"))
        .agg((F.round(F.sum("l_extendedprice") / 7.0, 2)).alias("avg_yearly"))
    )


def disjunctive_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate mixing
    part attributes (brand, size) with line attributes (quantity).
    The join stays a single broadcast-hash join with the disjunction
    evaluated as a post-join filter — Catalyst additionally pushes
    the brand/size union down into the part scan."""
    cases = (
        (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#14")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#21")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cases)
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
    )


def promo_part_suppliers(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    year: int = 1997,
    min_qty: float = 50.0,
) -> DataFrame:
    """TPC-H Q20 shape adapted: suppliers who shipped a meaningful
    volume of PROMO-type parts in one year. The HAVING threshold
    collapses lineitem to per-supplier rows before the detail joins;
    supplier/nation broadcast against the handful of survivors."""
    promo_qty = (
        lineitem.filter(F.year("l_shipdate") == year)
        .join(
            F.broadcast(part.filter(F.col("p_type") == "PROMO")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("l_suppkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("promo_qty"))
        .filter(F.col("promo_qty") > min_qty)
    )
    return (
        promo_qty.join(
            F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name", "promo_qty")
        .orderBy("s_suppkey")
    )


def idle_rich_customers(
    customer: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
    idle_since: str = "2000-01-01",
) -> DataFrame:
    """TPC-H Q22 shape: per-nation count and total balance of
    customers with above-average positive balance and no RECENT
    orders (none since ``idle_since``). The global average is a
    scalar aggregate broadcast into the filter; the no-recent-orders
    test is a left-anti join on custkey against the date-filtered
    orders (filter pushed to the scan, anti join is the one keyed
    shuffle); nation broadcasts."""
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.to_timestamp(F.lit(idle_since))
    ).select("o_custkey")
    return (
        customer.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("n_name")
    )


def hll_mergeability_check(events: DataFrame, lg_k: int = 14) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL via
    hll_sketch_agg): per-segment sketches unioned with hll_union_agg
    must estimate the SAME value as one direct global sketch — the
    property that makes pre-aggregated distinct counts work at 100 TB
    (build tiny per-partition/per-day sketches once, merge on demand;
    never rescan the fact table for a new grouping).

    HLL register merge is max(): commutative, associative,
    idempotent — so `parts_equal_direct` is deterministically true
    regardless of partitioning or merge order, and the estimate lands
    within the sketch's error bound of the exact count
    (`within_tolerance`, 3σ ≈ 3·1.04/√2^lg_k ≈ 2.4% at lg_k=14).
    The oracle asserts both booleans plus the exact count.
    """
    per_type = events.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(lg_k)).alias("sketch")
    )
    merged = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_merged")
    )
    direct = events.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(lg_k))).alias(
            "est_direct"
        ),
        F.countDistinct("user_id").alias("exact_users"),
    )
    tol = 3 * 1.04 / (2 ** (lg_k / 2))
    return direct.crossJoin(merged).select(
        "exact_users",
        (F.col("est_merged") == F.col("est_direct")).alias("parts_equal_direct"),
        (
            F.abs(F.col("est_direct") - F.col("exact_users"))
            / F.col("exact_users")
            <= tol
        ).alias("within_tolerance"),
    )


def cms_user_event_counts(
    events: DataFrame, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Count-min sketch over user event counts, with the estimate
    checked against the exact count per key. Rounds out the sketch
    family (HLL distinct, GK quantiles, CMS frequencies) and, like
    the MinHash family, uses a deterministic md5 hash family so even
    the *approximate* structure is value-verifiable across engines.

    Scale shape: the sketch build is one map-side explode (rows x
    depth) into a (depth x width)-cell aggregate — a few thousand
    cells regardless of corpus size — and the probe joins that tiny
    table back broadcast. At 100 TB the cell table is the only thing
    that moves, and partial aggregation collapses each partition to
    <= depth*width rows before the shuffle. CMS guarantees
    estimate >= exact; `lower_bounded` asserts it in-query.
    """

    def bucket(d: int) -> F.Column:
        raw = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{d}:"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        return (raw % width).alias("b")

    probes_arr = F.array(
        *[F.struct(F.lit(d).alias("d"), bucket(d)) for d in range(depth)]
    )
    rows = events.select("user_id")
    cells = (
        rows.select(F.explode(probes_arr).alias("c"))
        .select(F.col("c.d").alias("d"), F.col("c.b").alias("b"))
        .groupBy("d", "b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    keys = rows.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    probes = keys.select(
        "user_id", "exact_n", F.explode(probes_arr).alias("c")
    ).select("user_id", "exact_n", F.col("c.d").alias("d"), F.col("c.b").alias("b"))
    return (
        probes.join(F.broadcast(cells), ["d", "b"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("n").alias("cms_estimate"))
        .select(
            "user_id",
            "exact_n",
            "cms_estimate",
            (F.col("cms_estimate") >= F.col("exact_n")).alias("lower_bounded"),
        )
    )


def quantiles_by_priority(
    orders: DataFrame, accuracy: int = 10000, tol: float = 0.01
) -> DataFrame:
    """Grouped form of approx_quantiles_check — the per-segment
    latency/spend-percentile shape. percentile_approx sketches are
    mergeable PER GROUP (partial aggregation still applies), so at
    100 TB each segment's percentile costs one pass with no global
    sort; the exact interpolated percentile rides along in-query only
    to assert the tolerance band."""
    ps = [0.5, 0.9, 0.99]
    # The sketch returns an actual data value, so a RELATIVE tolerance
    # breaks on small groups where adjacent order statistics are far
    # apart. The principled bound is GK's own: rank error <= 1/accuracy
    # (1e-4 here). Assert each sketch value lies between the exact
    # quantiles at p +/- `tol` rank — a band 50x wider than the
    # guarantee, valid for any group size.
    lo = [max(p - tol, 0.0) for p in ps]
    hi = [min(p + tol, 1.0) for p in ps]
    agg = orders.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", ps, accuracy).alias("approx"),
        F.percentile("o_totalprice", ps).alias("exact"),
        F.percentile("o_totalprice", lo).alias("exact_lo"),
        F.percentile("o_totalprice", hi).alias("exact_hi"),
    )
    within_lo = F.aggregate(
        F.zip_with(F.col("approx"), F.col("exact_lo"), lambda a, e: a >= e),
        F.lit(True),
        lambda acc, x: acc & x,
    )
    within_hi = F.aggregate(
        F.zip_with(F.col("approx"), F.col("exact_hi"), lambda a, e: a <= e),
        F.lit(True),
        lambda acc, x: acc & x,
    )
    within = within_lo & within_hi
    def r4(c):  # floor-based 4dp: engine-portable on knife edges
        return F.floor(c * 10000 + 0.5).cast("long") / 10000.0

    return agg.select(
        "o_orderpriority",
        r4(F.element_at("exact", 1)).alias("exact_p50"),
        r4(F.element_at("exact", 2)).alias("exact_p90"),
        r4(F.element_at("exact", 3)).alias("exact_p99"),
        within.alias("within_tolerance"),
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """Per-user event-sequence transition matrix (the product-
    analytics Markov view): consecutive event pairs via one lag
    window, then a global pair count and a 4dp row-normalized
    transition probability. One shuffle on user_id for the window,
    one partial-aggregable groupBy on the (from, to) pair — both
    uniform keys. Ordering ties on ts break by event_id so the
    sequence is deterministic across engines."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            "user_id",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_from = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        (
            F.floor(F.col("n") / F.sum("n").over(w_from) * 10000 + 0.5).cast("long")
            / 10000.0
        ).alias("p"),
    )


def distinct_users_salted(events: DataFrame, buckets: int = 32) -> DataFrame:
    """Exact COUNT(DISTINCT) under key skew — the two-phase salted
    shape: salt derives from the DISTINCT column (md5(user_id), so
    each user lands in exactly one bucket per key and bucket counts
    add up exactly), phase 1 dedups within (key, salt) sub-buckets,
    phase 2 sums the per-bucket counts. A hot event_type fans out
    over `buckets` reducers instead of melting one; the result is
    exact, not a sketch (the HLL check is the approximate sibling).
    """
    salt = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % buckets
    )
    per_bucket = (
        events.select("event_type", "user_id")
        .withColumn("_salt", salt)
        .groupBy("event_type", "_salt")
        .agg(F.count_distinct("user_id").alias("d"))
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum("d").cast("long").alias("distinct_users")
    )


def _floor_round(c, dp: int):
    scale = 10 ** dp
    return F.floor(c * scale + 0.5).cast("long") / float(scale)


def price_quantity_stats(lineitem: DataFrame) -> DataFrame:
    """Statistical-aggregate surface: per-ship-year Pearson
    correlation and sample covariance of quantity vs extended price.
    Single partial-aggregable groupBy (corr/covar merge their moment
    partials exactly like sum/count); floor-rounded at widths chosen
    per magnitude so both engines render identical values."""
    return lineitem.groupBy(F.year("l_shipdate").alias("year")).agg(
        _floor_round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "qty_price_corr"
        ),
        _floor_round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "qty_price_covar"
        ),
        F.count(F.lit(1)).alias("n"),
    )


def revenue_trend_fit(orders: DataFrame) -> DataFrame:
    """Least-squares trend of daily revenue vs day index (the
    forecasting primitive: regr_slope/regr_intercept are one-pass
    mergeable aggregates — no iterative fitting, no driver loop).
    Day index anchors to 1992-01-01 so the intercept is stable."""
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(F.sum("o_totalprice").alias("revenue"))
    x = F.datediff("day", F.lit("1992-01-01")).cast("double")
    fitted = daily.select(F.col("revenue").alias("y"), x.alias("x")).agg(
        _floor_round(F.regr_slope("y", "x"), 4).alias("slope"),
        _floor_round(F.regr_intercept("y", "x"), 2).alias("intercept"),
        F.count(F.lit(1)).alias("n_days"),
    )
    return fitted


def weekday_seasonality(orders: DataFrame) -> DataFrame:
    """Seasonality profile: average daily revenue per ISO weekday and
    its index against the overall daily mean (the demand-shaping
    view). Two tiny aggregates — daily partials then a 7-row weekday
    rollup with the overall mean broadcast back; numbering is ISO
    (1=Monday) on both engines (Spark weekday()+1 == DuckDB isodow)."""
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    overall = daily.agg(F.avg("rev").alias("m"))
    wk = daily.groupBy((F.weekday("day") + 1).alias("iso_dow")).agg(
        F.count(F.lit(1)).alias("n_days"), F.avg("rev").alias("avg_rev")
    )
    return wk.crossJoin(F.broadcast(overall)).select(
        "iso_dow",
        "n_days",
        _floor_round(F.col("avg_rev"), 2).alias("avg_revenue"),
        _floor_round(F.col("avg_rev") / F.col("m"), 4).alias("rev_index"),
    )


def rfm_segments(orders: DataFrame, asof: str = "1998-12-31") -> DataFrame:
    """RFM customer segmentation: recency / frequency / monetary per
    customer, each quartile-scored (1=worst..4=best, deterministic
    custkey tiebreaks) and composed into the classic 3-digit segment
    code. The quartile windows are global like
    customer_revenue_quartiles — at 100 TB replace ntile with
    percentile_approx cut points (one pass, mergeable) and a
    broadcast bucketize; the scoring semantics are identical."""
    per_cust = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(asof).cast("date"), F.max(F.to_date("o_orderdate"))
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        _floor_round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    r_w = Window.orderBy(F.desc("recency_days"), F.asc("o_custkey"))
    f_w = Window.orderBy(F.asc("frequency"), F.asc("o_custkey"))
    m_w = Window.orderBy(F.asc("monetary"), F.asc("o_custkey"))
    scored = per_cust.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4).over(r_w).cast("long").alias("r_score"),
        F.ntile(4).over(f_w).cast("long").alias("f_score"),
        F.ntile(4).over(m_w).cast("long").alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"),
    )


def basket_pairs(lineitem: DataFrame, top: int = 20) -> DataFrame:
    """Market-basket affinity: part pairs co-occurring in an order,
    ranked by support. The pair join is keyed on l_orderkey with
    fan-out bounded by basket size (<= 7 lineitems per TPC-H order),
    so the 'self-join' is per-basket combinations, never parts x
    parts; the top-k is TakeOrderedAndProject (per-partition heaps,
    no global sort)."""
    items = lineitem.select("l_orderkey", "l_partkey").distinct()
    a = items.withColumnRenamed("l_partkey", "part_a")
    b = items.withColumnRenamed("l_partkey", "part_b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.desc("support"), F.asc("part_a"), F.asc("part_b"))
        .limit(top)
    )


def user_activity_gini(events: DataFrame) -> DataFrame:
    """Concentration of activity across users as a Gini coefficient
    (0 = uniform, →1 = one user does everything): per-user counts,
    ranked ascending, then G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n. The rank
    window is global over |users| rows (already aggregated — tiny
    relative to events); at extreme user cardinality swap in an
    equi-depth histogram approximation. Floored to 6dp for
    engine-portable rendering."""
    per_user = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("x"))
    w = Window.orderBy(F.asc("x"), F.asc("user_id"))
    ranked = per_user.select(
        F.col("x").cast("double").alias("x"),
        F.row_number().over(w).cast("double").alias("i"),
    )
    agg = ranked.agg(
        F.sum(F.col("i") * F.col("x")).alias("ix"),
        F.sum("x").alias("sx"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    gini = 2 * F.col("ix") / (F.col("n") * F.col("sx")) - (F.col("n") + 1) / F.col("n")
    return agg.select(
        F.col("n").cast("long").alias("n_users"),
        F.col("sx").cast("long").alias("n_events"),
        (F.floor(gini * 1000000 + 0.5).cast("long") / 1000000.0).alias("gini"),
    )


def events_anomaly_days(events: DataFrame, z_cut: float = 3.0) -> DataFrame:
    """Volume-anomaly monitor: daily event counts z-scored against
    the corpus-wide daily distribution (the ops-dashboard 'did
    ingestion break today' view). Daily partials then one broadcast
    stats row; the z is floored to 4dp before the cut so the flag is
    engine-portable."""
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = daily.agg(
        F.avg("n").alias("mu"), F.stddev_pop("n").alias("sg")
    )
    z = _floor_round(F.abs(F.col("n") - F.col("mu")) / F.col("sg"), 4)
    return daily.crossJoin(F.broadcast(stats)).select(
        "day",
        "n",
        z.alias("z"),
        (z > z_cut).alias("is_anomaly"),
    )


def stickiness_by_month(events: DataFrame) -> DataFrame:
    """DAU/MAU stickiness per month — the engagement-quality product
    metric: average daily active users divided by monthly active
    users. Three aggregates, all partial-aggregable (distinct counts
    keyed by (day|month, user)); ratios floored at 4dp."""
    day_user = events.select(
        F.to_date("ts").alias("day"),
        F.date_trunc("month", "ts").alias("month"),
        "user_id",
    ).distinct()
    dau = day_user.groupBy("month", "day").agg(
        F.count(F.lit(1)).alias("dau")
    )
    avg_dau = dau.groupBy("month").agg(F.avg("dau").alias("avg_dau"))
    mau = day_user.select("month", "user_id").distinct().groupBy("month").agg(
        F.count(F.lit(1)).alias("mau")
    )
    return avg_dau.join(mau, "month").select(
        F.to_date("month").alias("month"),
        _floor_round(F.col("avg_dau"), 2).alias("avg_dau"),
        F.col("mau").cast("long").alias("mau"),
        _floor_round(F.col("avg_dau") / F.col("mau"), 4).alias("stickiness"),
    )


def power_users_monthly(events: DataFrame, min_days: int = 20) -> DataFrame:
    """Power-user counts per month: users active on >= ``min_days``
    distinct days. Partial-aggregable throughout — the distinct-day
    dedup keys on (month, user, day), then two cheap rollups."""
    mud = events.select(
        F.date_trunc("month", "ts").alias("month"),
        "user_id",
        F.to_date("ts").alias("day"),
    ).distinct()
    per_user = mud.groupBy("month", "user_id").agg(
        F.count(F.lit(1)).alias("active_days")
    )
    return (
        per_user.groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.sum((F.col("active_days") >= min_days).cast("long")).alias(
                "power_users"
            ),
        )
        .select(
            F.to_date("month").alias("month"),
            "active_users",
            "power_users",
        )
    )


def revenue_pareto(orders: DataFrame, top_frac: float = 0.1) -> DataFrame:
    """Pareto concentration: share of total revenue contributed by
    the top ``top_frac`` of customers. The rank window runs over the
    pre-aggregated customer totals (|customers| rows, tiny next to
    orders); output is one row, floored at 4dp."""
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("rev")
    )
    w = Window.orderBy(F.desc("rev"), F.asc("o_custkey"))
    ranked = per_cust.select("rev", F.row_number().over(w).alias("rn"))
    n = per_cust.agg(F.count(F.lit(1)).alias("n_cust"))
    agg = ranked.crossJoin(F.broadcast(n)).agg(
        F.max("n_cust").alias("n_cust"),
        F.sum("rev").alias("total"),
        F.sum(
            F.when(
                F.col("rn") <= F.ceil(F.lit(top_frac) * F.col("n_cust")),
                F.col("rev"),
            ).otherwise(F.lit(0.0))
        ).alias("top_rev"),
    )
    return agg.select(
        F.col("n_cust").cast("long").alias("n_customers"),
        _floor_round(F.col("top_rev") / F.col("total"), 4).alias(
            "top_decile_share"
        ),
    )


def events_heatmap(events: DataFrame) -> DataFrame:
    """Hour-of-day x ISO-weekday activity heatmap — the ops-dashboard
    load profile. One partial-aggregable groupBy on 168 cells."""
    # exact integer-cents mean, never floor(avg(double)): value is
    # exact 2-dp, so avg*1e4 = sum_cents*100/n lands ON .5 boundaries
    # for many (sum, n) — and a double partial-merge-order ulp then
    # flips the 4th decimal (the pq_codebook_report knife edge,
    # observed under load in round 9). Long sums are order-exact.
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    return events.groupBy(
        (F.weekday("ts") + 1).alias("iso_dow"),
        F.hour("ts").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.floor(
                F.sum(cents) * 100.0 / F.count(F.lit(1)) + 0.5
            ).cast("long")
            / 10000.0
        ).alias("avg_value"),
    )


def event_pagerank(
    events: DataFrame, damping: float = 0.85, iterations: int = 3
) -> DataFrame:
    """PageRank over the event-type transition graph (bounded
    iteration count) — the iterative-graph-algorithm family member
    next to the connected-components rounds in dedup.py: which event
    states concentrate user flow once damping discounts long chains.

    Scale shape: each iteration is one edge join keyed on the source
    node + one groupBy on the destination — never an adjacency
    matrix; ranks and the node table stay in dataframes end to end.
    Here nodes are event types (tiny); the same loop runs unchanged
    when nodes are users or documents at 100 TB because every step is
    a keyed shuffle, not a collect.

    Engine-portable determinism: edge weights are the 4dp transition
    probabilities; per-edge contributions are floored onto a 1e-9
    integer grid and summed as longs (addition-order-free), and each
    new rank rounds to 6dp — the oracle replays the identical
    trajectory.
    """
    # edges/nodes feed every iteration — persist once so the upstream
    # window + groupBy lineage is not replayed per round (the same
    # round-persist discipline as the connected-components loop)
    edges = (
        event_transitions(events).select("from_type", "to_type", "p").persist()
    )
    nodes = events.select(F.col("event_type").alias("node")).distinct().persist()
    counts = F.broadcast(nodes.agg(F.count(F.lit(1)).alias("n_nodes")))
    r6 = lambda c: F.floor(c * 1000000 + 0.5).cast("long") / 1000000.0  # noqa: E731
    pr = nodes.crossJoin(counts).select(
        "node", r6(F.lit(1.0) / F.col("n_nodes")).alias("pr")
    )
    prev = None
    for _ in range(iterations):
        contribs = (
            pr.join(edges, pr["node"] == edges["from_type"])
            .select(
                F.col("to_type").alias("node"),
                F.floor(F.col("pr") * F.col("p") * 1e9 + 0.5)
                .cast("long")
                .alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("c_sum"))
        )
        pr = (
            nodes.join(contribs, "node", "left")
            .crossJoin(counts)
            .select(
                "node",
                r6(
                    (1 - damping) / F.col("n_nodes")
                    + damping * (F.coalesce(F.col("c_sum"), F.lit(0)) / 1e9)
                ).alias("pr"),
            )
            .persist()
        )
        pr.count()  # one action per round; pins this round's ranks
        if prev is not None:
            prev.unpersist()
        prev = pr
    edges.unpersist()
    nodes.unpersist()
    return pr.select("node", F.col("pr").alias("pagerank"))


def timed_funnel(
    events: DataFrame,
    from_type: str = "view",
    to_type: str = "click",
    window_minutes: int = 60,
) -> DataFrame:
    """Time-bounded conversion funnel: for each `from_type` event, did
    the same user emit a `to_type` event within `window_minutes`?
    Reported per day of the source event — the product-analytics
    "view→click within the hour" question the untimed
    conversion_funnel can't answer.

    Scale shape: both sides filter to their event type AT THE SCAN
    (predicate pushdown cuts the join inputs to the two slices), then
    one equi-join on user_id with the time window as a residual range
    predicate — a shuffle keyed on the user, never a cross join.
    Conversion is EXISTS semantics via a left semi join keyed on the
    source event_id, so multiple clicks never double-count a view.
    """
    src = events.filter(F.col("event_type") == from_type).select(
        F.col("event_id").alias("src_id"),
        F.col("user_id").alias("src_user"),
        F.col("ts").alias("src_ts"),
    )
    dst = events.filter(F.col("event_type") == to_type).select(
        F.col("user_id").alias("dst_user"), F.col("ts").alias("dst_ts")
    )
    converted = (
        src.join(
            dst,
            (F.col("src_user") == F.col("dst_user"))
            & (F.col("dst_ts") > F.col("src_ts"))
            & (
                F.col("dst_ts")
                <= F.col("src_ts") + F.expr(f"INTERVAL {window_minutes} MINUTES")
            ),
            "left_semi",
        )
        .select("src_id")
        .withColumn("conv", F.lit(1))
    )
    per_day = (
        src.join(converted, "src_id", "left")
        .groupBy(F.to_date("src_ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_src"),
            F.sum(F.coalesce(F.col("conv"), F.lit(0)))
            .cast("long")
            .alias("n_converted"),
        )
    )
    return per_day.select(
        "day",
        "n_src",
        "n_converted",
        (
            F.floor(F.col("n_converted") / F.col("n_src") * 10000 + 0.5).cast(
                "long"
            )
            / 10000.0
        ).alias("cvr"),
    )


def session_paths(
    events: DataFrame, gap_minutes: int = 30, k: int = 20
) -> DataFrame:
    """Top-k session event-type paths ("view>click>purchase") — the
    journey-shape summary over gap-sessionized activity.

    One user-keyed window pass assigns session ids (same lag/cumsum
    shape as sessionize), the path is an ORDER-DETERMINISTIC in-group
    concat (sort by ts, event_id), and the head is
    TakeOrderedAndProject. Path strings are bounded by session
    length, counts shuffle on the path key — uniform unless one
    journey dominates, which is exactly what the query surfaces.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_minutes * 60 * 1_000_000
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
                > gap_us
            ),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    paths = (
        numbered.groupBy("user_id", "session_id")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(k)
    )


def sliding_distinct_users(
    events: DataFrame, window_days: int = 7, tol: float = 0.05
) -> DataFrame:
    """Sliding-window distinct users per day (7-day rolling reach)
    computed the 100 TB way: one mergeable HLL sketch per day, then a
    windowed `hll_union_agg` over the trailing frame — per-day state
    is one sketch, never the raw user set, so a year of rolling reach
    re-aggregates 365 sketches instead of re-scanning 100 TB of
    events per frame.

    This is a *check query*: it also computes the exact trailing
    distinct count (via a bounded explode to the next `window_days`
    target days — test-SF only; the production form returns the
    estimate alone) and emits `within_tolerance` so the oracle can
    verify the sketch path end to end. The frame is range-based on
    the day number, so calendar gaps shrink the window on both the
    sketch and exact sides identically.
    """
    daily_users = events.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    day_num = F.datediff(F.col("day"), F.lit("1970-01-01"))
    sketches = (
        daily_users.groupBy("day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .withColumn("day_num", day_num)
    )
    w = Window.orderBy("day_num").rangeBetween(-(window_days - 1), 0)
    est = sketches.select(
        "day",
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w)).alias("est_users"),
    )
    target = daily_users.select(
        F.explode(
            F.sequence(day_num, day_num + F.lit(window_days - 1))
        ).alias("t_num"),
        "user_id",
    )
    exact = (
        target.groupBy("t_num")
        .agg(F.countDistinct("user_id").alias("n_users_exact"))
        .join(
            sketches.select(F.col("day_num").alias("t_num"), "day"), "t_num"
        )
        .select("day", "n_users_exact")
    )
    return (
        est.join(exact, "day")
        .select(
            "day",
            F.col("n_users_exact").cast("long").alias("n_users_exact"),
            (
                F.abs(F.col("est_users") - F.col("n_users_exact"))
                / F.col("n_users_exact")
                <= tol
            ).alias("within_tolerance"),
        )
    )


def winsorized_event_values(events: DataFrame) -> DataFrame:
    """Robust-stats cleaning: clamp event values to the per-type
    [p05, p95] band and report per-type row counts and means before /
    after — the outlier-resistant normalization step ahead of any
    value-weighted aggregate. Quantiles come from a histogram-CDF
    over cent-rounded values (window over |distinct (type, cent)|
    rows only — never a global sort of the fact table); all sums are
    integer cents, so means are addition-order-free.
    """
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    vals = events.select("event_type", cents.alias("v"))
    hist = vals.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("n"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("event_type")
    cdf = hist.select(
        "event_type",
        "v",
        F.sum("n").over(wcum).alias("cum"),
        F.sum("n").over(wtot).alias("total"),
    )
    # quantile ranks via integer ceil-division — 0.05 * total in
    # binary floating point differs between engines (DuckDB parses
    # 0.05 as DECIMAL); (total*k + 99) // 100 is exact everywhere
    rank_lo = F.floor((F.col("total") * 5 + 99) / 100)
    rank_hi = F.floor((F.col("total") * 95 + 99) / 100)
    bounds = cdf.groupBy("event_type").agg(
        F.min(F.when(F.col("cum") >= rank_lo, F.col("v"))).alias("p05"),
        F.min(F.when(F.col("cum") >= rank_hi, F.col("v"))).alias("p95"),
    )
    clamped = vals.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "v",
        F.greatest(F.col("p05"), F.least(F.col("p95"), F.col("v"))).alias("vw"),
    )
    mean6 = lambda s: F.floor(F.sum(s) * 10000.0 / F.count(F.lit(1))) / 1000000.0
    return clamped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        mean6(F.col("v")).alias("mean_raw"),
        mean6(F.col("vw")).alias("mean_winsorized"),
    )


def chi_square_independence(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns: X² = Σ_cells (observed − expected)²/expected with
    expected = row_total · col_total / N, summed over the FULL
    cross-product of observed categories (zero-observed cells still
    contribute their expected mass). Returns one row: the statistic,
    degrees of freedom, cell count, and N — the screening test a
    curation pipeline runs to detect, e.g., language×source
    imbalance before fixing mixture rates.

    Per-cell contributions are floor-quantized to integer 1e-4 units
    and summed as longs (addition-order-free, engine-portable); the
    zero-observed cells' aggregate mass uses the identity
    Σ_all e = N, so it equals N − Σ_observed e without materializing
    the empty cells (quantized to the same 1e-4 grid).
    Scale shape: ONE scan of the two columns, one shuffle on the
    (a, b) pair key with partial aggregation, then window marginals
    over the metadata-scale cell relation (|A|·|B| rows at most —
    the unpartitioned window is over that tiny set, not the data).
    No re-scan per marginal, no sort, no Python.
    """
    cells = df.groupBy(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    ).agg(F.count(F.lit(1)).alias("o"))
    m = cells.select(
        "a",
        "b",
        "o",
        F.sum("o").over(Window.partitionBy("a")).alias("n_a"),
        F.sum("o").over(Window.partitionBy("b")).alias("n_b"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e = F.col("n_a") * F.col("n_b") / F.col("n")
    c_q = F.floor(
        (F.col("o") - e) * (F.col("o") - e) / e * 10000 + 0.5
    ).cast("long")
    e_q = F.floor(e * 10000 + 0.5).cast("long")
    counts = m.agg(
        F.sum(c_q).alias("c_sum"),
        F.sum(e_q).alias("e_sum"),
        F.max("n").alias("n"),
        F.count_distinct("a").alias("n_rows"),
        F.count_distinct("b").alias("n_cols"),
        F.sum("o").alias("n_obs"),
    )
    return counts.select(
        (
            (F.col("c_sum") + F.col("n") * 10000 - F.col("e_sum")) / 10000.0
        ).alias("chi2"),
        ((F.col("n_rows") - 1) * (F.col("n_cols") - 1)).alias("dof"),
        (F.col("n_rows") * F.col("n_cols")).alias("n_cells"),
        "n_obs",
    )


def nation_revenue_trend(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Per-nation least-squares trend of monthly revenue vs month
    index (grouped regression — regr_slope/regr_intercept are
    one-pass mergeable aggregates, so 25 independent fits cost one
    grouped aggregation, not 25 passes; the cluster-scale form of
    revenue_trend_fit). Month index anchors to 1992-01.

    Scale shape: orders⋈customer shuffles on custkey (the fact⋈fact
    edge), nation broadcasts; then monthly partials roll up per
    (nation, month) before the tiny per-nation regression aggregate.
    """
    mon_idx = (
        (F.year(F.to_date("o_orderdate")) - 1992) * 12
        + F.month(F.to_date("o_orderdate"))
        - 1
    ).alias("mi")
    monthly = (
        orders.join(
            customer.select("c_custkey", "c_nationkey"),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"), mon_idx)
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    return (
        monthly.groupBy("nation")
        .agg(
            _floor_round(F.regr_slope("rev", "mi"), 4).alias("slope"),
            _floor_round(F.regr_intercept("rev", "mi"), 2).alias("intercept"),
            F.count(F.lit(1)).alias("n_months"),
        )
        .orderBy("nation")
    )


def monthly_revenue_ewma(orders: DataFrame, alpha_tenths: int = 2) -> DataFrame:
    """Exponentially-weighted moving average of monthly revenue
    (α = alpha_tenths/10): ewma_t = α·x_t + (1−α)·ewma_{t−1}, the
    classic smoothing/anomaly-baseline primitive. The recurrence is
    inherently sequential, so the engine reduces FIRST (distributed
    monthly partials — the only part that scales with data volume)
    and then folds the tiny ordered series in one JVM higher-order
    `aggregate` over a sorted array — no Python, no driver loop, no
    recursive-CTE iteration count tied to series length.

    The fold runs in integer cents with the recurrence quantized per
    step ((2·x + 8·prev + 5) div 10 for α=0.2) — bit-exact on any
    engine, no floating accumulation drift. The single-row fold is
    O(#months) — bounded by the calendar, not the data.
    """
    a, b = alpha_tenths, 10 - alpha_tenths
    monthly = orders.groupBy(
        F.date_format(F.to_date("o_orderdate"), "yyyy-MM").alias("mon")
    ).agg(
        F.floor(F.sum("o_totalprice") * 100 + 0.5).cast("long").alias("rev_cents")
    )
    series = monthly.agg(
        F.sort_array(F.collect_list(F.struct("mon", "rev_cents"))).alias("s")
    )
    folded = series.select(
        F.expr(
            f"""
            aggregate(
              s,
              cast(array() as array<struct<mon:string, rev_cents:bigint, ewma_cents:bigint>>),
              (acc, x) -> array_append(acc, named_struct(
                'mon', x.mon,
                'rev_cents', x.rev_cents,
                'ewma_cents', case when size(acc) = 0 then x.rev_cents
                  else ({a} * x.rev_cents + {b} * element_at(acc, -1).ewma_cents + 5) div 10 end))
            ) AS ew
            """
        )
    )
    return folded.select(F.explode("ew").alias("r")).select(
        F.col("r.mon").alias("mon"),
        (F.col("r.rev_cents") / 100.0).alias("revenue"),
        (F.col("r.ewma_cents") / 100.0).alias("ewma"),
    )


def dp_noisy_counts(
    df: DataFrame,
    key_col: str,
    epsilon: float = 1.0,
    deterministic: bool = True,
) -> DataFrame:
    """Differentially-private count release: per-category counts with
    Laplace(1/ε) noise via the inverse-CDF transform
    noise = −(1/ε)·sign(u)·ln(1−2|u|), u ∈ (−½, ½) — the standard
    ε-DP mechanism for a histogram query (sensitivity 1: one user
    changes one count by one). The privacy tier next to PII
    redaction in the curation surface.

    TEST-MODE DETERMINISM (``deterministic=True``, the default used
    by the oracle-checked registry query): u derives from
    md5(category), so releases are reproducible and oracle-checkable.
    PRODUCTION RELEASES must pass ``deterministic=False``: u then
    draws from fresh JVM randomness per release (``F.rand()`` with no
    seed), which is what the ε-DP guarantee actually requires — a
    reproducible release leaks the true counts to anyone who can
    replay the hash. The mechanism's math and the plan shape are
    identical on both paths (pytest covers the production path with
    an empirical mean/variance/ε-scaling test).
    Noise is floor-quantized to 4 dp at the boundary.

    Scale shape: one shuffle on the category key with partial
    aggregation; the noise transform is a pure JVM map over the
    (tiny) aggregated result. No Python, no sort.
    """
    counts = df.groupBy(F.col(key_col).alias("category")).agg(
        F.count(F.lit(1)).alias("true_count")
    )
    if deterministic:
        h = F.conv(
            F.substring(F.md5(F.col("category").cast("string")), 1, 8), 16, 10
        ).cast("long")
        u = (h + 0.5) / F.lit(4294967296.0) - 0.5
    else:
        # fresh uniform in (-1/2, 1/2); the (1 - 1e-12) squeeze keeps
        # rand()=0 off the log(0) singularity
        u = (F.rand() - 0.5) * (1.0 - 1e-12)
    lap = (
        -(1.0 / epsilon)
        * F.signum(u)
        * F.log(1 - 2 * F.abs(u))
    )
    noise = F.floor(lap * 10000 + 0.5).cast("long") / 10000.0
    return counts.select(
        "category",
        "true_count",
        noise.alias("noise"),
        (F.col("true_count") + noise).alias("released_count"),
    )


def join_skew_report(df: DataFrame, key_col: str) -> DataFrame:
    """Shuffle-key skew diagnostic: the per-key frequency distribution
    of a prospective join/groupBy key, summarized as exact p50/p90/p99
    per-key counts, the hottest key, and the max/median skew ratio —
    the report that decides whether a 100 TB join needs salting or
    AQE skew-split BEFORE it runs (distinct_users_salted is the
    engine's mitigation; this is the detector).

    Exact percentiles WITHOUT a global row sort and WITHOUT re-scanning
    the input per summary branch: EVERYTHING (totals, percentiles, the
    hottest key) derives from the count-of-counts histogram in one
    lineage — per-key counts collapse to (cnt → n_keys_with_cnt,
    max-key-string-with-cnt), which is metadata-scale (distinct count
    values ≤ max key frequency), then a window cumulates it and one
    aggregate reads the answers off. percentile q = smallest count
    with cum ≥ ⌈q·n_keys⌉; hottest key = argmax (cnt, key-string).
    Scale shape: one scan, one key shuffle, one tiny histogram
    shuffle; the single-partition window runs over the histogram, not
    the keys.
    """
    per_key = df.groupBy(F.col(key_col).alias("k")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    hist = per_key.groupBy("cnt").agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.col("k").cast("string")).alias("top_k"),
    )
    w_all = Window.partitionBy()
    cum = hist.select(
        "cnt",
        "n",
        "top_k",
        F.sum("n").over(
            Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
        F.sum("n").over(w_all).alias("n_keys"),
        F.sum(F.col("cnt") * F.col("n")).over(w_all).alias("n_rows"),
    )

    def pctl(q: float):
        return F.min(
            F.when(
                F.col("cum") >= F.ceil(F.col("n_keys") * q), F.col("cnt")
            )
        )

    return (
        cum.agg(
            F.max("n_keys").alias("n_keys"),
            F.max("n_rows").alias("n_rows"),
            F.max("cnt").alias("max_cnt"),
            F.max_by("top_k", F.struct("cnt", "top_k")).alias("hottest_key"),
            pctl(0.5).alias("p50_cnt"),
            pctl(0.9).alias("p90_cnt"),
            pctl(0.99).alias("p99_cnt"),
        )
        .select(
            "n_keys",
            "n_rows",
            "max_cnt",
            "hottest_key",
            "p50_cnt",
            "p90_cnt",
            "p99_cnt",
            F.floor(F.col("max_cnt") / F.col("p50_cnt") * 10000 + 0.5)
            .cast("long")
            .alias("skew_ratio_x10k"),
        )
    )


def holt_linear_smoothing(orders: DataFrame) -> DataFrame:
    """Holt double-exponential smoothing of monthly revenue — the
    trend-aware sibling of monthly_revenue_ewma: level
    l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1}) and trend
    b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1} with α=0.2, β=0.3,
    l_1 = x_1, b_1 = 0. Same engineering as the EWMA: the data-scale
    work is the distributed monthly reduction; the calendar-bounded
    recurrence folds once in a JVM higher-order aggregate with every
    step quantized to integer cents (div) — bit-exact on any engine.
    """
    monthly = orders.groupBy(
        F.date_format(F.to_date("o_orderdate"), "yyyy-MM").alias("mon")
    ).agg(
        F.floor(F.sum("o_totalprice") * 100 + 0.5).cast("long").alias("rev_cents")
    )
    series = monthly.agg(
        F.sort_array(F.collect_list(F.struct("mon", "rev_cents"))).alias("s")
    )
    folded = series.select(
        F.expr(
            """
            aggregate(
              s,
              cast(array() as array<struct<mon:string, rev_cents:bigint,
                                           l:bigint, b:bigint>>),
              (acc, x) -> array_append(acc, named_struct(
                'mon', x.mon,
                'rev_cents', x.rev_cents,
                'l', case when size(acc) = 0 then x.rev_cents
                  else (2 * x.rev_cents
                        + 8 * (element_at(acc, -1).l + element_at(acc, -1).b)
                        + 5) div 10 end,
                'b', case when size(acc) = 0 then cast(0 as bigint)
                  else (3 * (((2 * x.rev_cents
                               + 8 * (element_at(acc, -1).l
                                      + element_at(acc, -1).b)
                               + 5) div 10) - element_at(acc, -1).l)
                        + 7 * element_at(acc, -1).b + 5) div 10 end))
            ) AS hw
            """
        )
    )
    return folded.select(F.explode("hw").alias("r")).select(
        F.col("r.mon").alias("mon"),
        (F.col("r.rev_cents") / 100.0).alias("revenue"),
        (F.col("r.l") / 100.0).alias("level"),
        (F.col("r.b") / 100.0).alias("trend"),
    )


def incremental_join_view(
    base_orders: DataFrame,
    delta_orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Incremental maintenance of a join-aggregate view
    V = Σ revenue over orders⋈customer⋈nation grouped by nation:
    with the dimension side unchanged, Δ(A⋈B) = ΔA⋈B, so the refresh
    joins ONLY the delta batch against the dimensions and merges its
    partial aggregates into the stored view by key — the classic
    materialized-view delta algebra (refresh cost tracks the batch,
    never the fact corpus; the sibling of rollup_incremental_refresh
    on the join-view side).

    Here `base_view` is computed inline as the stand-in for the
    stored MV table; in production it is a parquet/Delta read. Sum
    merge is exact because both sides keep raw double partials and
    round once at the boundary.
    """

    def view(o: DataFrame) -> DataFrame:
        return (
            o.join(
                customer.select("c_custkey", "c_nationkey"),
                o["o_custkey"] == customer["c_custkey"],
            )
            .join(
                F.broadcast(nation),
                customer["c_nationkey"] == nation["n_nationkey"],
            )
            .groupBy(F.col("n_name").alias("nation"))
            .agg(
                F.sum("o_totalprice").alias("rev"),
                F.count(F.lit(1)).alias("n_orders"),
            )
        )

    merged = (
        view(base_orders)
        .unionByName(view(delta_orders))
        .groupBy("nation")
        .agg(
            F.sum("rev").alias("rev"),
            F.sum("n_orders").alias("n_orders"),
        )
    )
    return merged.select(
        "nation",
        _floor_round(F.col("rev"), 2).alias("total_revenue"),
        "n_orders",
    ).orderBy("nation")


def column_stats(lineitem: DataFrame) -> DataFrame:
    """ANALYZE-TABLE-style statistics collection: per-column row
    count, null count, exact NDV and 4-dp min/max for the lineitem
    measure columns, in ONE scan — the stats a cost-based optimizer
    (and this engine's own broadcast/skew decisions) feed on. At
    100 TB the exact count_distinct becomes the HLL sketch
    (approx_count_distinct / hll_union_agg, already in the sketch
    family); the collection plan — one pass, all columns, partial
    aggregation — is identical.
    """
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__ndv"),
            _floor_round(F.min(c), 4).alias(f"{c}__min"),
            _floor_round(F.max(c), 4).alias(f"{c}__max"),
        ]
    one = lineitem.agg(*aggs)
    stacked = one.select(
        "n_rows",
        F.expr(
            "stack({}, {}) as (column_name, n_nulls, ndv, min_value, max_value)".format(
                len(cols),
                ", ".join(
                    f"'{c}', {c}__nulls, {c}__ndv, {c}__min, {c}__max"
                    for c in cols
                ),
            )
        ),
    )
    return stacked.select(
        "column_name", "n_rows", "n_nulls", "ndv", "min_value", "max_value"
    ).orderBy("column_name")


def mad_outliers(events: DataFrame, k_mad: float = 3.0) -> DataFrame:
    """Robust outlier detection on event values via the median
    absolute deviation: med = exact median, MAD = exact median of
    |x − med|, outliers = |x − med| > k·1.4826·MAD (1.4826 scales
    MAD to σ under normality). The heavy-tail-safe sibling of the
    z-score filter — one wild value cannot move the threshold, which
    is why curation pipelines gate on MAD, not stddev.

    ONE scan: values quantize to a 4-dp grid and collapse to a value
    histogram (the only data-scale shuffle, with partial
    aggregation); the median, the deviation histogram, the MAD and
    the outlier count are ALL derived from that histogram —
    deviation counts are histogram-mass regroupings (|v − med| keys),
    never a second pass over the rows. Every post-histogram relation
    is metadata-scale (≤ distinct quantized values). Output is one
    row: median, MAD, threshold, outlier count, total.
    """
    vq = (F.floor(F.col("value") * 10000 + 0.5).cast("long")).alias("v")
    hist = events.select(vq).groupBy("v").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    cum = hist.select(
        "v",
        "n",
        F.sum("n").over(w).alias("cum"),
        F.sum("n").over(w_all).alias("n_tot"),
    )
    med = cum.agg(
        F.min(
            F.when(F.col("cum") >= F.ceil(F.col("n_tot") / 2), F.col("v"))
        ).alias("med_q"),
        F.max("n_tot").alias("n_tot"),
    )
    # deviation histogram = regrouped value histogram (tiny)
    dhist = (
        hist.crossJoin(F.broadcast(med))
        .select(
            F.abs(F.col("v") - F.col("med_q")).alias("d"),
            "n",
            "med_q",
            "n_tot",
        )
        .groupBy("d", "med_q", "n_tot")
        .agg(F.sum("n").alias("n"))
    )
    dcum = dhist.select(
        "d",
        "n",
        "med_q",
        "n_tot",
        F.sum("n").over(
            Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
    )
    thr_q = F.floor(
        F.lit(k_mad * 1.4826)
        * F.min(
            F.when(F.col("cum") >= F.ceil(F.col("n_tot") / 2), F.col("d"))
        )
        + 0.5
    ).cast("long")
    mad = dcum.agg(
        F.min(
            F.when(F.col("cum") >= F.ceil(F.col("n_tot") / 2), F.col("d"))
        ).alias("mad_q"),
        thr_q.alias("thr_q"),
        F.max("med_q").alias("med_q"),
        F.max("n_tot").alias("n_tot"),
    )
    # outlier count = deviation-histogram mass above the threshold
    counted = (
        dcum.select("d", "n")
        .crossJoin(F.broadcast(mad))
        .groupBy("med_q", "mad_q", "thr_q", "n_tot")
        .agg(
            F.sum(F.when(F.col("d") > F.col("thr_q"), F.col("n")).otherwise(0))
            .alias("n_outliers")
        )
    )
    return counted.select(
        (F.col("med_q") / 10000.0).alias("median"),
        (F.col("mad_q") / 10000.0).alias("mad"),
        (F.col("thr_q") / 10000.0).alias("threshold"),
        "n_outliers",
        F.col("n_tot").alias("n_rows"),
    )

def user_cadence_stats(events: DataFrame) -> DataFrame:
    """Per-user behavioral cadence: event count plus exact median and
    p90 inter-event gap (whole seconds) — the engagement-rhythm
    features a churn/robot-detection model consumes. Gaps quantize to
    integer seconds BEFORE the percentile so the linear interpolation
    (SQL-standard percentile_cont, identical on any engine) runs on
    exact integers and halves — engine-portable without rounding
    tricks.

    Scale shape: one shuffle on user_id shared by the lag window and
    the grouped exact-percentile aggregate (group size = one user's
    events — bounded); no global sort, no driver loop.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        events.select("user_id", "ts", "event_id")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            "user_id",
            (
                F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")
            ).alias("gap_s"),
        )
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            (F.count(F.lit(1)) + 1).alias("n_events"),
            F.expr("percentile(gap_s, 0.5)").alias("median_gap_s"),
            F.expr("percentile(gap_s, 0.9)").alias("p90_gap_s"),
        )
        .orderBy("user_id")
    )


def user_active_islands(events: DataFrame) -> DataFrame:
    """Gaps-and-islands over per-user activity: consecutive active
    days collapse into streaks via the classic day − dense-rank
    constant-group trick; reports active days, streak count and the
    longest streak per user — the retention/habit features built
    without any iterative logic.

    Scale shape: distinct (user, day) then ONE shuffle on user_id
    shared by the ranking window and both rollups. No join.
    """
    days = (
        events.select(
            "user_id", F.to_date("ts").alias("d")
        ).distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    grouped = days.withColumn(
        "grp",
        F.datediff("d", F.lit("1970-01-01")) - F.row_number().over(w),
    )
    streaks = grouped.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len")
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.sum("len").alias("n_active_days"),
            F.count(F.lit(1)).alias("n_streaks"),
            F.max("len").alias("longest_streak"),
        )
        .orderBy("user_id")
    )


def join_cardinality_estimate(
    orders: DataFrame, lineitem: DataFrame, sample_mod: int = 10
) -> DataFrame:
    """CBO-style join-cardinality estimation: |A⋈B| = Σ_k c_A(k)·c_B(k)
    estimated from a deterministic 1/`sample_mod` KEY sample
    (md5(key) % mod == 0 — content-independent, no RNG) and compared
    against the exact count — the estimator a cost-based optimizer
    runs on histogram samples before picking a join strategy, with
    its observed error as the output.

    Scale shape: two per-key count aggregates (uniform key shuffles
    with partials), a key-sample equi-join over ~1/mod of the keys,
    one exact check join for the report (in production the exact side
    is absent — it is what's being predicted). No sort, no Python.
    """
    ko = orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    kl = lineitem.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    in_sample = (
        F.conv(F.substring(F.md5(F.col("k").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % sample_mod
        == 0
    )
    est = (
        ko.filter(in_sample)
        .join(kl, "k")
        .agg((F.sum(F.col("ca") * F.col("cb")) * sample_mod).alias("est_rows"))
    )
    actual = ko.join(kl, "k").agg(
        F.sum(F.col("ca") * F.col("cb")).alias("actual_rows")
    )
    return est.crossJoin(F.broadcast(actual)).select(
        "est_rows",
        "actual_rows",
        F.floor(
            F.abs(F.col("est_rows") - F.col("actual_rows"))
            / F.col("actual_rows")
            * 10000
            + 0.5
        )
        .cast("long")
        .alias("rel_err_x10k"),
    )


def audience_overlap_hll(
    events: DataFrame, tol_pct: float = 5.0
) -> DataFrame:
    """Audience-overlap matrix via mergeable HLL sketches and
    inclusion–exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), where
    the union estimate comes from hll_union_agg over the per-segment
    sketches — the 100 TB way to answer "how many users do campaigns
    A and B share" without a user-level join. The exact overlap (a
    distinct-pair count) rides along and the sketch estimate is
    asserted within `tol_pct` (or a small absolute floor) in-query —
    the same estimate-vs-exact contract as hll_distinct_users_check.

    Scale shape: one sketch per event_type (mergeable partials), a
    |types|² sketch cross (metadata-scale), one exact
    (user, type-pair) distinct for the report.
    """
    sk = events.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("nd"),
    )
    a = sk.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("sk_a"),
        F.col("nd").alias("nd_a"),
    )
    b = sk.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("sk_b"),
        F.col("nd").alias("nd_b"),
    )
    pairs = a.crossJoin(b).filter(F.col("type_a") < F.col("type_b"))
    est_union = F.hll_sketch_estimate(
        F.hll_union(F.col("sk_a"), F.col("sk_b"))
    )
    est_inter = F.col("nd_a") + F.col("nd_b") - est_union
    ut = events.select("user_id", "event_type").distinct()
    exact = (
        ut.alias("x")
        .join(
            ut.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    tol = F.greatest(
        F.lit(8.0), F.col("exact_overlap") * F.lit(tol_pct / 100.0)
    )
    return (
        pairs.join(exact, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            F.coalesce(F.col("exact_overlap"), F.lit(0)).alias(
                "exact_overlap"
            ),
            (
                F.abs(
                    est_inter
                    - F.coalesce(F.col("exact_overlap"), F.lit(0))
                )
                <= tol
            ).alias("within_tol"),
        )
        .orderBy("type_a", "type_b")
    )


def ab_test_report(events: DataFrame) -> DataFrame:
    """A/B experiment readout: users hash deterministically into
    variants A/B (content-independent md5 — the assignment IS the
    experiment bucketing), conversion = the user emitted a 'purchase'
    event; reports per-variant users / conversions / rate plus the
    chi-square independence statistic of variant × converted riding
    along on every row — the launch/no-launch screen built from
    operators the engine already has (chi_square_independence).

    Scale shape: one user-key aggregate (conversion flag), a 2-row
    variant rollup, and the single-scan chi-square over the tiny
    per-user frame; the statistic broadcasts back onto the report.
    """
    per_user = events.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias(
            "converted"
        )
    )
    variant = F.when(
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 2
        == 0,
        F.lit("A"),
    ).otherwise(F.lit("B"))
    pu = per_user.select(
        variant.alias("variant"),
        F.col("converted"),
        F.col("converted").cast("string").alias("conv_cat"),
    )
    stats = pu.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    chi = chi_square_independence(pu, "variant", "conv_cat").select(
        "chi2", "dof"
    )
    return (
        stats.crossJoin(F.broadcast(chi))
        .select(
            "variant",
            "n_users",
            "n_converted",
            (
                F.floor(
                    F.col("n_converted") / F.col("n_users") * 10000 + 0.5
                ).cast("long")
                / 10000.0
            ).alias("conv_rate"),
            "chi2",
            "dof",
        )
        .orderBy("variant")
    )


# ------------------------------------------------------------------
# Market-basket rules, co-purchase graph, attribution, decay features
# (round-3 extension wave: no reference analog — the reference's only
# analytics are five pandas aggregates, dashbord/dashbord.py:98-108)
# ------------------------------------------------------------------


def basket_rules(
    lineitem: DataFrame, min_support: int = 3, top: int = 50
) -> DataFrame:
    """Association rules (antecedent → consequent) over co-purchased
    parts: support, confidence = sup(a,b)/sup(a), and lift =
    sup(a,b)·N / (sup(a)·sup(b)). Top rules by lift.

    Scale shape: the pair join is keyed on l_orderkey with fan-out
    bounded by basket size (≤7 items per TPC-H order) — per-basket
    combinations, never parts × parts. The min_support HAVING prunes
    the rule set before the two item-count joins, which stay plain
    shuffle joins on the part key (item counts grow with |parts|, so
    no broadcast hint — AQE downgrades to broadcast when small). The
    basket total is a 1-row aggregate crossJoined in. Top-k is
    TakeOrderedAndProject. All integer products stay < 2^53 so the
    double math is engine-portable bit-for-bit.
    """
    items = lineitem.select("l_orderkey", "l_partkey").distinct()
    n_baskets = items.agg(
        F.countDistinct("l_orderkey").alias("n_baskets")
    )
    item_cnt = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    a = items.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("antecedent")
    )
    b = items.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("consequent")
    )
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_support)
    )
    ca = item_cnt.select(
        F.col("l_partkey").alias("antecedent"), F.col("cnt").alias("cnt_a")
    )
    cb = item_cnt.select(
        F.col("l_partkey").alias("consequent"), F.col("cnt").alias("cnt_b")
    )
    conf = F.col("support").cast("double") / F.col("cnt_a")
    lift = (F.col("support") * F.col("n_baskets")).cast("double") / (
        F.col("cnt_a") * F.col("cnt_b")
    )
    return (
        pairs.join(ca, "antecedent")
        .join(cb, "consequent")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "antecedent",
            "consequent",
            "support",
            _floor_round(conf, 4).alias("confidence"),
            _floor_round(lift, 4).alias("lift"),
        )
        .orderBy(
            F.desc("lift"), F.desc("support"), "antecedent", "consequent"
        )
        .limit(top)
    )


def part_triangle_stats(
    lineitem: DataFrame, min_cooccur: int = 2
) -> DataFrame:
    """Triangle census of the part co-purchase graph: nodes = parts,
    edges = part pairs co-occurring in ≥ min_cooccur distinct orders.
    Emits one row: nodes, edges, wedges (Σ deg·(deg−1)/2), triangles,
    and the global clustering coefficient 3·T/W.

    Scale shape: edge generation is the bounded per-basket pair join
    (see basket_rules); the support threshold prunes hairball edges
    before any graph step. Triangles are counted once each via the
    canonical a<b<c two-hop join — E(a,b) ⋈ E(b,c) builds wedges
    anchored at the middle vertex, then a semi join against E(a,c)
    closes them. Work is Σ deg(b)² over canonical edges; for skewed
    degree distributions switch to degree-ordered orientation (orient
    each edge toward the higher-degree endpoint) which bounds it by
    arboricity — same count, same plan shape, one extra degree join.
    The edge table is persisted: degrees, both wedge sides, and the
    closing probe all consume the SAME projection (the cache-sharing
    rule measured in the dedup family A/B).
    """
    items = lineitem.select("l_orderkey", "l_partkey").distinct()
    ap = items.select("l_orderkey", F.col("l_partkey").alias("pa"))
    bp = items.select("l_orderkey", F.col("l_partkey").alias("pb"))
    edges = (
        ap.join(bp, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_cooccur)
        .select("pa", "pb")
        .persist()
    )
    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    node_stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2)
        .cast("long")
        .alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    e1 = edges.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    e2 = edges.select(F.col("pa").alias("b"), F.col("pb").alias("c"))
    e3 = edges.select(F.col("pa").alias("a"), F.col("pb").alias("c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    gcc = F.when(
        F.col("n_wedges") > 0,
        3.0 * F.col("n_triangles") / F.col("n_wedges"),
    ).otherwise(F.lit(0.0))
    return (
        node_stats.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            _floor_round(gcc, 6).alias("gcc"),
        )
    )


def last_touch_attribution(events: DataFrame) -> DataFrame:
    """Last-touch revenue attribution: each purchase event is credited
    to the user's most recent preceding non-purchase event type (the
    'channel'); purchases with no preceding touch are 'direct'. Emits
    per-channel purchase counts and attributed value.

    Scale shape: one shuffle on user_id, then a per-key ordered window
    (ts, event_id tiebreak) with last(..., ignorenulls) over rows
    UNBOUNDED PRECEDING → 1 PRECEDING — no global sort, no self-join.
    The final channel rollup is a partial-aggregable groupBy over ≤5
    channel values.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        events.withColumn("channel", F.coalesce(touch, F.lit("direct")))
        .filter(F.col("event_type") == "purchase")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            _floor_round(F.sum("value"), 2).alias("attributed_value"),
        )
        .orderBy("channel")
    )


def user_decay_scores(events: DataFrame, half_life_days: float = 7.0) -> DataFrame:
    """Time-decayed engagement score per user — the feature-store
    staple: Σ value · 0.5^(age_days / half_life), age measured back
    from the corpus max timestamp so the score is deterministic.

    Scale shape: the anchor is a 1-row max aggregate crossJoined in
    (broadcast); the score is one partial-aggregable groupBy on
    user_id — a single uniform shuffle, no window, no sort. Age is
    derived from integer microseconds so both engines divide the
    exact same numbers.
    """
    anchor = events.agg(F.max("ts").alias("anchor_ts"))
    age_days = (
        F.unix_micros(F.col("anchor_ts")) - F.unix_micros(F.col("ts"))
    ) / F.lit(86400.0 * 1e6)
    term = F.col("value") * F.pow(F.lit(0.5), age_days / F.lit(half_life_days))
    return (
        events.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _floor_round(F.sum(term), 4).alias("decay_score"),
        )
        .orderBy("user_id")
    )


def user_behavior_entropy(events: DataFrame) -> DataFrame:
    """Behavioral-diversity score per user: Shannon entropy (nats) of
    the user's event-type distribution. Near-zero entropy on a
    high-volume account is the classic single-action-bot signature;
    the uniform-over-5-types ceiling is ln 5 ≈ 1.609.

    Scale shape: two stacked partial-aggregable groupBys — (user,
    type) counts, then per-user entropy from the count vector — both
    shuffle on the user key; no window, no sort. Type cardinality is
    tiny so the second aggregate is ~|users| rows.
    """
    per_type = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_user = per_type.groupBy("user_id").agg(
        F.sum("c").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c") * F.log(F.col("c"))).alias("clogc"),
    )
    # H = ln n − (Σ c·ln c)/n  (algebraic form: one pass, no p=c/n col)
    ent = F.log(F.col("n_events")) - F.col("clogc") / F.col("n_events")
    return per_user.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_types").cast("long").alias("n_types"),
        _floor_round(ent, 4).alias("entropy"),
    ).orderBy("user_id")


def benford_price_audit(orders: DataFrame) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the
    forensic-accounting screen for fabricated amounts: observed
    first-significant-digit shares vs the Benford expectation
    log10(1 + 1/d).

    Scale shape: the digit is derived by string-slicing the integer
    part (no log10/pow on doubles — their 1-ulp engine differences
    flip floor() at power-of-ten boundaries); then one 9-group
    aggregate with a broadcast 1-row total. Pure scan + tiny agg.
    """
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("int")
    per_digit = (
        orders.filter(F.col("o_totalprice") >= 1)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    total = per_digit.agg(F.sum("n_orders").alias("n_total"))
    expected = F.log10(1 + 1 / F.col("digit").cast("double"))
    return (
        per_digit.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_orders",
            _floor_round(
                F.col("n_orders").cast("double") / F.col("n_total"), 4
            ).alias("observed_share"),
            _floor_round(expected, 4).alias("benford_share"),
        )
        .orderBy("digit")
    )


def feature_woe_iv(events: DataFrame, n_bins: int = 10) -> DataFrame:
    """Weight-of-evidence / information-value table for one behavioral
    feature: users are binned into activity deciles (total event
    count), the binary target is 'total purchase value above the
    user-population median', and each bin gets WOE =
    ln(p(bin|pos)/p(bin|neg)) with Laplace 0.5 smoothing plus its IV
    contribution — the standard credit-scoring feature screen.

    Scale shape: everything downstream of the per-user rollup runs on
    |users| rows (one uniform shuffle); the decile ntile and the
    median are computed on that aggregated table — documented
    aggregate-then-window pattern, same as rfm_segments. Smoothing
    keeps WOE finite on empty cells, so the report never NaNs.
    """
    per_user = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                0.0
            )
        ).alias("purchase_value"),
    )
    med = per_user.agg(
        F.expr("percentile(purchase_value, 0.5)").alias("median_pv")
    )
    binned = per_user.crossJoin(F.broadcast(med)).select(
        F.ntile(n_bins)
        .over(Window.orderBy(F.asc("n_events"), F.asc("user_id")))
        .alias("bin"),
        F.when(F.col("purchase_value") > F.col("median_pv"), 1)
        .otherwise(0)
        .alias("pos"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("pos").alias("n_pos"),
        F.sum(1 - F.col("pos")).alias("n_neg"),
    )
    tot = per_bin.agg(
        F.sum("n_pos").alias("tot_pos"), F.sum("n_neg").alias("tot_neg")
    )
    p_pos = (F.col("n_pos") + 0.5) / (F.col("tot_pos") + 0.5 * n_bins)
    p_neg = (F.col("n_neg") + 0.5) / (F.col("tot_neg") + 0.5 * n_bins)
    woe = F.log(p_pos / p_neg)
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_users",
            F.col("n_pos").cast("long").alias("n_pos"),
            F.col("n_neg").cast("long").alias("n_neg"),
            _floor_round(woe, 4).alias("woe"),
            _floor_round((p_pos - p_neg) * woe, 6).alias("iv_contrib"),
        )
        .orderBy("bin")
    )


def revenue_reconciliation(
    orders: DataFrame, lineitem: DataFrame, rel_tol: float = 0.01
) -> DataFrame:
    """Cross-table financial reconciliation: per order, compare the
    header total (o_totalprice) against the recomputed line-level
    gross Σ extendedprice·(1−discount)·(1+tax); report order counts,
    headers without lines, and how many diverge beyond `rel_tol`
    relative difference — the closing-the-books audit every warehouse
    runs after ingest.

    Scale shape: one partial-aggregable groupBy on l_orderkey, one
    key join to headers (both sides shuffle on the same key — with
    both tables bucketed on orderkey this is exchange-free), one
    1-row rollup. Relative diff is floored to 6 dp before the
    tolerance compare so the flag is engine-portable.
    """
    line_gross = lineitem.groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
        ).alias("line_total")
    )
    joined = orders.select("o_orderkey", "o_totalprice").join(
        line_gross,
        orders.o_orderkey == line_gross.l_orderkey,
        "left",
    )
    rel = F.floor(
        F.abs(F.col("line_total") - F.col("o_totalprice"))
        / F.greatest(F.col("o_totalprice"), F.lit(1e-9))
        * 1000000
        + 0.5
    ).cast("long") / 1000000.0
    return joined.select(
        F.col("o_orderkey"),
        F.col("line_total").isNull().alias("no_lines"),
        rel.alias("rel_diff"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("no_lines").cast("long")).alias("n_headers_without_lines"),
        F.sum(
            F.when(
                ~F.col("no_lines") & (F.col("rel_diff") > rel_tol), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_mismatched"),
        _floor_round(
            F.max(F.when(~F.col("no_lines"), F.col("rel_diff"))), 6
        ).alias("max_rel_diff"),
    )


def surrogate_key_audit(customer: DataFrame) -> DataFrame:
    """Deterministic surrogate-key minting audit: dimension keys are
    the first 16 hex chars of md5(natural key) — stable across runs
    and engines (unlike monotonically_increasing_id, which is
    partition-layout-dependent) — and this report certifies the mint:
    distinct natural keys, distinct surrogates, and hash collisions
    (surrogates claimed by >1 natural key). 64 bits ≈ birthday-bound
    safe to ~10⁹ keys; the audit is the tripwire, not the hope.

    Scale shape: one groupBy on the surrogate (uniform by
    construction — it IS a hash), then a 1-row rollup.
    """
    sk = customer.select(
        F.col("c_name").alias("nk"),
        F.substring(F.md5(F.col("c_name")), 1, 16).alias("sk"),
    ).distinct()
    per_sk = sk.groupBy("sk").agg(F.count(F.lit(1)).alias("n_nk"))
    return per_sk.agg(
        F.sum("n_nk").cast("long").alias("n_natural_keys"),
        F.count(F.lit(1)).alias("n_surrogates"),
        F.sum(F.when(F.col("n_nk") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_collisions"),
    )


def revenue_cusum_alerts(orders: DataFrame) -> DataFrame:
    """CUSUM control chart over daily revenue — the classic
    sequential drift detector (catches slow upward creep that
    z-score-per-day monitors miss). Uses the closed form
    S_t = P_t − min_{s≤t} P_s with P = prefix sum of (x − target),
    target = global mean; alert when S_t exceeds 2σ.

    Scale shape: the per-day rollup is the only big shuffle; both
    windows (prefix sum, prefix min) run over |days| rows and reuse
    one ordering. Mean/σ are a 1-row broadcast. The closed form is
    what makes CUSUM expressible as windows at all — the textbook
    max(0, S+x−k) recurrence is not a parallel scan.
    """
    # every input into the prefix sums is rounded first (daily rev to
    # cents, the target to whole units) so both engines accumulate the
    # IDENTICAL double sequence — without this, summation-order ulps
    # amplified over |days| prefix additions flip the output floor
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        _floor_round(F.sum("o_totalprice"), 2).alias("rev")
    )
    stats = daily.agg(
        _floor_round(F.avg("rev"), 0).alias("mu"),
        _floor_round(F.stddev_samp("rev"), 0).alias("sigma"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    p = F.sum(F.col("rev") - F.col("mu")).over(w)
    prefixed = daily.crossJoin(F.broadcast(stats)).select(
        "day", "sigma", p.alias("p")
    )
    cusum = F.col("p") - F.min("p").over(w)
    return prefixed.select(
        "day",
        _floor_round(cusum, 2).alias("cusum"),
        (_floor_round(cusum, 2) > 2 * F.col("sigma")).alias("alert"),
    ).orderBy("day")


def bootstrap_order_mean_ci(
    orders: DataFrame, n_reps: int = BOOTSTRAP_REPS
) -> DataFrame:
    """Poisson-bootstrap 95% CI for the mean order value — the
    distributed bootstrap (Chamandy et al., "Estimating Uncertainty
    for Massive Data Streams", Google 2012): instead of resampling n
    rows with replacement (impossible without a global pass), each row
    draws an independent Poisson(1) replicate weight, which converges
    to the multinomial bootstrap for large n. Weights are NOT random
    here: md5(orderkey:replicate) → uniform in [0,1) → Poisson(1)
    inverse CDF, so both engines draw the identical resample.

    Scale shape: the ×R row fan-out happens map-side (explode feeding
    a partial hash-agg on replicate id), so the shuffle carries only
    R rows per upstream partition — at 100 TB the cost is one scan
    plus R×partitions partial rows, never R× the data over the wire.
    The percentile step runs over R rows (driver-trivial but kept
    distributed: one window over a 100-row frame).
    """
    # Poisson(1) inverse CDF at 1e-6 resolution: cumulative
    # probabilities e^{-1}·Σ 1/k! quantized to the same integer grid
    # both engines compare against. One md5 per (row, block-of-4)
    # feeds four replicates via its four disjoint 8-hex chunks — 4×
    # fewer digests than hashing per replicate (measured 23.8 s →
    # ~4 s at sf0.1), with identical per-chunk 32-bit uniformity.
    assert n_reps % 4 == 0
    thresholds = [367879, 735758, 919698, 981011, 996340, 999405, 999916]
    x = _floor_round(F.col("o_totalprice"), 2)
    # spread the ×R/4 fan-out across the cluster BEFORE exploding: a
    # small parquet reads as few input splits, and an explode inherits
    # its parent's partitioning — without this the 15M generated rows
    # land in one task (measured 13.7 s → 3.4 s at sf0.1)
    spark = orders.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    rows = (
        orders.select(
            F.col("o_orderkey").cast("string").alias("k"), x.alias("x")
        )
        .repartition(n_parts, "k")
        .withColumn(
            "b", F.explode(F.sequence(F.lit(0), F.lit(n_reps // 4 - 1)))
        )
        .withColumn("digest", F.md5(F.concat_ws(":", F.col("k"), F.col("b"))))
        .withColumn("j", F.explode(F.sequence(F.lit(0), F.lit(3))))
        .withColumn("r", F.col("b") * 4 + F.col("j"))
    )
    u6 = (
        F.conv(F.expr("substring(digest, 1 + 8*j, 8)"), 16, 10).cast("long")
        % 1000000
    )
    w = F.lit(len(thresholds))
    for i in range(len(thresholds) - 1, -1, -1):
        w = F.when(u6 < thresholds[i], i).otherwise(w)
    per_rep = (
        rows.withColumn("w", w.cast("long"))
        .groupBy("r")
        .agg(
            F.sum(F.col("w") * F.col("x")).alias("wx"),
            F.sum("w").alias("ws"),
        )
        .select(
            "r", _floor_round(F.col("wx") / F.col("ws"), 4).alias("mean_r")
        )
    )
    ranked = per_rep.select(
        "mean_r",
        F.row_number().over(Window.orderBy("mean_r", "r")).alias(
            "rank"
        ),
    )
    # standard percentile-bootstrap ranks: ceil((R+1)·α/2) /
    # floor((R+1)·(1−α/2)) — symmetric tails (3/98 for R=100)
    lo_rank, hi_rank = bootstrap_ci_ranks(n_reps)
    ci = ranked.agg(
        F.max(F.when(F.col("rank") == lo_rank, F.col("mean_r"))).alias("ci_lo"),
        F.max(F.when(F.col("rank") == hi_rank, F.col("mean_r"))).alias("ci_hi"),
    )
    point = orders.agg(
        _floor_round(F.avg(x), 4).alias("point_mean"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        "point_mean", "ci_lo", "ci_hi", "n_orders",
        F.lit(n_reps).cast("long").alias("n_replicates"),
    )


def customer_churn_hazard(
    orders: DataFrame, horizon_days: int = CHURN_HORIZON_DAYS
) -> DataFrame:
    """Nelson–Aalen cumulative-hazard curve for customer churn —
    survival analysis with right-censoring done exactly: a customer's
    observed lifetime is first→last order; customers still active in
    the final `horizon_days` of the corpus are CENSORED (they inform
    the at-risk denominator up to their lifetime but are not churn
    events). H(t) = Σ_{event times ≤ t} d_i / n_i. Reported in hazard
    space (not the Kaplan–Meier product) because the cumulative sum of
    exact IEEE quotients is bit-reproducible across engines, while
    Π(1−d/n) via exp/ln is not.

    Scale shape: one custkey shuffle builds lifetimes; everything
    after runs over |distinct lifetimes| rows (≤ corpus span in days)
    — the same small-series window pattern as the revenue monitors.
    """
    per_cust = orders.groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("first_day"),
        F.max(F.to_date("o_orderdate")).alias("last_day"),
    )
    bounds = orders.agg(F.max(F.to_date("o_orderdate")).alias("corpus_max"))
    life = per_cust.crossJoin(F.broadcast(bounds)).select(
        F.datediff("last_day", "first_day").alias("t"),
        (
            F.datediff("corpus_max", "last_day") > F.lit(horizon_days)
        ).cast("long").alias("event"),
    )
    per_t = life.groupBy("t").agg(
        F.sum("event").alias("d"), F.count(F.lit(1)).alias("c")
    )
    at_risk = F.sum("c").over(
        Window.orderBy("t").rowsBetween(0, Window.unboundedFollowing)
    )
    curve = per_t.select(
        "t", "d", at_risk.alias("n_at_risk")
    ).filter(F.col("d") > 0)
    h = F.sum(F.col("d").cast("double") / F.col("n_at_risk")).over(
        Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    )
    return curve.select(
        F.col("t").cast("long").alias("lifetime_days"),
        F.col("d").cast("long").alias("n_churned"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        _floor_round(h, 6).alias("cum_hazard"),
    ).orderBy("lifetime_days")


def daily_revenue_acf(orders: DataFrame, max_lag: int = 7) -> DataFrame:
    """Autocorrelation function of the daily-revenue series at row
    lags 1..max_lag — the diagnostic that says whether the smoothing
    monitors (EWMA/Holt/CUSUM) have any signal to exploit and at what
    period (weekly seasonality shows as a lag-7 spike). Standard ACF
    estimator: r_k = Σ(x_t−μ)(x_{t−k}−μ) / Σ(x_t−μ)², both sums over
    the full series, μ the (rounded) series mean.

    Scale shape: the per-day rollup is the only data-sized shuffle;
    the k lag columns come from ONE window ordering shared by all
    lags, then one unpivot → a (lag, products) partial agg. No
    self-join — lag() is the co-located form of the shifted series.
    """
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        _floor_round(F.sum("o_totalprice"), 2).alias("rev")
    )
    mu = daily.agg(_floor_round(F.avg("rev"), 2).alias("mu"))
    w = Window.orderBy("day")
    devs = daily.crossJoin(F.broadcast(mu)).select(
        "day",
        (F.col("rev") - F.col("mu")).alias("dev"),
        *[
            (F.lag("rev", k).over(w) - F.col("mu")).alias(f"dev_{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    stacked = devs.select(
        "dev",
        F.expr(
            "stack({n}, {args}) AS (lag, dev_k)".format(
                n=max_lag,
                args=", ".join(f"{k}, dev_{k}" for k in range(1, max_lag + 1)),
            )
        ),
    )
    denom = devs.agg(F.sum(F.col("dev") * F.col("dev")).alias("ss"))
    return (
        stacked.filter(F.col("dev_k").isNotNull())
        .groupBy("lag")
        .agg(
            F.sum(F.col("dev") * F.col("dev_k")).alias("num"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
        .crossJoin(F.broadcast(denom))
        .select(
            F.col("lag").cast("long").alias("lag"),
            _floor_round(F.col("num") / F.col("ss"), 6).alias("acf"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
        )
        .orderBy("lag")
    )


def logistic_churn_gd(
    orders: DataFrame,
    n_steps: int = 3,
    horizon_days: int = CHURN_HORIZON_DAYS,
) -> DataFrame:
    """Distributed logistic regression by full-batch gradient descent
    — churn (no order in the last 90 days) on two standardized
    behavioral features (order count, total spend). Each step is one
    partial-aggregable pass: gradient g = Σ(y−σ(w·x))x / n, then
    w ← w + η·g with the weights FLOOR-QUANTIZED to 1e-6 before the
    next pass, so both engines walk the identical integer-grid
    trajectory (the same device as top_component_power / Holt).

    Scale shape: one custkey shuffle builds the feature table; each
    GD step is a map + 1-row aggregate with the current weights
    broadcast back — n_steps chained aggregates, no driver loop, no
    collect. At 100 TB each step is a single scan of the cached
    feature table.
    """
    eta = 0.5
    bounds = orders.agg(F.max(F.to_date("o_orderdate")).alias("corpus_max"))
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _floor_round(F.sum("o_totalprice"), 2).alias("spend"),
        F.max(F.to_date("o_orderdate")).alias("last_day"),
    )
    labeled = per_cust.crossJoin(F.broadcast(bounds)).select(
        F.col("n_orders").cast("double").alias("f1"),
        F.col("spend").alias("f2"),
        (F.datediff("corpus_max", "last_day") > F.lit(horizon_days)).cast("double").alias("y"),
    )
    st = labeled.agg(
        _floor_round(F.avg("f1"), 6).alias("m1"),
        _floor_round(F.stddev_samp("f1"), 6).alias("s1"),
        _floor_round(F.avg("f2"), 6).alias("m2"),
        _floor_round(F.stddev_samp("f2"), 6).alias("s2"),
    )
    feats = labeled.crossJoin(F.broadcast(st)).select(
        "y",
        ((F.col("f1") - F.col("m1")) / F.col("s1")).alias("x1"),
        ((F.col("f2") - F.col("m2")) / F.col("s2")).alias("x2"),
    )
    # no driver loop: each step's 1-row gradient aggregate is folded
    # back in with crossJoin(broadcast(...)) so the whole trajectory
    # is one lazy plan — per-step weight columns carry the step index
    # to keep the chained self-referencing joins unambiguous.
    w0, w1, w2 = F.lit(0.0), F.lit(0.0), F.lit(0.0)
    wcols: list[str] = []
    for i in range(1, n_steps + 1):
        z = w0 + w1 * F.col("x1") + w2 * F.col("x2")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        resid = F.col("y") - p
        # carry the (row-constant) previous weights through the 1-row
        # aggregate so the weight-update select can reference them
        carry = [F.max(c).alias(c) for c in wcols]
        g = feats.agg(
            _floor_round(F.avg(resid), 6).alias("g0"),
            _floor_round(F.avg(resid * F.col("x1")), 6).alias("g1"),
            _floor_round(F.avg(resid * F.col("x2")), 6).alias("g2"),
            *carry,
        )
        wcols = [f"w0_{i}", f"w1_{i}", f"w2_{i}"]
        step = g.select(
            _floor_round(w0 + eta * F.col("g0"), 6).alias(wcols[0]),
            _floor_round(w1 + eta * F.col("g1"), 6).alias(wcols[1]),
            _floor_round(w2 + eta * F.col("g2"), 6).alias(wcols[2]),
        )
        feats = feats.crossJoin(F.broadcast(step)).select(
            "y", "x1", "x2", *wcols
        )
        w0, w1, w2 = (F.col(c) for c in wcols)
    z = w0 + w1 * F.col("x1") + w2 * F.col("x2")
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feats.agg(
        F.max(wcols[0]).alias("w_intercept"),
        F.max(wcols[1]).alias("w_orders"),
        F.max(wcols[2]).alias("w_spend"),
        _floor_round(
            F.avg(((p >= 0.5).cast("double") == F.col("y")).cast("double")), 4
        ).alias("train_accuracy"),
        F.count(F.lit(1)).alias("n_customers"),
    )


def churn_score_auc(
    orders: DataFrame, horizon_days: int = CHURN_HORIZON_DAYS
) -> DataFrame:
    """Exact ROC AUC of order count as a churn score — the
    Mann–Whitney rank-sum form with average ranks for ties:
    AUC = (R⁺ − P(P+1)/2) / (P·N) where R⁺ is the sum of the
    positive class's tie-averaged ranks. Every intermediate is an
    exact binary fraction (half-integers), so the result is
    bit-identical across engines with no quantization tricks until
    the final display floor.

    Scale shape: one custkey shuffle builds (score, label); the rank
    arithmetic runs over |distinct scores| rows — order counts are a
    small discrete domain, so the single-partition window holds at
    any corpus size (the same bounded-series argument as the revenue
    monitors; contrast age_ecdf's documented global-order caveat).
    """
    bounds = orders.agg(F.max(F.to_date("o_orderdate")).alias("corpus_max"))
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("s"),
        F.max(F.to_date("o_orderdate")).alias("last_day"),
    )
    labeled = per_cust.crossJoin(F.broadcast(bounds)).select(
        "s",
        (F.datediff("corpus_max", "last_day") > F.lit(horizon_days))
        .cast("long")
        .alias("y"),
    )
    per_s = labeled.groupBy("s").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("npos")
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_s.select(
        "n",
        "npos",
        (
            F.coalesce(F.sum("n").over(w), F.lit(0))
            + (F.col("n") + 1) / F.lit(2.0)
        ).alias("avg_rank"),
    )
    tot = ranked.agg(
        F.sum(F.col("npos") * F.col("avg_rank")).alias("r_pos"),
        F.sum("npos").alias("p"),
        F.sum("n").alias("t"),
        F.count(F.lit(1)).alias("n_scores"),
    )
    # AUC is undefined on a single-class corpus (no churned, or no
    # retained, customers): return an INTENTIONAL NULL rather than
    # the incidental NULL a 0-denominator would produce — callers see
    # n_pos/n_neg alongside and can tell why (ADVICE r3).
    auc = F.when(
        (F.col("p") > 0) & (F.col("t") > F.col("p")),
        (F.col("r_pos") - F.col("p") * (F.col("p") + 1) / F.lit(2.0))
        / (F.col("p") * (F.col("t") - F.col("p"))),
    )
    return tot.select(
        _floor_round(auc, 6).alias("auc"),
        _floor_round(2 * auc - 1, 6).alias("gini"),
        F.col("p").cast("long").alias("n_pos"),
        (F.col("t") - F.col("p")).cast("long").alias("n_neg"),
        F.col("n_scores").cast("long").alias("n_distinct_scores"),
    )


def kfold_churn_baseline(
    orders: DataFrame, k: int = 5, horizon_days: int = CHURN_HORIZON_DAYS
) -> DataFrame:
    """K-fold cross-validated Brier score of the mean-rate baseline
    churn predictor — the evaluation-protocol floor every real model
    must beat. Folds are deterministic (md5(custkey) mod k, the same
    portable device as the train/val/test split); each fold's train
    rate comes from the OTHER folds by inclusion–exclusion on the
    global aggregate, and the held-out Brier expands algebraically
    (Σ(r−y)² = c·r² − 2r·s + s since y² = y), so the whole protocol
    is ONE custkey shuffle + one k-row aggregate — no per-fold scan,
    no second pass.
    """
    bounds = orders.agg(F.max(F.to_date("o_orderdate")).alias("corpus_max"))
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_day")
    )
    fold = (
        F.conv(
            F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % k
    )
    labeled = per_cust.crossJoin(F.broadcast(bounds)).select(
        fold.alias("fold"),
        (F.datediff("corpus_max", "last_day") > F.lit(horizon_days)).cast("long").alias("y"),
    )
    per_fold = labeled.groupBy("fold").agg(
        F.count(F.lit(1)).alias("c"), F.sum("y").alias("s")
    )
    # global totals as a window over the k-row fold table — a second
    # aggregate would recompute the whole custkey pass on the
    # broadcast side; the window reuses the k rows already in hand
    wall = Window.partitionBy()
    r = _floor_round(
        (F.sum("s").over(wall) - F.col("s"))
        / (F.sum("c").over(wall) - F.col("c")),
        6,
    )
    joined = per_fold.select("fold", "c", "s", r.alias("r"))
    brier = (
        F.col("r") * F.col("r")
        - 2 * F.col("r") * F.col("s") / F.col("c")
        + F.col("s") / F.col("c")
    )
    return joined.select(
        F.col("fold").cast("long").alias("fold"),
        F.col("c").cast("long").alias("n_test"),
        F.col("r").alias("train_rate"),
        _floor_round(brier, 6).alias("brier"),
    ).orderBy("fold")


def feature_psi_drift(orders: DataFrame, n_bins: int = 10) -> DataFrame:
    """Population Stability Index of the order-value distribution
    between two deterministic corpus halves (md5(orderkey) parity) —
    the industry-standard feature-drift tripwire (PSI < 0.1 stable,
    0.1–0.2 watch, > 0.2 action). Bins are fixed-width over the
    global max; bin shares are add-one smoothed so empty bins keep
    every ln finite and the statistic engine-portable.

    Scale shape: one scan builds (half, bin) cells — 2·n_bins rows —
    then all PSI arithmetic happens on that tiny relation. The global
    max is a broadcast 1-row aggregate; nothing shuffles more than
    the cell table.
    """
    mx = orders.agg(
        F.ceil(F.max("o_totalprice")).cast("long").alias("mx")
    )
    half = (
        F.conv(
            F.substring(
                F.md5(F.col("o_orderkey").cast("string")), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    binned = orders.crossJoin(F.broadcast(mx)).select(
        half.alias("half"),
        F.least(
            F.lit(n_bins - 1),
            F.floor(
                F.col("o_totalprice") * n_bins / (F.col("mx") + 1)
            ).cast("long"),
        ).alias("bin"),
    )
    # conditional-sum pivot (not an outer join of the two halves):
    # a bin absent from one half still gets its add-one smoothing
    # floor because n defaults to 0, never NULL
    per_bin = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n_b"),
    )
    wall = Window.partitionBy()
    p_a = (F.col("n_a") + 1) / (F.sum("n_a").over(wall) + n_bins)
    p_b = (F.col("n_b") + 1) / (F.sum("n_b").over(wall) + n_bins)
    contrib = (p_a - p_b) * (F.log(p_a) - F.log(p_b))
    return per_bin.select(
        "n_a", "n_b", contrib.alias("contrib")
    ).agg(
        _floor_round(F.sum("contrib"), 6).alias("psi"),
        F.sum("n_a").cast("long").alias("n_first_half"),
        F.sum("n_b").cast("long").alias("n_second_half"),
        F.count(F.lit(1)).alias("n_bins_present"),
    )


def conformal_order_intervals(orders: DataFrame) -> DataFrame:
    """Split-conformal 90% prediction interval for order value: the
    per-priority mean trained on the md5-even half predicts the odd
    (calibration) half; the interval half-width is the
    ⌈0.9(n_cal+1)⌉-th smallest absolute residual, computed exactly
    over $100-binned residuals (finite-sample-valid conformal
    quantile, reported at the bin's upper edge so coverage is
    conservative). Empirical calibration coverage is reported
    alongside — by construction it must be ≥ 0.9.

    Scale shape: training is a 5-row broadcast aggregate; the
    conformal quantile runs over |distinct residual bins| rows via
    the histogram-CDF pattern — no global sort of residuals.
    """
    half = (
        F.conv(
            F.substring(
                F.md5(F.col("o_orderkey").cast("string")), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    tagged = orders.select(
        half.alias("half"), "o_orderpriority", "o_totalprice"
    )
    train = tagged.filter(F.col("half") == 0)
    cal = tagged.filter(F.col("half") == 1)
    model = train.groupBy("o_orderpriority").agg(
        _floor_round(F.avg("o_totalprice"), 2).alias("pred")
    )
    resid = cal.join(F.broadcast(model), "o_orderpriority").select(
        F.floor(F.abs(F.col("o_totalprice") - F.col("pred")) / 100)
        .cast("long")
        .alias("rb")
    )
    hist = resid.groupBy("rb").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("rb").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cdf = hist.select(
        "rb",
        F.sum("n").over(w).alias("cum"),
        F.sum("n").over(wall).alias("n_cal"),
    )
    # conformal rank: ceil(0.9 * (n_cal + 1)), exact in integers
    rank = F.ceil((F.col("n_cal") + 1) * 9 / 10).cast("long")
    qbin = cdf.filter(F.col("cum") >= rank).agg(
        F.min("rb").alias("qrb"), F.max("n_cal").alias("n_cal")
    )
    covered = cdf.crossJoin(
        F.broadcast(qbin.select(F.col("qrb").alias("q2")))
    ).filter(F.col("rb") <= F.col("q2")).agg(
        F.max("cum").alias("n_within")
    )
    n_train = train.agg(F.count(F.lit(1)).alias("n_train"))
    return (
        qbin.crossJoin(F.broadcast(covered))
        .crossJoin(F.broadcast(n_train))
        .select(
            F.col("n_train").cast("long").alias("n_train"),
            F.col("n_cal").cast("long").alias("n_cal"),
            ((F.col("qrb") + 1) * 100).cast("long").alias("halfwidth_usd"),
            _floor_round(F.col("n_within") / F.col("n_cal"), 4).alias(
                "empirical_coverage"
            ),
        )
    )


def score_calibration_report(
    orders: DataFrame, horizon_days: int = CHURN_HORIZON_DAYS
) -> DataFrame:
    """Reliability audit of the order-count churn score: the md5-even
    customer half trains a per-score churn rate (Laplace-smoothed),
    the odd half evaluates it, and the report is the expected
    calibration error (ECE = Σ wᵢ·|pred−obs|) plus the worst bin —
    the go/no-go check before a score is used as a probability.

    Scale shape: one custkey shuffle; train and eval rates are
    per-score aggregates over the bounded score domain; ECE folds
    |scores| rows. The eval join is broadcast (score domain tiny).
    """
    bounds = orders.agg(F.max(F.to_date("o_orderdate")).alias("corpus_max"))
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("s"),
        F.max(F.to_date("o_orderdate")).alias("last_day"),
    )
    half = (
        F.conv(
            F.substring(
                F.md5(F.col("o_custkey").cast("string")), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    labeled = per_cust.crossJoin(F.broadcast(bounds)).select(
        half.alias("half"),
        "s",
        (F.datediff("corpus_max", "last_day") > F.lit(horizon_days)).cast("long").alias("y"),
    )
    # train/eval pivot as conditional sums in ONE per-score aggregate
    # — filtering `labeled` twice and joining back would recompute
    # the whole custkey pass on each branch
    per_s = labeled.groupBy("s").agg(
        F.sum(F.when(F.col("half") == 0, F.col("y"))).alias("y_tr"),
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n_tr"),
        F.sum(F.when(F.col("half") == 1, F.col("y"))).alias("y_ev"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n_eval"),
    ).filter((F.col("n_tr") > 0) & (F.col("n_eval") > 0))
    p_pred = _floor_round((F.col("y_tr") + 1) / (F.col("n_tr") + 2), 6)
    p_obs = _floor_round(F.col("y_ev") / F.col("n_eval"), 6)
    cells = per_s.select(
        "s",
        "n_eval",
        p_pred.alias("p_pred"),
        p_obs.alias("p_obs"),
        F.abs(p_pred - p_obs).alias("gap"),
    )
    return cells.agg(
        _floor_round(
            F.sum(F.col("gap") * F.col("n_eval")) / F.sum("n_eval"), 6
        ).alias("ece"),
        _floor_round(F.max("gap"), 6).alias("worst_gap"),
        F.max_by("s", F.struct(F.col("gap"), -F.col("s")))
        .cast("long")
        .alias("worst_score"),
        F.count(F.lit(1)).alias("n_scores_eval"),
        F.sum("n_eval").cast("long").alias("n_eval_customers"),
    )


def copurchase_hitrate(lineitem: DataFrame) -> DataFrame:
    """Hit-rate@1 of the co-occurrence recommender — the end-to-end
    eval protocol for "customers who bought X also bought Y": train
    pair counts on the md5-even half of orders, recommend each item's
    top co-item (argmax count, ties → lowest part key), then score on
    the held-out odd half: a recommendation hits when the recommended
    part appears in the same held-out basket. This is the
    leakage-free measurement loop a recommender ships with.

    Scale shape: the pair 'self-join' is keyed on l_orderkey with
    fan-out bounded by basket size (≤ 7 TPC-H lineitems), never
    parts×parts; the recommendation table is one argmax groupBy; the
    eval is two keyed equi-joins (item→rec on part, hit probe on
    orderkey+part). Nothing nested-loop, nothing global-sorted.
    """
    half = (
        F.conv(
            F.substring(
                F.md5(F.col("l_orderkey").cast("string")), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    items = lineitem.select(
        "l_orderkey", "l_partkey", half.alias("half")
    ).distinct()
    train = items.filter(F.col("half") == 0).select(
        "l_orderkey", "l_partkey"
    )
    ev = items.filter(F.col("half") == 1).select("l_orderkey", "l_partkey")
    a = train.withColumnRenamed("l_partkey", "pa")
    b = train.withColumnRenamed("l_partkey", "pb")
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") != F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    recs = pairs.groupBy("pa").agg(
        F.max_by("pb", F.struct(F.col("n"), -F.col("pb"))).alias("rec")
    )
    scored = ev.join(recs, ev.l_partkey == recs.pa, "inner").select(
        "l_orderkey", "l_partkey", "rec"
    )
    basket = ev.select(
        F.col("l_orderkey").alias("bo"), F.col("l_partkey").alias("bp")
    )
    hits = scored.join(
        basket,
        (F.col("l_orderkey") == F.col("bo")) & (F.col("rec") == F.col("bp")),
        "left",
    )
    return hits.agg(
        F.count(F.lit(1)).alias("n_evaluable"),
        F.sum(F.when(F.col("bp").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_hits"),
        _floor_round(
            F.sum(F.when(F.col("bp").isNotNull(), 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("hit_rate"),
    )


def ks_two_sample_drift(
    orders: DataFrame, bin_usd: int = KS_BIN_USD
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test between the md5-even
    and md5-odd halves of the order-value distribution — the classic
    nonparametric companion to feature_psi_drift (PSI is a binned
    divergence with a rule-of-thumb threshold; KS gives a
    distribution-free statistic with an asymptotic critical value).
    D = max over bins of |CDF_a − CDF_b| on $`bin_usd`-binned values
    (binned KS never exceeds exact KS, so a binned rejection is
    sound), compared against the α=0.05 two-sample critical value
    c(α)·√((n+m)/nm), c(0.05)=1.358.

    Scale shape: one scan feeds a conditional-sum bin pivot (same
    one-pass device as feature_psi_drift — no outer join of halves),
    then the CDF window and the max run over the |price range /
    bin_usd|-row histogram, a bounded relation at any corpus size.
    All emitted ratios floor-quantized to 6 dp.
    """
    half = (
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % 2
    )
    binned = orders.select(
        half.alias("half"),
        F.floor(F.col("o_totalprice") / bin_usd).cast("long").alias("bin"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n_b"),
    )
    w_cdf = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cdf = per_bin.select(
        F.sum("n_a").over(w_cdf).alias("ca"),
        F.sum("n_b").over(w_cdf).alias("cb"),
        F.sum("n_a").over(wall).alias("ta"),
        F.sum("n_b").over(wall).alias("tb"),
    )
    gap = _floor_round(
        F.abs(F.col("ca") / F.col("ta") - F.col("cb") / F.col("tb")), 6
    )
    agg = cdf.select(
        gap.alias("gap"), "ta", "tb", F.lit(1).alias("one")
    ).groupBy("ta", "tb").agg(
        F.max("gap").alias("ks_stat"),
        F.count(F.lit(1)).alias("n_bins"),
    )
    crit = _floor_round(
        1.358
        * F.sqrt(
            (F.col("ta") + F.col("tb")) / (F.col("ta") * F.col("tb"))
        ),
        6,
    )
    return agg.select(
        "ks_stat",
        crit.alias("crit_value_95"),
        (F.col("ks_stat") > crit).alias("drift_detected"),
        F.col("ta").cast("long").alias("n_first_half"),
        F.col("tb").cast("long").alias("n_second_half"),
        F.col("n_bins").cast("long").alias("n_bins"),
    )


def bloom_membership_audit(
    customer: DataFrame,
    orders: DataFrame,
    m_bits: int = BLOOM_M_BITS,
    k_hashes: int = BLOOM_K_HASHES,
) -> DataFrame:
    """Distributed Bloom-filter build + false-positive audit — the
    sketch that pre-filters a 100 TB probe side before an expensive
    join (the relational cousin of the runtime bloom the engine's
    plan contracts already pin): customer keys populate an m-bit
    filter via k md5-derived positions; the probe set is every
    ordering customer (must ALL pass — the audit asserts zero false
    negatives, the Bloom guarantee) plus the same keys shifted past
    the key domain (guaranteed non-members, measuring the realized
    false-positive rate against the analytic (1−e^{−kn/m})^k).

    Engine-portable: positions are md5(key:i) mod m — no native
    bloom/xxhash, so the DuckDB oracle builds the identical filter.

    Scale shape: the filter relation is ≤ m distinct positions
    (broadcastable at any sensible m; a 10⁹-key production filter
    shards by key range into a bitmap per executor instead — same
    math); the build is one distinct over members×k map-side rows;
    the probe is a broadcast semi-join per (probe, i) row plus one
    keyed count — no shuffle of the probe corpus beyond its own
    aggregation.
    """

    def _positions(df, key_col):
        rows = df.select(
            "*",
            F.explode(
                F.array(*[F.lit(i) for i in range(k_hashes)])
            ).alias("i"),
        )
        pos = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(":", F.col(key_col), F.col("i"))
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % m_bits
        )
        return rows.withColumn("pos", pos)

    members = customer.select(
        F.col("c_custkey").cast("string").alias("k")
    ).distinct()
    bits = _positions(members, "k").select("pos").distinct()
    probe_keys = orders.select(
        F.col("o_custkey").cast("long").alias("pk")
    ).distinct()
    probes = probe_keys.select(
        F.col("pk").cast("string").alias("k"), F.lit(True).alias("is_member")
    ).unionByName(
        probe_keys.select(
            (F.col("pk") + 10000000).cast("string").alias("k"),
            F.lit(False).alias("is_member"),
        )
    )
    # Single pass: every (probe, i) row marks whether its position is
    # set (broadcast left join against the ≤m-row filter relation),
    # then ONE probe-keyed aggregation decides pass/fail — no second
    # join back to the probe corpus (a shuffle join that grew with it).
    bits_hit = bits.withColumn("hit", F.lit(1))
    verdicts = (
        _positions(probes, "k")
        .join(F.broadcast(bits_hit), "pos", "left")
        .groupBy("k", "is_member")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit")
        )
        .select(
            "is_member",
            (F.col("n_hit") == k_hashes).alias("passes"),
        )
    )
    summary = verdicts.groupBy().agg(
        F.sum(F.when(F.col("is_member"), 1).otherwise(0)).alias("n_pos"),
        F.sum(
            F.when(F.col("is_member") & ~F.col("passes"), 1).otherwise(0)
        ).alias("n_false_neg"),
        F.sum(F.when(~F.col("is_member"), 1).otherwise(0)).alias("n_neg"),
        F.sum(
            F.when(~F.col("is_member") & F.col("passes"), 1).otherwise(0)
        ).alias("n_false_pos"),
    )
    n_set = bits.agg(F.count(F.lit(1)).alias("n_bits_set"))
    n_mem = members.agg(F.count(F.lit(1)).alias("n_members"))
    theo = _floor_round(
        F.pow(
            1.0
            - F.exp(
                -F.lit(float(k_hashes)) * F.col("n_members") / F.lit(float(m_bits))
            ),
            float(k_hashes),
        ),
        6,
    )
    return (
        summary.crossJoin(F.broadcast(n_set))
        .crossJoin(F.broadcast(n_mem))
        .select(
            F.col("n_members").cast("long").alias("n_members"),
            F.col("n_bits_set").cast("long").alias("n_bits_set"),
            _floor_round(F.col("n_bits_set") / F.lit(float(m_bits)), 6).alias(
                "fill_ratio"
            ),
            F.col("n_pos").cast("long").alias("n_member_probes"),
            F.col("n_false_neg").cast("long").alias("n_false_neg"),
            F.col("n_neg").cast("long").alias("n_neg_probes"),
            F.col("n_false_pos").cast("long").alias("n_false_pos"),
            _floor_round(F.col("n_false_pos") / F.col("n_neg"), 6).alias(
                "measured_fpr"
            ),
            theo.alias("theoretical_fpr"),
        )
    )


def event_debounce_report(
    events: DataFrame, gap_s: int = DEBOUNCE_GAP_S
) -> DataFrame:
    """Event-stream debounce audit: an event is a BOUNCE when the
    same (user, event_type) fired within `gap_s` seconds before it —
    double-clicks, retry storms, at-least-once delivery duplicates.
    The report counts kept vs debounced per event type, with the
    mean observed repeat gap among bounces (how aggressive the window
    is — exact and portable, unlike a percentile). The batch twin of
    the streaming dropDuplicatesWithinWatermark tier: run it over
    history to SIZE the streaming dedup window before deploying it.

    Scale shape: one (user_id, event_type) shuffle; the lag window
    runs inside each user-type partition (bounded by per-user
    activity, never global); the rollup is a |event types|-row
    aggregate.
    """
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    prev_ts = F.lag("ts").over(w)
    gap = F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)
    tagged = events.select(
        "event_type",
        gap.alias("gap"),
        (prev_ts.isNotNull() & (gap < gap_s)).alias("bounced"),
    )
    return (
        tagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("bounced"), 1).otherwise(0))
            .cast("long")
            .alias("n_debounced"),
            _floor_round(
                F.avg(F.when(F.col("bounced"), F.col("gap"))), 2
            ).alias("mean_bounce_gap_s"),
        )
        .select(
            "event_type",
            "n_events",
            "n_debounced",
            (F.col("n_events") - F.col("n_debounced")).alias("n_kept"),
            _floor_round(F.col("n_debounced") / F.col("n_events"), 6).alias(
                "bounce_rate"
            ),
            "mean_bounce_gap_s",
        )
        .orderBy("event_type")
    )


def dow_adjusted_anomalies(
    orders: DataFrame, z_thresh: float = DOW_Z_THRESH
) -> DataFrame:
    """Seasonality-adjusted revenue anomaly detection: daily revenue
    is compared against its DAY-OF-WEEK mean (weekly seasonality
    removed — the naive global z-score flags every Saturday), and
    days whose residual z-score clears `z_thresh` are anomalies.
    The report returns every day with its dow baseline, residual z,
    and flag — the input to an alerting sink.

    Scale shape: one day rollup (|days| rows), a 7-row dow baseline
    broadcast back, and residual σ via a single window over the
    bounded day series. Same bounded-series argument as the revenue
    CUSUM/EWMA monitors.
    """
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(
        (
            F.floor(F.sum("o_totalprice") * 100 + 0.5).cast("long") / 100.0
        ).alias("rev")
    )
    dow = daily.select(
        "day", "rev", F.dayofweek("day").cast("long").alias("dow")
    )
    base = dow.groupBy("dow").agg(_floor_round(F.avg("rev"), 2).alias("dow_mean"))
    resid = dow.join(F.broadcast(base), "dow").select(
        "day", "dow", "rev", "dow_mean",
        (F.col("rev") - F.col("dow_mean")).alias("r"),
    )
    wall = Window.partitionBy()
    sigma = _floor_round(F.stddev_samp("r").over(wall), 2)
    z = _floor_round(F.col("r") / F.col("sigma"), 4)
    return (
        resid.withColumn("sigma", sigma)
        .select(
            "day",
            "dow",
            "rev",
            "dow_mean",
            z.alias("z"),
            (F.abs(z) >= z_thresh).alias("is_anomaly"),
        )
        .orderBy("day")
    )


def watermark_lag_audit(
    events: DataFrame,
    block_size: int = WATERMARK_BLOCK,
    candidate_delays_s: tuple[int, ...] = WATERMARK_DELAYS_S,
) -> DataFrame:
    """Watermark-delay sizing from batch history: how late do events
    actually arrive, and what would each candidate
    ``withWatermark`` delay have dropped? Arrival order is proxied by
    event_id (the feed assigns ids in arrival order); the watermark
    is modeled at MICRO-BATCH granularity — arrival blocks of
    `block_size` ids, each event compared against the max event time
    of all PRIOR blocks — which mirrors Spark's actual semantics
    (the watermark only advances between micro-batches, never within
    one). lateness = max(0, prior-blocks-max-ts − ts).

    The companion to event_debounce_report: debounce sizes the dedup
    window, this sizes the watermark — both from history, before
    deploying the stream.

    Scale shape: one (block → max ts) aggregation collapses the
    corpus to |blocks| rows; the exclusive prefix-max window runs
    over that bounded relation; the per-event lateness join is a
    broadcast equi-join on block id. No global per-row ordering —
    contrast age_ecdf's documented caveat.
    """
    blk = (F.col("event_id") / block_size).cast("long")
    tagged = events.select(
        blk.alias("blk"), F.unix_timestamp("ts").alias("es")
    )
    per_blk = tagged.groupBy("blk").agg(F.max("es").alias("blk_max"))
    w = Window.orderBy("blk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wm = per_blk.select(
        "blk", F.max("blk_max").over(w).alias("wm")
    )
    # coalesce: the first block has no prior watermark (NULL) — its
    # events are by definition on time. Explicit, because greatest()
    # NULL handling differs across engines.
    late = tagged.join(F.broadcast(wm), "blk").select(
        F.greatest(
            F.lit(0).cast("long"),
            F.coalesce(F.col("wm") - F.col("es"), F.lit(0).cast("long")),
        ).alias("late_s")
    )
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("late_s") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_late"),
        _floor_round(
            F.avg(F.when(F.col("late_s") > 0, F.col("late_s"))), 2
        ).alias("mean_late_s"),
        F.max("late_s").alias("max_late_s"),
    ]
    for d in candidate_delays_s:
        aggs.append(
            F.sum(F.when(F.col("late_s") > d, 1).otherwise(0))
            .cast("long")
            .alias(f"dropped_at_{d}s")
        )
    return late.agg(*aggs)


def customer_rfm_scores(orders: DataFrame) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary) —
    the classic warehouse scoring grid, built scale-safe: each
    dimension's quintile comes from the histogram-CDF of the metric
    VALUE (ties share a quintile — deterministic and engine-portable,
    unlike ntile), so the only single-partition windows run over
    bounded histograms (|distinct recency days|, |distinct order
    counts|, |$100 spend bins|), never the customer corpus. Scores:
    5 = best (most recent / most frequent / biggest spend). Output is
    the ≤125-row segment grid with customer counts and mean spend —
    the marketing-activation artifact.

    Scale shape: ONE custkey shuffle builds the metrics; three tiny
    histogram aggregates + broadcast score maps; one ≤125-cell
    rollup.
    """
    bounds = orders.agg(
        F.max(F.to_date("o_orderdate")).alias("cmax")
    )
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_day"),
            F.count(F.lit(1)).alias("freq"),
            # exact integer cents: keeps every downstream mean a
            # division of exact longs (no double-sum order effects at
            # the floor boundary)
            F.floor(F.sum("o_totalprice") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
        .crossJoin(F.broadcast(bounds))
        .select(
            F.datediff("cmax", "last_day").cast("long").alias("recency"),
            "freq",
            "cents",
            F.floor(F.col("cents") / 10000).cast("long").alias("mbin"),
        )
    )
    # NO persist: A/B'd at sf0.1 / 10x / 30x (PERF.md round-5 table) —
    # re-running the custkey shuffle per branch ties or beats caching
    # at every scale (the orders groupBy is cheap; materializing the
    # cache costs more than the 3 extra re-runs), and the cache's
    # first-touch spike (6.4 s at 10x vs 2.5 s uncached) is exactly
    # the round-4 `customer_rfm_scores` bench regression. Same lesson
    # as the shingle cache: only persist what every branch fully
    # consumes more times than the materialization costs.

    def _quintile_map(metric: str):
        hist = per_cust.groupBy(metric).agg(F.count(F.lit(1)).alias("n"))
        w = Window.orderBy(metric).rowsBetween(
            Window.unboundedPreceding, -1
        )
        total = Window.partitionBy()
        return hist.select(
            metric,
            F.least(
                F.lit(4),
                F.floor(
                    5
                    * F.coalesce(F.sum("n").over(w), F.lit(0))
                    / F.sum("n").over(total)
                ),
            ).cast("long").alias(f"qi_{metric}"),
        )

    scored = (
        per_cust.join(F.broadcast(_quintile_map("recency")), "recency")
        .join(F.broadcast(_quintile_map("freq")), "freq")
        .join(F.broadcast(_quintile_map("mbin")), "mbin")
        .select(
            (5 - F.col("qi_recency")).alias("r_score"),
            (F.col("qi_freq") + 1).alias("f_score"),
            (F.col("qi_mbin") + 1).alias("m_score"),
            "cents",
        )
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (
                F.floor(
                    F.sum("cents") / F.count(F.lit(1)) + 0.5
                ).cast("long")
                / 100.0
            ).alias("mean_monetary"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


ERASURE_SAMPLE_PCT = 5  # md5-bucket share of customers in the demo plan
RETENTION_DAYS = 1825  # 5-year default retention horizon


def gdpr_erasure_plan(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    events: DataFrame,
    subject_pct: int = ERASURE_SAMPLE_PCT,
) -> DataFrame:
    """Right-to-be-forgotten impact plan — the other half of the
    reference's GDPR posture (its age gate filters minors at ingest;
    erasure removes a subject EVERYWHERE): for a deterministic
    md5-bucket subject set (`subject_pct`% of customers, standing in
    for an actual request queue), count the rows each table must
    delete, including the transitive fan-out (lineitem rows hang off
    the subject's orders; events key by user id). The plan sizes the
    rewrite before any data moves — at 100 TB you schedule erasure
    compactions by these counts.

    Scale shape: the subject set broadcasts (it is request-queue
    sized); every count is a broadcast semi-join + aggregate; the
    lineitem hop reuses the subject orders' keys, also broadcast.
    One final union of 1-row summaries.
    """
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    subjects = customer.filter(bucket < subject_pct).select(
        F.col("c_custkey").alias("sk")
    )
    sub_orders = orders.join(
        F.broadcast(subjects), F.col("o_custkey") == F.col("sk"), "left_semi"
    )
    sub_orderkeys = sub_orders.select(F.col("o_orderkey").alias("ok"))
    counts = []
    for name, df in [
        ("customer", customer.join(
            F.broadcast(subjects), F.col("c_custkey") == F.col("sk"),
            "left_semi")),
        ("orders", sub_orders),
        ("lineitem", lineitem.join(
            F.broadcast(sub_orderkeys),
            F.col("l_orderkey") == F.col("ok"), "left_semi")),
        ("events", events.join(
            F.broadcast(subjects), F.col("user_id") == F.col("sk"),
            "left_semi")),
    ]:
        counts.append(
            df.agg(F.count(F.lit(1)).alias("rows_to_erase")).select(
                F.lit(name).alias("table"), "rows_to_erase"
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    n_subj = subjects.agg(F.count(F.lit(1)).alias("n_subjects"))
    return (
        out.crossJoin(F.broadcast(n_subj))
        .select("table", "rows_to_erase", "n_subjects")
        .orderBy("table")
    )


def retention_policy_audit(
    orders: DataFrame, events: DataFrame, retention_days: int = RETENTION_DAYS
) -> DataFrame:
    """Retention-horizon audit: per table, how many rows (and what
    share) sit past the policy cutoff measured from each table's own
    max timestamp — the input that schedules expiration compactions
    and proves the policy is enforceable before legal asks.

    Scale shape: per table one max-bound aggregate (broadcast back)
    and one conditional-count scan; 2-row output.
    """
    o_bound = orders.agg(
        F.max(F.to_date("o_orderdate")).alias("mx")
    )
    o = (
        orders.crossJoin(F.broadcast(o_bound))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (
                    F.datediff("mx", F.to_date("o_orderdate"))
                    > retention_days
                ).cast("long")
            ).alias("n_expired"),
        )
        .select(F.lit("orders").alias("table"), "n_rows", "n_expired")
    )
    e_bound = events.agg(F.max(F.to_date("ts")).alias("mx"))
    e = (
        events.crossJoin(F.broadcast(e_bound))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (F.datediff("mx", F.to_date("ts")) > retention_days).cast(
                    "long"
                )
            ).alias("n_expired"),
        )
        .select(F.lit("events").alias("table"), "n_rows", "n_expired")
    )
    return (
        o.unionByName(e)
        .select(
            "table",
            "n_rows",
            "n_expired",
            _floor_round(F.col("n_expired") / F.col("n_rows"), 6).alias(
                "expired_share"
            ),
        )
        .orderBy("table")
    )


def offpolicy_value_eval(events: DataFrame) -> DataFrame:
    """Off-policy value evaluation on logged feedback (IPS + SNIPS):
    treat the event log as bandit data — event_type is the logged
    action, `value` its observed reward — and estimate what each
    deterministic target policy "always play action a" would have
    earned, WITHOUT running it. The DECLARED logging policy is
    uniform over the observed action set (propensity 1/|A| — the
    exploration assumption an A/B logger ships with);
    IPS(a) = mean(r·1{a_log=a}/p) is unbiased under that assumption,
    SNIPS(a) = Σr·w/Σw self-normalizes and is immune to propensity
    misspecification. The two are reported side by side because
    their GAP is the diagnostic: when the realized log deviates from
    the declared uniform policy, IPS drifts while SNIPS holds — a
    large gap says fix the logging propensities before trusting any
    off-policy number. (With empirical propensities the two collapse
    algebraically, which is why a declared policy is the honest
    form.)

    Scale shape: one scan → per-action conditional sums + a 1-row
    action-count broadcast; no window, no join beyond 1-row
    combines.
    """
    meta = events.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct("event_type").alias("n_actions"),
    )
    shares = (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_logged"),
            F.sum("value").alias("sum_r"),
        )
        .crossJoin(F.broadcast(meta))
    )
    # declared uniform propensity p = 1/n_actions:
    # IPS(a)  = Σ_{a_log=a} r / (n_total · p) = sum_r·n_actions/n_total
    # SNIPS(a)= Σ_{a_log=a} r·(1/p) / Σ_{a_log=a} (1/p) = sum_r/n_logged
    ips = F.col("sum_r") * F.col("n_actions") / F.col("n_total")
    snips = F.col("sum_r") / F.col("n_logged")
    return shares.select(
        "event_type",
        F.col("n_logged").cast("long").alias("n_logged"),
        _floor_round(1.0 / F.col("n_actions"), 6).alias(
            "declared_propensity"
        ),
        _floor_round(F.col("n_logged") / F.col("n_total"), 6).alias(
            "realized_share"
        ),
        _floor_round(ips, 4).alias("ips_value"),
        _floor_round(snips, 4).alias("snips_value"),
    ).orderBy("event_type")
