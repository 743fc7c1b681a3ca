"""Relational battery extension — operator shapes the core battery
(operators/relational.py) does not yet exercise, each as a DataFrame
plan + bit-identical DuckDB oracle:

* ``agg_global_no_group``          — global aggregate with NO grouping
                                     (TPC-H q6 shape: filter → one-row
                                     partial+final agg, zero shuffle of
                                     data rows — only partials move).
* ``subquery_exists_priority``     — correlated EXISTS with an extra
                                     non-equi predicate (TPC-H q4 shape)
                                     → left-semi join in Spark.
* ``set_union_all``                — UNION ALL (bag semantics; the set
                                     battery so far only covers
                                     union-distinct/intersect/except).
* ``unpivot_lineitem_measures``    — wide→long unpivot via ``stack``:
                                     pure projection (no shuffle until
                                     the aggregate), oracled by a UNION
                                     ALL twin.
* ``window_ntile_quartiles``       — ntile ranking window over
                                     (priority, month) cohorts; exact
                                     ntile sorts each cohort in one
                                     task, so cohort granularity is the
                                     parallelism knob (see docstring);
                                     total order via (o_totalprice
                                     desc, o_orderkey) makes ntile
                                     deterministic.
* ``scalar_subquery_uncorrelated`` — one-row uncorrelated scalar
                                     subquery as a broadcast cross join
                                     (the single partial-agg row ships
                                     to every executor; no driver-side
                                     collect).
* ``quantile_disc_price``          — exact type-1 (discrete) quantiles
                                     via a bucketed distributed
                                     prefix-sum over the per-value
                                     counts (no cohort-sized sort in
                                     any single task), all probes in
                                     ONE pass.
* ``agg_filtered_counts``          — FILTER-style conditional
                                     aggregation: N filtered aggregates
                                     in one scan.
* ``array_agg_regions``            — deterministic grouped collection
                                     (sort_array over collect_list).
* ``join_full_outer``              — both-sides-preserved join with
                                     coalesced keys.
* ``page_orders_offset``           — LIMIT/OFFSET pagination over a
                                     deterministic total order.

Scale notes: most plans are a single scan + one hash/window shuffle;
the exceptions are stated per-docstring — the EXISTS semi-join never
multiplies rows, full-outer shuffles both sides on the key, ntile
windows sort each cohort in one task (cohort granularity is the
parallelism knob; quantile_disc_price avoids this with a bucketed
prefix-sum — see its docstring), and OFFSET pagination degrades
with depth (keyset pagination is the deep-scan idiom).  Float
discipline follows the repo rule: engine-order-independent aggregates
(count/min/max) are raw; sums of doubles round via round_half_up at
2dp, far coarser than the ~1e-7 partial-sum op-order drift at these
row counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from mini_hadoop_spark.functions.text import round_half_up, sql_round_half_up
from mini_hadoop_spark.functions.partitioning import spread_small_scan
from mini_hadoop_spark.sources.catalog import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def agg_global_no_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q6 shape: tight filter → global one-row aggregate.

    The plan to want at 100 TB: pushed-down shipdate/discount/quantity
    predicates at the parquet scan, partial agg per task, one tiny
    final-merge exchange of per-task partial rows (no data shuffle)."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    )
    return l.agg(
        round_half_up(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
        F.count("*").alias("n_items"),
        round_half_up(F.avg("l_quantity"), 4).alias("avg_qty"),
    )


AGG_GLOBAL_SQL = f"""
SELECT {sql_round_half_up('sum(l_extendedprice * l_discount)', 2)} AS revenue,
       count(*) AS n_items,
       {sql_round_half_up('avg(l_quantity)', 4)} AS avg_qty
FROM lineitem
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
"""


def subquery_exists_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q4 shape: orders with at least one line item shipped after
    the order date, counted per priority.  EXISTS compiles to a
    left-semi join — the probe side never duplicates, and only
    (orderkey, dates) columns shuffle."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    sat = o.join(
        l,
        (o["o_orderkey"] == l["l_orderkey"]) & (l["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return sat.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


SUBQUERY_EXISTS_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
"""


def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag) of customer and supplier nation memberships,
    counted per (nation, role) — completes the set-operator battery
    (distinct-union/intersect/except are in the core module).  The
    union is free (no shuffle); the count is one hash agg."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("role")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("role")
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # group by n_name AFTER the join (mirroring the SQL twin exactly):
    # grouping by nationkey first would silently assume n_name is unique
    # per key — true for TPC-H nation, but not something to bake in.
    return (
        c.unionAll(s)
        .join(F.broadcast(n), F.col("nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "role")
        .agg(F.count("*").alias("n_members"))
    )


SET_UNION_ALL_SQL = """
WITH u AS (
  SELECT c_nationkey AS nationkey, 'customer' AS role FROM customer
  UNION ALL
  SELECT s_nationkey, 'supplier' FROM supplier
)
SELECT n_name, role, count(*) AS n_members
FROM u JOIN nation ON nationkey = n_nationkey
GROUP BY n_name, role
"""


def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot of three lineitem measures via ``stack`` (a
    pure projection: 1 input row → 3 output rows with no shuffle), then
    sum/count per (returnflag, measure).  Map-side partial agg keeps the
    shuffle at |flags| x 3 rows regardless of input size."""
    l = _t(spark, sf_dir, "lineitem")
    long = l.selectExpr(
        "l_returnflag",
        "stack(3, 'quantity', l_quantity, 'extendedprice', l_extendedprice,"
        " 'discount', l_discount) AS (measure, val)",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        round_half_up(F.sum("val"), 2).alias("total"),
        F.count("*").alias("n"),
    )


UNPIVOT_SQL = f"""
WITH u AS (
  SELECT l_returnflag, 'quantity' AS measure, l_quantity AS val FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'discount', l_discount FROM lineitem
)
SELECT l_returnflag, measure,
       {sql_round_half_up('sum(val)', 2)} AS total,
       count(*) AS n
FROM u GROUP BY l_returnflag, measure
"""


def window_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) quartiles of order value within each (priority, order
    month) cohort, then per-quartile stats.

    Scale note: exact ntile fundamentally SORTS each window partition in
    one task (no partial/group-limit pushdown exists for it), so the
    cohort granularity IS the parallelism knob — priority alone gives
    only 5 partitions; priority x month gives |priorities| x |months|
    sort tasks with proportionally smaller spills.  At 100 TB, cohorts
    should be chosen so a cohort's rows fit a task's spill budget, or
    quartiles computed approximately via percentile cut points instead.
    The (o_totalprice desc, o_orderkey) total order makes quartile
    assignment deterministic on both engines."""
    o = _t(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate")).alias("order_month")
    w = W.partitionBy("o_orderpriority", "order_month").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select("o_orderpriority", month, "o_totalprice", "o_orderkey")
        .withColumn("quartile", F.ntile(4).over(w))
        .groupBy("o_orderpriority", "order_month", "quartile")
        .agg(
            F.count("*").alias("n_orders"),
            round_half_up(F.min("o_totalprice"), 2).alias("min_price"),
            round_half_up(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


WINDOW_NTILE_SQL = f"""
WITH q AS (
  SELECT o_orderpriority, date_trunc('month', o_orderdate) AS order_month,
         o_totalprice,
         ntile(4) OVER (PARTITION BY o_orderpriority, date_trunc('month', o_orderdate)
                        ORDER BY o_totalprice DESC, o_orderkey) AS quartile
  FROM orders
)
SELECT o_orderpriority, order_month, quartile, count(*) AS n_orders,
       {sql_round_half_up('min(o_totalprice)', 2)} AS min_price,
       {sql_round_half_up('max(o_totalprice)', 2)} AS max_price
FROM q GROUP BY o_orderpriority, order_month, quartile
"""

# Orders "big" relative to the catalog: threshold = 250 x the priciest
# part.  max() is order-independent (exact across engines); the single
# multiply is one IEEE op on both sides.
PRICE_MULTIPLIER = 250.0


def scalar_subquery_uncorrelated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated one-row scalar subquery: orders whose totalprice
    exceeds 250 x max(p_retailprice).  Expressed as a broadcast cross
    join of the one-row aggregate — the scalar ships to executors; no
    driver-side collect, no re-trigger of the subquery per task."""
    o = _t(spark, sf_dir, "orders")
    thr = _t(spark, sf_dir, "part").agg(
        (F.max("p_retailprice") * F.lit(PRICE_MULTIPLIER)).alias("thr")
    )
    return (
        o.crossJoin(F.broadcast(thr))
        .filter(F.col("o_totalprice") > F.col("thr"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_big"),
            round_half_up(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


SCALAR_SUBQUERY_SQL = f"""
SELECT o_orderpriority, count(*) AS n_big,
       {sql_round_half_up('max(o_totalprice)', 2)} AS max_price
FROM orders
WHERE o_totalprice > (SELECT max(p_retailprice) * {PRICE_MULTIPLIER} FROM part)
GROUP BY o_orderpriority
"""


# Number of value-range buckets for the distributed prefix-sum in
# quantile_disc_price.  3 flags x 1024 buckets => the partials table is
# <=3072 rows (broadcast-sized) and each within-bucket window holds
# ~|distinct values| / 1024 rows regardless of corpus size.
QUANTILE_BUCKETS = 1024


def quantile_disc_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete (type-1) quantiles of l_extendedprice per returnflag —
    the EXACT element at position ceil(p*n) of the value-ordered cohort.
    Discrete selection (vs interpolated percentile) is an actual data
    value and bit-identical across engines — no float-interpolation
    op-order risk.

    Plan (r14, VERDICT r13 #1 — distributed prefix-sum; the r13
    "distinct values are few" premise is FALSE for this column:
    measured at sf0.1, distinct (l_returnflag, l_extendedprice) =
    594,330 of 600,000 rows (99.1%) — l_extendedprice is
    near-continuous, so a per-flag window over the distinct values was
    still a single-task sort of ~1/3 of the corpus).

    Stage 1: map-combined hash agg keyed by (flag, value) — shuffle
    parallelism = distinct values.  Stage 2: assign each distinct value
    a deterministic range bucket derived from the exact global
    min/max (floor((v-lo)/width); min/max are order-independent, so the
    assignment is engine-stable; the bucket id only routes rows — the
    output never depends on which bucket a value landed in).  Stage 3:
    per-(flag, bucket) partial counts — <=3*QUANTILE_BUCKETS rows — are
    windowed for exclusive prefix offsets and cohort totals (a sort of
    ~1k rows per flag, trivially bounded).  Stage 4: broadcast-join the
    offsets back and run the cumulative window PER (flag, bucket): each
    sort task holds ~|distinct|/1024 rows, so no task ever sorts more
    than a sliver of the cohort at any corpus size.  cum = in-bucket
    running count + bucket offset is exact integer arithmetic, so the
    output is bit-identical to the old per-flag window and the oracle's
    row_number formulation is unchanged.  The quantile is the first
    value whose cumulative count reaches ceil(p*n)."""
    l = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    # exact global min/max straight off the raw scan (map-side partial
    # min/max, 1-row result) — order-independent, so the derived bucket
    # assignment is engine-stable exactly as before, and the (flag,
    # value) count table no longer has to exist before the range does
    rng = l.agg(
        F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(QUANTILE_BUCKETS))
    # ONE corpus shuffle for the whole pipeline (r17): bucket the RAW
    # rows, repartition by (flag, bucket), and let every downstream step
    # ride that clustering — the (flag, value, bucket) count aggregate
    # (hash on a key SUBSET satisfies its required distribution), the
    # per-(flag, bucket) partial counts, and the in-bucket cumulative
    # window (sort only, no exchange).  Before, the distinct-value
    # aggregate shuffled the corpus on (flag, value) and the window then
    # re-shuffled the distinct stream on (flag, bucket) — two
    # corpus-sized exchanges for the same exact arithmetic.
    bucketed_raw = (
        l.crossJoin(F.broadcast(rng))
        .withColumn(
            "bucket",
            F.least(
                F.lit(QUANTILE_BUCKETS - 1),
                F.floor(
                    (F.col("l_extendedprice") - F.col("lo"))
                    / F.greatest(width, F.lit(1e-12))
                ),
            ),
        )
        .drop("lo", "hi")
        .repartition("l_returnflag", "bucket")
    )
    bucketed = bucketed_raw.groupBy("l_returnflag", "l_extendedprice", "bucket").agg(
        F.count("*").alias("cnt")
    )
    partials = bucketed.groupBy("l_returnflag", "bucket").agg(
        F.sum("cnt").alias("part_cnt")
    )
    w_b = W.partitionBy("l_returnflag").orderBy("bucket")
    w_f = W.partitionBy("l_returnflag")
    offsets = (
        partials.withColumn("off", F.sum("part_cnt").over(w_b) - F.col("part_cnt"))
        .withColumn("n", F.sum("part_cnt").over(w_f))
        .select("l_returnflag", "bucket", "off", "n")
    )
    w_in = W.partitionBy("l_returnflag", "bucket").orderBy("l_extendedprice")
    cum = bucketed.join(F.broadcast(offsets), ["l_returnflag", "bucket"]).withColumn(
        "cum", F.sum("cnt").over(w_in) + F.col("off")
    )
    # ONE distinct-value pass for all quantiles: explode the probe list
    # and keep the first value whose cumulative count covers the probed
    # position ceil(p*n)
    target = F.ceil(F.col("p") * F.col("n"))
    return (
        cum.select(
            "l_returnflag", "l_extendedprice", "cnt", "cum", "n",
            F.explode(F.array(F.lit(0.5), F.lit(0.95))).alias("p"),
        )
        .filter((F.col("cum") >= target) & (F.col("cum") - F.col("cnt") < target))
        .select("l_returnflag", "p", F.col("l_extendedprice").alias("quantile_disc"))
    )


QUANTILE_DISC_SQL = """
WITH r AS (
  SELECT l_returnflag, l_extendedprice,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
)
SELECT l_returnflag, p, l_extendedprice AS quantile_disc
FROM r CROSS JOIN (VALUES (0.5::DOUBLE), (0.95::DOUBLE)) ps(p)
WHERE rn = ceil(p * n)
"""


def agg_filtered_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (SQL FILTER clause): several differently-
    filtered aggregates in ONE pass over the data — the idiom that
    replaces N separate filtered scans with one scan + N conditional
    aggregates (at 100 TB: 1 scan instead of 4)."""
    l = _t(spark, sf_dir, "lineitem")
    return l.groupBy("l_linestatus").agg(
        F.count("*").alias("n_all"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_returned"),
        F.count(F.when(F.col("l_quantity") >= 40, 1)).alias("n_bulk"),
        round_half_up(
            F.sum(F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice")).otherwise(F.lit(0.0))), 2
        ).alias("deep_discount_revenue"),
    )


AGG_FILTERED_SQL = f"""
SELECT l_linestatus, count(*) AS n_all,
       count(*) FILTER (WHERE l_returnflag = 'R') AS n_returned,
       count(*) FILTER (WHERE l_quantity >= 40) AS n_bulk,
       {sql_round_half_up("sum(CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE 0.0 END)", 2)}
         AS deep_discount_revenue
FROM lineitem GROUP BY l_linestatus
"""


def array_agg_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation with a DETERMINISTIC element order
    (sort_array over collect_list), surfaced as a joined string so the
    value is engine-comparable.  The grouped-collect shape every
    feature-assembly pipeline uses; output cardinality = |groups|."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.concat_ws("|", F.sort_array(F.collect_list("n_name"))).alias("nations"),
            F.count("*").alias("n_nations"),
        )
    )


ARRAY_AGG_SQL = """
SELECT r_name,
       array_to_string(list_sort(list(n_name)), '|') AS nations,
       count(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join — both-sides-preserved semantics the join battery
    lacked (inner/left/semi/anti are in the core module).  Customers
    with their order counts on one side, per-customer event counts on
    the other: customers with no events AND event users with no
    customer row both survive with nulls.  Plan: one shuffle per side
    on the key; null-safe output via coalesce on the join keys."""
    o = _t(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.count("*").alias("n_orders")
    )
    e = _t(spark, sf_dir, "events").groupBy(
        F.col("user_id").alias("e_user")
    ).agg(F.count("*").alias("n_events"))
    j = o.join(e, o["o_custkey"] == e["e_user"], "full_outer")
    return j.select(
        F.coalesce(F.col("o_custkey"), F.col("e_user")).alias("user_key"),
        F.col("n_orders"),
        F.col("n_events"),
    )


JOIN_FULL_OUTER_SQL = """
WITH o AS (
  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
), e AS (
  SELECT user_id AS e_user, count(*) AS n_events FROM events GROUP BY user_id
)
SELECT coalesce(o_custkey, e_user) AS user_key, n_orders, n_events
FROM o FULL OUTER JOIN e ON o_custkey = e_user
"""

PAGE_SIZE = 20
PAGE_OFFSET = 40


def page_orders_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset-free pagination: page 3 of orders by (totalprice desc,
    orderkey) via LIMIT/OFFSET over a deterministic total order.

    Scale note: OFFSET must still order the first offset+limit rows —
    fine for UI-depth pages (TakeOrdered over offset+limit per
    partition), degenerate for deep scans, where keyset pagination
    (WHERE (price, key) < last_seen ORDER BY ... LIMIT n) is the
    100 TB idiom; this query demonstrates the operator, the docstring
    records the trade-off."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", round_half_up(F.col("o_totalprice"), 2).alias("total"))
        .offset(PAGE_OFFSET)
        .limit(PAGE_SIZE)
    )


PAGE_OFFSET_SQL = f"""
SELECT o_orderkey, o_custkey, {sql_round_half_up('o_totalprice', 2)} AS total
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT {PAGE_SIZE} OFFSET {PAGE_OFFSET}
"""


def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q9 shape: 5-way join (part ⋈ lineitem ⋈ supplier ⋈ nation
    ⋈ orders) → profit per (supplier nation, order year) for parts
    matching a name filter.

    The multi-join planning exhibit: Catalyst reorders so the
    name-filtered part table prunes lineitem FIRST (the most selective
    join), nation broadcasts (25 rows), and the surviving rows make one
    pass through the orders join — the join tree a hand-written plan
    would pick, derived automatically from the declarative form."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red")).select("p_partkey")
    l = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_extendedprice", "l_discount"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
        .agg(round_half_up(F.sum(profit), 2).alias("sum_profit"), F.count("*").alias("n_lines"))
    )


Q9_PROFIT_SQL = f"""
SELECT n_name, year(o_orderdate) AS o_year,
       {sql_round_half_up('sum(l_extendedprice * (1.0 - l_discount))', 2)} AS sum_profit,
       count(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(o_orderdate)
"""


def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag (multiset) difference, preserving multiplicity:
    each custkey survives (orders-count − events-count) times.  The bag
    semantics are the shape the distinct battery entry (`set_except`)
    deliberately collapses; both engines implement the same multiset
    rule, so raw duplicate rows hash-compare.  Plan: one hash shuffle
    per side + a counted merge — no sort, no explosion."""
    o = _t(spark, sf_dir, "orders")
    e = _t(spark, sf_dir, "events")
    return o.select(F.col("o_custkey").alias("custkey")).exceptAll(
        e.select(F.col("user_id").alias("custkey"))
    )


SET_EXCEPT_ALL_SQL = """
SELECT o_custkey AS custkey FROM orders
EXCEPT ALL
SELECT user_id AS custkey FROM events
"""


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window — the VALUE-based frame the rows-frame battery
    entries don't cover: per customer, each order's trailing-30-day
    order count and spend (RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
    over epoch-day).  Range frames include ALL peers of the current
    row's order value, so ties (same-day orders) contribute identically
    regardless of engine row order — deterministic by construction.
    Plan: one window shuffle on the customer key."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias("ed"),
        "o_totalprice",
    )
    w = W.partitionBy("o_custkey").orderBy("ed").rangeBetween(-30, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.count("*").over(w).alias("n_orders_30d"),
        round_half_up(F.sum("o_totalprice").over(w), 2).alias("spend_30d"),
    )


WINDOW_RANGE_FRAME_SQL = f"""
WITH o AS (
  SELECT o_custkey, o_orderkey,
         (o_orderdate::DATE - DATE '1970-01-01') AS ed,
         o_totalprice
  FROM orders
)
SELECT o_custkey, o_orderkey,
       count(*) OVER w AS n_orders_30d,
       {sql_round_half_up("sum(o_totalprice) OVER w", 2)} AS spend_30d
FROM o
WINDOW w AS (PARTITION BY o_custkey ORDER BY ed RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
"""


def window_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank windows — ``percent_rank`` and ``cume_dist``
    over l_quantity within each return flag (the "where does this row
    sit in its cohort's distribution" shape; quantile normalization of
    a quality score uses exactly this).

    Both functions are value-determined: ties share a rank and a
    cume_dist, so engine row order can't leak into results, and each is
    ONE exact-integer division ((rank-1)/(n-1), n_le/n) — identical
    doubles on both engines with no float accumulation.

    Plan (r13, VERDICT r12 #2 — sufficient statistics, not a cohort
    sort): because both functions are value-determined, they are
    computable from the per-(flag, quantity) group counts alone:
    rank-1 = rows strictly below = cum - cnt, n_le = cum.  Stage 1 is a
    map-combined hash agg keyed by (flag, quantity) — parallel across
    distinct values; stage 2 windows over the DISTINCT values only
    (input bounded by |distinct quantities per flag|, not row count);
    stage 3 broadcast-joins the tiny per-value stats back to the fact
    scan — zero shuffle on the fact side.  The divisions replicate
    Spark's PercentRank/CumeDist exactly ((rank-1)/(n-1) with the n=1
    guard, n_le/n — same integer operands, one IEEE double division),
    so output is bit-identical to the old whole-cohort window.

    Broadcast-outgrow note (r14, VERDICT r13 #7 — the r13 wording hid a
    trap): if the distinct-value table outgrew broadcast (a
    near-CONTINUOUS order key), dropping the hint only fixes the JOIN —
    the stage-2 stats windows themselves stay flag-partitioned, i.e. a
    single task sorting ~the whole cohort, exactly the defect
    quantile_disc_price measured (99.1% distinct (flag, price) pairs at
    sf0.1).  The real continuous-key fix is the bucketed distributed
    prefix-sum quantile_disc_price now uses (exact min/max-derived
    range buckets → per-(flag, bucket) partials → offset broadcast →
    within-bucket windows) to produce the same cum/n stats, then this
    function's join-back unchanged.  l_quantity (150 distinct values)
    never gets near that regime, so this query keeps the simpler plan.

    NULL keys (r14, ADVICE r13): the join-back is NULL-SAFE (<=>), so a
    row with NULL l_returnflag/l_quantity joins its NULL group instead
    of silently dropping — the old whole-cohort window emitted such
    rows (NULLS FIRST), and both the groupBy (NULL is a group) and the
    stats window ordering (NULL sorts first) already reproduce its
    ranks.  This corpus has no NULL keys (TPC-H NOT NULL, pinned by
    test_corpus_fk_integrity), so output is unchanged here; the
    null-safety makes the function correct on nullable sources too."""
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    counts = l.groupBy("l_returnflag", "l_quantity").agg(F.count("*").alias("cnt"))
    w_ord = W.partitionBy("l_returnflag").orderBy("l_quantity")
    w_all = W.partitionBy("l_returnflag")
    stats = (
        counts.withColumn("cum", F.sum("cnt").over(w_ord))
        .withColumn("n", F.sum("cnt").over(w_all))
        .select(
            F.col("l_returnflag").alias("s_flag"),
            F.col("l_quantity").alias("s_qty"),
            F.when(F.col("n") == 1, F.lit(0.0))
            .otherwise(
                (F.col("cum") - F.col("cnt")).cast("double")
                / (F.col("n") - 1).cast("double")
            )
            .alias("pr_raw"),
            (F.col("cum").cast("double") / F.col("n").cast("double")).alias("cd_raw"),
        )
    )
    return l.join(
        F.broadcast(stats),
        F.col("l_returnflag").eqNullSafe(F.col("s_flag"))
        & F.col("l_quantity").eqNullSafe(F.col("s_qty")),
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_quantity",
        round_half_up(F.col("pr_raw"), 6).alias("pct_rank"),
        round_half_up(F.col("cd_raw"), 6).alias("cum_dist"),
    )


WINDOW_CUME_DIST_SQL = f"""
SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
       {sql_round_half_up("percent_rank() OVER w", 6)} AS pct_rank,
       {sql_round_half_up("cume_dist() OVER w", 6)} AS cum_dist
FROM lineitem
WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)
"""


def orders_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly cohort retention — the classic product-analytics matrix:
    customers grouped by the month of their FIRST order (the cohort),
    counted again in each later month they ordered (the offset).

    All integer arithmetic: a month index ``year*12 + (month-1)`` is
    monotone in the date, so ``min(month_index)`` IS the first order's
    month — one groupBy finds each customer's cohort without a sort.

    Plan (r17): ONE custkey hash agg collects each customer's distinct
    month SET (bounded by the calendar span, ≤~84 entries) alongside its
    min — the cohort and every (cohort, offset) contribution are then a
    pure projection + explode of that per-customer row, so the old
    join-back of the full orders stream (a second scan + second custkey
    shuffle) and the count_distinct expand are gone: each customer
    contributes each offset exactly once by set construction, so a
    map-combined count(*) IS the old count_distinct(custkey).  Shuffles:
    the custkey agg + a |months|²-key final agg."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("mi"),
    )
    per = o.groupBy("o_custkey").agg(
        F.min("mi").alias("cohort_mi"), F.collect_set("mi").alias("months")
    )
    cohort_month = F.date_format(
        F.make_date(
            F.expr("cohort_mi DIV 12"), F.col("cohort_mi") % 12 + 1, F.lit(1)
        ),
        "yyyy-MM",
    )
    return (
        per.select("cohort_mi", F.explode("months").alias("mi"))
        .groupBy("cohort_mi", (F.col("mi") - F.col("cohort_mi")).alias("month_offset"))
        .agg(F.count("*").alias("n_customers"))
        .select(
            cohort_month.alias("cohort_month"),
            "month_offset",
            "n_customers",
        )
    )


ORDERS_COHORT_SQL = """
WITH o AS (
  SELECT o_custkey, year(o_orderdate) * 12 + (month(o_orderdate) - 1) AS mi
  FROM orders
), first AS (
  SELECT o_custkey, min(mi) AS cohort_mi FROM o GROUP BY o_custkey
)
SELECT strftime(make_date(cohort_mi // 12, cohort_mi % 12 + 1, 1), '%Y-%m') AS cohort_month,
       o.mi - f.cohort_mi AS month_offset,
       count(DISTINCT o.o_custkey) AS n_customers
FROM o JOIN first f ON o.o_custkey = f.o_custkey
GROUP BY cohort_mi, month_offset
"""


def window_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3-WITH-TIES per group (``rank() <= k``) — the other top-k
    semantics: every row tied with the k-th keeps its place, so group
    output size is data-dependent (row_number's fixed-k twin is
    ``window_topk_per_group``).  Ranking on the raw value only (no
    tiebreak) is exactly what makes ties visible — and is deterministic
    BECAUSE rank is value-determined.  Plan: one window shuffle on the
    group key."""
    l = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_quantity"
    )
    w = W.partitionBy("l_returnflag").orderBy(F.desc("l_quantity"))
    return (
        l.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity", "rnk")
    )


WINDOW_TOPK_TIES_SQL = """
SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity, rnk
FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
         rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS rnk
  FROM lineitem
)
WHERE rnk <= 3
"""


def orders_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency (days since last order,
    against the corpus max date), frequency (order count), monetary
    (exact-decimal spend) — each quartiled with ntile over a TOTAL
    order (metric, custkey) and concatenated into the classic 3-digit
    segment label.

    All three metrics are order-independent aggregates; the quartile
    cuts are deterministic via the custkey tiebreak.  Plan: one custkey
    aggregate, a 1-row broadcast of the corpus max date, then three
    global ntile windows — single-task sorts over |customers| rows (the
    same global-ranking caveat as the gap quantiles: at 100 TB you cut
    on sampled quantile thresholds instead; this exact form is the
    auditable twin of :func:`orders_rfm_segmentation_approx`, the
    sketch-cut scale path)."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    per = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("f_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("m_total"),
    )
    maxd = F.broadcast(o.agg(F.max("o_orderdate").alias("corpus_max")))
    per = per.crossJoin(maxd).withColumn(
        "r_days", F.datediff(F.to_date("corpus_max"), F.to_date("last_order"))
    )
    r_q = F.ntile(4).over(W.orderBy("r_days", "o_custkey"))
    f_q = F.ntile(4).over(W.orderBy(F.desc("f_orders"), "o_custkey"))
    m_q = F.ntile(4).over(W.orderBy(F.desc("m_total"), "o_custkey"))
    return per.select(
        "o_custkey",
        "r_days",
        "f_orders",
        F.col("m_total").cast("double").alias("m_total"),
        r_q.alias("r_q"),
        f_q.alias("f_q"),
        m_q.alias("m_q"),
    ).withColumn(
        "segment", F.concat_ws("-", F.col("r_q"), F.col("f_q"), F.col("m_q"))
    )


ORDERS_RFM_SQL = """
WITH per AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         count(*) AS f_orders,
         sum(o_totalprice::DECIMAL(18,2)) AS m_total
  FROM orders GROUP BY o_custkey
), scored AS (
  SELECT o_custkey,
         (SELECT max(o_orderdate) FROM orders)::DATE - last_order::DATE AS r_days,
         f_orders,
         m_total
  FROM per
)
SELECT o_custkey, r_days, f_orders, CAST(m_total AS DOUBLE) AS m_total,
       ntile(4) OVER (ORDER BY r_days, o_custkey) AS r_q,
       ntile(4) OVER (ORDER BY f_orders DESC, o_custkey) AS f_q,
       ntile(4) OVER (ORDER BY m_total DESC, o_custkey) AS m_q,
       ntile(4) OVER (ORDER BY r_days, o_custkey) || '-' ||
       ntile(4) OVER (ORDER BY f_orders DESC, o_custkey) || '-' ||
       ntile(4) OVER (ORDER BY m_total DESC, o_custkey) AS segment
FROM scored
"""


#: Sample budget for the scale-safe RFM variant's quartile cuts — the
#: cuts are type-1 (pure row selection, no interpolation) quantiles of a
#: deterministic md5-ranked customer sample, so they are bit-identical
#: across engines (full value-hash oracle) while staying one broadcast
#: of 9 scalars at any scale.  Rank error ~ 1/sqrt(budget) ≈ 2%.
RFM_SAMPLE_BUDGET = 2048


def _rfm_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer (recency, frequency, monetary) metrics — the frame
    both the sample pick and the final labeling projection consume."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    per = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("f_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("m_total"),
    )
    maxd = F.broadcast(o.agg(F.max("o_orderdate").alias("corpus_max")))
    return (
        per.crossJoin(maxd)
        .withColumn("r_days", F.datediff(F.to_date("corpus_max"), F.to_date("last_order")))
        .withColumn("m_dbl", F.col("m_total").cast("double"))
    )


def _rfm_sample_pick(per: DataFrame) -> DataFrame:
    """The deterministic md5-ranked RFM_SAMPLE_BUDGET sample, PRE
    checkpoint: a TakeOrderedAndProject pick (distributed per-partition
    heaps) — identical deterministic set to the old rank-<=K window,
    minus its single-task no-partition WindowExec funnel.  Module-level
    so the plan-guard pin can see the shape the full query hides behind
    its localCheckpoint (the matryoshka-pick precedent)."""
    return (
        per.select("o_custkey", "r_days", "f_orders", "m_dbl")
        .withColumn("mh", F.md5(F.col("o_custkey").cast("string")))
        .orderBy("mh", "o_custkey")
        .limit(RFM_SAMPLE_BUDGET)
        .drop("mh")
    )


def orders_rfm_segmentation_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe twin of :func:`orders_rfm_segmentation` — the 100 TB
    form the exact query's docstring promises.

    Same per-customer metrics, but the quartile CUTS come from a
    deterministic md5-ranked sample of RFM_SAMPLE_BUDGET customers:
    per metric, the cut at quantile q is the value at row
    ceil(q * |sample|) of the sorted sample (a type-1 quantile — pure
    row selection, no float interpolation), broadcast as 9 scalars;
    each customer is then labeled by a pure projection.  No global
    window over the data anywhere — the exact form's three single-task
    whole-corpus ntile sorts (its documented 100x weakness) are replaced
    by three windows over a BOUNDED sample (the ranking shuffles only
    (custkey, 3 metrics) rows, and the sample itself is fixed-size at
    any corpus scale).

    r7 change: previously the cuts came from approx_percentile (GK
    sketch) — scale-equivalent, but sketch implementations differ across
    engines, so the query could only get a rows-only driver check.  The
    md5-sample cuts are bit-identical in DuckDB, upgrading this to a
    full value-hash oracle while keeping the approximate-cuts contract
    (rank error ~ 1/sqrt(budget); every customer still lands within
    +-1 quartile of the exact form — asserted in
    tests/test_oracle_battery.py).  Ties are NOT split across buckets
    (ntile splits ties by the custkey tiebreak to force equal bucket
    sizes), same as before."""
    per = _rfm_per_customer(spark, sf_dir)
    # r17: the sample is consumed FOUR times (count + three quartile
    # rankings) and each consumer re-derived the TakeOrdered over the
    # full per-customer aggregate (plan showed 7 orders scans, partially
    # rescued by ReuseExchange).  Lazily checkpointing the ≤budget-row
    # sample pins ONE derivation; checkpointing `per` as well was
    # measured SLOWER (materializing |customers| rows costs more than
    # the reuse saves).  The TakeOrdered pick shape is pinned on the
    # pre-checkpoint builder (test_plan_guards: rfm_approx).
    samp = _rfm_sample_pick(per).localCheckpoint(eager=False)
    ns = samp.agg(F.count("*").alias("n_s"))

    def qcuts(colname: str, prefix: str) -> DataFrame:
        """One tiny aggregate: the metric's type-1 quartile cuts over the
        sample (<= budget rows), emitted as 3 scalar columns."""
        ranked = samp.select(colname, "o_custkey").withColumn(
            "rr", F.row_number().over(W.orderBy(F.col(colname).asc(), F.col("o_custkey")))
        )
        return ranked.crossJoin(F.broadcast(ns)).agg(
            *[
                F.max(
                    F.when(
                        F.col("rr") == F.ceil(F.lit(q) * F.col("n_s")), F.col(colname)
                    )
                ).alias(f"{prefix}{int(q * 100)}")
                for q in (0.25, 0.5, 0.75)
            ]
        )

    cuts = F.broadcast(
        qcuts("r_days", "r").crossJoin(qcuts("f_orders", "f")).crossJoin(qcuts("m_dbl", "m"))
    )

    # ascending metric (recency: fewer days = better = bucket 1):
    #   q = 1 + [x > p25] + [x > p50] + [x > p75]
    # descending metrics (frequency/monetary: more = bucket 1):
    #   q = 1 + [x < p75] + [x < p50] + [x < p25]
    def asc_bucket(x: Column, p: str) -> Column:
        return (
            F.lit(1)
            + (x > F.col(f"{p}25")).cast("int")
            + (x > F.col(f"{p}50")).cast("int")
            + (x > F.col(f"{p}75")).cast("int")
        )

    def desc_bucket(x: Column, p: str) -> Column:
        return (
            F.lit(1)
            + (x < F.col(f"{p}75")).cast("int")
            + (x < F.col(f"{p}50")).cast("int")
            + (x < F.col(f"{p}25")).cast("int")
        )

    return (
        per.crossJoin(cuts)
        .select(
            "o_custkey",
            "r_days",
            "f_orders",
            F.col("m_dbl").alias("m_total"),
            asc_bucket(F.col("r_days"), "r").alias("r_q"),
            desc_bucket(F.col("f_orders"), "f").alias("f_q"),
            desc_bucket(F.col("m_dbl"), "m").alias("m_q"),
        )
        .withColumn("segment", F.concat_ws("-", F.col("r_q"), F.col("f_q"), F.col("m_q")))
    )


def _rfm_approx_sql() -> str:
    def cut_cte(name: str, col: str, prefix: str) -> str:
        return f"""{name} AS (
  SELECT max(CASE WHEN rr = ceil(0.25 * n_s) THEN {col} END) AS {prefix}25,
         max(CASE WHEN rr = ceil(0.50 * n_s) THEN {col} END) AS {prefix}50,
         max(CASE WHEN rr = ceil(0.75 * n_s) THEN {col} END) AS {prefix}75
  FROM (SELECT {col}, row_number() OVER (ORDER BY {col}, o_custkey) AS rr FROM samp), ns
)"""

    return f"""
WITH per AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         count(*) AS f_orders,
         CAST(sum(o_totalprice::DECIMAL(18,6)) AS DOUBLE) AS m_dbl
  FROM orders GROUP BY o_custkey
), scored AS (
  SELECT o_custkey,
         (SELECT max(o_orderdate) FROM orders)::DATE - last_order::DATE AS r_days,
         f_orders, m_dbl
  FROM per
), samp AS (
  SELECT o_custkey, r_days, f_orders, m_dbl FROM (
    SELECT s.*, row_number() OVER (ORDER BY md5(o_custkey::VARCHAR), o_custkey) AS srn
    FROM scored s)
  WHERE srn <= {RFM_SAMPLE_BUDGET}
), ns AS (
  SELECT count(*) AS n_s FROM samp
), {cut_cte('rcut', 'r_days', 'r')}, {cut_cte('fcut', 'f_orders', 'f')}, {cut_cte('mcut', 'm_dbl', 'm')}
SELECT o_custkey, r_days, f_orders, m_dbl AS m_total,
       r_q, f_q, m_q,
       r_q || '-' || f_q || '-' || m_q AS segment
FROM (
  SELECT s.o_custkey, s.r_days, s.f_orders, s.m_dbl,
         1 + (s.r_days > r25)::INT + (s.r_days > r50)::INT + (s.r_days > r75)::INT AS r_q,
         1 + (s.f_orders < f75)::INT + (s.f_orders < f50)::INT + (s.f_orders < f25)::INT AS f_q,
         1 + (s.m_dbl < m75)::INT + (s.m_dbl < m50)::INT + (s.m_dbl < m25)::INT AS m_q
  FROM scored s, rcut, fcut, mcut)
"""


ORDERS_RFM_APPROX_SQL = _rfm_approx_sql()


#: minimum co-purchase support for the basket-affinity report
BASKET_MIN_SUPPORT = 3
#: pairs reported
BASKET_TOP = 100


def basket_pair_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: the top part pairs by co-purchase LIFT
    (``P(a,b) / (P(a)·P(b))`` over orders) with a minimum support —
    the classic association-mining report ("bought together"), same
    log-free exact-ratio ranking as the PMI collocations.

    Plan: the pair generator is an orderkey-co-partitioned SELF-JOIN
    with ``p1 < p2`` orientation — candidates are bounded per order by
    the basket size (≤ items²/2 per order, never |items|² globally);
    pair/item counts are map-side combined; the corpus total is a 1-row
    broadcast; top-k is a TakeOrdered.  Lift doubles come from exact
    BIGINT products divided in the same order on both engines."""
    l = _t(spark, sf_dir, "lineitem")
    # Explicit not-null filter BEFORE the distinct: the self-join infers
    # IsNotNull on its own side only, which used to make the three
    # consumers' distinct subtrees non-identical — the plan scanned
    # lineitem 3x and ran the (orderkey, partkey) distinct twice.  With
    # the filter stated once here, every consumer shares ONE scan + ONE
    # exchange via ReuseExchange (OPTIMIZATION_r17).
    #
    # That one exchange is an EXPLICIT repartition on l_orderkey alone:
    # hash(orderkey) clusters a SUBSET of the distinct's grouping keys,
    # so the (orderkey, partkey) distinct satisfies its required
    # distribution with NO further exchange — and the basket self-join
    # (keyed ok) plus the n_orders aggregate (keyed ok) ride the same
    # partitioning too.  Before, the distinct shuffled on the pair key
    # and the join had to re-exchange both sides by ok on top of it.
    items = (
        l.select("l_orderkey", "l_partkey")
        .filter(F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull())
        .repartition("l_orderkey")
        .distinct()
    )
    a = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1"))
    b = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p2"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= BASKET_MIN_SUPPORT)
    )
    part_cnt = items.groupBy("l_partkey").agg(F.count("*").alias("n_p"))
    # distinct-orderkey count as an aggregate-over-aggregate on the SAME
    # items frame (not a fresh scan), so it too rides the shared exchange
    # count-per-orderkey then count-rows ≡ count(DISTINCT l_orderkey),
    # phrased so the inner aggregate is NOT collapsible into a fresh
    # distinct-over-scan — it keeps riding the shared items exchange
    totals = F.broadcast(
        items.groupBy("l_orderkey")
        .agg(F.count("*").alias("_n_items"))
        .agg(F.count("*").alias("n_orders"))
    )
    scored = (
        pairs.join(part_cnt.select(F.col("l_partkey").alias("p1"), F.col("n_p").alias("n_a")), "p1")
        .join(part_cnt.select(F.col("l_partkey").alias("p2"), F.col("n_p").alias("n_b")), "p2")
        .crossJoin(totals)
        .withColumn(
            "lift_raw",
            (F.col("n_ab") * F.col("n_orders")).cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double"),
        )
    )
    top = scored.orderBy(F.desc("lift_raw"), "p1", "p2").limit(BASKET_TOP)
    rnk = F.row_number().over(W.orderBy(F.desc("lift_raw"), "p1", "p2"))
    return top.select(
        "p1", "p2", "n_ab",
        round_half_up(F.col("lift_raw"), 6).alias("lift"),
        rnk.alias("rnk"),
    )


BASKET_AFFINITY_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {BASKET_MIN_SUPPORT}
), pc AS (
  SELECT l_partkey, count(*) AS n_p FROM items GROUP BY l_partkey
), tot AS (
  SELECT count(DISTINCT l_orderkey) AS n_orders FROM items
), scored AS (
  SELECT p.p1, p.p2, p.n_ab,
         CAST(p.n_ab * t.n_orders AS DOUBLE) / CAST(ca.n_p * cb.n_p AS DOUBLE) AS lift_raw
  FROM pairs p
  JOIN pc ca ON ca.l_partkey = p.p1
  JOIN pc cb ON cb.l_partkey = p.p2
  CROSS JOIN tot t
), top AS (
  SELECT * FROM scored ORDER BY lift_raw DESC, p1, p2 LIMIT {BASKET_TOP}
)
SELECT p1, p2, n_ab,
       {sql_round_half_up('lift_raw', 6)} AS lift,
       row_number() OVER (ORDER BY lift_raw DESC, p1, p2) AS rnk
FROM top
"""


def window_first_last_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``first_value``/``last_value`` over a full-group frame: each
    customer's first and latest order price and the exact-ratio change
    between them — the "how did this account's spend evolve" shape.

    Determinism needs two things the docstring is explicit about
    because both are classic window bugs: a TOTAL order
    ((o_orderdate, o_orderkey) — date ties broken by key), and an
    UNBOUNDED-FOLLOWING frame for last_value (the default frame stops
    at CURRENT ROW, silently returning the current row's value).
    One row per customer via a distinct-free aggregate-after-window.
    Plan: one window shuffle on custkey + the dedup aggregate."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    withfl = o.select(
        "o_custkey",
        F.first_value(F.col("o_totalprice")).over(w).alias("first_price"),
        F.last_value(F.col("o_totalprice")).over(w).alias("last_price"),
    )
    return (
        withfl.groupBy("o_custkey")
        .agg(F.min("first_price").alias("first_price"), F.min("last_price").alias("last_price"))
        .select(
            "o_custkey",
            "first_price",
            "last_price",
            round_half_up(F.col("last_price") / F.col("first_price"), 6).alias("price_ratio"),
        )
    )


WINDOW_FIRST_LAST_SQL = f"""
WITH fl AS (
  SELECT o_custkey,
         first_value(o_totalprice) OVER w AS first_price,
         last_value(o_totalprice)  OVER w AS last_price
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT o_custkey, min(first_price) AS first_price, min(last_price) AS last_price,
       {sql_round_half_up('min(last_price) / min(first_price)', 6)} AS price_ratio
FROM fl GROUP BY o_custkey
"""


def corr_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation (l_quantity vs l_extendedprice per
    return flag) — the statistical-profiling aggregate, computed from
    EXACT sufficient statistics instead of the engine's corr() (whose
    float accumulation order differs per engine/partitioning).

    Each input rounds to 2 dp with the shared floor-half-up idiom
    (bit-identical per row), the five moment sums accumulate as exact
    DECIMALs (order-independent), and the final corr formula runs on
    identical doubles in identical op order — sqrt is IEEE
    correctly-rounded, so the result is bit-exact cross-engine.

    Plan: one map-side-combined hash aggregate; |groups| output rows.
    The scan is spread (r17): all five decimal moment products run
    inside the scan stage, and the sf parquet input is one row group —
    without the spread the whole pipeline ran on one core (the
    part_price_realization lesson; structural no-op at scale)."""
    l = spread_small_scan(
        _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity", "l_extendedprice")
    )
    xd = (F.floor(F.col("l_quantity") * 100 + F.lit(0.5)) / 100).cast("decimal(18,6)")
    yd = (F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)) / 100).cast("decimal(18,6)")
    agg = l.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    corr = (nd * sxy - sx * sy) / F.sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy))
    return agg.select("l_returnflag", "n", round_half_up(corr, 6).alias("corr_qty_price"))


CORR_QTY_PRICE_SQL = f"""
WITH t AS (
  SELECT l_returnflag,
         CAST(floor(l_quantity * 100 + 0.5) / 100 AS DECIMAL(18,2)) AS xd,
         CAST(floor(l_extendedprice * 100 + 0.5) / 100 AS DECIMAL(18,2)) AS yd
  FROM lineitem
), agg AS (
  SELECT l_returnflag, count(*) AS n,
         sum(xd) AS sx, sum(yd) AS sy,
         sum(xd * yd) AS sxy, sum(xd * xd) AS sxx, sum(yd * yd) AS syy
  FROM t GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       {sql_round_half_up("(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))", 6)} AS corr_qty_price
FROM agg
"""


#: fulfillment SLA: first shipment within this many days of the order
SLA_DAYS = 30


def orders_priority_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment-SLA report per order priority: the share of orders
    whose FIRST lineitem shipped within ``SLA_DAYS`` of the order date
    — the operational "are urgent orders actually faster" rollup.

    min(shipdate) is order-independent; the latency and the SLA flag
    are exact integer day arithmetic; shares are exact divisions.

    Plan: one orderkey aggregate over lineitem (map-side combined) +
    one orderkey equi-join to orders (co-partitioned under AQE) + a
    |priorities|-row final agg."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    first_ship = l.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("first_ship"))
    j = o.join(first_ship, o["o_orderkey"] == first_ship["l_orderkey"], "left")
    lat = F.datediff(F.to_date("first_ship"), F.to_date("o_orderdate"))
    flagged = j.select(
        "o_orderpriority",
        F.when(F.col("first_ship").isNotNull() & (lat <= SLA_DAYS), 1).otherwise(0).alias("ok"),
        F.when(F.col("first_ship").isNull(), 1).otherwise(0).alias("no_ship"),
    )
    agg = flagged.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum("ok").alias("n_within_sla"),
        F.sum("no_ship").alias("n_unshipped"),
    )
    share = (
        F.floor(
            F.col("n_within_sla").cast("double") / F.col("n_orders").cast("double") * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    return agg.select(
        "o_orderpriority", "n_orders", "n_within_sla", "n_unshipped", share.alias("sla_share")
    )


ORDERS_SLA_SQL = f"""
WITH fs AS (
  SELECT l_orderkey, min(l_shipdate) AS first_ship FROM lineitem GROUP BY l_orderkey
), flagged AS (
  SELECT o.o_orderpriority,
         CASE WHEN fs.first_ship IS NOT NULL
                   AND (fs.first_ship::DATE - o.o_orderdate::DATE) <= {SLA_DAYS}
              THEN 1 ELSE 0 END AS ok,
         CASE WHEN fs.first_ship IS NULL THEN 1 ELSE 0 END AS no_ship
  FROM orders o LEFT JOIN fs ON o.o_orderkey = fs.l_orderkey
), agg AS (
  SELECT o_orderpriority, count(*) AS n_orders,
         CAST(sum(ok) AS BIGINT) AS n_within_sla,
         CAST(sum(no_ship) AS BIGINT) AS n_unshipped
  FROM flagged GROUP BY o_orderpriority
)
SELECT o_orderpriority, n_orders, n_within_sla, n_unshipped,
       CAST(floor(CAST(n_within_sla AS DOUBLE) / CAST(n_orders AS DOUBLE) * 1e6 + 0.5) AS BIGINT) / 1e6 AS sla_share
FROM agg
"""


def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier market concentration per nation — the Herfindahl index
    ``HHI = Σ share_i²`` over each nation's supplier revenue shares (1 =
    monopoly, →0 = fragmented; the sourcing-risk metric).

    Computed as ``(Σ rᵢ²) / (Σ rᵢ)²`` from EXACT per-supplier revenue
    sums: revenue terms accumulate as DECIMALs (order-independent),
    each supplier total is squared exactly in DECIMAL, and only the
    final division runs in doubles — identical op order cross-engine.

    Plan: one (nation, supplier) revenue aggregate (map-side combined)
    + a |nations|-row second-level aggregate; the supplier→nation
    attach is a broadcast dim join."""
    l = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice", "l_discount")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (F.col("l_extendedprice").cast("decimal(18,6)")
           * (F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)")))
    per_supp = (
        l.join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", "s_suppkey")
        .agg(F.sum(rev).cast("decimal(18,2)").alias("r"))
    )
    agg = per_supp.groupBy("n_name").agg(
        F.count("*").alias("n_suppliers"),
        F.sum(F.col("r") * F.col("r")).alias("sum_r2"),
        F.sum("r").alias("sum_r"),
    )
    hhi = (
        F.floor(
            F.col("sum_r2").cast("double")
            / (F.col("sum_r").cast("double") * F.col("sum_r").cast("double"))
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    return agg.select("n_name", "n_suppliers", hhi.alias("hhi"))


SUPPLIER_HHI_SQL = """
WITH per_supp AS (
  SELECT n.n_name, s.s_suppkey,
         sum(l.l_extendedprice::DECIMAL(18,6) * (1::DECIMAL(18,6) - l.l_discount::DECIMAL(18,6)))::DECIMAL(18,2) AS r
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_name, s.s_suppkey
), agg AS (
  SELECT n_name, count(*) AS n_suppliers, sum(r::DECIMAL(19,2) * r::DECIMAL(19,2)) AS sum_r2, sum(r) AS sum_r
  FROM per_supp GROUP BY n_name
)
SELECT n_name, n_suppliers,
       CAST(floor(CAST(sum_r2 AS DOUBLE) / (CAST(sum_r AS DOUBLE) * CAST(sum_r AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS hhi
FROM agg
"""


def revenue_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue trend: exact-DECIMAL monthly revenue,
    previous month via lag over the month index, and the growth ratio —
    the basic time-series report every pipeline dashboard starts with.

    The month index (year*12 + month-1, the cohort-retention idiom) is
    total and gap-aware: lag(1) is the PREVIOUS ROW, so a missing
    calendar month yields a ratio against the last month present
    (documented; use a calendar spine join to force nulls instead).

    Plan: one map-side-combined month aggregate (≤ |months| rows), then
    a single-partition lag window over that tiny series."""
    # OPTIMIZATION_r18 (guide §2.5 input-layout remedy, the r17
    # part_price_realization pattern): the heavy per-row DECIMAL(18,6)
    # multiply runs in the scan stage, and the sf test file is a single
    # row group (decode parallelism 1) — spread the narrow projection
    # so the partial month aggregate uses every core.  No-op at scale;
    # DECIMAL addition is exact, so regrouped partial sums are
    # bit-identical.  A/B sf0.1: 0.89 → 0.70 s min-of-6 interleaved.
    l = spread_small_scan(_t(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_extendedprice", "l_discount"
    ))
    rev = (F.col("l_extendedprice").cast("decimal(18,6)")
           * (F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)")))
    monthly = (
        l.groupBy(
            (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1).alias("mi")
        )
        .agg(F.sum(rev).alias("revenue"))
    )
    w = W.orderBy("mi")
    month_str = F.date_format(
        F.make_date(F.expr("mi DIV 12"), F.col("mi") % 12 + 1, F.lit(1)), "yyyy-MM"
    )
    prev = F.lag("revenue").over(w)
    growth = F.when(
        prev.isNotNull(),
        F.floor(
            F.col("revenue").cast("double") / prev.cast("double") * F.lit(1e6) + F.lit(0.5)
        )
        / F.lit(1e6),
    )
    return monthly.select(
        month_str.alias("month"),
        F.col("revenue").cast("double").alias("revenue"),
        growth.alias("growth_ratio"),
    )


REVENUE_MONTHLY_SQL = """
WITH monthly AS (
  SELECT year(l_shipdate) * 12 + (month(l_shipdate) - 1) AS mi,
         sum(l_extendedprice::DECIMAL(18,6) * (1::DECIMAL(18,6) - l_discount::DECIMAL(18,6))) AS revenue
  FROM lineitem GROUP BY 1
)
SELECT strftime(make_date(mi // 12, mi % 12 + 1, 1), '%Y-%m') AS month,
       CAST(revenue AS DOUBLE) AS revenue,
       CASE WHEN lag(revenue) OVER (ORDER BY mi) IS NOT NULL
            THEN CAST(floor(CAST(revenue AS DOUBLE) / CAST(lag(revenue) OVER (ORDER BY mi) AS DOUBLE) * 1e6 + 0.5) AS BIGINT) / 1e6
       END AS growth_ratio
FROM monthly
"""


def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation trade balance: revenue attributed to each nation on
    the CUSTOMER side (its customers' purchases) vs the SUPPLIER side
    (its suppliers' sales), combined with a full-outer merge so a
    nation active on only one side still appears — the two-independent-
    aggregates-then-reconcile shape (ledger reconciliation, A/B totals).

    All revenue sums are exact DECIMALs; the balance is one exact
    DECIMAL subtraction.  Plan (r12): ONE pass over the fact table —
    the naive shape (two independent aggregates, each re-scanning
    lineitem and re-paying the l⋈o shuffle join) does every expensive
    step twice for results that differ only in which nation key they
    group on.  Instead: one orderkey shuffle join + broadcast dims →
    partial grid aggregate on (cust_nation, supp_nation) (≤ |nations|²
    rows — the whole fact volume collapses here), explode each grid
    cell into its two side attributions, and take conditional sums in
    a single |nations|-bounded aggregate.  A nation absent on one side
    gets a NULL conditional sum → coalesce(0), exactly the old
    full-outer semantics.  DECIMAL addition is associative, so the
    regrouped sums are bit-identical to the two-aggregate oracle.

    FK-integrity assumption (ADVICE r12): the one-pass shape routes
    supplier-side revenue through the l⋈o⋈c chain, so a lineitem whose
    order or customer row is MISSING would drop from supp_revenue,
    whereas the oracle's supplier aggregate sums lineitem⋈supplier
    alone.  Equality therefore requires lineitem→orders→customer
    referential integrity — guaranteed by this generator (TPC-H FKs)
    and asserted by tests/test_oracle_battery.py::
    test_corpus_fk_integrity; on a corpus with orphaned lineitems,
    split the supplier side back into its own aggregate."""
    # heavy decimal math + 5 broadcast probes all run in the scan stage:
    # spread a single-file scan across cores (no-op at scale)
    l = spread_small_scan(_t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    ))
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (F.col("l_extendedprice").cast("decimal(18,6)")
           * (F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)")))
    cn = n.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation"))
    sn = n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation"))
    grid = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cnk"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("snk"))
        .groupBy("cust_nation", "supp_nation")
        .agg(F.sum(rev).alias("r"))
    )
    sides = grid.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("c").alias("side"),
                    F.col("cust_nation").alias("nation"),
                    F.col("r"),
                ),
                F.struct(
                    F.lit("s").alias("side"),
                    F.col("supp_nation").alias("nation"),
                    F.col("r"),
                ),
            )
        ).alias("x")
    ).select("x.*")
    j = sides.groupBy("nation").agg(
        F.sum(F.when(F.col("side") == "c", F.col("r"))).alias("cust_revenue"),
        F.sum(F.when(F.col("side") == "s", F.col("r"))).alias("supp_revenue"),
    )
    zero = F.lit(0).cast("decimal(28,6)")
    cr = F.coalesce(F.col("cust_revenue").cast("decimal(28,6)"), zero)
    sr = F.coalesce(F.col("supp_revenue").cast("decimal(28,6)"), zero)
    return j.select(
        "nation",
        cr.cast("double").alias("cust_revenue"),
        sr.cast("double").alias("supp_revenue"),
        (cr - sr).cast("double").alias("balance"),
    )


NATION_BALANCE_SQL = """
WITH rev AS (
  SELECT l_orderkey, l_suppkey,
         l_extendedprice::DECIMAL(18,6) * (1::DECIMAL(18,6) - l_discount::DECIMAL(18,6)) AS r
  FROM lineitem
), cust_side AS (
  SELECT n.n_name AS nation, sum(rev.r) AS cust_revenue
  FROM rev JOIN orders o ON rev.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
), supp_side AS (
  SELECT n.n_name AS nation, sum(rev.r) AS supp_revenue
  FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_name
)
SELECT COALESCE(c.nation, s.nation) AS nation,
       CAST(COALESCE(c.cust_revenue::DECIMAL(28,6), 0::DECIMAL(28,6)) AS DOUBLE) AS cust_revenue,
       CAST(COALESCE(s.supp_revenue::DECIMAL(28,6), 0::DECIMAL(28,6)) AS DOUBLE) AS supp_revenue,
       CAST(COALESCE(c.cust_revenue::DECIMAL(28,6), 0::DECIMAL(28,6))
            - COALESCE(s.supp_revenue::DECIMAL(28,6), 0::DECIMAL(28,6)) AS DOUBLE) AS balance
FROM cust_side c FULL OUTER JOIN supp_side s ON c.nation = s.nation
"""


def part_price_realization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price realization by product type: realized revenue over the
    retail value of the quantity sold (``Σ rev / Σ qty·retail``) — the
    merchandising "how deep are we discounting each category" report.

    Both sums are exact DECIMALs (ratio-of-sums, not avg-of-ratios — no
    per-row float division), with one final double division in
    identical cross-engine op order.  Plan: lineitem ⋈ broadcast(part)
    + one |types|-row aggregate."""
    l = spread_small_scan(_t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    ))
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type", "p_retailprice")
    rev = (F.col("l_extendedprice").cast("decimal(18,6)")
           * (F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)")))
    retail_val = (F.col("l_quantity").cast("decimal(18,6)")
                  * F.col("p_retailprice").cast("decimal(18,6)"))
    agg = (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .groupBy("p_type")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(rev).alias("revenue"),
            F.sum(retail_val).alias("retail_value"),
        )
    )
    ratio = (
        F.floor(
            F.col("revenue").cast("double") / F.col("retail_value").cast("double") * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    return agg.select("p_type", "n_lines", ratio.alias("realization"))


PART_REALIZATION_SQL = """
WITH j AS (
  SELECT p.p_type,
         l.l_extendedprice::DECIMAL(18,6) * (1::DECIMAL(18,6) - l.l_discount::DECIMAL(18,6)) AS rev,
         l.l_quantity::DECIMAL(18,6) * p.p_retailprice::DECIMAL(18,6) AS retail_val
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
), agg AS (
  SELECT p_type, count(*) AS n_lines, sum(rev) AS revenue, sum(retail_val) AS retail_value
  FROM j GROUP BY p_type
)
SELECT p_type, n_lines,
       CAST(floor(CAST(revenue AS DOUBLE) / CAST(retail_value AS DOUBLE) * 1e6 + 0.5) AS BIGINT) / 1e6 AS realization
FROM agg
"""


def customer_segment_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-segment value rollup: customers, orders, exact-decimal
    spend and spend-per-customer for each segment — the account-planning
    summary.  One custkey join (customers broadcast at these SFs, AQE
    decides) + a |segments|-row aggregate; counts and sums exact, one
    final double division per row."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    j = o.join(c, o["o_custkey"] == c["c_custkey"])
    agg = j.groupBy("c_mktsegment").agg(
        F.count_distinct("c_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("spend"),
    )
    per_cust = (
        F.floor(
            F.col("spend").cast("double") / F.col("n_customers").cast("double") * F.lit(100)
            + F.lit(0.5)
        )
        / F.lit(100)
    )
    return agg.select(
        "c_mktsegment",
        "n_customers",
        "n_orders",
        F.col("spend").cast("double").alias("spend"),
        per_cust.alias("spend_per_customer"),
    )


CUSTOMER_SEGMENT_SQL = """
WITH agg AS (
  SELECT c.c_mktsegment,
         count(DISTINCT c.c_custkey) AS n_customers,
         count(*) AS n_orders,
         sum(o.o_totalprice::DECIMAL(18,6)) AS spend
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment
)
SELECT c_mktsegment, n_customers, n_orders,
       CAST(spend AS DOUBLE) AS spend,
       CAST(floor(CAST(spend AS DOUBLE) / CAST(n_customers AS DOUBLE) * 100 + 0.5) AS BIGINT) / 100 AS spend_per_customer
FROM agg
"""


#: incremental-snapshot cutoff: everything from this date on is "the
#: delta" (the newest ~7 months of the 1995..2001 generated range) —
#: the refresh batch merged into the base snapshot.
SNAPSHOT_MERGE_CUTOFF = "2001-01-01"


def snapshot_merge_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert — incremental snapshot maintenance (r15): the
    warehouse op that keeps a per-customer state table current WITHOUT
    recomputing it from the full history.  Base snapshot = per-customer
    aggregates over orders before SNAPSHOT_MERGE_CUTOFF; delta = the
    same aggregates over the refresh window.  The merge is a full-outer
    join on the key with additive combination (counts/sums add, last
    order date = greatest) and a merge_action audit column
    (updated / unchanged / inserted) — MERGE INTO semantics expressed
    as a join, the only shape that scales (at 100 TB the day's delta
    aggregate merges into the snapshot with ONE shuffle per side on the
    key; history is never rescanned).  Counts and decimal sums exact;
    one rounded double per row for the hash."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    cut = F.lit(SNAPSHOT_MERGE_CUTOFF).cast("timestamp")

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("spend"),
            F.max("o_orderdate").alias("last_order"),
        )

    base = state(o.filter(F.col("o_orderdate") < cut))
    delta = state(o.filter(F.col("o_orderdate") >= cut))
    b, d = base.alias("b"), delta.alias("d")
    j = b.join(d, F.col("b.o_custkey") == F.col("d.o_custkey"), "full_outer")
    zero = F.lit(0).cast("decimal(18,6)")
    merged_spend = F.coalesce(F.col("b.spend"), zero) + F.coalesce(F.col("d.spend"), zero)
    return j.select(
        F.coalesce(F.col("b.o_custkey"), F.col("d.o_custkey")).alias("custkey"),
        (
            F.coalesce(F.col("b.n_orders"), F.lit(0))
            + F.coalesce(F.col("d.n_orders"), F.lit(0))
        ).alias("n_orders"),
        merged_spend.cast("double").alias("spend"),
        F.date_format(
            F.greatest(F.col("b.last_order"), F.col("d.last_order")), "yyyy-MM-dd"
        ).alias("last_order"),
        F.when(F.col("b.o_custkey").isNull(), F.lit("inserted"))
        .when(F.col("d.o_custkey").isNull(), F.lit("unchanged"))
        .otherwise(F.lit("updated"))
        .alias("merge_action"),
    )


SNAPSHOT_MERGE_SQL = f"""
WITH base AS (
  SELECT o_custkey, count(*) AS n_orders,
         sum(o_totalprice::DECIMAL(18,6)) AS spend,
         max(o_orderdate) AS last_order
  FROM orders WHERE o_orderdate < TIMESTAMP '{SNAPSHOT_MERGE_CUTOFF}'
  GROUP BY o_custkey
), delta AS (
  SELECT o_custkey, count(*) AS n_orders,
         sum(o_totalprice::DECIMAL(18,6)) AS spend,
         max(o_orderdate) AS last_order
  FROM orders WHERE o_orderdate >= TIMESTAMP '{SNAPSHOT_MERGE_CUTOFF}'
  GROUP BY o_custkey
)
SELECT coalesce(b.o_custkey, d.o_custkey) AS custkey,
       coalesce(b.n_orders, 0) + coalesce(d.n_orders, 0) AS n_orders,
       CAST(coalesce(b.spend, 0::DECIMAL(18,6)) + coalesce(d.spend, 0::DECIMAL(18,6)) AS DOUBLE) AS spend,
       strftime(greatest(b.last_order, d.last_order), '%Y-%m-%d') AS last_order,
       CASE WHEN b.o_custkey IS NULL THEN 'inserted'
            WHEN d.o_custkey IS NULL THEN 'unchanged'
            ELSE 'updated' END AS merge_action
FROM base b FULL OUTER JOIN delta d ON b.o_custkey = d.o_custkey
"""


def _scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 version chain with NATIVE timestamps — shared by the
    registered (formatted) query and the PIT-join consumer.  Intervals
    are half-open [valid_from, valid_to); same-instant versions yield an
    empty interval for all but the last of the tie group, so at most one
    version covers any point in time."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.row_number().over(w).alias("version"),
        F.col("o_orderdate").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


def scd2_customer_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 validity intervals (r15): each customer's orders form
    a version chain — valid_from = the order's date, valid_to = the
    NEXT version's date (null while current), plus the version number
    and an is_current flag.  The temporal-table build every warehouse
    dimension load runs; asof-join consumers (join_asof_* family) and
    the PIT read (pit_scd2_shipments) consume exactly these intervals.

    Deterministic: versions order by the TOTAL key (o_orderdate,
    o_orderkey), so same-day orders chain stably.  Plan: ONE per-custkey
    window shuffle (partitioned — never global); output is one row per
    order."""
    v = _scd2_intervals(spark, sf_dir)
    return v.select(
        "custkey",
        "orderkey",
        "version",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        "is_current",
    )


SCD2_VERSIONS_SQL = """
SELECT o_custkey AS custkey,
       o_orderkey AS orderkey,
       row_number() OVER w AS version,
       strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
       strftime(lead(o_orderdate) OVER w, '%Y-%m-%d') AS valid_to,
       lead(o_orderdate) OVER w IS NULL AS is_current
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


#: versions 1..PIT_VERSION_CAP report individually; later ones fold to
#: the '5+' bucket (keeps the report bounded at any history depth)
PIT_VERSION_CAP = 4


def _pit_version_merge(facts: DataFrame, orders: DataFrame) -> DataFrame:
    """The r17 counting formulation of the PIT match: union fact probes
    with raw order (build) rows, ONE per-custkey window pass in the
    asof sort order ((ts, tag, orderkey): builds before probes at equal
    ts, same-instant builds in version order so the last/highest wins).
    ``_ver`` = running build count = the version number of the latest
    version with valid_from <= ship_ts (0 = no prior version);
    ``_vmax`` = the customer's total version count, so
    ``_ver == _vmax`` ⟺ the matched version has no successor ⟺ its
    valid_to IS NULL ⟺ is_current.  Equivalence to the explicit SCD2
    interval join is pinned by tests/test_temporal.py::
    test_pit_counting_merge_matches_interval_join.

    ``facts``: (custkey, ship_ts, rev);  ``orders``: (o_orderkey,
    o_custkey, o_orderdate).  Returns probe rows with _ver/_vmax."""
    rev_t = facts.schema["rev"].dataType
    b = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("_t"),
        F.lit(0).alias("_tag"),
        F.col("o_orderkey").alias("_tb"),
        F.lit(None).cast(rev_t).alias("rev"),
    )
    p = facts.select(
        "custkey",
        F.col("ship_ts").alias("_t"),
        F.lit(1).alias("_tag"),
        F.lit(None).cast("long").alias("_tb"),
        "rev",
    )
    w_run = (
        W.partitionBy("custkey")
        .orderBy(F.col("_t").asc(), F.col("_tag").asc(), F.col("_tb").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy("custkey").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    is_build = F.when(F.col("_tag") == 0, 1).otherwise(0)
    return (
        b.unionByName(p)
        .withColumn("_ver", F.sum(is_build).over(w_run))
        .withColumn("_vmax", F.sum(is_build).over(w_all))
        .filter(F.col("_tag") == 1)
    )


def pit_scd2_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) read over the SCD2 dimension (r16, VERDICT
    r15 Missing #1) — the feature-store consumer query: each shipment
    fact (lineitem) joins the customer version that was valid AT ITS
    SHIP DATE (``valid_from <= l_shipdate < valid_to``), then the report
    profiles shipments/revenue by matched version depth and currency.
    This is the capstone of the r15 temporal family: the SCD2 build
    (scd2_customer_versions) writes the intervals, this query reads
    them the way every training-data / feature pipeline does (no
    feature leakage: a fact never sees a version from its future).

    Semantics: SCD2 intervals are half-open and non-overlapping per
    key, so "the covering interval" ≡ "the version with the greatest
    valid_from <= fact ts" (max version breaking same-instant ties,
    whose earlier twins are empty intervals) — which is exactly a
    backward as-of join.  The oracle states the interval predicate
    directly; the Spark plan runs the asof_join union+merge.

    Plan: facts get their custkey via ONE orderkey-co-partitioned
    equi-join (lineitem ⋈ orders — both corpus-sized, never broadcast),
    then the PIT match is a single per-custkey window merge — one
    shuffle on the key, no range/cartesian join, per-task rows bounded
    by per-customer history (skew = heaviest customer, same bound as
    the SCD2 build itself).  r17: the SCD2 VERSIONING is folded INTO
    the merge window — the matched version number is the RUNNING COUNT
    of build (order) rows in exactly the sort asof_join used
    ((ts, tag, orderkey): builds before probes at equal ts, same-
    instant builds in version order, last-wins = the count), and
    is_current ⟺ matched version == the customer's TOTAL build count
    (valid_to IS NULL only on the last version).  That removes the
    separate _scd2_intervals window shuffle of orders AND the struct
    running-last payload; values are identical by construction (the
    planted pytest pins this equivalence against the interval join).
    The report aggregate is map-combined onto ≤(CAP+2)×2 rows and its
    distinct-custkey expand rides the merge window's hash(custkey)
    partitioning.  Exact: counts are integers, revenue is an exact
    DECIMAL sum cast once to double."""
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    rev = F.col("l_extendedprice").cast("decimal(18,6)") * (
        F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)")
    )
    facts = l.join(o.select("o_orderkey", "o_custkey"), l.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("custkey"),
        F.col("l_shipdate").alias("ship_ts"),
        rev.alias("rev"),
    )
    merged = _pit_version_merge(facts, o)
    version = F.when(F.col("_ver") >= 1, F.col("_ver"))
    is_current = F.when(F.col("_ver") >= 1, F.col("_ver") == F.col("_vmax"))
    bucket = (
        F.when(version.isNull(), F.lit("none"))
        .when(version > PIT_VERSION_CAP, F.lit(f"{PIT_VERSION_CAP + 1}+"))
        .otherwise(version.cast("string"))
    )
    return (
        merged.groupBy(
            bucket.alias("version_bucket"),
            is_current.alias("is_current"),
        )
        .agg(
            F.count("*").alias("n_shipments"),
            F.countDistinct("custkey").alias("n_customers"),
            F.sum("rev").cast("double").alias("revenue"),
        )
    )


#: shared interval CTEs — the SCD2 chain (v) + custkey-resolved
#: shipment facts (f); composed by BOTH the batch report oracle below
#: and the streaming drain oracle (streaming/windowed.py::
#: STREAMING_PIT_SQL) so the two stay bit-in-sync by construction.
PIT_INTERVAL_CTES = """v AS (
  SELECT o_custkey AS custkey,
         row_number() OVER w AS version,
         o_orderdate AS valid_from,
         lead(o_orderdate) OVER w AS valid_to
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), f AS (
  SELECT l.l_orderkey AS orderkey, l.l_linenumber AS linenumber,
         o.o_custkey AS custkey, l.l_shipdate AS ship_ts,
         l.l_extendedprice::DECIMAL(18,6)
           * (1::DECIMAL(18,6) - l.l_discount::DECIMAL(18,6)) AS rev
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)"""

#: the PIT match of fact f to the version v valid at its ship date, for
#: the same two oracles.  The current version's NULL valid_to reads as
#: 'infinity': a plain range condition, which DuckDB joins fast.
PIT_INTERVAL_MATCH = """f.custkey = v.custkey
   AND v.valid_from <= f.ship_ts
   AND f.ship_ts < coalesce(v.valid_to, 'infinity'::TIMESTAMP)"""


PIT_SCD2_SQL = f"""
WITH {PIT_INTERVAL_CTES}, m AS (
  SELECT f.custkey, f.rev, v.version,
         CASE WHEN v.version IS NULL THEN NULL
              ELSE v.valid_to IS NULL END AS is_current
  FROM f LEFT JOIN v ON {PIT_INTERVAL_MATCH}
)
SELECT CASE WHEN version IS NULL THEN 'none'
            WHEN version > {PIT_VERSION_CAP} THEN '{PIT_VERSION_CAP + 1}+'
            ELSE CAST(version AS VARCHAR) END AS version_bucket,
       is_current,
       count(*) AS n_shipments,
       count(DISTINCT custkey) AS n_customers,
       CAST(sum(rev) AS DOUBLE) AS revenue
FROM m GROUP BY 1, 2
"""


QUERIES = {
    "nation_trade_balance": nation_trade_balance,
    "part_price_realization": part_price_realization,
    "customer_segment_value": customer_segment_value,
    "window_cume_dist": window_cume_dist,
    "window_topk_with_ties": window_topk_with_ties,
    "corr_quantity_price": corr_quantity_price,
    "orders_priority_sla": orders_priority_sla,
    "supplier_concentration_hhi": supplier_concentration_hhi,
    "revenue_monthly_growth": revenue_monthly_growth,
    "orders_rfm_segmentation": orders_rfm_segmentation,
    "orders_rfm_segmentation_approx": orders_rfm_segmentation_approx,
    "basket_pair_affinity": basket_pair_affinity,
    "window_first_last_orders": window_first_last_orders,
    "orders_cohort_retention": orders_cohort_retention,
    "set_except_all": set_except_all,
    "window_range_frame": window_range_frame,
    "agg_global_no_group": agg_global_no_group,
    "subquery_exists_priority": subquery_exists_priority,
    "set_union_all": set_union_all,
    "unpivot_lineitem_measures": unpivot_lineitem_measures,
    "window_ntile_quartiles": window_ntile_quartiles,
    "scalar_subquery_uncorrelated": scalar_subquery_uncorrelated,
    "quantile_disc_price": quantile_disc_price,
    "agg_filtered_counts": agg_filtered_counts,
    "array_agg_regions": array_agg_regions,
    "join_full_outer": join_full_outer,
    "page_orders_offset": page_orders_offset,
    "q9_profit_by_nation_year": q9_profit_by_nation_year,
    "snapshot_merge_incremental": snapshot_merge_incremental,
    "scd2_customer_versions": scd2_customer_versions,
    "pit_scd2_shipments": pit_scd2_shipments,
}

ORACLES = {
    "window_cume_dist": WINDOW_CUME_DIST_SQL,
    "window_topk_with_ties": WINDOW_TOPK_TIES_SQL,
    "orders_rfm_segmentation": ORDERS_RFM_SQL,
    "orders_rfm_segmentation_approx": ORDERS_RFM_APPROX_SQL,
    "basket_pair_affinity": BASKET_AFFINITY_SQL,
    "window_first_last_orders": WINDOW_FIRST_LAST_SQL,
    "corr_quantity_price": CORR_QTY_PRICE_SQL,
    "orders_priority_sla": ORDERS_SLA_SQL,
    "supplier_concentration_hhi": SUPPLIER_HHI_SQL,
    "revenue_monthly_growth": REVENUE_MONTHLY_SQL,
    "nation_trade_balance": NATION_BALANCE_SQL,
    "part_price_realization": PART_REALIZATION_SQL,
    "customer_segment_value": CUSTOMER_SEGMENT_SQL,
    "orders_cohort_retention": ORDERS_COHORT_SQL,
    "set_except_all": SET_EXCEPT_ALL_SQL,
    "window_range_frame": WINDOW_RANGE_FRAME_SQL,
    "agg_global_no_group": AGG_GLOBAL_SQL,
    "subquery_exists_priority": SUBQUERY_EXISTS_SQL,
    "set_union_all": SET_UNION_ALL_SQL,
    "unpivot_lineitem_measures": UNPIVOT_SQL,
    "window_ntile_quartiles": WINDOW_NTILE_SQL,
    "scalar_subquery_uncorrelated": SCALAR_SUBQUERY_SQL,
    "quantile_disc_price": QUANTILE_DISC_SQL,
    "agg_filtered_counts": AGG_FILTERED_SQL,
    "array_agg_regions": ARRAY_AGG_SQL,
    "join_full_outer": JOIN_FULL_OUTER_SQL,
    "page_orders_offset": PAGE_OFFSET_SQL,
    "q9_profit_by_nation_year": Q9_PROFIT_SQL,
    "snapshot_merge_incremental": SNAPSHOT_MERGE_SQL,
    "scd2_customer_versions": SCD2_VERSIONS_SQL,
    "pit_scd2_shipments": PIT_SCD2_SQL,
}
