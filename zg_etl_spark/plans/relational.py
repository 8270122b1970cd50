"""Relational query surface (q1–q19; grew past the FIXTURES.md §3 plan).

The reference delegates all analytical SQL to Doris (SURVEY.md §2.8 — its
runtime only counts); these queries ARE the analytical surface our engine
exposes natively via Spark SQL over the same tables. Each is written
DataFrame-first so Catalyst handles pushdown/pruning/join selection, with
explicit broadcast hints where the dimension side is known-small.

Scale notes (100 TB thinking):
- joins to region/nation/customer/part-sized dims are broadcast — no
  shuffle of the fact table;
- fact-fact joins (lineitem ⋈ orders) shuffle on the join key only after
  filters/pruning cut the scan (verify via .explain: PushedFilters);
- top-k per group uses window + row_number (one shuffle on the partition
  key); global top-k uses orderBy+limit which Spark runs as TakeOrdered
  (no full sort);
- aggregates use exact decimal sums (plans.common) so results value-hash
  against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from zg_etl_spark.plans.common import davg, dsum, money, o_davg, o_dsum, o_money
from zg_etl_spark.sources.tables import load_table

QUERIES = {}
ORACLE = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


_PRICE = o_money("l_extendedprice")
_DISC = o_money("l_discount", 5)
_TAX = o_money("l_tax", 5)
_QTY = o_money("l_quantity")
_TOTAL = o_money("o_totalprice")


# ---------------------------------------------------------------------------
# Q1 scan + filter + project + agg (TPC-H Q1 shape)
# ---------------------------------------------------------------------------
@_q(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {o_dsum(_QTY)} AS sum_qty,
           {o_dsum(_PRICE)} AS sum_base_price,
           {o_dsum(f'{_PRICE} * (1 - {_DISC})')} AS sum_disc_price,
           {o_dsum(f'{_PRICE} * (1 - {_DISC}) * (1 + {_TAX})')} AS sum_charge,
           {o_davg(_QTY)} AS avg_qty,
           {o_davg(_PRICE)} AS avg_price,
           {o_davg(_DISC)} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    price = money("l_extendedprice")
    disc = money("l_discount", 5)
    tax = money("l_tax", 5)
    disc_price = price * (F.lit(1) - disc)
    charge = disc_price * (F.lit(1) + tax)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(money("l_quantity")).alias("sum_qty"),
            dsum(price).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg(money("l_quantity")).alias("avg_qty"),
            davg(price).alias("avg_price"),
            davg(disc).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Q2 equi hash join orders ⋈ customer
# ---------------------------------------------------------------------------
@_q(
    "q2_orders_customer_join",
    f"""
    SELECT c.c_mktsegment,
           o.o_orderstatus,
           COUNT(*) AS n_orders,
           {o_dsum(o_money('o.o_totalprice'))} AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 50000
    GROUP BY c.c_mktsegment, o.o_orderstatus
    """,
)
def q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 50000)
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(money("o_totalprice")).alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# Q3 multi-join: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region
# ---------------------------------------------------------------------------
@_q(
    "q3_revenue_by_nation",
    f"""
    SELECT r.r_name, n.n_name,
           {o_dsum(f"{o_money('l.l_extendedprice')} * (1 - {o_money('l.l_discount', 5)})")} AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    revenue = money("l_extendedprice") * (F.lit(1) - money("l_discount", 5))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            dsum(revenue).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# ---------------------------------------------------------------------------
# Q4 broadcast join of two dims
# ---------------------------------------------------------------------------
@_q(
    "q4_nation_region",
    """
    SELECT r.r_name, COUNT(*) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


# ---------------------------------------------------------------------------
# Q5 left semi / anti join
# ---------------------------------------------------------------------------
@_q(
    "q5_semi_anti",
    """
    SELECT c_mktsegment,
           COUNT(*) FILTER (WHERE has_order) AS n_with_orders,
           COUNT(*) FILTER (WHERE NOT has_order) AS n_without_orders
    FROM (
      SELECT c.c_mktsegment,
             EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) AS has_order
      FROM customer c
    )
    GROUP BY c_mktsegment
    """,
)
def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    with_o = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_with_orders"))
    )
    without_o = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_without_orders"))
    )
    return (
        with_o.join(without_o, "c_mktsegment", "full_outer")
        .select(
            "c_mktsegment",
            F.coalesce("n_with_orders", F.lit(0)).alias("n_with_orders"),
            F.coalesce("n_without_orders", F.lit(0)).alias("n_without_orders"),
        )
    )


# ---------------------------------------------------------------------------
# Q6 hash agg with count(distinct)
# ---------------------------------------------------------------------------
@_q(
    "q6_hash_agg",
    f"""
    SELECT l_returnflag, l_linestatus,
           {o_dsum(_QTY)} AS sum_qty,
           CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price,
           {o_davg(_PRICE)} AS avg_price,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(money("l_quantity")).alias("sum_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        davg(money("l_extendedprice")).alias("avg_price"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Q7 rollup on (n_name, o_orderpriority)
# ---------------------------------------------------------------------------
@_q(
    "q7_rollup",
    f"""
    SELECT n.n_name, o.o_orderpriority,
           COUNT(*) AS n_orders,
           {o_dsum(o_money('o.o_totalprice'))} AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP (n.n_name, o.o_orderpriority)
    """,
)
def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .rollup("n_name", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(money("o_totalprice")).alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# Q8 window ranking: top-3 orders per customer + running frame sum
# ---------------------------------------------------------------------------
@_q(
    "q8_window_topk",
    f"""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
             CAST(SUM({_TOTAL})
                  OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) AS running_total
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    ) WHERE rn <= 3
    """,
)
def q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.sum(money("o_totalprice"))
            .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
            .cast("double")
            .alias("running_total"),
        )
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# Q9 global top-k: top-10 revenue parts
# ---------------------------------------------------------------------------
@_q(
    "q9_top_parts",
    f"""
    SELECT p.p_partkey, p.p_name,
           {o_dsum(f"{o_money('l.l_extendedprice')} * (1 - {o_money('l.l_discount', 5)})")} AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_partkey, p.p_name
    ORDER BY revenue DESC, p.p_partkey
    LIMIT 10
    """,
)
def q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    revenue = money("l_extendedprice") * (F.lit(1) - money("l_discount", 5))
    # aggregate on the bigint FK BEFORE the dimension join: the hash-agg
    # keys stay 8 bytes (no p_name string in the grouping), and the join
    # touches one row per part instead of one per lineitem — at 100 TB
    # that is the difference between joining the fact and joining the
    # aggregate (~30% faster even at sf0.1)
    agg = li.groupBy("l_partkey").agg(dsum(revenue).alias("revenue"))
    return (
        agg.join(F.broadcast(part), agg.l_partkey == part.p_partkey)
        .select("p_partkey", "p_name", "revenue")
        .orderBy(F.desc("revenue"), F.asc("p_partkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q10 set ops: union / intersect / except over customer key sets
# ---------------------------------------------------------------------------
@_q(
    "q10_set_ops",
    """
    WITH hi AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 150000),
         recent AS (SELECT DISTINCT o_custkey AS k FROM orders
                    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00')
    SELECT 'union' AS op, COUNT(*) AS n FROM (SELECT k FROM hi UNION SELECT k FROM recent)
    UNION ALL
    SELECT 'intersect', COUNT(*) FROM (SELECT k FROM hi INTERSECT SELECT k FROM recent)
    UNION ALL
    SELECT 'except', COUNT(*) FROM (SELECT k FROM hi EXCEPT SELECT k FROM recent)
    """,
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Flag-aggregation form (guide §2.4): the literal UNION/INTERSECT/
    # EXCEPT plan scanned orders 6× (2 set defs × 3 ops) with an exchange
    # per op. Per-custkey membership flags computed in ONE scan + one
    # groupBy give all three counts from conditional sums. coalesce(cond,
    # false) reproduces WHERE-clause semantics for NULL predicates;
    # grouping treats NULL keys as equal exactly like UNION/INTERSECT/
    # EXCEPT do. The DuckDB oracle keeps the set-op form — parity is the
    # equivalence proof.
    orders = load_table(spark, sf_dir, "orders")
    flags = (
        orders.select(
            F.col("o_custkey").alias("k"),
            F.coalesce(F.col("o_totalprice") > 150000, F.lit(False)).alias("h"),
            F.coalesce(
                F.col("o_orderdate")
                >= F.lit("1997-01-01 00:00:00").cast("timestamp"),
                F.lit(False),
            ).alias("r"),
        )
        .filter(F.col("h") | F.col("r"))
        .groupBy("k")
        .agg(F.max("h").alias("h"), F.max("r").alias("r"))
    )
    counts = flags.agg(
        F.count(F.lit(1)).alias("u"),
        F.sum(F.when(F.col("h") & F.col("r"), 1).otherwise(0)).alias("i"),
        F.sum(F.when(F.col("h") & ~F.col("r"), 1).otherwise(0)).alias("e"),
    )
    return counts.selectExpr(
        "stack(3, 'union', u, 'intersect', i, 'except', e) AS (op, n)"
    ).selectExpr("op", "CAST(n AS BIGINT) AS n")


# ---------------------------------------------------------------------------
# Q11 approx_count_distinct — tolerance-checked, no value oracle
# ---------------------------------------------------------------------------
@_q(
    "q11_approx_distinct",
    # HLL sketch values differ across engines by construction, so the
    # oracle pins what IS cross-engine checkable: the exact counts and
    # the guarantee that the sketch landed within its error bound (rsd
    # 0.05 → 10% is generous; tests/test_plan_quality.py pins the
    # tighter local tolerance)
    """
    SELECT COUNT(DISTINCT l_orderkey) AS exact_orders,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           true AS orders_within_tol,
           true AS parts_within_tol
    FROM lineitem
    """,
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.count_distinct("l_partkey").alias("exact_parts"),
        (
            F.abs(
                F.approx_count_distinct("l_orderkey")
                - F.count_distinct("l_orderkey")
            )
            <= 0.1 * F.count_distinct("l_orderkey")
        ).alias("orders_within_tol"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey")
                - F.count_distinct("l_partkey")
            )
            <= 0.1 * F.count_distinct("l_partkey")
        ).alias("parts_within_tol"),
    )


# ---------------------------------------------------------------------------
# Q12 scalar functions: string / date / math / null handling
# ---------------------------------------------------------------------------
@_q(
    "q12_scalar_functions",
    """
    SELECT o_orderkey,
           UPPER(o_orderstatus) AS status_u,
           LOWER(o_orderpriority) AS prio_l,
           CAST(LENGTH(prio_sub) AS BIGINT) AS prio_len,
           prio_sub,
           CONCAT(o_orderstatus, '-', o_orderpriority) AS status_prio,
           strftime(o_orderdate, '%Y%m%d') AS day_id,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INT)
               AS days_to_eoy,
           CAST(ROUND(o_totalprice, 1) AS DOUBLE) AS price_r1,
           CAST(ABS(o_totalprice - 100000) AS DOUBLE) AS price_dist,
           CAST(CEIL(o_totalprice / 1000) AS BIGINT) AS price_k_ceil,
           CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS price_k_floor,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_x
    FROM (SELECT *, SUBSTRING(o_orderpriority, 1, 1) AS prio_sub FROM orders)
    """,
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    sub = F.substring("o_orderpriority", 1, 1)
    return orders.select(
        "o_orderkey",
        F.upper("o_orderstatus").alias("status_u"),
        F.lower("o_orderpriority").alias("prio_l"),
        F.length(sub).cast("bigint").alias("prio_len"),
        sub.alias("prio_sub"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.date_format("o_orderdate", "yyyyMMdd").alias("day_id"),
        F.datediff(F.lit("1998-12-31").cast("date"), F.col("o_orderdate").cast("date"))
        .alias("days_to_eoy"),
        F.round("o_totalprice", 1).alias("price_r1"),
        F.abs(F.col("o_totalprice") - 100000).alias("price_dist"),
        F.ceil(F.col("o_totalprice") / 1000).alias("price_k_ceil"),
        F.floor(F.col("o_totalprice") / 1000).alias("price_k_floor"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("OPEN")).alias("status_x"),
    )


# ---------------------------------------------------------------------------
# Q13 cube + grouping_id: all four aggregation levels of
# (o_orderstatus, o_orderpriority) in one pass — the multi-level summary
# shape Doris serves from its rollup tables (SURVEY.md §2.8), computed
# natively. grouping_id distinguishes total/subtotal rows from genuine
# NULL group keys; Spark and DuckDB share the bit encoding (1 = column
# aggregated away, first listed column = most significant bit).
# ---------------------------------------------------------------------------
@_q(
    "q13_cube",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           COUNT(*) AS n_orders,
           {o_dsum(_TOTAL)} AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum(money("o_totalprice")).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Q14 GROUPING SETS — the arbitrary-set sibling of rollup (q7) and cube
# (q13): a non-hierarchical set choice ((flag, status), (status), ()) that
# neither ROLLUP nor CUBE can express. One pass, Expand + single shuffle;
# Spark and DuckDB share the grouping_id bit encoding.
# ---------------------------------------------------------------------------
@_q(
    "q14_grouping_sets",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           COUNT(*) AS n_rows,
           {o_dsum(_QTY)} AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
    """,
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM {lineitem}
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


# ---------------------------------------------------------------------------
# Q15 exact percentiles: Spark `percentile` and DuckDB `quantile_cont`
# share the continuous-interpolation definition ((1-d)*lo + d*hi at index
# p*(n-1)); the arithmetic is IEEE-exact so the values hash-match without
# rounding. At scale this is a single shuffle on the group key; for the
# approximate scale path see q11 (approx_count_distinct) — Spark would use
# percentile_approx, which has no cross-engine oracle by construction.
# ---------------------------------------------------------------------------
@_q(
    "q15_percentiles",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS qty_p50,
           quantile_cont(l_quantity, 0.9) AS qty_p90,
           quantile_cont(l_extendedprice, 0.25) AS price_p25,
           quantile_cont(l_extendedprice, 0.99) AS price_p99,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("qty_p50"),
        F.percentile("l_quantity", F.lit(0.9)).alias("qty_p90"),
        F.percentile("l_extendedprice", F.lit(0.25)).alias("price_p25"),
        F.percentile("l_extendedprice", F.lit(0.99)).alias("price_p99"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Q16 window frame variants: event-time RANGE frame (30-day trailing spend —
# peers at equal timestamps all see the full peer-group sum, which a ROWS
# frame gets wrong), lag/lead navigation, first_value, and ntile
# quartiles — the remaining window surface beyond q8's ROWS frame + rank.
# One shuffle on o_custkey serves every window (same partition key; the
# two specs differ only in ordering/frame, so Spark sorts once per spec
# within the same exchange).
# ---------------------------------------------------------------------------
_Q16_BODY = """
SELECT o_custkey, o_orderkey, {epoch} AS ts_s,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER
            (PARTITION BY o_custkey ORDER BY {epoch}
             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS spend_30d,
       LAG(o_orderkey) OVER w AS prev_order,
       LEAD(o_orderkey) OVER w AS next_order,
       FIRST_VALUE(o_orderkey) OVER w AS first_order,
       CAST(NTILE(4) OVER w AS BIGINT) AS recency_quartile
FROM {src}
WINDOW w AS (PARTITION BY o_custkey ORDER BY {epoch}, o_orderkey)"""


@_q(
    "q16_window_frames",
    _Q16_BODY.format(
        src="orders", epoch="CAST(date_part('epoch', o_orderdate) AS BIGINT)"
    ),
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parquet stores TIMESTAMP_NTZ; session TZ is pinned UTC so the
    # NTZ -> TIMESTAMP cast inside unix_seconds is an identity conversion
    return spark.sql(
        _Q16_BODY.format(
            src="{orders}",
            epoch="unix_seconds(CAST(o_orderdate AS TIMESTAMP))",
        ),
        orders=load_table(spark, sf_dir, "orders"),
    )


# ---------------------------------------------------------------------------
# Q17 supplier-side revenue (the last provided table): lineitem ⋈ supplier
# ⋈ nation — fact shuffled zero times (both dims broadcast), revenue and
# supplier-count per nation with acctbal stats.
# ---------------------------------------------------------------------------
@_q(
    "q17_supplier_revenue",
    f"""
    SELECT n.n_name,
           COUNT(DISTINCT s.s_suppkey) AS n_suppliers,
           {o_dsum(f"{o_money('l.l_extendedprice')} * (1 - {o_money('l.l_discount', 5)})")} AS revenue,
           COUNT(*) AS n_lineitems,
           {o_davg(o_money('s.s_acctbal'))} AS avg_acctbal
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    revenue = money("l_extendedprice") * (F.lit(1) - money("l_discount", 5))
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.countDistinct("s_suppkey").alias("n_suppliers"),
            dsum(revenue).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
            davg(money("s_acctbal")).alias("avg_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Q18 correlated scalar subquery: orders above their own customer's average
# — Catalyst rewrites the correlated aggregate into a join (RewriteCorrelated
# ScalarSubquery); the average goes through the exact-decimal sum so the
# boundary comparison is bit-identical across engines.
# ---------------------------------------------------------------------------
_Q18_BODY = """
SELECT o.o_custkey, COUNT(*) AS n_above,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
           AS above_total
FROM {src} o
WHERE o.o_totalprice > (
  SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         / COUNT(*)
  FROM {src} i WHERE i.o_custkey = o.o_custkey)
GROUP BY o.o_custkey"""


@_q("q18_correlated_subquery", _Q18_BODY.format(src="orders"))
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_Q18_BODY.format(src="{orders}"),
                     orders=load_table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# Q19 NOT IN → null-aware anti join: customers with no high-value order.
# NOT IN has three-valued-logic semantics a plain anti join gets wrong
# when the subquery can yield NULL, so Spark plans a null-aware anti join
# (single-column, broadcast-only) — a distinct physical path from q5's
# left_anti. The subquery column here is non-null, so results match the
# intuitive set difference in both engines while still exercising that
# plan shape.
# ---------------------------------------------------------------------------
_Q19_BODY = """
SELECT c.c_mktsegment, COUNT(*) AS n_customers
FROM {cust} c
WHERE c.c_custkey NOT IN (
  SELECT o.o_custkey FROM {orders} o WHERE o.o_totalprice > 400000
)
GROUP BY c.c_mktsegment"""


@_q("q19_not_in_null_aware", _Q19_BODY.format(cust="customer", orders="orders"))
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _Q19_BODY.format(cust="{customer}", orders="{orders}"),
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


# ---------------------------------------------------------------------------
# Q20 time-bucket gap-fill + LOCF (the hypertable `time_bucket_gapfill` /
# `locf` shape — the dense-spine complement of p25's sparse GROUPING SETS
# rollup): hourly (event_type, bucket) counts and exact-decimal value sums,
# densified onto the full [min,max] hour spine per type, missing hours
# carrying count 0 / NULL sum, and `filled_value` = last-observation-
# carried-forward over the gaps.
#
# Scale shape: ONE fact scan feeds the hourly aggregate (partial map-side
# agg, one shuffle on (event_type, bucket)); the aggregate is tiny
# (types × hours), so the spine bounds, the distinct-type list, the
# dense-spine sequence()/explode, the left join, and the LOCF window all
# run over the aggregate, never the fact — it is localCheckpoint'ed once
# so those four consumers don't re-scan 100 TB (at scale this checkpoint
# IS the continuous-aggregate table you'd materialize anyway). The LOCF
# window partitions by event_type over ≤ spine-cardinality rows.
# ---------------------------------------------------------------------------
_Q20_ORACLE = """
WITH agg AS (
  SELECT event_type, epoch_ms(ts) // 3600000 AS hr,
         COUNT(*) AS cnt, SUM(CAST(value AS DECIMAL(12,2))) AS sv
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT min(hr) AS lo, max(hr) AS hi FROM agg
), spine AS (
  SELECT t.event_type, g.hr
  FROM (SELECT DISTINCT event_type FROM agg) t
  CROSS JOIN (SELECT unnest(generate_series(lo, hi)) AS hr FROM bounds) g
)
SELECT s.event_type, s.hr * 3600000 AS bucket_ms,
       COALESCE(a.cnt, 0) AS n_events,
       CAST(a.sv AS DOUBLE) AS sum_value,
       CAST(last_value(a.sv IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.hr
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS filled_value
FROM spine s
LEFT JOIN agg a ON a.event_type = s.event_type AND a.hr = s.hr"""


@_q("q20_gapfill_locf", _Q20_ORACLE)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    # events.ts is epoch-NANOS BIGINT (sources/tables.py contract); the
    # hour bucket is pure integer division — no timestamp/TZ machinery on
    # either engine (the oracle divides epoch_ms by 3.6e6 to the same hr).
    ev = load_table(spark, sf_dir, "events")
    agg = (
        ev.groupBy(
            F.col("event_type"),
            F.expr("ts DIV 3600000000000").alias("hr"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum(money("value")).alias("sv"))
        .localCheckpoint(eager=True)
    )
    bounds = agg.agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
    hours = bounds.select(F.explode(F.sequence("lo", "hi")).alias("hr"))
    spine = agg.select("event_type").distinct().crossJoin(hours)
    locf = W.partitionBy("event_type").orderBy("hr").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return spine.join(agg, ["event_type", "hr"], "left").select(
        "event_type",
        (F.col("hr") * 3600000).alias("bucket_ms"),
        F.coalesce("cnt", F.lit(0)).alias("n_events"),
        F.col("sv").cast("double").alias("sum_value"),
        F.last("sv", ignorenulls=True).over(locf).cast("double")
            .alias("filled_value"),
    )
