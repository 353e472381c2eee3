"""TPC-H-shaped query keys: the classic join/aggregate shapes expressible
over the ten source tables (no partsupp, so Q2/Q11/Q16/Q20 are out of
reach) — pricing summaries, shipping priority, nation-pair volumes,
market and promo shares, the scalar-subquery + anti-join customer audit.

Same contract as ``sql.py``: DataFrame-first Spark implementations with
DuckDB oracle twins (identical aliases both sides, decimal-exact double
aggregation, deterministic output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_table
from .sql import _DEC, _davg, _dsum


QUERIES: dict = {}
ORACLE: dict[str, str] = {}


def q_tpch_q1like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape on the available lineitem columns: scan-heavy
    multi-aggregate with a date filter. Single shuffle on the tiny
    (returnflag, linestatus) key; everything else is map-side."""
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity"), "sum_qty"),
            _dsum(F.col("l_extendedprice"), "sum_base_price"),
            _dsum(disc_price, "sum_disc_price"),
            _dsum(charge, "sum_charge"),
            _davg(F.col("l_quantity"), "avg_qty"),
            _davg(F.col("l_extendedprice"), "avg_price"),
            _davg(F.col("l_discount"), "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE["q_tpch_q1like"] = """
    SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
        CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
        CAST(SUM(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
        COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
"""
QUERIES["q_tpch_q1like"] = q_tpch_q1like


def q_tpch_q3like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + top-10. Catalyst/CBO orders the
    joins (selective filters first); the final top-k is
    TakeOrderedAndProject."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, c.c_custkey == o.o_custkey)
        .filter(F.col("o_orderdate") < cutoff)
        .join(li, o.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            _dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "revenue",
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


ORACLE["q_tpch_q3like"] = """
    SELECT o.o_orderkey, o.o_orderdate,
        CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o.o_orderkey ASC
    LIMIT 10
"""
QUERIES["q_tpch_q3like"] = q_tpch_q3like


def q_tpch_q5like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way snowflake join → revenue per nation.
    region/nation broadcast; customer⋈orders⋈lineitem shuffle on their
    keys; supplier joined on (suppkey, nationkey) enforcing local
    supplier semantics."""
    r = read_table(spark, sf_dir, "region")
    n = read_table(spark, sf_dir, "nation")
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    return (
        r.filter(F.col("r_name") == "ASIA")
        .join(n, r.r_regionkey == n.n_regionkey)
        .join(c, n.n_nationkey == c.c_nationkey)
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == n.n_nationkey),
        )
        .groupBy("n_name")
        .agg(
            _dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "revenue",
            )
        )
    )


ORACLE["q_tpch_q5like"] = """
    SELECT n.n_name,
        CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
    FROM region r
    JOIN nation n ON r.r_regionkey = n.n_regionkey
    JOIN customer c ON n.n_nationkey = c.c_nationkey
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
"""
QUERIES["q_tpch_q5like"] = q_tpch_q5like


def q_tpch_q13like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count distribution via left join
    with a join-level filter (not a WHERE — preserves zero-order
    customers), double aggregation. Scale: join shuffles on custkey, the
    second agg's key (c_count) is tiny; AQE coalesces it."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


ORACLE["q_tpch_q13like"] = """
        SELECT c_count, COUNT(*) AS custdist
        FROM (
            SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
            FROM customer c
            LEFT JOIN orders o
              ON c.c_custkey = o.o_custkey
             AND o.o_orderpriority <> '1-URGENT'
            GROUP BY c.c_custkey
        ) t
        GROUP BY c_count
    """
QUERIES["q_tpch_q13like"] = q_tpch_q13like


_Q17_SQL = """
    WITH avgs AS (
        SELECT l_partkey,
               0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
                      / COUNT(l_quantity)) AS qty_threshold
        FROM {lineitem}
        GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
               / 7.0 AS avg_yearly,
           COUNT(*) AS n_small_qty_rows
    FROM {lineitem} l
    JOIN {part} p ON p.p_partkey = l.l_partkey
    JOIN avgs a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < a.qty_threshold
"""


def q_tpch_q17like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: small-quantity revenue against a per-part
    correlated average (written as the decorrelated join Catalyst would
    produce, identically on both engines so the threshold doubles are
    bit-equal). Scale: the per-part average is a map-side-combinable agg
    sharing the lineitem scan partitioning; the brand filter prunes part
    before the join (broadcast-able dim)."""
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_q2_li17")
    read_table(spark, sf_dir, "part").createOrReplaceTempView("_q2_part17")
    return spark.sql(_Q17_SQL.format(lineitem="_q2_li17", part="_q2_part17"))


ORACLE["q_tpch_q17like"] = _Q17_SQL.format(lineitem="lineitem", part="part")
QUERIES["q_tpch_q17like"] = q_tpch_q17like


def q_tpch_q4like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority distribution of orders with at
    least one late-shipping lineitem (EXISTS → left-semi join) in a
    3-month order-date band. Scale: the date filter pushes to the orders
    scan; the semi-join reads only l_orderkey + l_shipdate from lineitem
    (pruned scan) and shuffles on the join key once; the final agg key
    has 5 values (map-side combinable)."""
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    late = li.filter(F.col("l_shipdate") > F.lit("1996-02-01").cast("timestamp"))
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("f_order_count"))
    )


ORACLE["q_tpch_q4like"] = """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS f_order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1996-04-01'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > TIMESTAMP '1996-02-01'
          )
        GROUP BY o_orderpriority
    """
QUERIES["q_tpch_q4like"] = q_tpch_q4like


def q_tpch_q10like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-revenue in a
    quarter — 3-way join (customer ⋈ orders ⋈ lineitem) + nation dim,
    grouped revenue, deterministic top-20. Scale: date filter pushes to
    the orders scan and the R-flag filter to the lineitem scan before
    either join; nation broadcasts; the revenue agg shuffles once on
    c_custkey; top-20 is TakeOrderedAndProject (revenue desc, custkey
    tiebreak)."""
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    # operands at DECIMAL(15,4) keep the product at (32,8) — exact on
    # both engines (a (28,6)×(28,6) product exceeds p38 and Spark
    # silently reduces its scale); values carry ≤2+2 decimal digits so
    # the re-cast to (28,6) before summing is exact
    rev = (
        F.col("l_extendedprice").cast("decimal(15,4)")
        * (F.lit(1).cast("decimal(15,4)") - F.col("l_discount").cast("decimal(15,4)"))
    ).cast(_DEC)
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    agg = joined.groupBy("c_custkey", "c_name", "n_name").agg(
        F.sum(rev.cast(_DEC)).cast("double").alias("f_revenue"),
        F.count("*").cast("long").alias("f_items"),
    )
    return agg.orderBy(
        F.col("f_revenue").desc(), F.col("c_custkey").asc()
    ).limit(20)


ORACLE["q_tpch_q10like"] = """
        SELECT c.c_custkey, c.c_name, n.n_name,
               CAST(SUM(CAST(
                   CAST(l.l_extendedprice AS DECIMAL(15,4))
                   * (CAST(1 AS DECIMAL(15,4))
                      - CAST(l.l_discount AS DECIMAL(15,4)))
                   AS DECIMAL(28,6))) AS DOUBLE) AS f_revenue,
               CAST(COUNT(*) AS BIGINT) AS f_items
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1995-10-01'
          AND o.o_orderdate <  TIMESTAMP '1996-01-01'
          AND l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, n.n_name
        ORDER BY f_revenue DESC, c.c_custkey ASC
        LIMIT 20
    """
QUERIES["q_tpch_q10like"] = q_tpch_q10like


# revenue operands at DECIMAL(15,4): the product lands at (32,8) — exact
# on both engines; a (28,6)×(28,6) product exceeds p38 and Spark silently
# reduces its scale (CLAUDE.md invariant)
def _rev() -> F.Column:
    return (
        F.col("l_extendedprice").cast("decimal(15,4)")
        * (
            F.lit(1).cast("decimal(15,4)")
            - F.col("l_discount").cast("decimal(15,4)")
        )
    ).cast(_DEC)


_REV_SQL = (
    "CAST(CAST(l_extendedprice AS DECIMAL(15,4))"
    " * (CAST(1 AS DECIMAL(15,4)) - CAST(l_discount AS DECIMAL(15,4)))"
    " AS DECIMAL(28,6))"
)


def q_tpch_q7like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    ship year — lineitem ⋈ orders ⋈ customer ⋈ supplier with BOTH
    endpoint nations resolved and the (supp, cust) pair filtered in
    either direction.

    Scale: the nation-key filters reduce supplier/customer BEFORE the
    fact joins (predicate pushdown into the dim scans); only the
    25-row nation dim carries a broadcast HINT — supplier is
    SF-proportional, so its join is left to AQE, which broadcasts it
    only when its runtime size clears autoBroadcastJoinThreshold (a
    forced hint would be honored at ANY size and die at 100 TB); the
    two fact joins shuffle on their natural keys (orderkey, custkey);
    the final agg key (two nations × years) is tiny and map-side
    combinable. The pair filter is applied on the nationkey INTs, not
    names — names join in only for output."""
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = read_table(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey").isin(1, 2)
    )
    c = read_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(1, 2)
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    joined = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(
            ((F.col("s_nationkey") == 1) & (F.col("c_nationkey") == 2))
            | ((F.col("s_nationkey") == 2) & (F.col("c_nationkey") == 1))
        )
        .join(
            F.broadcast(n.withColumnRenamed("n_name", "f_supp_nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .drop("n_nationkey")
        .join(
            F.broadcast(
                n.withColumnRenamed("n_name", "f_cust_nation").withColumnRenamed(
                    "n_nationkey", "n2_nationkey"
                )
            ),
            F.col("c_nationkey") == F.col("n2_nationkey"),
        )
    )
    return joined.groupBy(
        "f_supp_nation",
        "f_cust_nation",
        F.year("l_shipdate").cast("long").alias("f_year"),
    ).agg(
        F.sum(_rev()).cast("double").alias("f_volume"),
        F.count("*").cast("long").alias("f_items"),
    )


ORACLE["q_tpch_q7like"] = f"""
        SELECT sn.n_name AS f_supp_nation,
               cn.n_name AS f_cust_nation,
               CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS f_year,
               CAST(SUM({_REV_SQL}) AS DOUBLE) AS f_volume,
               CAST(COUNT(*) AS BIGINT) AS f_items
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01'
          AND ((s.s_nationkey = 1 AND c.c_nationkey = 2)
            OR (s.s_nationkey = 2 AND c.c_nationkey = 1))
        GROUP BY sn.n_name, cn.n_name, f_year
    """
QUERIES["q_tpch_q7like"] = q_tpch_q7like


def q_tpch_q8like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: a supplier nation's market share of PROMO-part
    revenue sold to ASIA-region customers, per order year — the
    conditional-numerator / total-denominator ratio aggregate.

    Scale: only the bounded nation/region dims carry broadcast hints;
    part (type-filtered) and supplier are SF-proportional, so their
    joins are left to AQE (runtime-size-checked broadcast, never a
    forced hint that would be honored at 100 TB); customer pre-filters
    to one region before joining the fact; both decimal sums come out
    of ONE aggregation pass (no second scan for the denominator); the
    ratio is a final DOUBLE division of exact decimal sums (IEEE
    division of identical operands — deterministic cross-engine)."""
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = read_table(spark, sf_dir, "nation")
    cn = n.join(
        F.broadcast(r), n.n_regionkey == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("cn_key"))
    c = read_table(spark, sf_dir, "customer").join(
        F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key")
    ).select("c_custkey")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    joined = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
    )
    agg = joined.groupBy(
        F.year("o_orderdate").cast("long").alias("f_year")
    ).agg(
        F.sum(F.when(F.col("s_nationkey") == 2, _rev()).otherwise(
            F.lit(0).cast(_DEC)
        )).alias("_nat"),
        F.sum(_rev()).alias("_all"),
    )
    return agg.select(
        "f_year",
        F.col("_nat").cast("double").alias("f_nation_volume"),
        F.col("_all").cast("double").alias("f_total_volume"),
        (F.col("_nat").cast("double") / F.col("_all").cast("double")).alias(
            "f_mkt_share"
        ),
    )


ORACLE["q_tpch_q8like"] = f"""
        WITH agg AS (
            SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS f_year,
                   SUM(CASE WHEN s.s_nationkey = 2 THEN {_REV_SQL}
                            ELSE CAST(0 AS DECIMAL(28,6)) END) AS _nat,
                   SUM({_REV_SQL}) AS _all
            FROM lineitem l
            JOIN part p     ON l.l_partkey = p.p_partkey
            JOIN orders o   ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n   ON c.c_nationkey = n.n_nationkey
            JOIN region r   ON n.n_regionkey = r.r_regionkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE p.p_type = 'PROMO' AND r.r_name = 'ASIA'
            GROUP BY f_year
        )
        SELECT f_year,
               CAST(_nat AS DOUBLE) AS f_nation_volume,
               CAST(_all AS DOUBLE) AS f_total_volume,
               CAST(_nat AS DOUBLE) / CAST(_all AS DOUBLE) AS f_mkt_share
        FROM agg
    """
QUERIES["q_tpch_q8like"] = q_tpch_q8like


def q_tpch_q14like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue percentage for one ship month —
    conditional revenue over total revenue, the month filter pushed to
    the lineitem scan. One aggregation pass produces both sums; the
    percentage is a final double division. The part join carries NO
    broadcast hint — part scales with SF, so AQE decides (it still
    broadcasts at small SF where part clears the size threshold, but
    the plan degrades to a shuffle join instead of dying at 100 TB)."""
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    agg = li.join(p, li.l_partkey == p.p_partkey).agg(
        F.sum(
            F.when(F.col("p_type") == "PROMO", _rev()).otherwise(
                F.lit(0).cast(_DEC)
            )
        ).alias("_promo"),
        F.sum(_rev()).alias("_all"),
    )
    return agg.select(
        F.col("_promo").cast("double").alias("f_promo_revenue"),
        F.col("_all").cast("double").alias("f_total_revenue"),
        (
            F.lit(100.0)
            * F.col("_promo").cast("double")
            / F.col("_all").cast("double")
        ).alias("f_promo_pct"),
    )


ORACLE["q_tpch_q14like"] = f"""
        WITH agg AS (
            SELECT SUM(CASE WHEN p.p_type = 'PROMO' THEN {_REV_SQL}
                            ELSE CAST(0 AS DECIMAL(28,6)) END) AS _promo,
                   SUM({_REV_SQL}) AS _all
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
              AND l.l_shipdate <  TIMESTAMP '1996-04-01'
        )
        SELECT CAST(_promo AS DOUBLE) AS f_promo_revenue,
               CAST(_all AS DOUBLE) AS f_total_revenue,
               100.0 * CAST(_promo AS DOUBLE) / CAST(_all AS DOUBLE)
                   AS f_promo_pct
        FROM agg
    """
QUERIES["q_tpch_q14like"] = q_tpch_q14like


def q_tpch_q22like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: positive-balance customers above the global
    average balance with no RECENT order (none since 2000-01-01 — the
    driver corpus gives every customer SOME order, so Q22's literal
    never-ordered set is empty; the date-filtered anti join keeps the
    identical plan shape non-vacuous), grouped by a name-derived code —
    scalar aggregate subquery + LEFT ANTI join + group count.

    Scale: the scalar aggregate is a one-row broadcast (Catalyst
    rewrites the subquery); the anti join shuffles customer against the
    o_custkey projection only (2 columns scanned from orders); the
    group key (two name digits) is tiny.

    Exactness: the above-average filter is spelled MULTIPLICATIVELY —
    ``bal · n_pos > sum_pos`` — because an actual AVG would divide
    (Spark: DECIMAL with engine-chosen result scale, DuckDB: DOUBLE)
    and a threshold FEEDING A FILTER must never carry an
    engine-dependent rounding (CLAUDE.md invariant). All three operands
    stay exact decimals on both engines."""
    c = read_table(spark, sf_dir, "customer")
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    tot = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(F.col("c_acctbal").cast(_DEC)).alias("_sum"),
        F.count("*").cast("decimal(10,0)").alias("_n"),
    )
    cand = (
        c.join(F.broadcast(tot))
        .filter(
            F.col("c_acctbal").cast("decimal(15,4)") * F.col("_n")
            > F.col("_sum")
        )
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
    )
    return cand.groupBy(
        F.expr("substr(c_name, length(c_name) - 1, 2)").alias("f_code")
    ).agg(
        F.count("*").cast("long").alias("f_numcust"),
        F.sum(F.col("c_acctbal").cast(_DEC)).cast("double").alias("f_totacctbal"),
    )


ORACLE["q_tpch_q22like"] = """
        WITH tot AS (
            SELECT SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS _sum,
                   CAST(COUNT(*) AS DECIMAL(10,0)) AS _n
            FROM customer WHERE c_acctbal > 0
        )
        SELECT substr(c_name, length(c_name) - 1, 2) AS f_code,
               CAST(COUNT(*) AS BIGINT) AS f_numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
                   AS f_totacctbal
        FROM customer c, tot
        WHERE CAST(c_acctbal AS DECIMAL(15,4)) * _n > _sum
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY f_code
    """
QUERIES["q_tpch_q22like"] = q_tpch_q22like


def q_tpch_q6like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the forecast-revenue-change scan-aggregate — one
    pushed-filter pass over lineitem (ship year + discount band +
    quantity cap), SUM(extendedprice·discount), no join at all.

    Scale: the canonical 'does the filter reach the scan' probe — all
    three predicates push into the parquet scan (PushedFilters), the
    aggregation is map-side partial into a 1-row result; the whole plan
    is one WholeStageCodegen span over the fact scan. At 100 TB this is
    bandwidth-bound and embarrassingly parallel."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    disc_rev = (
        F.col("l_extendedprice").cast("decimal(15,4)")
        * F.col("l_discount").cast("decimal(15,4)")
    ).cast(_DEC)
    return li.agg(
        F.sum(disc_rev).cast("double").alias("f_revenue"),
        F.count("*").cast("long").alias("f_items"),
    )


ORACLE["q_tpch_q6like"] = """
        SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(15,4))
                             * CAST(l_discount AS DECIMAL(15,4))
                             AS DECIMAL(28,6))) AS DOUBLE) AS f_revenue,
               CAST(COUNT(*) AS BIGINT) AS f_items
        FROM lineitem
        WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """
QUERIES["q_tpch_q6like"] = q_tpch_q6like


def q_tpch_q12like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional priority counts after the
    orders⋈lineitem join — per line status (the driver schema has no
    l_shipmode/l_receiptdate, so line status stands in for ship mode
    and the ship-year window for the receipt-lateness predicate;
    documented deviation, same join + dual-CASE-count plan shape).

    Scale: the date filter pushes into the fact scan; the join shuffles
    on orderkey once; the 2-group agg is map-side combinable."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_linestatus")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias(
                "f_high_line_count"
            ),
            F.sum(F.when(hi, 0).otherwise(1)).cast("long").alias(
                "f_low_line_count"
            ),
        )
    )


ORACLE["q_tpch_q12like"] = """
        SELECT l.l_linestatus,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS f_high_line_count,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT)
                   AS f_low_line_count
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= '1996-01-01' AND l.l_shipdate < '1998-01-01'
        GROUP BY l.l_linestatus
    """
QUERIES["q_tpch_q12like"] = q_tpch_q12like


def q_tpch_q15like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: top supplier(s) by quarterly revenue — the
    view + scalar-MAX-subquery pattern. The winner filter compares the
    EXACT decimal revenue sums (never the double projection), so the
    row-set is engine-exact; revenue is cast to double only for output.

    Scale: one fact-scan agg keyed by suppkey, a 1-row broadcast of the
    max (the ONLY forced hint — genuinely bounded), and an AQE-decided
    supplier join for the name (the winner set after the max filter is
    tiny, so AQE broadcasts THAT side at runtime; supplier itself is
    SF-proportional and never force-broadcast) — no window, no global
    sort."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(_rev()).alias("_rev"))
    mx = rev.agg(F.max("_rev").alias("_mx"))
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), F.col("_rev") == F.col("_mx"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("_rev").cast("double").alias("f_revenue"),
        )
    )


ORACLE["q_tpch_q15like"] = f"""
        WITH rev AS (
            SELECT l_suppkey, SUM({_REV_SQL}) AS _rev
            FROM lineitem
            WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, CAST(r._rev AS DOUBLE) AS f_revenue
        FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
        WHERE r._rev = (SELECT MAX(_rev) FROM rev)
    """
QUERIES["q_tpch_q15like"] = q_tpch_q15like


def q_tpch_q18like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume customers — orders whose total
    quantity clears a threshold (HAVING over the fact agg), joined back
    to orders + customer, top-100 by price.

    Scale: the quantity agg shuffles the fact once on orderkey; the
    surviving order set is small, and THAT reduced side is what AQE
    broadcasts at runtime into the orders and customer joins — customer
    is SF-proportional and carries no hint (a forced customer broadcast
    would be honored at any size and die at 100 TB);
    TakeOrderedAndProject caps the output (full tiebreak on the unique
    orderkey)."""
    li = read_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(15,4)")).alias("_qty")
        )
        .filter(F.col("_qty") > 250)
    )
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("_qty").cast("double").alias("f_sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


ORACLE["q_tpch_q18like"] = """
        WITH big AS (
            SELECT l_orderkey,
                   SUM(CAST(l_quantity AS DECIMAL(15,4))) AS _qty
            FROM lineitem
            GROUP BY l_orderkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(15,4))) > 250
        )
        SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
               o.o_totalprice, CAST(b._qty AS DOUBLE) AS f_sum_qty
        FROM big b
        JOIN orders o ON b.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
        LIMIT 100
    """
QUERIES["q_tpch_q18like"] = q_tpch_q18like


def q_tpch_q19like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: discounted revenue under a DISJUNCTION of three
    (brand, size-band, quantity-band) clauses — the OR-of-conjunctions
    predicate that exercises join-predicate normalization (the driver
    schema has no l_shipmode/l_shipinstruct; those conjuncts are
    dropped, same three-clause disjunctive shape).

    Scale: the brand/size disjunction prunes part BEFORE the join (only
    rows matching SOME clause join); part is SF-proportional even
    brand-filtered, so the join carries no broadcast hint — AQE
    size-checks it at runtime; the quantity conjuncts evaluate
    post-join row-locally. One fact pass, 1-row result."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    qty = F.col("l_quantity")
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & qty.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & qty.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#14")
            & F.col("p_size").between(1, 15)
            & qty.between(20, 30)
        )
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(clause)
        .agg(
            F.sum(_rev()).cast("double").alias("f_revenue"),
            F.count("*").cast("long").alias("f_items"),
        )
    )


ORACLE["q_tpch_q19like"] = f"""
        SELECT CAST(SUM({_REV_SQL}) AS DOUBLE) AS f_revenue,
               CAST(COUNT(*) AS BIGINT) AS f_items
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#14' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 20 AND 30)
    """
QUERIES["q_tpch_q19like"] = q_tpch_q19like


def q_tpch_q21like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the EXISTS / NOT-EXISTS double-correlation —
    suppliers who were the ONLY supplier with returned lines on a
    multi-supplier order (the driver schema has no commit/receipt
    dates, so 'returned' stands in for 'late'; identical correlated
    semi + anti join plan shape). Count qualifying orders per supplier,
    top-20.

    Scale: the (order, supplier) pair sets are DISTINCT-reduced before
    any join; EXISTS becomes a left_semi and NOT EXISTS a left_anti on
    (orderkey, suppkey≠) — both shuffle the reduced pair set, never raw
    lineitem; the final per-supplier count is the tiny side of the name
    join, so AQE broadcasts IT at runtime (supplier is SF-proportional
    and carries no forced hint) and TakeOrderedAndProject caps at
    20."""
    li = read_table(spark, sf_dir, "lineitem")
    all_sup = li.select("l_orderkey", "l_suppkey").distinct()
    r_sup = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    other_all = all_sup.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_suppkey").alias("_sk")
    )
    other_r = r_sup.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_suppkey").alias("_sk")
    )
    # EXISTS another supplier on the order
    cand = r_sup.join(
        other_all,
        (r_sup.l_orderkey == other_all._ok)
        & (r_sup.l_suppkey != other_all._sk),
        "left_semi",
    )
    # NOT EXISTS another R-supplier on the order
    only = cand.join(
        other_r,
        (cand.l_orderkey == other_r._ok) & (cand.l_suppkey != other_r._sk),
        "left_anti",
    )
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        only.groupBy("l_suppkey")
        .agg(F.count("*").cast("long").alias("f_numwait"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "f_numwait")
        .orderBy(
            F.col("f_numwait").desc(),
            F.col("s_name").asc(),
            F.col("s_suppkey").asc(),
        )
        .limit(20)
    )


ORACLE["q_tpch_q21like"] = """
        WITH allsup AS (
            SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        ),
        rsup AS (
            SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
            WHERE l_returnflag = 'R'
        ),
        only_r AS (
            SELECT r.l_orderkey, r.l_suppkey
            FROM rsup r
            WHERE EXISTS (
                      SELECT 1 FROM allsup a
                      WHERE a.l_orderkey = r.l_orderkey
                        AND a.l_suppkey <> r.l_suppkey)
              AND NOT EXISTS (
                      SELECT 1 FROM rsup r2
                      WHERE r2.l_orderkey = r.l_orderkey
                        AND r2.l_suppkey <> r.l_suppkey)
        )
        SELECT s.s_suppkey, s.s_name,
               CAST(COUNT(*) AS BIGINT) AS f_numwait
        FROM only_r o JOIN supplier s ON o.l_suppkey = s.s_suppkey
        GROUP BY s.s_suppkey, s.s_name
        ORDER BY f_numwait DESC, s.s_name ASC, s.s_suppkey ASC
        LIMIT 20
    """
QUERIES["q_tpch_q21like"] = q_tpch_q21like
