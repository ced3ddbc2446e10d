"""SURVEY.md §2 relational operators mapped onto the driver's TPC-H-ish
tables, each with a DuckDB oracle.

Determinism rules used throughout (driver hashes values order-insensitively
but exactly):
- every aggregate/computed column is aliased identically on both sides;
- money aggregates go through exact DECIMAL accumulation and are cast to
  double only at the end (double summation order would differ between
  engines/partitionings);
- "keep first" semantics always carry an explicit total ordering;
- dates are emitted as formatted strings (both engines read the parquet
  timestamps as naive UTC; the Spark session is pinned to UTC).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kbspark.contract import register

_DEC = "decimal(18,4)"


def _dsum(col):
    """Exact decimal sum of a money column, emitted as double."""
    return F.sum(F.col(col).cast(_DEC)).cast("double")


# ---------------------------------------------------------------------------
# Headline TPC-H-style queries (bench + correctness)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                    (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                    (1 - CAST(l_discount AS DECIMAL(18,4))) *
                    (1 + CAST(l_tax AS DECIMAL(18,4)))) AS DOUBLE) AS sum_charge,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """A-family aggregation flagship (TPC-H Q1 shape): partial+final hash
    agg, predicate pushdown to parquet (SURVEY §2.D, §4)."""
    li = spark.table("lineitem")
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.lit(1) - F.col("l_discount").cast(_DEC)
    tax = F.lit(1) + F.col("l_tax").cast(_DEC)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * disc).cast("double").alias("sum_disc_price"),
            F.sum(price * disc * tax).cast("double").alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle="""
    WITH rev AS (
      SELECT o.o_orderkey,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) *
                      (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
             STRFTIME(o.o_orderdate, '%Y-%m-%d') AS orderdate,
             o.o_orderpriority
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
      GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    )
    SELECT o_orderkey, revenue, orderdate, o_orderpriority
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY revenue DESC, o_orderkey ASC) rn FROM rev)
    WHERE rn <= 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """Multi-join + agg + deterministic top-k (TPC-H Q3 shape)."""
    c = spark.table("customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = spark.table("orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    l = spark.table("lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.lit(1) - F.col("l_discount").cast(_DEC)
    rev = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(price * disc).cast("double").alias("revenue"))
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
    )
    w = W.orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
    return (
        rev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .drop("rn")
    )


@register(
    "q5_local_supplier",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) *
                    (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier(spark, sf_dir):
    """Six-way join with small-dim broadcast (TPC-H Q5 shape); the
    nation/region/supplier sides broadcast, the orders⋈lineitem join is
    the only real shuffle."""
    c, o, l = spark.table("customer"), spark.table("orders"), spark.table("lineitem")
    s, n, r = spark.table("supplier"), spark.table("nation"), spark.table("region")
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.lit(1) - F.col("l_discount").cast(_DEC)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(F.sum(price * disc).cast("double").alias("revenue"))
    )


@register(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                    (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
           n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: 4-way join, filter on return flag, revenue per
    customer."""
    c, o = spark.table("customer"), spark.table("orders")
    l, n = spark.table("lineitem"), spark.table("nation")
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.lit(1) - F.col("l_discount").cast(_DEC)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(
            l.filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1995-07-01 00:00:00").cast("timestamp"))
        )
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(price * disc).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
    )


@register(
    "q16_supplier_cnt",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (5, 10, 15, 20)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_cnt(spark, sf_dir):
    """TPC-H Q16 shape: count-distinct per group with NOT/IN predicates."""
    l, p = spark.table("lineitem"), spark.table("part")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(
            (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(5, 10, 15, 20)
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


@register(
    "q19_disjunctive",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                    (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 5 AND l_quantity <= 25)
       OR (p_brand = 'Brand#7' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 10 AND l_quantity <= 30)
    """,
)
def q19_disjunctive(spark, sf_dir):
    """TPC-H Q19 shape: disjunctive multi-column predicates across the
    join (Catalyst pushes the common join key, keeps the OR residual)."""
    l, p = spark.table("lineitem"), spark.table("part")
    cond1 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(5, 25)
    )
    cond2 = (
        (F.col("p_brand") == "Brand#7")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 30)
    )
    rev = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1) - F.col("l_discount").cast(_DEC)
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond1 | cond2)
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count("*").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# §2.B projections / filters / predicates
# ---------------------------------------------------------------------------


@register(
    "p7_having_threshold",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12
    """,
)
def p7_having_threshold(spark, sf_dir):
    """P7: selection by count threshold (reference's --min-count-per-doc,
    ned.py:62-65)."""
    return (
        spark.table("orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 12)
    )


# ---------------------------------------------------------------------------
# §2.C joins
# ---------------------------------------------------------------------------


@register(
    "j1_broadcast_dim_join",
    oracle="""
    SELECT r.r_name, COUNT(*) AS n_nations
    FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def j1_broadcast_dim_join(spark, sf_dir):
    """J1: dim⋈dim left join with broadcast (categorylinks⋈page,
    entities.py:40-42)."""
    n, r = spark.table("nation"), spark.table("region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .groupBy("r_name")
        .agg(F.count("*").alias("n_nations"))
    )


@register(
    "j5_lookup_probe",
    oracle="""
    SELECT p.p_brand, COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def j5_lookup_probe(spark, sf_dir):
    """J5: fact-probe against a broadcast dimension — the Spark analog of
    the reference's per-mention dict lookups (ner.py:100-114)."""
    l, p = spark.table("lineitem"), spark.table("part")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_items"), _dsum("l_quantity").alias("sum_qty"))
    )


# ---------------------------------------------------------------------------
# §2.D aggregations
# ---------------------------------------------------------------------------


@register(
    "a3_dedup_keep_min",
    oracle="""
    SELECT o_custkey, o_orderstatus, MIN(o_orderkey) AS first_orderkey
    FROM orders GROUP BY o_custkey, o_orderstatus
    """,
)
def a3_dedup_keep_min(spark, sf_dir):
    """A3: dedup-by-subset with a deterministic representative (the
    reference's drop_duplicates keep-first, wikidata/entities.py:19,51 —
    made order-explicit for distributed execution)."""
    return (
        spark.table("orders")
        .groupBy("o_custkey", "o_orderstatus")
        .agg(F.min("o_orderkey").alias("first_orderkey"))
    )


@register(
    "a4_group_first_nonnull",
    oracle="""
    SELECT o_custkey,
           MIN_BY(pri, o_orderkey) FILTER (WHERE pri IS NOT NULL) AS first_priority,
           MIN_BY(big, o_orderkey) FILTER (WHERE big IS NOT NULL) AS first_bigprice
    FROM (
      SELECT o_custkey, o_orderkey,
             NULLIF(o_orderpriority, '1-URGENT') AS pri,
             CASE WHEN o_totalprice > 50000 THEN o_totalprice END AS big
      FROM orders
    ) GROUP BY o_custkey
    """,
)
def a4_group_first_nonnull(spark, sf_dir):
    """A4: per-group first non-NULL per column in a defined order — the
    canonicalization groupby('wikidata').first() (wikidata/entities.py:39,
    pandas .first() skips NaN per column)."""
    o = spark.table("orders").select(
        "o_custkey",
        "o_orderkey",
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("pri"),
        F.when(F.col("o_totalprice") > 50000, F.col("o_totalprice")).alias("big"),
    )
    return o.groupBy("o_custkey").agg(
        F.expr("min_by(pri, o_orderkey) FILTER (WHERE pri IS NOT NULL)").alias(
            "first_priority"
        ),
        F.expr("min_by(big, o_orderkey) FILTER (WHERE big IS NOT NULL)").alias(
            "first_bigprice"
        ),
    )


# ---------------------------------------------------------------------------
# §2.F sorts / splits / set ops / top-k
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# §2.E scalar extraction (SQL-expressible subset)
# ---------------------------------------------------------------------------


@register(
    "d_wikidata_mapping",
    oracle="""
    WITH ents AS (
      SELECT c_name AS page_title, c_mktsegment AS TYPE
      FROM customer WHERE c_custkey < 800
    ),
    de AS (SELECT c_name AS DE, 'Q' || CAST(c_custkey AS VARCHAR) AS QID
           FROM customer WHERE c_custkey < 600),
    fr AS (SELECT 'FR_' || CAST(c_custkey AS VARCHAR) AS FR,
                  'Q' || CAST(c_custkey AS VARCHAR) AS QID
           FROM customer WHERE c_custkey % 2 = 0),
    en AS (SELECT 'EN_' || CAST(c_custkey AS VARCHAR) AS EN,
                  'Q' || CAST(c_custkey AS VARCHAR) AS QID
           FROM customer WHERE c_custkey % 3 = 0)
    SELECT e.QID, e.DE, fr.FR, en.EN, e.TYPE FROM (
      SELECT de.QID, de.DE, ents.TYPE FROM ents JOIN de ON ents.page_title = de.DE
    ) e LEFT JOIN fr ON e.QID = fr.QID LEFT JOIN en ON e.QID = en.QID
    """,
)
def d_wikidata_mapping(spark, sf_dir):
    """J4 as the dims-layer function: QID cross-language mapping chain
    (reference wikidatamapping, wikipedia/entities.py:285-302) over
    synthetic per-language QID tables derived from customer."""
    from kbspark.dims import wikidata_mapping

    c = spark.table("customer")
    qid = F.concat(F.lit("Q"), F.col("c_custkey").cast("string"))
    ents = c.filter(F.col("c_custkey") < 800).select(
        F.col("c_name").alias("page_title"), F.col("c_mktsegment").alias("TYPE")
    )
    qids = {
        "DE": c.filter(F.col("c_custkey") < 600).select(
            F.col("c_name").alias("page_title"), qid.alias("QID")
        ),
        "FR": c.filter(F.col("c_custkey") % 2 == 0).select(
            F.concat(F.lit("FR_"), F.col("c_custkey").cast("string")).alias(
                "page_title"
            ),
            qid.alias("QID"),
        ),
        "EN": c.filter(F.col("c_custkey") % 3 == 0).select(
            F.concat(F.lit("EN_"), F.col("c_custkey").cast("string")).alias(
                "page_title"
            ),
            qid.alias("QID"),
        ),
    }
    return wikidata_mapping(ents, qids, ["DE", "FR", "EN"])


@register(
    "x_asof_join",
    oracle="""
    SELECT c.event_id,
           c.user_id,
           STRFTIME(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
           v.value AS view_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
)
def x_asof_join(spark, sf_dir):
    """As-of join (clicks ← latest prior view per user) via the
    union+window composition (kbspark.relops.asof_join) — one shuffle on
    the by-key; oracle = DuckDB's native ASOF JOIN."""
    from kbspark.relops import asof_join

    ev = spark.table("events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    out = asof_join(clicks, views, by="user_id", ts="ts",
                    value_cols=["value"])
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts_asof", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("view_ts"),
        F.col("value_asof").alias("view_value"),
    )


@register(
    "x_percentile_exact",
    oracle="""
    SELECT o_orderpriority,
           ROUND(QUANTILE_CONT(o_totalprice, 0.5), 4) AS p50,
           ROUND(QUANTILE_CONT(o_totalprice, 0.9), 4) AS p90
    FROM orders GROUP BY o_orderpriority
    """,
)
def x_percentile_exact(spark, sf_dir):
    """Exact interpolated percentiles per group (both engines use linear
    interpolation; rounded to tame last-ulp differences)."""
    return (
        spark.table("orders")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        )
    )


# ---------------------------------------------------------------------------
# events: windowed aggregation + sessionization
# ---------------------------------------------------------------------------


@register(
    "g_stream_incremental",
    oracle="""
    SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def g_stream_incremental(spark, sf_dir):
    """§2.G: the same windowed aggregation executed through Structured
    Streaming (AvailableNow-style incremental over the static source) —
    must equal the batch result exactly."""
    from kbspark.corpus import table_path
    from kbspark.streaming import run_incremental

    def agg(stream):
        return stream.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        ).agg(F.count("*").alias("n"))

    return run_incremental(spark, table_path(sf_dir, "events"), agg)


# ---------------------------------------------------------------------------
# Additional TPC-H shapes (round 2): simple filtered agg, outer-join
# distribution, group-having semi-join, scalar-subquery + anti-join
# ---------------------------------------------------------------------------


@register(
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) t GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark, sf_dir):
    """TPC-H Q13 shape: outer join with a join-side predicate (kept ON
    the join, not a post-filter — the NULL-extension semantics differ),
    then a distribution-of-counts double aggregation."""
    c = spark.table("customer")
    o = spark.table("orders").filter(F.col("o_orderpriority") != "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@register(
    "q18_large_volume_customer",
    oracle="""
    SELECT c.c_name, o.o_orderkey,
           STRFTIME(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 150
    )
    GROUP BY 1, 2, 3, 4
    """,
)
def q18_large_volume_customer(spark, sf_dir):
    """TPC-H Q18 shape: group-having over the fact table as a semi-join
    work-selection, then a three-way join + re-aggregation."""
    li = spark.table("lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("_q"))
        .filter(F.col("_q") > 150)
        .select("l_orderkey")
    )
    o = spark.table("orders").join(
        big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey",
        "left_semi",
    )
    # customer scales with the corpus — no forced broadcast; AQE picks
    # broadcast-vs-shuffle from runtime stats
    c = spark.table("customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias(
                "o_orderdate"
            ),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias(
            "total_qty"
        ))
    )


@register(
    "q22_dormant_rich_customers",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (
        -- exact decimal numerator, then ONE double division: identical
        -- threshold in both engines regardless of summation order
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
               / COUNT(*)
        FROM customer WHERE c_acctbal > 0.0)
      AND c_custkey NOT IN (
        SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
    GROUP BY c_nationkey
    """,
)
def q22_dormant_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape: scalar aggregate subquery as a cross-joined
    threshold (broadcast single row), NOT-IN as an anti-join, grouped
    money totals."""
    c = spark.table("customer")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast(_DEC)).cast("double")
                / F.count("*")
            ).alias("_avg")
        )
    )
    o = (
        spark.table("orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(o, "c_custkey", "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast(_DEC)).cast("double").alias(
                "totacctbal"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Compound driver entries (round 3): the driver records at most ~50
# contract entries per round (both r01 and r02 recorded exactly 50), so
# near-duplicate entries are merged into compound queries. Every merged
# operator keeps its own tagged rows / columns in the result, so the
# order-insensitive value hash still pins each operator individually —
# nothing is verified less, it just costs fewer registry slots (and scans).
# ---------------------------------------------------------------------------


@register(
    "p_scan_filters",
    oracle="""
    SELECT 'p1' AS op, o_orderkey AS k1, o_custkey AS k2,
           CAST(NULL AS VARCHAR) AS s, o_totalprice AS v
    FROM orders
    WHERE o_orderstatus = 'O'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    UNION ALL
    SELECT 'p2', p_partkey, CAST(NULL AS BIGINT), p_name,
           CAST(NULL AS DOUBLE)
    FROM part
    WHERE p_name LIKE 'red%' AND p_name NOT LIKE '%bolt'
    """,
)
def p_scan_filters(spark, sf_dir):
    """P1 (predicate + column pruning pushed to the parquet scan — the
    reference pushes WHERE into SQLite scans, entities.py:34,107) and P2
    (startswith/endswith predicates — 'Liste_' prefixes /
    'Begriffsklärung)' suffixes, entities.py:65, ner.py:331-332) as one
    driver entry. Each side of the union is its own scan, so both
    filters still push down independently (plan-asserted in
    tests/test_plans.py)."""
    p1 = (
        spark.table("orders")
        .filter(
            (F.col("o_orderstatus") == "O")
            & (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        )
        .select(
            F.lit("p1").alias("op"),
            F.col("o_orderkey").alias("k1"),
            F.col("o_custkey").alias("k2"),
            F.lit(None).cast("string").alias("s"),
            F.col("o_totalprice").alias("v"),
        )
    )
    p2 = (
        spark.table("part")
        .filter(
            F.col("p_name").startswith("red") & ~F.col("p_name").endswith("bolt")
        )
        .select(
            F.lit("p2").alias("op"),
            F.col("p_partkey").alias("k1"),
            F.lit(None).cast("bigint").alias("k2"),
            F.col("p_name").alias("s"),
            F.lit(None).cast("double").alias("v"),
        )
    )
    return p1.unionByName(p2)


@register(
    "p_membership",
    oracle="""
    SELECT 'p3' AS op, c_custkey AS k, c_name AS name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    UNION ALL
    SELECT 'p4', s_suppkey, s_name FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem
      WHERE l_shipdate > TIMESTAMP '1998-01-01 00:00:00')
    """,
)
def p_membership(spark, sf_dir):
    """P3 anti-membership as left_anti join (the reference's
    ~index.isin(...) type-priority exclusion, entities.py:233-236) and
    P4 inner-join-as-filter as left_semi (redirect filtering via merge,
    entities.py:118) in one driver entry."""
    c, o = spark.table("customer"), spark.table("orders")
    p3 = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select(
            F.lit("p3").alias("op"),
            F.col("c_custkey").alias("k"),
            F.col("c_name").alias("name"),
        )
    )
    s = spark.table("supplier")
    l = spark.table("lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    p4 = (
        s.join(l, s.s_suppkey == l.l_suppkey, "left_semi")
        .select(
            F.lit("p4").alias("op"),
            F.col("s_suppkey").alias("k"),
            F.col("s_name").alias("name"),
        )
    )
    return p3.unionByName(p4)


_A2_ORACLE_BODY = """
      SELECT l_partkey AS target, COUNT(*) AS n_links,
             ROUND(COUNT(*) / (SELECT COUNT(*) FROM lineitem), 9) AS proba
      FROM lineitem GROUP BY l_partkey
"""


@register(
    "a2_apriori_salted",
    oracle=f"""
    WITH agg AS ({_A2_ORACLE_BODY})
    SELECT 'plain' AS variant, target, n_links, proba FROM agg
    UNION ALL
    SELECT 'salted', target, n_links, proba FROM agg
    """,
)
def a2_apriori_salted(spark, sf_dir):
    """A2 a-priori link probabilities (one shuffle agg replacing the
    reference's N point queries, wikipedia/entities.py:320-375), run
    through BOTH the plain groupBy and the explicit skew-salted
    two-phase aggregate (pre-agg on (key, salt), final on key —
    north_rule head-entity skew) in one driver entry: the salted result
    must equal the plain one exactly, and the oracle pins both."""
    from kbspark.apriori import salted_count

    li = spark.table("lineitem")
    # total rides a broadcast single-row cross join — one lazy plan, no
    # eager driver-side count() job at query-build time
    tot = F.broadcast(li.agg(F.count("*").alias("_total")))
    plain = (
        li.groupBy(F.col("l_partkey").alias("target"))
        .agg(F.count("*").alias("n_links"))
        .crossJoin(tot)
        .select(
            F.lit("plain").alias("variant"),
            "target",
            "n_links",
            F.round(
                F.col("n_links") / F.col("_total").cast("double"), 9
            ).alias("proba"),
        )
    )
    salted = (
        salted_count(li, key="l_partkey", n_salts=16)
        .crossJoin(tot)
        .select(
            F.lit("salted").alias("variant"),
            F.col("l_partkey").alias("target"),
            F.col("n_links"),
            F.round(
                F.col("n_links") / F.col("_total").cast("double"), 9
            ).alias("proba"),
        )
    )
    return plain.unionByName(salted)


@register(
    "c_group_misc",
    oracle="""
    SELECT 'a5' AS op, o_custkey AS k,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS s,
           CAST(o_orderkey AS DOUBLE) AS v
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate ASC NULLS LAST, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn = 1
    UNION ALL
    SELECT 'a6', o_custkey,
           ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT o_orderstatus)), ','),
           CAST(NULL AS DOUBLE)
    FROM orders GROUP BY o_custkey
    UNION ALL
    SELECT 'a8', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
           CAST((SELECT COUNT(*) FROM (
             SELECT l_orderkey, l_linenumber FROM lineitem
             GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1
           )) AS DOUBLE)
    UNION ALL
    SELECT 'o6', o_custkey, CAST(o_orderkey AS VARCHAR), o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def c_group_misc(spark, sf_dir):
    """Grouped-operator compound (merged r02's a5 + a6 + a8 + o6; rows
    tagged per operator, schema (op, k, s, v)):

    - a5: ordered keep-first per key, NULLS LAST (the reference's
      sort_values + drop_duplicates(keep='first'),
      wikidata/entities.py:49-53)
    - a6: group-concat to sorted collection (nested-list packing analog,
      ner.py:191-195), emitted canonically
    - a8: duplicate-key count as a data-quality metric
      (wikipedia/entities.py:123)
    - o6: deterministic top-k per group via window row_number
    """
    orders = spark.table("orders")
    w5 = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc_nulls_last(), F.col("o_orderkey").asc()
    )
    a5 = (
        orders.withColumn("rn", F.row_number().over(w5))
        .filter(F.col("rn") == 1)
        .select(
            F.lit("a5").alias("op"),
            F.col("o_custkey").alias("k"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("s"),
            F.col("o_orderkey").cast("double").alias("v"),
        )
    )
    a6 = (
        orders.groupBy("o_custkey")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("o_orderstatus")), ","
            ).alias("statuses")
        )
        .select(
            F.lit("a6").alias("op"),
            F.col("o_custkey").alias("k"),
            F.col("statuses").alias("s"),
            F.lit(None).cast("double").alias("v"),
        )
    )
    a8 = (
        spark.table("lineitem")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count("*").alias("n_dup_keys"))
        .select(
            F.lit("a8").alias("op"),
            F.lit(None).cast("bigint").alias("k"),
            F.lit(None).cast("string").alias("s"),
            F.col("n_dup_keys").cast("double").alias("v"),
        )
    )
    w6 = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    o6 = (
        orders.withColumn("rn", F.row_number().over(w6))
        .filter(F.col("rn") <= 3)
        .select(
            F.lit("o6").alias("op"),
            F.col("o_custkey").alias("k"),
            F.col("o_orderkey").cast("string").alias("s"),
            F.col("o_totalprice").alias("v"),
        )
    )
    return a5.unionByName(a6).unionByName(a8).unionByName(o6)


@register(
    "c_split_extract_misc",
    oracle="""
    WITH o3 AS (
      SELECT CASE WHEN SUBSTR(MD5(CAST(c_custkey AS VARCHAR)), 1, 1) < '4'
                  THEN 'test' ELSE 'train' END AS split,
             COUNT(*) AS n, CAST(SUM(c_custkey) AS BIGINT) AS key_sum
      FROM customer GROUP BY 1
    ),
    o3lib AS (
      SELECT split, COUNT(*) AS n FROM (
        SELECT CASE
          WHEN h < 0.8 THEN 'train'
          WHEN h < 0.9 THEN 'dev'
          WHEN h < 1.0 THEN 'test'
          ELSE 'rest' END AS split
        FROM (
          SELECT CAST(CAST(CONCAT('0x', SUBSTR(MD5(CONCAT('41', ':',
                       CAST(c_custkey AS VARCHAR))), 1, 8)) AS BIGINT) AS DOUBLE)
                 / 4294967296.0 AS h
          FROM customer
        )
      ) GROUP BY split
    )
    SELECT 'o3' AS op, CAST(NULL AS BIGINT) AS k, split AS s,
           CAST(n AS DOUBLE) AS v
    FROM o3
    UNION ALL
    SELECT 'o3_sum', CAST(NULL AS BIGINT), split, CAST(key_sum AS DOUBLE)
    FROM o3
    UNION ALL
    SELECT 'o3lib', CAST(NULL AS BIGINT), split, CAST(n AS DOUBLE)
    FROM o3lib
    UNION ALL
    SELECT 'o4', CAST(n_regionkey AS BIGINT),
           n_name || '|' || COALESCE(extra, '<null>'), CAST(n AS DOUBLE)
    FROM (
      SELECT n_name, n_regionkey, extra, COUNT(*) AS n FROM (
        (SELECT n_name, n_regionkey, NULL::VARCHAR AS extra FROM nation)
        UNION ALL BY NAME
        (SELECT n_name, 'flag' AS extra FROM nation WHERE n_nationkey < 10)
      ) GROUP BY n_name, n_regionkey, extra
    )
    UNION ALL
    SELECT 'e7', c_custkey, REGEXP_EXTRACT(c_name, '([0-9]+)', 1),
           CAST(NULL AS DOUBLE)
    FROM customer
    UNION ALL
    SELECT 'e11', event_id, CAST(NULL AS VARCHAR),
           CAST(JSON_EXTRACT(props, '$.k') AS DOUBLE)
    FROM events
    UNION ALL
    SELECT 'e12', o_orderkey,
           STRFTIME(TRY_CAST(ds AS TIMESTAMP), '%Y-%m-%d %H:%M:%S'),
           CAST(NULL AS DOUBLE)
    FROM (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN 'not-a-date'
                  ELSE STRFTIME(o_orderdate, '%Y-%m-%d %H:%M:%S') END AS ds
      FROM orders
    )
    """,
)
def c_split_extract_misc(spark, sf_dir):
    """Split / set-op / scalar-extraction compound (merged r02's o3 +
    o3_lib + o4 + e7 + e11 + e12; rows tagged per operator, schema
    (op, k, s, v)):

    - o3/o3_sum: deterministic hash-based train/test split —
      partitioning-stable replacement for the reference's seeded
      permutation split (ner.py:317,336-346)
    - o3lib: the library ``hash_split`` (train/dev/test fractions),
      byte-equivalent to the SQL md5-nibble arithmetic
    - o4: union-by-name, missing columns -> NULL (pandas
      concat(sort=True), wikidata/entities.py:18,34)
    - e7: regex column extraction (QID regex, wikidata/entities.py:74)
    - e11: JSON decode of nested payloads (ner.py:196, ned.py:50-53)
    - e12: lenient date parsing, failures -> NULL (pandas
      to_datetime(errors='coerce'), wikidata/entities.py:36-37)
    """
    from kbspark.dims import hash_split

    c = spark.table("customer")
    o3_grp = c.withColumn(
        "split",
        F.when(
            F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 1) < "4",
            "test",
        ).otherwise("train"),
    ).groupBy("split").agg(
        F.count("*").alias("n"),
        F.sum("c_custkey").cast("bigint").alias("key_sum"),
    )
    nullk = F.lit(None).cast("bigint").alias("k")
    o3 = o3_grp.select(
        F.lit("o3").alias("op"), nullk, F.col("split").alias("s"),
        F.col("n").cast("double").alias("v"),
    )
    o3_sum = o3_grp.select(
        F.lit("o3_sum").alias("op"), nullk, F.col("split").alias("s"),
        F.col("key_sum").cast("double").alias("v"),
    )
    o3lib = (
        hash_split(c, "c_custkey", {"train": 0.8, "dev": 0.1, "test": 0.1},
                   seed=41)
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("o3lib").alias("op"), nullk, F.col("split").alias("s"),
            F.col("n").cast("double").alias("v"),
        )
    )
    n = spark.table("nation")
    o4 = (
        n.select("n_name", "n_regionkey")
        .unionByName(
            n.filter(F.col("n_nationkey") < 10).select(
                "n_name", F.lit("flag").alias("extra")
            ),
            allowMissingColumns=True,
        )
        .groupBy("n_name", "n_regionkey", "extra")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("o4").alias("op"),
            F.col("n_regionkey").cast("bigint").alias("k"),
            F.concat_ws(
                "|", F.col("n_name"), F.coalesce(F.col("extra"), F.lit("<null>"))
            ).alias("s"),
            F.col("n").cast("double").alias("v"),
        )
    )
    e7 = c.select(
        F.lit("e7").alias("op"),
        F.col("c_custkey").alias("k"),
        F.regexp_extract("c_name", r"([0-9]+)", 1).alias("s"),
        F.lit(None).cast("double").alias("v"),
    )
    e11 = spark.table("events").select(
        F.lit("e11").alias("op"),
        F.col("event_id").alias("k"),
        F.lit(None).cast("string").alias("s"),
        F.get_json_object("props", "$.k").cast("double").alias("v"),
    )
    e12 = (
        spark.table("orders")
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("not-a-date"))
            .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"))
            .alias("ds"),
        )
        .select(
            F.lit("e12").alias("op"),
            F.col("o_orderkey").alias("k"),
            F.date_format(
                F.try_to_timestamp(F.col("ds")), "yyyy-MM-dd HH:mm:ss"
            ).alias("s"),
            F.lit(None).cast("double").alias("v"),
        )
    )
    out = o3
    for part in (o3_sum, o3lib, o4, e7, e11, e12):
        out = out.unionByName(part)
    return out


@register(
    "x_grouping_sets",
    oracle="""
    SELECT 'rollup' AS op, l_returnflag AS g1, l_linestatus AS g2,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS v
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'cube', o_orderstatus, o_orderpriority, COUNT(*),
           CAST(NULL AS DOUBLE)
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    UNION ALL
    SELECT 'pivot', l_returnflag, ls, CAST(NULL AS BIGINT), v FROM (
      SELECT l_returnflag, 'O' AS ls,
             CAST(SUM(CASE WHEN l_linestatus = 'O'
                  THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS v
      FROM lineitem GROUP BY l_returnflag
      UNION ALL
      SELECT l_returnflag, 'F',
             CAST(SUM(CASE WHEN l_linestatus = 'F'
                  THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE)
      FROM lineitem GROUP BY l_returnflag
    )
    """,
)
def x_grouping_sets(spark, sf_dir):
    """OLAP grouping-sets compound (merged r02's x_rollup + x_cube +
    x_pivot; rows tagged per operator): hierarchical ROLLUP with ANSI
    NULL subtotal markers, full two-dimension CUBE, and PIVOT exercised
    through Spark's real ``.pivot()`` then unpivoted via ``stack`` so
    the three shapes share one (op, g1, g2, n, v) schema."""
    li = spark.table("lineitem")
    rollup = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias("v"),
        )
        .select(
            F.lit("rollup").alias("op"),
            F.col("l_returnflag").alias("g1"),
            F.col("l_linestatus").alias("g2"),
            "n",
            "v",
        )
    )
    cube = (
        spark.table("orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("cube").alias("op"),
            F.col("o_orderstatus").alias("g1"),
            F.col("o_orderpriority").alias("g2"),
            "n",
            F.lit(None).cast("double").alias("v"),
        )
    )
    pivot = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).cast("double"))
        .select(
            F.lit("pivot").alias("op"),
            F.col("l_returnflag").alias("g1"),
            F.expr("stack(2, 'O', `O`, 'F', `F`)").alias("g2", "v"),
        )
        .select(
            "op", "g1", "g2", F.lit(None).cast("bigint").alias("n"), "v"
        )
    )
    return rollup.unionByName(cube).unionByName(pivot)


@register(
    "w_windows",
    oracle="""
    SELECT 'tumble' AS op, event_type AS k,
           STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS t,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
    FROM events GROUP BY 1, 2, 3
    UNION ALL
    SELECT 'sess', CAST(user_id AS VARCHAR) || ':' ||
             CAST(CAST(session_id AS BIGINT) AS VARCHAR),
           CAST(NULL AS VARCHAR), COUNT(*), CAST(NULL AS DOUBLE)
    FROM (
      WITH gaps AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE OR
                         LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      )
      SELECT user_id,
             SUM(new_session) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps
    ) GROUP BY user_id, session_id
    """,
)
def w_windows(spark, sf_dir):
    """Event-time windowing compound (merged r02's w_tumbling_window +
    w_sessionize; rows tagged per operator, schema (op, k, t, n, v)):

    - tumble: tumbling hourly window aggregation (count + exact decimal
      value sum) over the events table;
    - sess: sessionization — lag-gap > 30 min opens a session,
      cumulative sum assigns ids, events counted per session.
    """
    ev = spark.table("events")
    tumble = (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "t"
            ),
            "event_type",
        )
        .agg(F.count("*").alias("n"), _dsum("value").alias("v"))
        .select(
            F.lit("tumble").alias("op"),
            F.col("event_type").alias("k"),
            "t",
            "n",
            "v",
        )
    )
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # microsecond-exact gap like the oracle's `ts - LAG(ts) > INTERVAL 30
    # MINUTE`: a floor-to-seconds cast would call a 1800.4s gap exactly
    # 1800s and keep the session open while the oracle splits (round-4
    # review — latent, the fixtures happened to dodge it)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    lag_us = F.lag(ts_us).over(w)
    sess = (
        ev.withColumn(
            "new_session",
            F.when(
                lag_us.isNull() | (ts_us - lag_us > 30 * 60 * 1_000_000), 1
            ).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("new_session")
            .over(w.rowsBetween(W.unboundedPreceding, 0))
            .cast("bigint"),
        )
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("sess").alias("op"),
            F.concat_ws(
                ":",
                F.col("user_id").cast("string"),
                F.col("session_id").cast("string"),
            ).alias("k"),
            F.lit(None).cast("string").alias("t"),
            "n",
            F.lit(None).cast("double").alias("v"),
        )
    )
    return tumble.unionByName(sess)


@register(
    "q_scalar_aggs",
    oracle="""
    SELECT q6.revenue, ROUND(q14.promo_revenue_raw, 6) AS promo_revenue
    FROM (
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                      CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24
    ) q6, (
      SELECT CAST(
        100.0 * SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice AS DECIMAL(18,4)) *
                         (1 - CAST(l_discount AS DECIMAL(18,4)))
                    ELSE CAST(0 AS DECIMAL(18,4)) END)
        / SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
              (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
          AS promo_revenue_raw
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
    ) q14
    """,
)
def q_scalar_aggs(spark, sf_dir):
    """TPC-H Q6 (conjunctive range predicates all pushed to the scan,
    single exact-decimal aggregate) and Q14 (conditional revenue ratio
    over a broadcast join) shapes as one driver entry — both produce a
    single scalar row, cross-joined into one (revenue, promo_revenue)
    row (merged r02's q6_revenue_forecast + q14_promo_effect)."""
    li = spark.table("lineitem")
    q6 = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(_DEC)
                * F.col("l_discount").cast(_DEC)
            )
            .cast("double")
            .alias("revenue")
        )
    )
    p = spark.table("part")
    rev = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1) - F.col("l_discount").cast(_DEC)
    )
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast(_DEC)
    )
    q14 = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
        )
        .agg(
            F.round(
                (F.lit(100.0) * F.sum(promo) / F.sum(rev)).cast("double"), 6
            ).alias("promo_revenue")
        )
    )
    return q6.crossJoin(q14)


@register(
    "q_grouped_counts",
    oracle="""
    SELECT 'q4' AS op, o_orderpriority AS k, COUNT(*) AS n_hi,
           CAST(NULL AS BIGINT) AS n_lo
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    UNION ALL
    SELECT 'q12', l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def q_grouped_counts(spark, sf_dir):
    """TPC-H Q4 (EXISTS -> left_semi join + agg) and Q12
    (conditional-sum buckets over a join) shapes as one driver entry
    (merged r02's q4_order_priority + q12_shipmode_buckets; rows tagged
    per shape)."""
    o = spark.table("orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-07-01 00:00:00").cast("timestamp"))
    )
    l = spark.table("lineitem")
    q4 = (
        o.join(
            l, (l.l_orderkey == o.o_orderkey) & (l.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_hi"))
        .select(
            F.lit("q4").alias("op"),
            F.col("o_orderpriority").alias("k"),
            "n_hi",
            F.lit(None).cast("bigint").alias("n_lo"),
        )
    )
    o2, l2 = spark.table("orders"), spark.table("lineitem")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    q12 = (
        o2.join(l2, o2.o_orderkey == l2.l_orderkey)
        .filter(F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("n_hi"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("bigint").alias("n_lo"),
        )
        .select(
            F.lit("q12").alias("op"),
            F.col("l_linestatus").alias("k"),
            "n_hi",
            "n_lo",
        )
    )
    return q4.unionByName(q12)
