"""Relational surface: joins, aggregations, windows, sorts, set ops, scalar fns.

The reference has none of these (SURVEY §2.2 — its SQL sources execute
joins inside the external datastore, transfer_service.go:375); our engine
exposes them natively via DataFrame/Catalyst. Each query is written the
way it should run at 100 TB: dimensions broadcast, predicates pushed to
the parquet scan, aggregates exact-DECIMAL so partial aggregation order
never changes the answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etly_spark.io.tables import load_table
from etly_spark.queries.catalog import query, scoped_persist


def _dec(col, p=12, s=2):
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({p},{s})")


# --------------------------------------------------------------------------
# q1: pricing summary (TPC-H Q1 shape) — hash aggregate with exact sums
# --------------------------------------------------------------------------
@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)      AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
                                                                       AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="Full-scan hash aggregate; partial (map-side) agg + exact decimal sums.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz")
    )
    one = F.lit("1.00").cast("decimal(3,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount", 3, 2)))
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# q2: star join — revenue per nation; dims broadcast
# --------------------------------------------------------------------------
@query(
    "q2_revenue_per_nation",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE)
               AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
    doc="lineitem⋈orders shuffle join on orderkey; customer/nation broadcast.",
)
def q2_revenue_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    one = F.lit("1.00").cast("decimal(3,2)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount", 3, 2)))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("n_name")
    )


# --------------------------------------------------------------------------
# q3: top-k — per-group (window) AND global (TakeOrderedAndProject)
# --------------------------------------------------------------------------
@query(
    "q3_topk_orders",
    oracle="""
    SELECT 'per_customer' AS scope, o_custkey, o_orderkey, rn
    FROM (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    )
    WHERE rn <= 3
    UNION ALL
    SELECT 'global' AS scope, o_custkey, o_orderkey,
           ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 20
    )
    ORDER BY scope, o_custkey, rn
    """,
    doc="Top-k both ways in one checked row: per-customer top-3 via a "
    "row_number window (per-group top-k, no global sort) and global "
    "top-20 via orderBy+limit (TakeOrderedAndProject — per-partition "
    "heaps, no full sort materialization; the rank window runs over the "
    "already-reduced 20 rows only).",
)
def q3_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    per_customer = (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(F.lit("per_customer").alias("scope"), "o_custkey", "o_orderkey", "rn")
    )

    # TakeOrderedAndProject first (top-20 via per-partition heaps), then
    # rank the 20 survivors — the global window never sees the full table.
    top20 = (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .limit(20)
    )
    wg = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    global_top = (
        top20.withColumn("rn", F.row_number().over(wg))
        .select(F.lit("global").alias("scope"), "o_custkey", "o_orderkey", "rn")
    )

    return per_customer.unionByName(global_top).orderBy("scope", "o_custkey", "rn")


# --------------------------------------------------------------------------
# q4: existence joins — NOT EXISTS (anti) + correlated EXISTS (semi)
# --------------------------------------------------------------------------
@query(
    "q4_anti_exists_customers",
    oracle="""
    SELECT 'anti' AS kind, c.c_mktsegment, COUNT(*) AS n
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '2000-01-01'
    )
    GROUP BY c.c_mktsegment
    UNION ALL
    SELECT 'exists' AS kind, c.c_mktsegment, COUNT(*) AS n
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    GROUP BY c.c_mktsegment
    ORDER BY kind, c_mktsegment
    """,
    doc="Existence joins in one checked row: NOT EXISTS as an explicit "
    "left_anti join, and a correlated EXISTS subquery through spark.sql() "
    "(Catalyst decorrelates it to a left_semi join). Both aggregate to "
    "per-segment counts.",
)
def q4_anti_exists_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz")
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
        .select(F.lit("anti").alias("kind"), "c_mktsegment", "n")
    )

    # Correlated EXISTS through the SQL surface — Catalyst decorrelates
    # this to a left_semi join (asserted in tests/test_plans.py).
    c.createOrReplaceTempView("_q4_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_q4_orders")
    exists = spark.sql(
        """
        SELECT 'exists' AS kind, c.c_mktsegment, COUNT(*) AS n
        FROM _q4_customer c
        WHERE EXISTS (
          SELECT 1 FROM _q4_orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
        )
        GROUP BY c.c_mktsegment
        """
    )
    return anti.unionByName(exists).orderBy("kind", "c_mktsegment")


# --------------------------------------------------------------------------
# q5: semi join — suppliers that supply a filtered part set
# --------------------------------------------------------------------------
@query(
    "q5_semi_join_suppliers",
    oracle="""
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    WHERE EXISTS (
      SELECT 1 FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_suppkey = s.s_suppkey AND p.p_size > 40
    )
    ORDER BY s.s_name
    """,
    doc="left_semi join chain; part filter pushed below the join.",
)
def q5_semi_join_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") > 40)
    supp_keys = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select("l_suppkey")
    return (
        s.join(supp_keys, s.s_suppkey == supp_keys.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


# --------------------------------------------------------------------------
# q6: grouping analytics — ROLLUP + CUBE + GROUPING SETS in one checked row
# --------------------------------------------------------------------------
@query(
    "q6_grouping_analytics",
    oracle="""
    SELECT 'rollup' AS gkind,
           COALESCE(o_orderstatus, 'ALL') AS k1,
           COALESCE(o_orderpriority, 'ALL') AS k2,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS val
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    UNION ALL
    SELECT 'cube' AS gkind,
           COALESCE(l_returnflag, 'ALL') AS k1,
           COALESCE(l_linestatus, 'ALL') AS k2,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS val
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'gsets' AS gkind,
           COALESCE(l_returnflag, 'ALL') AS k1,
           COALESCE(l_linestatus, 'ALL') AS k2,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS val
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY gkind, k1, k2
    """,
    doc="Grouping analytics, all three shapes in one checked row: ROLLUP "
    "(orders status/priority with decimal-exact total), CUBE (lineitem "
    "flags with quantity sum), and GROUPING SETS through the spark.sql() "
    "raw-SQL surface over a registered view. NULL group keys coalesced "
    "for portability; each branch keeps its own Expand-based plan.",
)
def q6_grouping_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    rollup = (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec("o_totalprice")).cast("double").alias("val"),
        )
        .select(
            F.lit("rollup").alias("gkind"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("k1"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("k2"),
            "n",
            "val",
        )
    )

    cube = (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec("l_quantity")).cast("double").alias("val"),
        )
        .select(
            F.lit("cube").alias("gkind"),
            F.coalesce("l_returnflag", F.lit("ALL")).alias("k1"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("k2"),
            "n",
            "val",
        )
    )

    # GROUPING SETS has no DataFrame API — exercised via the raw-SQL
    # pass-through surface over a registered view.
    li.createOrReplaceTempView("_q6_lineitem")
    gsets = spark.sql(
        """
        SELECT 'gsets' AS gkind,
               COALESCE(l_returnflag, 'ALL') AS k1,
               COALESCE(l_linestatus, 'ALL') AS k2,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS val
        FROM _q6_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )

    return rollup.unionByName(cube).unionByName(gsets).orderBy("gkind", "k1", "k2")


# --------------------------------------------------------------------------
# q8: distinct aggregation
# --------------------------------------------------------------------------
@query(
    "q8_distinct_customers",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(DISTINCT o.o_custkey) AS n_active,
           COUNT(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    doc="count distinct (expand-based) with a broadcast dim join.",
)
def q8_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("o_custkey").alias("n_active"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# q9: set operations
# --------------------------------------------------------------------------
@query(
    "q9_set_ops",
    oracle="""
    WITH big_spenders AS (
      SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 300000
    ), recent AS (
      SELECT DISTINCT o_custkey AS k FROM orders
      WHERE o_orderdate >= TIMESTAMP '2001-01-01'
    )
    SELECT 'intersect' AS op, COUNT(*) AS n FROM (SELECT k FROM big_spenders INTERSECT SELECT k FROM recent)
    UNION ALL
    SELECT 'except' AS op, COUNT(*) AS n FROM (SELECT k FROM big_spenders EXCEPT SELECT k FROM recent)
    UNION ALL
    SELECT 'union' AS op, COUNT(*) AS n FROM (SELECT k FROM big_spenders UNION SELECT k FROM recent)
    ORDER BY op
    """,
)
def q9_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One scan and one shuffle: each customer key is tagged with whether
    # it is in either set, and one aggregate counts the three set ops.
    # NULL keys form one group, as DISTINCT/INTERSECT/EXCEPT treat them.
    o = load_table(spark, sf_dir, "orders")
    big = F.col("o_totalprice") > 300000
    recent = F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp_ntz")
    keys = (
        o.filter(big | recent)
        .groupBy("o_custkey")
        .agg(
            F.max(F.coalesce(big, F.lit(False))).alias("b"),
            F.max(F.coalesce(recent, F.lit(False))).alias("r"),
        )
    )
    b, r = F.col("b"), F.col("r")
    return keys.agg(
        F.count(F.when(b & ~r, 1)).alias("except"),
        F.count(F.when(b & r, 1)).alias("intersect"),
        F.count(F.when(b | r, 1)).alias("union"),
    ).selectExpr(
        "stack(3, 'except', `except`, 'intersect', `intersect`, 'union', `union`) AS (op, n)"
    )


# --------------------------------------------------------------------------
# q11: scalar function battery (string/date/math parity library)
# --------------------------------------------------------------------------
@query(
    "q11_scalar_functions",
    oracle="""
    SELECT p_partkey,
           upper(p_brand)                                   AS brand_u,
           lower(p_type)                                    AS type_l,
           length(p_name)                                   AS name_len,
           substr(p_name, 1, 5)                             AS name_pfx,
           concat(p_brand, ':', CAST(p_size AS VARCHAR))    AS brand_size,
           replace(p_type, ' ', '_')                        AS type_us,
           ((p_size % 7) + 7) % 7                           AS size_mod,
           abs(p_size - 25)                                 AS size_dist,
           greatest(p_size, 10)                             AS size_floor10,
           least(p_size, 40)                                AS size_cap40,
           CAST(round(CAST(p_retailprice AS DECIMAL(12,2)) / 10, 1) AS DOUBLE) AS price_tenth,
           CAST(floor(p_retailprice) AS BIGINT)             AS price_floor,
           CAST(ceil(p_retailprice) AS BIGINT)              AS price_ceil,
           regexp_extract(p_name, '([a-z]+)', 1)            AS first_word,
           md5(p_name)                                      AS name_md5
    FROM part
    ORDER BY p_partkey
    """,
    doc="Scalar fn parity table (SURVEY §2.2): string/math/regex/hash.",
)
def q11_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.lower("p_type").alias("type_l"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_pfx"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_size").cast("string")).alias("brand_size"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_us"),
        F.pmod(F.col("p_size"), F.lit(7)).cast("int").alias("size_mod"),
        F.abs(F.col("p_size") - 25).alias("size_dist"),
        F.greatest(F.col("p_size"), F.lit(10)).alias("size_floor10"),
        F.least(F.col("p_size"), F.lit(40)).alias("size_cap40"),
        F.round(_dec("p_retailprice") / 10, 1).cast("double").alias("price_tenth"),
        F.floor("p_retailprice").cast("bigint").alias("price_floor"),
        F.ceil("p_retailprice").cast("bigint").alias("price_ceil"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.md5(F.col("p_name").cast("binary")).alias("name_md5"),
    ).orderBy("p_partkey")


# --------------------------------------------------------------------------
# q12: date functions battery
# --------------------------------------------------------------------------
@query(
    "q12_date_functions",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT)       AS yr,
           CAST(month(o_orderdate) AS INT)      AS mo,
           strftime(o_orderdate, '%Y-%m')       AS ym,
           COUNT(*)                             AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY 1, 2, 3
    ORDER BY yr, mo
    """,
)
def q12_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.month("o_orderdate").cast("int").alias("mo"),
            F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total"),
        )
        .orderBy("yr", "mo")
    )


# --------------------------------------------------------------------------
# q13: range join — events within 1h after each signup, per user
# --------------------------------------------------------------------------
@query(
    "q13_range_join_follow_events",
    oracle="""
    SELECT e1.event_id AS signup_id,
           COUNT(e2.event_id) AS follow_cnt,
           CAST(COALESCE(SUM(CAST(e2.value AS DECIMAL(12,2))), 0) AS DOUBLE) AS follow_value
    FROM events e1
    LEFT JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts
     AND e2.ts <= e1.ts + INTERVAL 1 HOUR
    WHERE e1.event_type = 'signup'
    GROUP BY e1.event_id
    ORDER BY e1.event_id
    """,
    doc="Range join: equi key (user_id) carries the shuffle; range is residual.",
)
def q13_range_join_follow_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e1 = ev.filter(F.col("event_type") == "signup").alias("e1")
    e2 = ev.alias("e2")
    cond = (
        (F.col("e1.user_id") == F.col("e2.user_id"))
        & (F.col("e2.ts") > F.col("e1.ts"))
        & (F.col("e2.ts") <= F.col("e1.ts") + F.expr("INTERVAL 1 HOUR"))
    )
    return (
        e1.join(e2, cond, "left")
        .groupBy(F.col("e1.event_id").alias("signup_id"))
        .agg(
            F.count(F.col("e2.event_id")).alias("follow_cnt"),
            F.coalesce(F.sum(_dec(F.col("e2.value"))), F.lit(0))
            .cast("double")
            .alias("follow_value"),
        )
        .orderBy("signup_id")
    )


# --------------------------------------------------------------------------
# q14: as-of join — latest event at-or-before each order date per customer
# --------------------------------------------------------------------------
@query(
    "q14_asof_last_event",
    oracle="""
    SELECT o.o_orderkey,
           strftime(max(e.ts), '%Y-%m-%d %H:%M:%S.%f') AS last_event_ts,
           arg_max(e.event_type, e.ts)                 AS last_event_type
    FROM orders o
    JOIN events e
      ON e.user_id = o.o_custkey
     AND e.ts <= TIMESTAMP '2024-01-15' + INTERVAL (o.o_orderkey % 14) DAY
    WHERE o.o_orderkey <= 1000
    GROUP BY o.o_orderkey
    ORDER BY o.o_orderkey
    """,
    doc="As-of join via max/max_by aggregation (portable formulation); "
    "Spark-side uses max_by — same plan shape a dedicated ASOF op lowers to.",
)
def q14_asof_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    e = load_table(spark, sf_dir, "events")
    # synthesize a per-order "as-of" timestamp in events' time domain
    o = o.withColumn(
        "asof_ts",
        F.lit("2024-01-15").cast("timestamp_ntz")
        + F.make_dt_interval(F.pmod(F.col("o_orderkey"), F.lit(14))),
    )
    j = o.join(e, (e.user_id == o.o_custkey) & (e.ts <= o.asof_ts))
    return (
        j.groupBy("o_orderkey")
        .agg(
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_event_ts"),
            F.max_by("event_type", "ts").alias("last_event_type"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# q15: pivot — event_type counts per user
# --------------------------------------------------------------------------
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "q15_pivot_event_counts",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
           COUNT(*) FILTER (WHERE event_type = 'error')    AS error,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="pivot() with explicit value list (single-pass, no value scan).",
)
def q15_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    piv = ev.groupBy("user_id").pivot("event_type", _EVENT_TYPES).agg(F.count(F.lit(1)))
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES],
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# q16: sessionization (batch) — gap-based sessions via window functions
# --------------------------------------------------------------------------
@query(
    "q16_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    ), base AS (
      SELECT 'sessions' AS variant, user_id,
             COUNT(DISTINCT sess_id) AS n_sessions, COUNT(*) AS n_events
      FROM sess
      GROUP BY user_id
    ), ev2 AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(ts) OVER w AS prev_ts, LAG(event_type) OVER w AS prev_type
      FROM events
      WHERE user_id % 7 = 0
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sflag AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev_ts IS NULL OR prev_type <> event_type
                  OR ts - prev_ts > INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS root
      FROM ev2
    ), streak AS (
      SELECT user_id,
             SUM(root) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
      FROM sflag
    ), slen AS (
      SELECT user_id, sid, COUNT(*) AS len FROM streak GROUP BY user_id, sid
    ), streaks AS (
      SELECT 'streaks' AS variant, user_id,
             COUNT(*) AS n_sessions, CAST(MAX(len) AS BIGINT) AS n_events
      FROM slen GROUP BY user_id
    )
    SELECT * FROM base UNION ALL BY NAME SELECT * FROM streaks
    ORDER BY variant, user_id
    """,
    doc="Two sessionization paradigms, tagged. 'sessions' — lag + "
    "running sum session ids (batch twin of session_window()). "
    "'streaks' — same-event-type streak chains (<= 10 min apart) "
    "computed with Spark 4's NATIVE recursive CTE: roots are events "
    "whose predecessor breaks the streak, the recursive member walks "
    "successor edges (acyclic: time-ordered, so UNION ALL recursion "
    "terminates; depth = streak length, bounded by the session gap). "
    "Reports streak count + longest streak per user. The ORACLE "
    "computes streaks with the gaps-and-islands window formulation "
    "instead — the two paradigms must agree value-for-value, a "
    "cross-paradigm check on the recursion itself.",
)
def q16_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts") > F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTE")),
            1,
        ).otherwise(0),
    )
    wsum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = flagged.withColumn("sess_id", F.sum("new_sess").over(wsum))
    base = (
        sess.groupBy("user_id")
        .agg(
            F.countDistinct("sess_id").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .select(F.lit("sessions").alias("variant"), "user_id", "n_sessions", "n_events")
    )

    # streaks — Spark 4 native WITH RECURSIVE (see doc). The successor
    # relation is ONE window pass, scope-persisted and exposed as a
    # view: every recursion iteration re-reads the cached successor
    # table instead of recomputing the scan+window per depth step.
    # Acyclic by construction (strict time order), so the UNION ALL
    # recursion terminates at depth = longest streak.
    # deterministic user sample (~1/7): the window branch above is the
    # production sessionization plan; the recursive twin exists to
    # cross-validate the paradigm, and recursion materializes one row
    # per input row per level — sampling bounds that at any SF while
    # the oracle applies the identical filter.
    wspec2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    succ = scoped_persist(
        ev.filter(F.col("user_id") % 7 == 0).select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lead("event_id").over(wspec2).alias("next_id"),
            F.lead("ts").over(wspec2).alias("next_ts"),
            F.lead("event_type").over(wspec2).alias("next_type"),
            F.lag("ts").over(wspec2).alias("prev_ts"),
            F.lag("event_type").over(wspec2).alias("prev_type"),
        )
    )
    succ.createOrReplaceTempView("q16_succ")
    streaks = spark.sql(
        """
        WITH RECURSIVE ev AS (
          SELECT * FROM q16_succ
        ), chain AS (
          SELECT user_id, event_id, event_type, ts,
                 next_id, next_ts, next_type, 1 AS depth
          FROM ev
          WHERE prev_ts IS NULL OR prev_type <> event_type
                OR ts - prev_ts > INTERVAL 10 MINUTE
          UNION ALL
          SELECT e.user_id, e.event_id, e.event_type, e.ts,
                 e.next_id, e.next_ts, e.next_type, c.depth + 1
          FROM chain c
          JOIN ev e ON e.user_id = c.user_id AND e.event_id = c.next_id
          WHERE c.next_type = c.event_type
                AND c.next_ts - c.ts <= INTERVAL 10 MINUTE
        )
        SELECT 'streaks' AS variant, user_id,
               CAST(SUM(CASE WHEN depth = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_sessions,
               CAST(MAX(depth) AS BIGINT) AS n_events
        FROM chain
        GROUP BY user_id
        """
    )
    return base.unionByName(streaks).orderBy("variant", "user_id")


# --------------------------------------------------------------------------
# q17: analytic windows — lag/lead/moving average
# --------------------------------------------------------------------------
@query(
    "q17_moving_avg",
    oracle="""
    SELECT user_id, event_id,
           CAST(SUM(CAST(value AS DECIMAL(12,2)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)     AS mov_avg,
           CAST(LAG(CAST(value AS DECIMAL(12,2)), 1) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE)    AS prev_value,
           CAST(LEAD(CAST(value AS DECIMAL(12,2)), 1) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE)    AS next_value
    FROM events
    WHERE user_id < 10
    ORDER BY user_id, event_id
    """,
    doc="Frame-bounded analytic window (ROWS BETWEEN).",
)
def q17_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(-2, 0)
    v = _dec("value")
    return ev.select(
        "user_id",
        "event_id",
        (F.sum(v).over(wf).cast("double") / F.count(F.lit(1)).over(wf)).alias("mov_avg"),
        F.lag(v, 1).over(w).cast("double").alias("prev_value"),
        F.lead(v, 1).over(w).cast("double").alias("next_value"),
    ).orderBy("user_id", "event_id")


# --------------------------------------------------------------------------
# q18: scalar subquery + HAVING
# --------------------------------------------------------------------------
@query(
    "q18_above_avg_orders",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_big
    FROM orders
    WHERE o_totalprice > (SELECT AVG(CAST(o_totalprice AS DECIMAL(12,2))) FROM orders)
    GROUP BY o_custkey
    HAVING COUNT(*) >= 5
    ORDER BY o_custkey
    """,
    doc="Scalar subquery (broadcast single-row) + post-agg filter.",
)
def q18_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_q18_orders")
    return spark.sql(
        """
        SELECT o_custkey, COUNT(*) AS n_big
        FROM _q18_orders
        WHERE o_totalprice > (SELECT AVG(CAST(o_totalprice AS DECIMAL(12,2))) FROM _q18_orders)
        GROUP BY o_custkey
        HAVING COUNT(*) >= 5
        ORDER BY o_custkey
        """
    )


# --------------------------------------------------------------------------
# q23: approximate sketches — engine-specific estimators, rows-only check
# --------------------------------------------------------------------------
@query(
    "q23_approx_sketches",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS exact_customers,
           CAST(1 AS INT) AS customers_ok,
           CAST(1 AS INT) AS p50_ok,
           CAST(1 AS INT) AS p90_ok,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="approx_count_distinct (HyperLogLog++) + approx_percentile (KLL) "
    "per order-status — the constant-memory profiling path for 100 TB "
    "scans. Sketch estimates are engine-specific, so the checkable "
    "surface is: the oracle-computable exact values plus "
    "within-tolerance flags (|approx−exact|/exact bounded — HLL++ rsd "
    "0.02 checked at 3σ=0.06; KLL accuracy 10000 at 2% relative). The "
    "oracle emits literal 1s: a drifting estimator flips the Spark flag "
    "to 0 and the hash check catches it.",
)
def q23_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # Two passes joined on the tiny group key, NOT one agg: mixing
    # COUNT(DISTINCT) with buffering aggregates (percentile) forces an
    # Expand (row duplication per distinct group) and pushes the whole
    # aggregation onto the duplicated stream — measured 26 s vs 5.4 s
    # for the split at sf1.0. Only the exact distinct count needs its
    # own pass; sketches and exact percentiles share one (no distinct ⇒
    # no Expand, map-side partial agg kept). The join moves 3 rows.
    sketches = o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("approx_customers"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("ap50"),
        F.percentile_approx("o_totalprice", 0.9, 10000).alias("ap90"),
        F.percentile("o_totalprice", F.lit(0.5)).alias("ep50"),
        F.percentile("o_totalprice", F.lit(0.9)).alias("ep90"),
        F.count(F.lit(1)).alias("n"),
    )
    exact_cnt = o.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("exact_customers")
    )
    agg = sketches.join(exact_cnt, "o_orderstatus")

    def within(approx, exact, tol):
        return (
            (F.abs(F.col(approx) - F.col(exact)) / F.col(exact)) <= tol
        ).cast("int")

    return agg.select(
        "o_orderstatus",
        "exact_customers",
        within("approx_customers", "exact_customers", 0.06).alias("customers_ok"),
        within("ap50", "ep50", 0.02).alias("p50_ok"),
        within("ap90", "ep90", 0.02).alias("p90_ok"),
        "n",
    ).orderBy("o_orderstatus")


# --------------------------------------------------------------------------
# q24: exact percentiles (sort-based order statistics)
# --------------------------------------------------------------------------
@query(
    "q24_exact_percentiles",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="Exact interpolated percentiles (median/p90) per group — the "
    "sort-based exact twin of q23's sketches.",
)
def q24_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# q25: full outer join — coverage accounting across two aggregates
# --------------------------------------------------------------------------
@query(
    "q25_full_outer_join",
    oracle="""
    WITH buyers AS (
      SELECT o_custkey AS custkey, COUNT(*) AS n_orders
      FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
    ), eventers AS (
      SELECT user_id % 2000 AS custkey, COUNT(*) AS n_events
      FROM events GROUP BY user_id % 2000
    )
    SELECT COALESCE(b.custkey, e.custkey) AS custkey,
           COALESCE(b.n_orders, 0) AS n_orders,
           COALESCE(e.n_events, 0) AS n_events,
           CASE WHEN b.custkey IS NULL THEN 'events_only'
                WHEN e.custkey IS NULL THEN 'orders_only'
                ELSE 'both' END AS side
    FROM buyers b FULL OUTER JOIN eventers e ON b.custkey = e.custkey
    ORDER BY custkey
    """,
    doc="FULL OUTER join of two aggregates with side accounting — the "
    "unmatched-rows-on-both-sides join variant (left/semi/anti live in "
    "q4/q5, inner in q2).",
)
def q25_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    buyers = (
        o.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    eventers = ev.groupBy((F.col("user_id") % 2000).alias("custkey")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    b = buyers.alias("b")
    e = eventers.alias("e")
    return (
        b.join(e, F.col("b.custkey") == F.col("e.custkey"), "full_outer")
        .select(
            F.coalesce("b.custkey", "e.custkey").alias("custkey"),
            F.coalesce("b.n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("e.n_events", F.lit(0)).alias("n_events"),
            F.when(F.col("b.custkey").isNull(), F.lit("events_only"))
            .when(F.col("e.custkey").isNull(), F.lit("orders_only"))
            .otherwise(F.lit("both"))
            .alias("side"),
        )
        .orderBy("custkey")
    )


# --------------------------------------------------------------------------
# q26: salted two-phase aggregation — the hot-key shuffle pattern
# --------------------------------------------------------------------------
@query(
    "q26_salted_agg",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Two-phase salted aggregation over a 5-value hot key: phase 1 "
    "groups by (key, salt=pmod(event_id,16)) so the shuffle spreads each "
    "hot key over 16 reducers; phase 2 merges the partials. Same result "
    "as the direct group-by (the oracle) — decimal sums reassociate "
    "exactly. This is the manual pattern for skew that AQE can't split "
    "(pre-aggregated hot keys).",
)
def q26_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    salted = ev.groupBy(
        "event_type", F.pmod(F.col("event_id"), F.lit(16)).alias("__salt__")
    ).agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("ptotal"),
    )
    return (
        salted.groupBy("event_type")
        .agg(
            F.sum("pn").alias("n"),
            F.sum("ptotal").cast("double").alias("total"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q28: array functions — collect_set → sort → join/contains/size
# --------------------------------------------------------------------------
@query(
    "q28_array_functions",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_csv,
           len(list(DISTINCT event_type)) AS n_types,
           list_contains(list(DISTINCT event_type), 'purchase') AS has_purchase
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Array surface: set-aggregate per key, deterministic sort, "
    "stringify/membership/size — the array scalar-library row of "
    "SURVEY §2.2 under the oracle gate.",
)
def q28_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    types = F.array_sort(F.collect_set("event_type"))
    return (
        ev.groupBy("user_id")
        .agg(
            F.array_join(types, ",").alias("types_csv"),
            F.size(types).alias("n_types"),
            F.array_contains(types, "purchase").alias("has_purchase"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# q29: RANGE window frame — trailing 24-hour per-user activity
# --------------------------------------------------------------------------
@query(
    "q29_range_frame",
    oracle="""
    SELECT event_id, user_id,
           COUNT(*) OVER (
             PARTITION BY user_id ORDER BY epoch(ts)
             RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW
           ) AS events_24h,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (
             PARTITION BY user_id ORDER BY epoch(ts)
             RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS value_24h
    FROM events
    WHERE user_id < 40
    ORDER BY user_id, event_id
    """,
    doc="RANGE frame (value-based, not row-based): trailing 24-hour "
    "window keyed on event-time seconds — q17's ROWS twin. One shuffle "
    "on user_id, frame scan is sort-local.",
)
def q29_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-86400, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("events_24h"),
        F.sum(F.col("value").cast("decimal(12,2)")).over(w).cast("double").alias("value_24h"),
    ).orderBy("user_id", "event_id")


# The funnel SQL fragment and builder are consumed by
# q19_event_time_windows (queries/windows.py) as its 'funnel' branch —
# catalog consolidation keeps the registry at exactly 50 entries.
FUNNEL_SQL = """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t1
        AND e.ts <= v.t1 + INTERVAL 7 DAY
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        AND e.ts <= c.t2 + INTERVAL 7 DAY
      GROUP BY e.user_id
    ), su AS (
      SELECT v.user_id, v.t1, c.t2, p.t3
      FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    ), tot AS (
      SELECT COUNT(t1) AS n1, COUNT(t2) AS n2, COUNT(t3) AS n3 FROM su
    )
    SELECT '1_view' AS stage, n1 AS users,
           1.0 AS conv_from_prev FROM tot
    UNION ALL
    SELECT '2_click', n2,
           COALESCE(round(n2 / CAST(NULLIF(n1, 0) AS DOUBLE), 6), 0.0) FROM tot
    UNION ALL
    SELECT '3_purchase', n3,
           COALESCE(round(n3 / CAST(NULLIF(n2, 0) AS DOUBLE), 6), 0.0) FROM tot
"""


def funnel_conversion_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    step = F.expr("INTERVAL 7 DAY")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + step))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + step))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    su = v.join(c, "user_id", "left").join(p, "user_id", "left")
    tot = su.agg(
        F.count("t1").alias("n1"), F.count("t2").alias("n2"), F.count("t3").alias("n3")
    )
    conv2 = F.when(F.col("n1") > 0, F.round(F.col("n2") / F.col("n1"), 6)).otherwise(0.0)
    conv3 = F.when(F.col("n2") > 0, F.round(F.col("n3") / F.col("n2"), 6)).otherwise(0.0)
    stages = tot.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("1_view").alias("stage"),
                    F.col("n1").alias("users"),
                    F.lit(1.0).alias("conv_from_prev"),
                ),
                F.struct(
                    F.lit("2_click").alias("stage"),
                    F.col("n2").alias("users"),
                    conv2.alias("conv_from_prev"),
                ),
                F.struct(
                    F.lit("3_purchase").alias("stage"),
                    F.col("n3").alias("users"),
                    conv3.alias("conv_from_prev"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    return stages.orderBy("stage")
