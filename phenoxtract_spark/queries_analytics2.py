"""Additional analytics-surface queries: semi/anti joins, correlated-exists
shapes, group-by-having, and the stateful-streaming batch equivalence."""

from __future__ import annotations

from pyspark.sql import functions as F

from . import session
from .queries_core import q, read_table


@q(
    "semi_join_customers_with_orders",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def semi_join(spark, sf_dir):
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@q(
    "anti_join_parts_never_bulk_ordered",
    """
    SELECT p_partkey, p_brand FROM part
    WHERE NOT EXISTS (SELECT 1 FROM lineitem
                      WHERE l_partkey = p_partkey AND l_quantity >= 45)
    """,
)
def anti_join(spark, sf_dir):
    p = read_table(spark, sf_dir, "part")
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return p.join(li, p.p_partkey == li.l_partkey, "left_anti").select("p_partkey", "p_brand")


@q(
    "having_big_customers",
    """
    SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS spend
    FROM orders GROUP BY o_custkey
    HAVING count(*) >= 12
    """,
)
def having_q(spark, sf_dir):
    o = read_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("spend"),
        )
        .filter(F.col("n_orders") >= 12)
    )


@q(
    "distinct_agg_by_group",
    """
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_customers,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def distinct_agg(spark, sf_dir):
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@q(
    "scalar_subquery_above_avg",
    """
    SELECT p_partkey, p_type, p_retailprice
    FROM part
    WHERE p_retailprice > (SELECT avg(p2.p_retailprice) FROM part p2
                           WHERE p2.p_type = part.p_type)
    """,
)
def scalar_subquery(spark, sf_dir):
    """Correlated scalar subquery expressed as a window aggregate — one
    shuffle on the correlation key instead of a per-row subquery."""
    from pyspark.sql.window import Window

    p = read_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_type")
    return (
        p.withColumn("_avg", F.avg("p_retailprice").over(w))
        .filter(F.col("p_retailprice") > F.col("_avg"))
        .select("p_partkey", "p_type", "p_retailprice")
    )


@q(
    "stateful_running_totals",
    """
    SELECT user_id, count(*) AS n_events,
           round(sum(coalesce(value, 0)), 2) AS total_value
    FROM events GROUP BY user_id
    """,
)
def stateful_totals(spark, sf_dir):
    """Batch semantics of the applyInPandasWithState running-totals operator
    (streaming/stateful.py); the streaming path is exercised in
    tests/test_stateful_streaming.py with an availableNow trigger."""
    from .streaming import stateful

    e = read_table(spark, sf_dir, "events")
    return stateful.running_totals_batch(e)


# ---------------------------------------------------------------------------
# TPC-H multi-join breadth (q5 / q7 / q10 / q18 shapes, adapted to the
# driver tables — no partsupp exists, so partsupp-dependent queries are out
# of scope).  Dims (nation/region) are broadcast explicitly; the fact-fact
# joins shuffle on their keys and AQE picks BHJ when a side fits.
# ---------------------------------------------------------------------------


@q(
    "tpch_q5_local_supplier_volume",
    """
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
    GROUP BY n_name
    """,
)
def tpch_q5(spark, sf_dir):
    """Local-supplier volume: the classic 6-way join with the correlated
    same-nation condition between customer and supplier."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-01-01").cast("date"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@q(
    "tpch_q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 2) AS revenue
    FROM (
      SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             year(CAST(l_shipdate AS DATE)) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
      WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
          OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
        AND CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7(spark, sf_dir):
    """Volume shipping between a nation pair, by year — two broadcast joins
    against the same dimension under different roles."""
    s = read_table(spark, sf_dir, "supplier")
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date").between("1996-01-01", "1997-12-31")
    )
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    joined = (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year(F.col("l_shipdate").cast("date")).cast("bigint").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume"), 2).alias("revenue"))
    )


@q(
    "tpch_q10_returned_items",
    """
    SELECT c_custkey, c_name,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS revenue,
           round(c_acctbal, 2) AS c_acctbal, n_name
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o_orderdate AS DATE) < DATE '1996-04-01'
    GROUP BY c_custkey, c_name, round(c_acctbal, 2), n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10(spark, sf_dir):
    """Returned-item reporting: top-20 customers by lost revenue in a
    quarter.  Catalyst pushes the returnflag and date filters to the scans;
    the final top-k is a TakeOrderedAndProject, no global sort.

    Revenue sums in DECIMAL(18,4): double addition is order-dependent, and a
    20-row top-k ranked on the sum sits exactly where a one-ulp difference
    flips a round(, 2) boundary — decimal accumulation is exact and
    associative, so both engines agree bit-for-bit."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1996-04-01").cast("date"))
    )
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = read_table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal"), "n_name"
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


@q(
    "tpch_q18_large_volume_customers",
    """
    SELECT c_custkey, c_name, o_orderkey,
           CAST(o_orderdate AS DATE) AS o_orderdate,
           round(o_totalprice, 2) AS o_totalprice,
           round(sum(l_quantity), 2) AS total_qty
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    )
    GROUP BY c_custkey, c_name, o_orderkey, CAST(o_orderdate AS DATE),
             round(o_totalprice, 2)
    """,
)
def tpch_q18(spark, sf_dir):
    """Large-volume customers: the IN-subquery over a grouped HAVING becomes
    a pre-aggregated semi-join on l_orderkey (no correlated re-scan)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 250)
        .select("l_orderkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(big.withColumnRenamed("l_orderkey", "_bk"), F.col("o_orderkey") == F.col("_bk"), "left_semi")
        .groupBy(
            "c_custkey", "c_name", "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
    )


@q(
    "stats_numeric_profile",
    """
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             sum(CAST(l_extendedprice AS DECIMAL(38,8))) AS sx,
             sum(CAST(l_discount AS DECIMAL(38,8))) AS sy,
             sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,8))) AS sxx,
             sum(CAST(l_discount * l_discount AS DECIMAL(38,8))) AS syy,
             sum(CAST(l_extendedprice * l_discount AS DECIMAL(38,8))) AS sxy
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, n,
           round(CAST(sx AS DOUBLE) / n, 4) AS avg_price,
           round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                      / (n - 1)), 4) AS stddev_price,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             AS corr_price_discount
    FROM s
    """,
)
def stats_profile(spark, sf_dir):
    """Statistical profile per return flag: mean / sample stddev / Pearson
    correlation derived from DECIMAL moment sums.  Double accumulation is
    order-dependent (Spark's stddev/corr and DuckDB's disagree at the last
    ulp over 60k rows); exact decimal Σx/Σx²/Σxy then one fixed double
    formula gives bit-identical results in both engines."""
    li = read_table(spark, sf_dir, "lineitem")
    d = lambda c: c.cast("decimal(38,8)")
    x, y = F.col("l_extendedprice"), F.col("l_discount")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d(x)).alias("sx"),
        F.sum(d(y)).alias("sy"),
        F.sum(d(x * x)).alias("sxx"),
        F.sum(d(y * y)).alias("syy"),
        F.sum(d(x * y)).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    return s.select(
        "l_returnflag",
        "n",
        F.round(sx / n, 4).alias("avg_price"),
        F.round(F.sqrt((sxx - sx * sx / n) / (n - 1)), 4).alias("stddev_price"),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias("corr_price_discount"),
    )


@q(
    "g10_packet_roundtrip",
    """
    WITH items AS (
      SELECT CAST(o_custkey AS VARCHAR) AS subject_id,
             list(struct_pack(
                    id := o_orderkey,
                    status := o_orderstatus,
                    total := o_totalprice,
                    "date" := CAST(CAST(o_orderdate AS DATE) AS VARCHAR))
                  ORDER BY o_orderkey) AS orders
      FROM orders GROUP BY 1
    ), subj AS (
      SELECT CAST(c_custkey AS VARCHAR) AS subject_id, c_name AS name,
             c_mktsegment AS segment
      FROM customer
    ), pk AS (
      SELECT s.subject_id,
             CAST(to_json(struct_pack(
               id := s.subject_id,
               subject := struct_pack(subject_id := s.subject_id,
                                      name := s.name, segment := s.segment),
               orders := coalesce(i.orders, []),
               meta_data := struct_pack(
                 created_by := 'phenoxtract-spark',
                 phenopacket_schema_version := '2.0',
                 resources := CAST([] AS VARCHAR[])))) AS VARCHAR) AS packet_json
      FROM subj s LEFT JOIN items i USING (subject_id)
    )
    SELECT subject_id,
           json_extract_string(packet_json, '$.subject.name') AS name,
           CAST(json_array_length(json_extract(packet_json, '$.orders')) AS BIGINT)
             AS n_orders,
           json_extract_string(packet_json, '$.orders[0].status') AS first_status
    FROM pk
    """,
)
def g10_roundtrip(spark, sf_dir):
    """JSON sink → JSON source roundtrip: parse the rendered packet back
    with from_json (full nested schema) and extract scalar, array-length,
    and array-element fields.  Proves the packets are a machine-readable
    interchange format, not just a blessed string."""
    from pyspark.sql import types as T

    reg = __import__("phenoxtract_spark.queries_core", fromlist=["QUERIES"]).QUERIES
    packets = reg["g10_packet_json"][0](spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField(
                "subject",
                T.StructType(
                    [
                        T.StructField("subject_id", T.StringType()),
                        T.StructField("name", T.StringType()),
                        T.StructField("segment", T.StringType()),
                    ]
                ),
            ),
            T.StructField(
                "orders",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("id", T.LongType()),
                            T.StructField("status", T.StringType()),
                            T.StructField("total", T.DoubleType()),
                            T.StructField("date", T.StringType()),
                        ]
                    )
                ),
            ),
        ]
    )
    parsed = packets.select(
        "subject_id", F.from_json("packet_json", schema).alias("p")
    )
    return parsed.select(
        "subject_id",
        F.col("p.subject.name").alias("name"),
        F.size("p.orders").cast("bigint").alias("n_orders"),
        # F.get, not [0]: ANSI indexing throws on a zero-order customer's
        # empty array (first seen at sf1); the oracle's json_extract of
        # $.orders[0] yields NULL there, and F.get matches that
        F.get("p.orders", 0)["status"].alias("first_status"),
    )


# ---------------------------------------------------------------------------
# winsorized statistics (outlier-robust aggregation)
# ---------------------------------------------------------------------------


@q(
    "analytics_winsorized_stats",
    """
    WITH th AS (
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.05), 6) AS lo,
             round(quantile_cont(l_extendedprice, 0.95), 6) AS hi
      FROM lineitem GROUP BY 1
    )
    SELECT l.l_returnflag,
           round(avg(least(greatest(l.l_extendedprice, th.lo), th.hi)), 4)
             AS wins_mean,
           round(avg(l.l_extendedprice), 4) AS raw_mean,
           count(*) AS n_rows
    FROM lineitem l JOIN th ON l.l_returnflag = th.l_returnflag
    GROUP BY 1
    """,
)
def analytics_winsorized(spark, sf_dir):
    """Winsorized mean per return flag: exact p05/p95 thresholds (rounded to
    6dp so both engines clamp identically), clamp, re-aggregate.  Two passes
    over lineitem; the threshold dim is per-group tiny and broadcast back —
    at 100 TB swap the exact percentile for the mergeable histogram-quantile
    sketch (``sketch_histogram_quantiles``) and keep the same clamp pass."""
    li = read_table(spark, sf_dir, "lineitem")
    th = li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.05)), 6).alias("lo"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 6).alias("hi"),
    )
    return (
        li.join(F.broadcast(th), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.round(
                F.avg(F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi"))),
                4,
            ).alias("wins_mean"),
            F.round(F.avg("l_extendedprice"), 4).alias("raw_mean"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# snapshot drift report (data-quality diff between ingest versions)
# ---------------------------------------------------------------------------

_DRIFT_BUCKET = (
    "('0x' || substr(md5('drift-v1::' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT"
    " % 10000"
)


@q(
    "quality_drift_report",
    f"""
    WITH tagged AS (
      SELECT *, {_DRIFT_BUCKET} < 5000 AS is_old FROM orders
    ),
    p AS (
      SELECT is_old,
             count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE) AS sx,
             CAST(sum(CAST(o_totalprice * o_totalprice AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
             count(DISTINCT o_orderstatus) AS n_status
      FROM tagged GROUP BY 1
    ),
    w AS (
      SELECT o.n AS old_n, n.n AS new_n,
             round(o.sx / o.n, 4) AS old_mean, round(n.sx / n.n, 4) AS new_mean,
             round(sqrt((o.sxx - o.sx * o.sx / o.n) / (o.n - 1)), 4) AS old_sd,
             round(sqrt((n.sxx - n.sx * n.sx / n.n) / (n.n - 1)), 4) AS new_sd,
             o.n_status AS old_status, n.n_status AS new_status
      FROM (SELECT * FROM p WHERE is_old) o, (SELECT * FROM p WHERE NOT is_old) n
    )
    SELECT m.metric, m.old_value, m.new_value,
           round((m.new_value - m.old_value) / m.old_value, 6) AS rel_delta
    FROM w, LATERAL (VALUES
      ('n_rows', CAST(old_n AS DOUBLE), CAST(new_n AS DOUBLE)),
      ('price_mean', old_mean, new_mean),
      ('price_stddev', old_sd, new_sd),
      ('status_distinct', CAST(old_status AS DOUBLE), CAST(new_status AS DOUBLE))
    ) AS m(metric, old_value, new_value)
    """,
)
def quality_drift_report(spark, sf_dir):
    """Data-quality drift between two ingest snapshots (deterministic
    md5-half split standing in for version N vs N+1): per-metric old/new
    values and relative delta — the gate a continuous 100 TB ingest runs
    before promoting a snapshot.  Decimal moment sums (the
    `stats_numeric_profile` discipline) keep both engines bit-identical;
    one aggregate pass per side, 1-row profiles, metric rows stacked."""
    from .operators.curation import split_bucket

    o = read_table(spark, sf_dir, "orders")
    tagged = o.withColumn("is_old", split_bucket("o_orderkey", "drift-v1") < 5000)
    d = lambda c: c.cast("decimal(38,8)")
    x = F.col("o_totalprice")
    p = tagged.groupBy("is_old").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d(x)).cast("double").alias("sx"),
        F.sum(d(x * x)).cast("double").alias("sxx"),
        F.countDistinct("o_orderstatus").alias("n_status"),
    )
    old = p.filter(F.col("is_old")).select(
        F.col("n").alias("old_n"), F.col("sx").alias("osx"),
        F.col("sxx").alias("osxx"), F.col("n_status").alias("old_status"),
    )
    new = p.filter(~F.col("is_old")).select(
        F.col("n").alias("new_n"), F.col("sx").alias("nsx"),
        F.col("sxx").alias("nsxx"), F.col("n_status").alias("new_status"),
    )
    w = old.crossJoin(new).select(
        F.col("old_n"), F.col("new_n"),
        F.round(F.col("osx") / F.col("old_n"), 4).alias("old_mean"),
        F.round(F.col("nsx") / F.col("new_n"), 4).alias("new_mean"),
        F.round(
            F.sqrt((F.col("osxx") - F.col("osx") * F.col("osx") / F.col("old_n"))
                   / (F.col("old_n") - 1)), 4).alias("old_sd"),
        F.round(
            F.sqrt((F.col("nsxx") - F.col("nsx") * F.col("nsx") / F.col("new_n"))
                   / (F.col("new_n") - 1)), 4).alias("new_sd"),
        "old_status", "new_status",
    )
    stacked = w.select(
        F.stack(
            F.lit(4),
            F.lit("n_rows"), F.col("old_n").cast("double"), F.col("new_n").cast("double"),
            F.lit("price_mean"), F.col("old_mean"), F.col("new_mean"),
            F.lit("price_stddev"), F.col("old_sd"), F.col("new_sd"),
            F.lit("status_distinct"), F.col("old_status").cast("double"),
            F.col("new_status").cast("double"),
        ).alias("metric", "old_value", "new_value")
    )
    return stacked.select(
        "metric", "old_value", "new_value",
        F.round((F.col("new_value") - F.col("old_value")) / F.col("old_value"), 6)
        .alias("rel_delta"),
    )


# ---------------------------------------------------------------------------
# Gini concentration (inequality of order values)
# ---------------------------------------------------------------------------


@q(
    "analytics_gini_concentration",
    """
    WITH r AS (
      SELECT o_orderpriority, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    )
    SELECT o_orderpriority, any_value(n) AS n_orders,
           round(CAST(sum(CAST((2 * rn - n - 1) * o_totalprice
                               AS DECIMAL(38,8))) AS DOUBLE)
                 / (any_value(n)
                    * CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE)),
                 6) AS gini
    FROM r GROUP BY o_orderpriority
    """,
)
def analytics_gini(spark, sf_dir):
    """Gini coefficient of order-value concentration per priority class —
    the revenue-inequality signal (0 = uniform spend, →1 = whale-
    dominated).  One rank window + one aggregate on the same partitioning
    (single shuffle); the rank-weighted sum accumulates in DECIMAL so the
    division is one fixed double op, bit-identical across engines (tied
    values are permutation-invariant under the formula)."""
    from pyspark.sql.window import Window

    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wn = Window.partitionBy("o_orderpriority")
    r = o.select(
        "o_orderpriority", "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    num = F.sum(
        ((2 * F.col("rn") - F.col("n") - 1) * F.col("o_totalprice")).cast(
            "decimal(38,8)"
        )
    ).cast("double")
    den = F.sum(F.col("o_totalprice").cast("decimal(38,8)")).cast("double")
    return r.groupBy("o_orderpriority").agg(
        F.any_value("n").alias("n_orders"),
        F.round(num / (F.any_value("n") * den), 6).alias("gini"),
    )


# ---------------------------------------------------------------------------
# functional-dependency discovery (data profiling)
# ---------------------------------------------------------------------------


@q(
    "profiling_functional_deps",
    """
    WITH checks AS (
      SELECT 'o_orderkey->o_orderdate' AS fd, l AS x_vals, v AS n_violations
      FROM (SELECT count(*) AS l,
                   CAST(count(*) FILTER (d > 1) AS BIGINT) AS v
            FROM (SELECT o_orderkey, count(DISTINCT o_orderdate) AS d
                  FROM orders GROUP BY 1))
      UNION ALL
      SELECT 'o_custkey->o_orderpriority', l, v
      FROM (SELECT count(*) AS l,
                   CAST(count(*) FILTER (d > 1) AS BIGINT) AS v
            FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS d
                  FROM orders GROUP BY 1))
      UNION ALL
      SELECT 'p_brand->p_size', l, v
      FROM (SELECT count(*) AS l,
                   CAST(count(*) FILTER (d > 1) AS BIGINT) AS v
            FROM (SELECT p_brand, count(DISTINCT p_size) AS d
                  FROM part GROUP BY 1))
      UNION ALL
      SELECT 'p_type->p_brand', l, v
      FROM (SELECT count(*) AS l,
                   CAST(count(*) FILTER (d > 1) AS BIGINT) AS v
            FROM (SELECT p_type, count(DISTINCT p_brand) AS d
                  FROM part GROUP BY 1))
    )
    SELECT fd, x_vals, n_violations, n_violations = 0 AS holds
    FROM checks
    """,
)
def profiling_functional_deps(spark, sf_dir):
    """Functional-dependency discovery (schema profiling): for each
    candidate X→Y, the count of X values mapping to >1 distinct Y —
    0 violations means the dependency holds and Y can live in an X-keyed
    dimension.  Each candidate is one (X) aggregate with a distinct-Y
    count, all unioned into a single report; at 100 TB candidates
    short-circuit cheaply because the violating-X count needs no joins
    and prunes to the two columns involved."""
    o = read_table(spark, sf_dir, "orders")
    p = read_table(spark, sf_dir, "part")

    def fd(df, x, y, name):
        per = df.groupBy(x).agg(F.countDistinct(y).alias("d"))
        return per.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).alias("x_vals"),
            F.sum((F.col("d") > 1).cast("bigint")).alias("n_violations"),
        )

    out = (
        fd(o, "o_orderkey", "o_orderdate", "o_orderkey->o_orderdate")
        .unionByName(fd(o, "o_custkey", "o_orderpriority", "o_custkey->o_orderpriority"))
        .unionByName(fd(p, "p_brand", "p_size", "p_brand->p_size"))
        .unionByName(fd(p, "p_type", "p_brand", "p_type->p_brand"))
    )
    return out.withColumn("holds", F.col("n_violations") == 0)


@q(
    "analytics_share_shift",
    """
    WITH tagged AS (
      SELECT n.n_name,
             CASE WHEN o.o_orderdate < DATE '1998-05-01' THEN 'early'
                  ELSE 'late' END AS era,
             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)) AS rev
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    per AS (SELECT n_name, era, sum(rev) AS rev FROM tagged GROUP BY 1, 2),
    tot AS (SELECT era, sum(rev) AS tot FROM per GROUP BY 1),
    shares AS (
      SELECT p.n_name, p.era,
             round(CAST(p.rev AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS share
      FROM per p JOIN tot t ON t.era = p.era
    )
    SELECT e.n_name,
           e.share AS share_early,
           l.share AS share_late,
           round(l.share - e.share, 6) AS share_delta
    FROM (SELECT n_name, share FROM shares WHERE era = 'early') e
    JOIN (SELECT n_name, share FROM shares WHERE era = 'late') l
      ON l.n_name = e.n_name
    """,
)
def analytics_share_shift(spark, sf_dir):
    """Ratio-to-report share-shift: each nation's revenue share within the
    early vs late order era and the share delta — the market-movement
    OLAP report.  Revenue accumulates in DECIMAL (order-invariant); the
    per-era totals are a tiny dim joined back; one fact-scan aggregate
    feeds everything."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    era = F.when(
        F.col("o_orderdate").cast("date") < F.lit("1998-05-01").cast("date"),
        F.lit("early"),
    ).otherwise(F.lit("late"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    per = session.materialize(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("n_name", era.alias("era"), rev.alias("rev"))
        .groupBy("n_name", "era")
        .agg(F.sum("rev").alias("rev"))
    )  # feeds shares + era totals
    tot = per.groupBy("era").agg(F.sum("rev").alias("tot"))
    shares = per.join(F.broadcast(tot), "era").select(
        "n_name", "era",
        F.round(F.col("rev").cast("double") / F.col("tot").cast("double"), 6)
        .alias("share"),
    )
    e = shares.filter(F.col("era") == "early").select(
        "n_name", F.col("share").alias("share_early")
    )
    l = shares.filter(F.col("era") == "late").select(
        "n_name", F.col("share").alias("share_late")
    )
    return e.join(l, "n_name").select(
        "n_name", "share_early", "share_late",
        F.round(F.col("share_late") - F.col("share_early"), 6).alias("share_delta"),
    )


# ---------------------------------------------------------------------------
# partition-skew report (shuffle health)
# ---------------------------------------------------------------------------


def _skew_sql(table: str, key: str) -> str:
    return f"""
      SELECT '{table}.{key}' AS shuffle_key, l AS n_rows, mx AS max_bucket,
             round(avg_b, 2) AS avg_bucket, round(mx / avg_b, 4) AS skew_ratio
      FROM (
        SELECT CAST(sum(c) AS BIGINT) AS l, CAST(max(c) AS BIGINT) AS mx,
               sum(c) / CAST(count(*) AS DOUBLE) AS avg_b
        FROM (
          SELECT ('0x' || substr(md5('skew-v1::' || CAST({key} AS VARCHAR)), 1, 8))::BIGINT
                   % 32 AS b,
                 count(*) AS c
          FROM {table} GROUP BY 1
        )
      )"""


@q(
    "profiling_skew_report",
    _skew_sql("events", "user_id")
    + " UNION ALL "
    + _skew_sql("orders", "o_custkey")
    + " UNION ALL "
    + _skew_sql("lineitem", "l_orderkey"),
)
def profiling_skew_report(spark, sf_dir):
    """Shuffle-health report: for each candidate shuffle key, row counts
    across 32 engine-portable hash buckets and the max/avg skew ratio —
    the diagnostic that decides whether a key needs salting or AQE skew
    handling BEFORE the 100 TB job runs.  One two-column aggregate per
    table; the md5 bucket stands in for the engine's partitioner so the
    report is reproducible anywhere."""
    from .operators.curation import split_bucket

    def skew(table, key):
        d = read_table(spark, sf_dir, table)
        per = d.groupBy(
            split_bucket(key, "skew-v1", buckets=32).alias("b")
        ).agg(F.count(F.lit(1)).alias("c"))
        return per.agg(
            F.lit(f"{table}.{key}").alias("shuffle_key"),
            F.sum("c").alias("n_rows"),
            F.max("c").alias("max_bucket"),
            F.round(F.sum("c") / F.count(F.lit(1)).cast("double"), 2).alias(
                "avg_bucket"
            ),
            F.round(
                F.max("c") / (F.sum("c") / F.count(F.lit(1)).cast("double")), 4
            ).alias("skew_ratio"),
        )

    return (
        skew("events", "user_id")
        .unionByName(skew("orders", "o_custkey"))
        .unionByName(skew("lineitem", "l_orderkey"))
    )


@q(
    "analytics_fulfillment_lag",
    """
    WITH lag AS (
      SELECT o.o_orderpriority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS lag_days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT o_orderpriority,
           count(*) AS n_lines,
           round(quantile_cont(lag_days, 0.5), 4) AS p50_days,
           round(quantile_cont(lag_days, 0.9), 4) AS p90_days,
           CAST(max(lag_days) AS BIGINT) AS max_days,
           CAST(count(*) FILTER (lag_days < 0) AS BIGINT) AS n_negative
    FROM lag GROUP BY 1
    """,
)
def analytics_fulfillment_lag(spark, sf_dir):
    """Order-to-ship fulfillment lag percentiles per priority class, plus
    the impossible-negative-lag count (data-quality tripwire).  Integer
    day differences make the exact percentiles engine-identical; one
    fact join against the order dim and one aggregate."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    lag = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority", lag.alias("lag_days")
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.percentile("lag_days", F.lit(0.5)), 4).alias("p50_days"),
        F.round(F.percentile("lag_days", F.lit(0.9)), 4).alias("p90_days"),
        F.max("lag_days").cast("bigint").alias("max_days"),
        F.sum((F.col("lag_days") < 0).cast("bigint")).alias("n_negative"),
    )


@q(
    "profiling_benford_digits",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    counts AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
               FROM d GROUP BY digit),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
    SELECT digit, n,
           round(CAST(n AS DOUBLE) / total, 6) AS observed,
           round(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS benford,
           round(CAST(n AS DOUBLE) / total
                 - ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS deviation
    FROM counts, tot
    """,
)
def profiling_benford_digits_q(spark, sf_dir):
    """Benford first-digit screen over order totals — the classic
    fabricated-data / wrong-units tripwire for ingested numeric columns:
    observed first-significant-digit frequencies next to the Benford
    expectation log10(1 + 1/d), deviations in-result.  Leading digit
    extracted from the integer-cents rendering (engine-identical, no
    float formatting); one 9-row aggregate, whole-stage codegen
    throughout.  TPC-H prices are range-uniform, NOT Benford — the
    deviations are the signal demonstrated, not noise."""
    o = read_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    d = o.filter(F.col("o_totalprice") > 0).select(
        F.substring(cents.cast("string"), 1, 1).cast("bigint").alias("digit")
    )
    counts = d.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = counts.agg(F.sum("n").cast("bigint").alias("total"))
    benford = F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(F.lit(10.0))
    return counts.crossJoin(F.broadcast(tot)).select(
        "digit", "n",
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("observed"),
        F.round(benford, 6).alias("benford"),
        F.round(
            F.col("n").cast("double") / F.col("total") - benford, 6
        ).alias("deviation"),
    )


@q(
    "profiling_quantiles_distributed",
    """
    WITH cells AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1
    ),
    c AS (
      SELECT cents, n,
             sum(n) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum
      FROM cells
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cells),
    qs AS (SELECT unnest([2500, 5000, 7500, 9000, 9900]) AS q_bp)
    SELECT q_bp,
           CAST(((t - 1) * q_bp) // 10000 + 1 AS BIGINT) AS target_rank,
           CAST(cents AS BIGINT) AS value_cents
    FROM c, tot, qs
    WHERE cum >= ((t - 1) * q_bp) // 10000 + 1
      AND cum - n < ((t - 1) * q_bp) // 10000 + 1
    """,
)
def profiling_quantiles_distributed_q(spark, sf_dir):
    """Exact p25/p50/p75/p90/p99 of line-item price WITHOUT a global
    sort and WITHOUT Spark's `percentile` aggregate — whose buffer holds
    every distinct value of the group on ONE reducer (the existing
    `percentile_exact` query documents that baseline; this is its
    100 TB-shaped replacement).  Quantile definition is type-1 (lower):
    value at target_rank = (t-1)*q DIV 10000 + 1 — pure integer
    semantics, no interpolation, so both engines agree to the cent.

    Scale shape: one map-side-combinable groupBy to per-distinct-value
    cells (materialized once), then the CDF is the two-phase
    bucketed_prefix_sum over 256 value-range buckets — the rank scan is
    distributed, each task holding ~1/256 of the distinct values; the
    5-row quantile dim broadcasts and the containment filter
    (cum-n < r <= cum) selects exactly one cell per q.  Selection beats
    sorting: total work is one shuffle by value + cell-local arithmetic,
    vs a full range-partition sort for orderBy-then-row_number."""
    from pyspark.sql import Row

    from .operators import sweep

    li = read_table(spark, sf_dir, "lineitem")
    cells = session.materialize(
        li.select(
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents")
        )
        .groupBy("cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # r12: the grand total rides the value-range stats pass (one fewer
    # aggregation branch + broadcast than the ``totals`` path — see
    # value_range_buckets.extra_stats); rank expressions are unchanged
    b = sweep.value_range_buckets(
        cells, "cents", extra_stats={"total_n": F.sum("n").cast("bigint")}
    )
    c = sweep.bucketed_prefix_sum(b, "bk", ["cents"], {"n": "n"})
    qdim = F.broadcast(
        li.sparkSession.createDataFrame(
            [Row(q_bp=q) for q in (2500, 5000, 7500, 9000, 9900)],
            "q_bp bigint",
        )
    )
    r = F.expr("((total_n - 1) * q_bp) DIV 10000") + 1
    return (
        c.crossJoin(qdim)
        .filter(sweep.rank_containment(F.col("cum_n"), F.col("n"), r))
        .select(
            "q_bp",
            r.cast("bigint").alias("target_rank"),
            F.col("cents").cast("bigint").alias("value_cents"),
        )
    )


@q(
    "profiling_quantiles_grouped",
    """
    WITH lag AS (
      SELECT o.o_orderpriority AS prio,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS lag_days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    cells AS (
      SELECT prio, lag_days, CAST(count(*) AS BIGINT) AS n
      FROM lag GROUP BY 1, 2
    ),
    tot AS (SELECT prio, CAST(sum(n) AS BIGINT) AS t FROM cells GROUP BY 1),
    c AS (
      SELECT prio, lag_days, n,
             sum(n) OVER (PARTITION BY prio ORDER BY lag_days
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM cells
    ),
    qs AS (SELECT unnest([5000, 9000]) AS q_bp)
    SELECT c.prio AS prio, q_bp,
           CAST(((t - 1) * q_bp) // 10000 + 1 AS BIGINT) AS target_rank,
           CAST(lag_days AS BIGINT) AS value_days
    FROM c JOIN tot ON tot.prio = c.prio, qs
    WHERE cum >= ((t - 1) * q_bp) // 10000 + 1
      AND cum - n < ((t - 1) * q_bp) // 10000 + 1
    """,
)
def profiling_quantiles_grouped(spark, sf_dir):
    """Exact PER-GROUP p50/p90 of fulfillment lag (days from order to
    ship, per priority class) — the scale-safe twin of
    ``analytics_fulfillment_lag``, whose grouped `percentile` aggregate
    buffers every lag value of a priority class on one reducer (5
    groups => 5 single-task buffers holding ~1/5 of the fact table
    each; fine at sf0.1, the memory wall at 100 TB).

    Same rank-selection spine as ``profiling_quantiles_distributed``,
    now per-group end to end via ``partition_cols``: per-(prio, lag)
    cells (one map-combinable pass off the fact join, checkpointed),
    per-group value-range gridding, the two-phase prefix scan with
    every window partitioned by (prio) or (prio, bk), and the per-group
    total riding along for rank = (t_g - 1)*q DIV 10000 + 1 — type-1
    (lower) quantile semantics, pure integers, both engines agree to
    the day.  Shares ``rank_containment`` so the off-by-one rule cannot
    diverge from the global twin."""
    from pyspark.sql import Row

    from .operators import sweep

    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    lag = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    cells = session.materialize(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_orderpriority").alias("prio"), lag.alias("lag_days"))
        .groupBy("prio", "lag_days")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # r12: the per-group total rides the per-group stats dim
    # (extra_stats) instead of the partitioned-totals join branch
    b = sweep.value_range_buckets(
        cells, "lag_days", partition_cols=["prio"],
        extra_stats={"total_n": F.sum("n").cast("bigint")},
    )
    c = sweep.bucketed_prefix_sum(
        b, "bk", ["lag_days"], {"n": "n"}, partition_cols=["prio"]
    )
    qdim = F.broadcast(
        li.sparkSession.createDataFrame(
            [Row(q_bp=q) for q in (5000, 9000)], "q_bp bigint"
        )
    )
    r = F.expr("((total_n - 1) * q_bp) DIV 10000") + 1
    return (
        c.crossJoin(qdim)
        .filter(sweep.rank_containment(F.col("cum_n"), F.col("n"), r))
        .select(
            "prio",
            "q_bp",
            r.cast("bigint").alias("target_rank"),
            F.col("lag_days").cast("bigint").alias("value_days"),
        )
    )


@q(
    "profiling_gini_concentration",
    """
    WITH per AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey
    ),
    c AS (
      SELECT o_custkey, cents,
             sum(1) OVER w AS rnk,
             sum(cents) OVER w AS cum_cents
      FROM per
      WINDOW w AS (ORDER BY cents, o_custkey ROWS UNBOUNDED PRECEDING)
    ),
    tot AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(cents) AS HUGEINT) AS sx,
             CAST(sum(CAST(rnk AS HUGEINT) * cents) AS HUGEINT) AS srx
      FROM c
    ),
    deciles AS (SELECT unnest([1,2,3,4,5,6,7,8,9,10]) AS decile)
    SELECT decile,
           CAST(rnk AS BIGINT) AS cum_units,
           CAST((cum_cents * 10000) // sx AS BIGINT) AS cum_share_bp,
           CAST((CAST(2 AS HUGEINT) * srx * 10000 - (n + 1) * sx * 10000)
                // (n * sx) AS BIGINT) AS gini_bp
    FROM c, tot, deciles
    WHERE rnk = (n * decile) // 10
    """,
)
def profiling_gini_concentration_q(spark, sf_dir):
    """Lorenz curve + Gini coefficient of revenue concentration across
    customers — the corpus-curation audit shape ("what fraction of the
    mass sits in the bottom d/10 of units") applied to the orders spine;
    the same query over (domain, tokens) is how a training-data recipe
    detects that 10% of domains own 90% of the corpus.  One row per
    decile of the UNIT distribution: cum_share_bp is the exact Lorenz
    ordinate floor(cum_mass*10000/total_mass) at rank n*d DIV 10, and
    gini_bp = floor((2*sum(rank*x) - (n+1)*sum(x))*10000 / (n*sum(x)))
    — the discrete (population) Gini, constant across the ten rows.
    Everything integer: HUGEINT/DECIMAL(38,0) sums (sum(rank*x) passes
    1e18 at ~sf1), floor division on both engines.

    Scale shape: one groupBy to per-customer totals (checkpointed — the
    same one-data-pass discipline as the rank-sum), then rank and
    cumulative mass come from the two-phase bucketed_prefix_sum over
    256 value-range buckets; the decile dim broadcasts and the
    rank-containment filter selects exactly ten rows.  No global-order
    window over data anywhere."""
    from .operators import sweep

    o = read_table(spark, sf_dir, "orders")
    per = session.materialize(
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint").alias("cents")
        )
    )
    b = sweep.value_range_buckets(per, "cents")
    # the prefix-sum relation feeds BOTH the (n, sx, srx) totals
    # aggregate and the decile-containment filter; without
    # materialization the post-cells window pipeline executes twice
    # (two ~1.9 s jobs measured at sf0.1).  Same discipline as the
    # spine's own cells checkpoint (r12).
    c = session.materialize(
        sweep.bucketed_prefix_sum(
            b, "bk", ["cents", "o_custkey"], {"one": F.lit(1).cast("bigint"),
                                              "cents": "cents"}
        )
    )
    tot = c.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("sx"),
        F.sum(
            F.col("cum_one").cast("decimal(19,0)")
            * F.col("cents").cast("decimal(19,0)")
        ).cast("decimal(38,0)").alias("srx"),
    )
    from pyspark.sql import Row

    ddim = F.broadcast(
        o.sparkSession.createDataFrame(
            [Row(decile=d) for d in range(1, 11)], "decile bigint"
        )
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .crossJoin(ddim)
        .filter(F.col("cum_one") == F.expr("(n * decile) DIV 10"))
        .select(
            "decile",
            F.col("cum_one").cast("bigint").alias("cum_units"),
            F.expr("(CAST(cum_cents AS DECIMAL(38,0)) * 10000) DIV sx")
            .cast("bigint").alias("cum_share_bp"),
            F.expr(
                "(2 * srx * 10000 - (n + 1) * sx * 10000) DIV (n * sx)"
            ).cast("bigint").alias("gini_bp"),
        )
    )


@q(
    "profiling_mad_outliers",
    """
    WITH cells AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cells),
    c AS (
      SELECT cents, n,
             sum(n) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum
      FROM cells
    ),
    med AS (
      SELECT cents AS med FROM c, tot
      WHERE cum >= (t - 1) // 2 + 1 AND cum - n < (t - 1) // 2 + 1
    ),
    dcells AS (
      SELECT abs(cents - med) AS dev, CAST(sum(n) AS BIGINT) AS n
      FROM cells, med GROUP BY 1
    ),
    dc AS (
      SELECT dev, n,
             sum(n) OVER (ORDER BY dev ROWS UNBOUNDED PRECEDING) AS cum
      FROM dcells
    ),
    mad AS (
      SELECT dev AS mad FROM dc, tot
      WHERE cum >= (t - 1) // 2 + 1 AND cum - n < (t - 1) // 2 + 1
    ),
    outl AS (
      SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_out
      FROM cells, med, mad WHERE abs(cents - med) > 3 * mad
    )
    SELECT CAST(med AS BIGINT) AS med_cents,
           CAST(mad AS BIGINT) AS mad_cents,
           CAST(t AS BIGINT) AS n_total,
           n_out AS n_outliers,
           CAST((n_out * 10000) // t AS BIGINT) AS outlier_share_bp
    FROM med, mad, tot, outl
    """,
)
def profiling_mad_outliers_q(spark, sf_dir):
    """Robust outlier screen — median/MAD instead of mean/stddev, the
    screen a curation pipeline wants when the column itself is dirty
    (mean and stddev are unbounded-influence statistics: ONE corrupt
    1e15 row drags the z-score gate open, while the median moves one
    rank and the MAD not at all).  Emits one row: exact median, exact
    MAD (both type-1 lower quantiles, the same integer rank rule as
    ``profiling_quantiles_distributed``), and the count/share of rows
    with |x - med| > 3*MAD — all integer arithmetic end to end.
    Relationship to ``analytics_mad_outliers``: that query is the
    small-data baseline (per-segment medians via Spark's `percentile`
    aggregate, whose buffer holds every value of a group on ONE
    reducer); this is its 100 TB-shaped replacement — exactly the
    `percentile_exact` → `profiling_quantiles_distributed` pairing.

    Scale shape: the quantile spine COMPOSED TWICE.  Pass 1 selects the
    median by rank over the bucketed CDF of per-distinct-value cells
    (one data pass, checkpointed); pass 2 re-aggregates those SAME
    cells to |x-med| deviation cells (cell-bounded, never a second data
    scan — the 1-row median broadcasts) and rank-selects their median
    the same way.  The outlier count is an aggregate over the SAME
    deviation cells (|x-med| > 3*MAD ⇔ dev > 3*MAD — r12: it used to
    be a third pass over the value cells).  No global sort, no
    single-reducer percentile buffer, nothing libm.

    r12 optimization (guide §2.3/§2.4 — fewer passes, fewer duplicate
    subtrees; measured 39 jobs → ~13, cold 22.7 s → see
    OPTIMIZATION_r12.md): the grand total rides the value-range stats
    pass (``extra_stats``) instead of a ``totals`` re-aggregation
    branch; the median and total ride the deviation cells as constant
    columns, so the median subtree executes exactly once (it used to
    re-execute inside the outlier count AND the final assembly); the
    outlier count folds into the final aggregate over deviation cells,
    consuming the 1-row MAD selection once."""
    from .operators import sweep

    li = read_table(spark, sf_dir, "lineitem")
    cells = session.materialize(
        li.select(
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents")
        )
        .groupBy("cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # pass 1: type-1 lower median by rank selection over the bucketed
    # CDF; rank r = (t-1) DIV 2 + 1 (sweep.rank_containment — the ONE
    # copy of the rank rule), with t riding the stats pass
    b = sweep.value_range_buckets(
        cells, "cents", extra_stats={"n_total": F.sum("n").cast("bigint")}
    )
    c = sweep.bucketed_prefix_sum(b, "bk", ["cents"], {"n": "n"})
    r = F.expr("(n_total - 1) DIV 2") + 1
    med = c.filter(sweep.rank_containment(F.col("cum_n"), F.col("n"), r)).select(
        F.col("cents").alias("med"), "n_total"
    )
    # deviation cells CARRY (med, n_total) as constant columns — the
    # 1-row median subtree above is consumed exactly here, once
    dcells = session.materialize(
        cells.crossJoin(F.broadcast(med))
        .groupBy(
            F.abs(F.col("cents") - F.col("med")).alias("dev"), "med", "n_total"
        )
        .agg(F.sum("n").cast("bigint").alias("n"))
    )
    # pass 2: median of deviations = MAD, same rank rule, rank from the
    # carried n_total (no re-aggregation anywhere)
    b2 = sweep.value_range_buckets(dcells, "dev")
    c2 = sweep.bucketed_prefix_sum(b2, "bk", ["dev"], {"n": "n"})
    r2 = F.expr("(n_total - 1) DIV 2") + 1
    madrow = c2.filter(
        sweep.rank_containment(F.col("cum_n"), F.col("n"), r2)
    ).select(F.col("dev").alias("mad"))
    # outlier count + final assembly in ONE aggregate over the deviation
    # cells: grouping on the constant (med, n_total) columns yields the
    # single output row without re-deriving either selection subtree
    return (
        dcells.crossJoin(F.broadcast(madrow))
        .groupBy("med", "mad", "n_total")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("dev") > 3 * F.col("mad"), F.col("n"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_outliers")
        )
        .select(
            F.col("med").cast("bigint").alias("med_cents"),
            F.col("mad").cast("bigint").alias("mad_cents"),
            "n_total",
            "n_outliers",
            F.expr("(n_outliers * 10000) DIV n_total")
            .cast("bigint")
            .alias("outlier_share_bp"),
        )
    )
