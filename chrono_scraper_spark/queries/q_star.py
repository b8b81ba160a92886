"""Generic star-schema analytics (TPC-H-ish staples).

Split from entry_queries.py (round 5) — same definitions, same oracles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ._shared import _t


def q_lineitem_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum(dec("l_quantity")).cast("double"), 4)
                 .alias("sum_qty"),
                 F.round(F.sum(dec("l_extendedprice")).cast("double"), 4)
                 .alias("sum_price"),
                 F.round(F.avg(dec("l_discount")).cast("double"), 6)
                 .alias("avg_disc"),
                 F.count(F.lit(1)).alias("n")))

SQL_LINEITEM_ROLLUP = """
SELECT l_returnflag, l_linestatus,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4)
    AS sum_qty,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 4)
    AS sum_price,
  round(CAST(avg(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE), 6)
    AS avg_disc,
  count(*) AS n
FROM lineitem GROUP BY 1, 2"""

def q_top_customers(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = (o.groupBy("o_custkey")
           .agg(F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                        .cast("double"), 4).alias("revenue"),
                F.count(F.lit(1)).alias("n_orders")))
    return (rev.join(F.broadcast(c), rev["o_custkey"] == c["c_custkey"])
            .select(F.col("c_custkey").alias("custkey"), "c_name",
                    "revenue", "n_orders")
            .orderBy(F.desc("revenue"), F.asc("custkey")).limit(10))

SQL_TOP_CUSTOMERS = """
WITH rev AS (
  SELECT o_custkey,
    round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
      AS revenue,
    count(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT c.c_custkey AS custkey, c.c_name, r.revenue, r.n_orders
FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey
ORDER BY revenue DESC, custkey ASC LIMIT 10"""
