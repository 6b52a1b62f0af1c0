"""SQL-text interface: register the test tables as temp views and run ANSI
SQL through ``spark.sql``.

The reference *intended* a SQL surface — ``task1.scala:7-48`` carries a
commented-out SQLContext implementation registering ``Rating``/``User`` case
classes as tables — but shipped only the RDD path. Here the SQL interface is
first-class: the same Catalyst plans serve both the DataFrame API and SQL
text, so every DataFrame query in the engine has a SQL twin for free.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from inf_553_datamining_mapreduce_spark.schemas import TESTDATA_SCHEMAS
from inf_553_datamining_mapreduce_spark.sources.readers import read_parquet_table


def register_views(spark: SparkSession, sf_dir: str, sql: str) -> None:
    """Register the driver tables ``sql`` reads as temp views named after
    the table. A table is read when it is named as a whole word in the text
    (SQL identifiers are case-insensitive); a superset only costs one more
    view, and every table a statement reads is named in it."""
    for name in TESTDATA_SCHEMAS:
        if re.search(rf"\b{name}\b", sql, flags=re.IGNORECASE):
            read_parquet_table(spark, sf_dir, name).createOrReplaceTempView(name)


# Spark-dialect SQL text for headline queries. Mirrors the DataFrame plans;
# the decimal accumulation keeps results bit-identical to the DuckDB oracles
# (Spark's decimal->double cast is correctly rounded, so no VARCHAR detour
# is needed on this side).
SQL_QUERIES: dict[str, str] = {
    "pricing_summary_sql": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,6))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(12,6)) - CAST(l_discount AS DECIMAL(12,6)))) AS DOUBLE) AS sum_disc_price,
               CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,6))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "top_customers_sql": """
        SELECT o_custkey,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS total_spent
        FROM orders
        GROUP BY o_custkey
        HAVING COUNT(*) >= 5
        ORDER BY total_spent DESC, o_custkey
        LIMIT 100
    """,
}


def run_sql(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    sql = SQL_QUERIES[name]
    register_views(spark, sf_dir, sql)
    return spark.sql(sql)
