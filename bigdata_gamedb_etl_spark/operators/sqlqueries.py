"""SQL-string surface — the reference's Task 2 pattern (SURVEY.md §3.2).

The reference registers a cleaned DataFrame as a temp view and runs SQL
text with GROUP BY / HAVING / ORDER BY / LIMIT and a derived-table
subquery (reference: spark_eda.py:243-292).  The engine keeps this dual
surface: same semantics reachable via DataFrame API and via SQL over
temp views — exactly what the DuckDB oracle exercises.

Views are registered with a per-query suffix so concurrent queries in
one session can't clobber each other's temp views.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import table
from ._rounding import _avg_dec


# --------------------------------------------------------------------------
# A6: SQL stats with HAVING + exact median over an exploded column
# (reference: spark_eda.py:245-259 — genre price stats with
# PERCENTILE_APPROX; exact `percentile` used for oracle parity,
# SURVEY.md §7 risk register)
def sql_word_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "part").createOrReplaceTempView("part_v_a6")
    return spark.sql(
        """
        SELECT word,
               COUNT(*) AS part_count,
               CAST(floor(SUM(CAST(round(p_retailprice * 100.0) AS BIGINT))
                     / 100.0
                     / COUNT(p_retailprice) * 100.0 + 0.5) AS DOUBLE) / 100.0
                 AS avg_price,
               CAST(floor(percentile(p_retailprice, 0.5) * 100.0 + 0.5)
                    AS DOUBLE) / 100.0
                 AS median_price,
               ROUND(MIN(p_retailprice), 2) AS min_price,
               ROUND(MAX(p_retailprice), 2) AS max_price
        FROM (
          SELECT explode(split(p_name, ' ')) AS word, p_retailprice
          FROM part_v_a6
        )
        WHERE word IS NOT NULL AND word <> ''
        GROUP BY word
        HAVING COUNT(*) >= 10
        ORDER BY avg_price DESC, word
        """
    )


SQL_A6_ORACLE = """
SELECT word,
       COUNT(*) AS part_count,
       floor(SUM(CAST(round(p_retailprice * 100.0) AS BIGINT)) / 100.0
             / COUNT(p_retailprice) * 100.0 + 0.5) / 100.0 AS avg_price,
       floor(quantile_cont(p_retailprice, 0.5) * 100.0 + 0.5) / 100.0
         AS median_price,
       ROUND(MIN(p_retailprice), 2) AS min_price,
       ROUND(MAX(p_retailprice), 2) AS max_price
FROM (
  SELECT UNNEST(string_split(p_name, ' ')) AS word, p_retailprice
  FROM part
)
WHERE word IS NOT NULL AND word <> ''
GROUP BY word
HAVING COUNT(*) >= 10
ORDER BY avg_price DESC, word
"""


# --------------------------------------------------------------------------
# A7: SQL with derived-table subquery + HAVING (reference:
# spark_eda.py:273-292 — developer distribution from a cleanup subquery)
def sql_supplier_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v_a7")
    table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_v_a7")
    return spark.sql(
        """
        SELECT s_name,
               COUNT(*) AS item_count,
               CAST(ROUND(SUM(CAST(revenue AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_revenue,
               CAST(floor(CAST(SUM(CAST(revenue AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(revenue) * 100.0 + 0.5) AS DOUBLE) / 100.0 AS avg_revenue
        FROM (
          SELECT trim(s.s_name) AS s_name,
                 l.l_extendedprice * (1 - l.l_discount) AS revenue
          FROM lineitem_v_a7 l
          JOIN supplier_v_a7 s ON l.l_suppkey = s.s_suppkey
          WHERE s.s_name IS NOT NULL AND s.s_name <> ''
        )
        GROUP BY s_name
        HAVING COUNT(*) >= 3
        ORDER BY total_revenue DESC, s_name
        LIMIT 20
        """
    )


SQL_A7_ORACLE = """
SELECT s_name,
       COUNT(*) AS item_count,
       CAST(ROUND(SUM(CAST(revenue AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_revenue,
       floor(CAST(SUM(CAST(revenue AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(revenue) * 100.0 + 0.5) / 100.0 AS avg_revenue
FROM (
  SELECT trim(s.s_name) AS s_name,
         l.l_extendedprice * (1 - l.l_discount) AS revenue
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE s.s_name IS NOT NULL AND s.s_name <> ''
)
GROUP BY s_name
HAVING COUNT(*) >= 3
ORDER BY total_revenue DESC, s_name
LIMIT 20
"""


# --------------------------------------------------------------------------
# JSON extraction over the events props column (semi-structured
# capability; north-star surface — SURVEY.md §2.3 note)
def sql_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "events").createOrReplaceTempView("events_v_json")
    return spark.sql(
        """
        SELECT CAST(get_json_object(props, '$.k') AS INT) AS k,
               COUNT(*) AS event_count,
               ROUND(SUM(value), 2) AS total_value
        FROM events_v_json
        GROUP BY k
        ORDER BY k
        """
    )


SQL_JSON_ORACLE = """
SELECT CAST(props->>'k' AS INTEGER) AS k,
       COUNT(*) AS event_count,
       ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY k
ORDER BY k
"""


# --------------------------------------------------------------------------
# Schema-on-read for semi-structured props: from_json into a typed
# struct (the DataFrame-surface twin of get_json_object).
def sql_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    e = table(spark, sf_dir, "events")
    parsed = e.select(
        F.from_json("props", "k INT").alias("p"), "value"
    )
    return (
        parsed.groupBy((F.col("p.k") % 10).alias("k_mod10"))
        .agg(
            F.count("*").alias("event_count"),
            _avg_dec(F.col("value"), 4).alias("avg_value"),
        )
        .orderBy("k_mod10")
    )


SQL_FROM_JSON_ORACLE = """
SELECT CAST(CAST(props->>'k' AS INTEGER) % 10 AS INTEGER) AS k_mod10,
       COUNT(*) AS event_count,
       floor(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(value) * 10000.0 + 0.5) / 10000.0 AS avg_value
FROM events
GROUP BY k_mod10
ORDER BY k_mod10
"""

def sql_variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured schema-on-read via the VARIANT type (Spark 4):
    parse_json keeps props as a binary-encoded variant — no schema
    declared up front — and variant_get extracts typed paths at query
    time.

    Scale: variant decode is JVM-side and columnar; unlike
    get_json_object the parse happens once per row regardless of how
    many paths are extracted, which is the 100-TB reason the type
    exists.  Oracle: DuckDB JSON path extraction."""
    e = table(spark, sf_dir, "events")
    # try_parse_json: a malformed props row (ingestion reality) becomes
    # a NULL variant instead of a MALFORMED_RECORD throw; the oracle's
    # json_valid() CASE is the same declared semantics (DuckDB's
    # json_extract errors on malformed input rather than yielding NULL).
    k = F.variant_get(F.try_parse_json("props"), "$.k", "int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            _avg_dec(F.col("k"), 4).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


SQL_VARIANT_ORACLE = """
WITH src AS (
  SELECT event_type,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN CAST(json_extract_string(props, '$.k') AS INTEGER)
         END AS k
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_events,
       floor(CAST(SUM(CAST(k AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(k)
             * 10000.0 + 0.5) / 10000.0 AS avg_k,
       MIN(k) AS min_k,
       MAX(k) AS max_k
FROM src
GROUP BY event_type
ORDER BY event_type
"""


# --------------------------------------------------------------------------
def sql_window_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed analytics through the pure-SQL entry point (SURVEY §3.2):
    per-nation supplier revenue ranks + nation share, top-2 per nation
    with dense_rank ties kept.  Same Catalyst plan space as the
    DataFrame window family (w1-w12) — registered to prove the SQL
    surface carries the full window feature set (OVER, PARTITION BY,
    dense_rank, ratio-to-report) at oracle parity too."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v_sqlw")
    table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_v_sqlw")
    table(spark, sf_dir, "nation").createOrReplaceTempView("nation_v_sqlw")
    return spark.sql(
        """
        WITH rev AS (
          SELECT n.n_name,
                 s.s_name,
                 CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                                     AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
          FROM lineitem_v_sqlw l
          JOIN supplier_v_sqlw s ON l.l_suppkey = s.s_suppkey
          JOIN nation_v_sqlw n ON s.s_nationkey = n.n_nationkey
          GROUP BY n.n_name, s.s_name
        ),
        ranked AS (
          SELECT n_name, s_name, revenue,
                 DENSE_RANK() OVER (PARTITION BY n_name
                                    ORDER BY revenue DESC) AS rnk,
                 CAST(floor(revenue * 100.0 / CAST(SUM(CAST(revenue AS DECIMAL(18,6)))
                       OVER (PARTITION BY n_name) AS DOUBLE)
                       * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS nation_share_pct
          FROM rev
        )
        SELECT n_name, s_name, revenue, rnk, nation_share_pct
        FROM ranked
        WHERE rnk <= 2
        ORDER BY n_name, rnk, s_name
        """
    )


SQL_TOP_SUPPLIERS_ORACLE = """
WITH rev AS (
  SELECT n.n_name,
         s.s_name,
         CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_name, s.s_name
),
ranked AS (
  SELECT n_name, s_name, revenue,
         DENSE_RANK() OVER (PARTITION BY n_name
                            ORDER BY revenue DESC) AS rnk,
         floor(revenue * 100.0 / CAST(SUM(CAST(revenue AS DECIMAL(18,6)))
               OVER (PARTITION BY n_name) AS DOUBLE)
               * 10000.0 + 0.5) / 10000.0 AS nation_share_pct
  FROM rev
)
SELECT n_name, s_name, revenue, rnk, nation_share_pct
FROM ranked
WHERE rnk <= 2
ORDER BY n_name, rnk, s_name
"""


QUERIES = {
    "sql_word_price_stats": sql_word_price_stats,
    "sql_supplier_distribution": sql_supplier_distribution,
    "sql_json_props_stats": sql_json_props_stats,
    "sql_from_json_struct": sql_from_json_struct,
    "sql_variant_props_stats": sql_variant_props_stats,
    "sql_window_top_suppliers": sql_window_top_suppliers,
}

ORACLE = {
    "sql_word_price_stats": SQL_A6_ORACLE,
    "sql_supplier_distribution": SQL_A7_ORACLE,
    "sql_json_props_stats": SQL_JSON_ORACLE,
    "sql_from_json_struct": SQL_FROM_JSON_ORACLE,
    "sql_variant_props_stats": SQL_VARIANT_ORACLE,
    "sql_window_top_suppliers": SQL_TOP_SUPPLIERS_ORACLE,
}
