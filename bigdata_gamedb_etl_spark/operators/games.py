"""The reference's full games workload as a reusable library.

Every Task-1/Task-2/stage-3 analysis from the reference
(SURVEY.md §2.4 A1-A16) as a function over a games DataFrame (schema
`functions.cleaning.GAMES_SCHEMA`).  The reference runs these as one
linear script with collect()+matplotlib at the end; here each returns
a DataFrame and the presentation edge stays outside the engine.

These operate on user-supplied games data (the reference's CSV is not
distributable), so they are exercised by golden fixture tests
(tests/test_games_golden.py) rather than the driver's testdata oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.cleaning import (
    FREE_LABEL,
    in_reference_year_range,
    month_str,
    owners_range,
    price_category,
    with_derived,
    year_str,
)


def _valid_genre_rows(games: DataFrame) -> DataFrame:
    """Exploded one-row-per-genre view (reference: spark_eda.py:70-75;
    double-counting across genres is a feature of these semantics)."""
    g = with_derived(games).select(
        "AppID", "Name", "revenue", "clean_price", "avg_owners",
        F.explode("genres_arr").alias("Genre"),
    )
    return g.where(F.col("Genre").isNotNull() & (F.col("Genre") != ""))


# --- Task 1 -----------------------------------------------------------------
def genre_revenue(games: DataFrame) -> DataFrame:
    """A1: revenue + title count per exploded genre
    (reference: spark_eda.py:70-85)."""
    return (
        _valid_genre_rows(games)
        .groupBy("Genre")
        .agg(
            F.sum("revenue").alias("total_revenue"),
            F.count("*").alias("game_count"),
        )
        .orderBy(F.col("total_revenue").desc())
    )


def developer_metrics(games: DataFrame) -> DataFrame:
    """A2: per-developer revenue/owners/count — grouped on the WHOLE
    cleaned developer string, never comma-split
    (reference: spark_eda.py:97-114)."""
    d = with_derived(games)
    return (
        d.where(F.col("developer").isNotNull() & (F.col("developer") != ""))
        .groupBy("developer")
        .agg(
            F.sum("revenue").alias("total_revenue"),
            F.sum("avg_owners").alias("total_owners"),
            F.count("*").alias("game_count"),
        )
        .orderBy(F.col("total_revenue").desc())
    )


def year_trend(games: DataFrame) -> DataFrame:
    """A3: per-year totals inside the reference's string-compare year
    window (reference: spark_eda.py:124-147)."""
    d = with_derived(games).where(in_reference_year_range(F.col("release_date")))
    return (
        d.groupBy(year_str(F.col("release_date")).cast("int").alias("Year"))
        .agg(
            F.sum("revenue").alias("total_revenue"),
            F.sum("clean_price").alias("total_price"),
            F.count("*").alias("game_count"),
        )
        .withColumn("avg_price", F.col("total_price") / F.col("game_count"))
        .orderBy("Year")
    )


def price_bin_owner_stats(games: DataFrame) -> DataFrame:
    """A4: average owners per price bin; bins order lexicographically
    ("$0-5" < "$10-20" < ... < "$5-10" < "免费") exactly as the
    reference's output does (reference: spark_eda.py:156-177)."""
    d = with_derived(games).where(
        F.col("clean_price").isNotNull() & F.col("avg_owners").isNotNull()
    )
    return (
        d.groupBy(price_category(F.col("clean_price")).alias("price_category"))
        .agg(
            F.avg("avg_owners").alias("avg_owners"),
            F.count("*").alias("game_count"),
        )
        .orderBy("price_category")
    )


def top_developer_top_game(games: DataFrame) -> DataFrame:
    """A5 done idiomatically: the reference finds the top developer,
    then filters and re-sorts for its best game (spark_eda.py:206-224,
    two jobs); one window pass gives every developer's #1 game, then
    top-1 by developer revenue."""
    d = with_derived(games).where(
        F.col("developer").isNotNull() & (F.col("developer") != "")
    )
    w = Window.partitionBy("developer").orderBy(
        F.col("revenue").desc_nulls_last(), F.col("AppID")
    )
    per_dev_top = (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("developer", F.col("Name").alias("top_game"),
                F.col("revenue").alias("top_game_revenue"))
    )
    totals = d.groupBy("developer").agg(F.sum("revenue").alias("dev_revenue"))
    return (
        totals.join(per_dev_top, "developer")
        .orderBy(F.col("dev_revenue").desc_nulls_last(), F.col("developer"))
    )


def multi_genre_stats(games: DataFrame) -> DataFrame:
    """A8: stats grouped by number of genres (reference:
    spark_eda.py:304-318 — `size(split(...))`, conditional on the
    multi-genre `contains(",")` test)."""
    d = with_derived(games).where(
        F.col("Genres").isNotNull() & (F.col("Genres") != "")
    )
    return (
        d.groupBy(F.size("genres_arr").alias("genre_count"))
        .agg(
            F.count("*").alias("game_count"),
            F.avg("revenue").alias("avg_revenue"),
            F.avg("clean_price").alias("avg_price"),
            F.avg("avg_owners").alias("avg_owners"),
        )
        .orderBy("genre_count")
    )


def month_distribution(games: DataFrame) -> DataFrame:
    """A9: releases per string-month — malformed dates keep their raw
    prefix (month "13" is a real output value, not an error;
    reference: spark_eda.py:465-472).  The filter is on the DERIVED
    month, matching the reference: a non-empty date shorter than 6
    chars (e.g. "2020") yields Month='' and is excluded."""
    d = games.where(
        F.col("release_date").isNotNull()
        & (month_str(F.col("release_date")) != "")
    )
    return (
        d.groupBy(month_str(F.col("release_date")).alias("Month"))
        .agg(F.count("*").alias("game_count"))
        .orderBy("Month")
    )


def owners_histogram(games: DataFrame) -> DataFrame:
    """A11: owner-range histogram (reference: spark_eda.py:496-506)."""
    d = games.where(F.col("avg_owners").isNotNull())
    return (
        d.groupBy(owners_range(F.col("avg_owners")).alias("owners_range"))
        .agg(F.count("*").alias("game_count"))
        .orderBy("owners_range")
    )


def genre_combo_revenue(games: DataFrame) -> DataFrame:
    """A12: revenue by the WHOLE genre-combination string, un-exploded
    (reference: spark_eda.py:589-601)."""
    d = with_derived(games).withColumn(
        "genres_clean", F.concat_ws(", ", "genres_arr")
    )
    return (
        d.where(F.col("genres_clean") != "")
        .groupBy("genres_clean")
        .agg(
            F.sum("revenue").alias("total_revenue"),
            F.count("*").alias("game_count"),
        )
        .orderBy(F.col("total_revenue").desc())
    )


def pareto_dev_share(games: DataFrame) -> DataFrame:
    """D1: cumulative revenue share across developers ranked by
    revenue — the reference computes this driver-side over collected
    rows (spark_eda.py:568-578); here it is a window frame."""
    totals = developer_metrics(games).select("developer", "total_revenue")
    order = Window.orderBy(F.col("total_revenue").desc_nulls_last(), F.col("developer"))
    cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return totals.select(
        "developer",
        "total_revenue",
        (F.sum("total_revenue").over(cum) / F.sum("total_revenue").over(Window.partitionBy()))
        .alias("cum_share"),
    ).orderBy(F.col("total_revenue").desc_nulls_last(), F.col("developer"))


# --- Task 2 (SQL surface) ---------------------------------------------------
def genre_price_stats_sql(
    spark: SparkSession, games: DataFrame, min_games: int = 10
) -> DataFrame:
    """A6: SQL genre price stats with HAVING + median
    (reference: spark_eda.py:243-262; PERCENTILE_APPROX there — exact
    `percentile` here, the approx twin remains available in Spark SQL)."""
    _valid_genre_rows(games).createOrReplaceTempView("games_genres_v")
    return spark.sql(
        f"""
        SELECT Genre,
               COUNT(*) AS game_count,
               AVG(clean_price) AS avg_price,
               percentile(clean_price, 0.5) AS median_price,
               MIN(clean_price) AS min_price,
               MAX(clean_price) AS max_price
        FROM games_genres_v
        WHERE Genre IS NOT NULL AND Genre != ''
        GROUP BY Genre
        HAVING COUNT(*) >= {int(min_games)}
        ORDER BY avg_price DESC
        LIMIT 20
        """
    )


def dev_distribution_sql(
    spark: SparkSession, games: DataFrame, min_games: int = 3
) -> DataFrame:
    """A7: SQL developer distribution from a cleanup subquery
    (reference: spark_eda.py:273-292)."""
    with_derived(games).createOrReplaceTempView("games_clean_v")
    return spark.sql(
        f"""
        SELECT developer,
               COUNT(*) AS game_count,
               SUM(revenue) AS total_revenue,
               AVG(revenue) AS avg_revenue
        FROM (
          SELECT developer, revenue FROM games_clean_v
          WHERE developer IS NOT NULL AND developer != ''
        )
        GROUP BY developer
        HAVING COUNT(*) >= {int(min_games)}
        ORDER BY total_revenue DESC
        LIMIT 20
        """
    )


# --- Stage 3 (serving marts) ------------------------------------------------
def game_profile_mart(games: DataFrame) -> DataFrame:
    """Stage-3 `game_profile`: reversed-AppID rowkey point-lookup rows
    (reference: stage3.ipynb:156; anti-hotspot design stage3.md:46-47)."""
    d = with_derived(games)
    return d.select(
        F.reverse(F.col("AppID").cast("string")).alias("row_key"),
        "AppID",
        "Name",
        F.col("developer").alias("info_developer"),
        F.concat_ws(", ", "genres_arr").alias("info_genres"),
        F.col("clean_price").alias("metrics_price"),
        F.col("avg_owners").alias("metrics_owners"),
    )


def dev_analytics_mart(games: DataFrame) -> DataFrame:
    """Stage-3 `dev_analytics`: per-developer KPI summary + inverted
    index (AppID→Name map replaces the HBase wide row —
    reference: stage3.ipynb:160-163,240-245; stage3.md:56-67)."""
    d = with_derived(games).where(
        F.col("developer").isNotNull() & (F.col("developer") != "")
    )
    return (
        d.groupBy("developer")
        .agg(
            F.count("AppID").alias("game_count"),
            F.sum("avg_owners").alias("total_owners"),
            # deliberately NOT the r8 floor-recipe sweep: this module's
            # contract is byte-exact fidelity to the reference's own
            # Spark ROUND(avg) outputs (BASELINE.md goldens), so it
            # keeps the reference's rounding semantics
            F.round(F.avg("clean_price"), 2).alias("avg_price"),
            F.map_from_entries(
                F.sort_array(
                    F.collect_list(F.struct(F.col("AppID").cast("string"), F.col("Name")))
                )
            ).alias("product_list"),
        )
        .withColumn("row_key", F.regexp_replace("developer", " ", "_"))
        .orderBy(F.col("total_owners").desc_nulls_last(), F.col("developer"))
    )


# --- Orchestration ----------------------------------------------------------
def run_reference_workload(spark: SparkSession, games: DataFrame) -> dict[str, DataFrame]:
    """The reference's complete stage-2 + stage-3 run as one call
    (spark_eda.py main + stage3.ipynb cells, minus matplotlib/HBase):
    every analysis as a named, unevaluated DataFrame.  Callers collect/write
    at the presentation edge.

    Figure → input-DataFrame mapping (S9, reference figs/*.png — the
    panels plot exactly these returned DataFrames, so a caller can
    regenerate every figure from this dict):
      task1_rdd_analysis.png (spark_eda.py:335-390): genre_revenue
        (top-10 bar), developer_metrics (top-10 bar), year_trend
        (count+revenue twin axis), price_bin_owner_stats (bin vs
        avg_owners)
      task2_dataframe_sql_analysis.png (spark_eda.py:396-457):
        top_developer_top_game (top dev's hits), genre_price_stats
        (per-genre pricing), dev_distribution (devs by game count),
        multi_genre_stats (multi-genre revenue)
      market_depth_analysis.png (spark_eda.py:523-560):
        month_distribution, price_bin_owner_stats (game_count),
        owners_histogram, game_profile (revenue-vs-price scatter)
      developer_genre_depth_analysis.png (spark_eda.py:624-657):
        pareto_dev_share, genre_combo_revenue (top-10),
        developer_metrics (avg revenue vs count), genre_revenue
        (top-10 share)
      time_series_trend_analysis.png (spark_eda.py:703-739):
        year_trend (count, total revenue, avg price =
        total_price/game_count; the avg-owners panel recomputes the
        same groupBy over with_derived, as the reference does inline)
    """
    return {
        "genre_revenue": genre_revenue(games),
        "developer_metrics": developer_metrics(games),
        "year_trend": year_trend(games),
        "price_bin_owner_stats": price_bin_owner_stats(games),
        "top_developer_top_game": top_developer_top_game(games),
        "multi_genre_stats": multi_genre_stats(games),
        "month_distribution": month_distribution(games),
        "owners_histogram": owners_histogram(games),
        "genre_combo_revenue": genre_combo_revenue(games),
        "pareto_dev_share": pareto_dev_share(games),
        "genre_price_stats": genre_price_stats_sql(spark, games),
        "dev_distribution": dev_distribution_sql(spark, games),
        "game_profile": game_profile_mart(games),
        "dev_analytics": dev_analytics_mart(games),
    }
