"""Source/sink round-trips: CSV with embedded quotes (the reference's
escape='\"' case — spark_eda.py:42), JSON, partitioned parquet with
partition pruning, and the stage-3 mart pipeline end-to-end; plus the
catalog's declared-schema reads (no inference job, no schema drift,
fail fast on a missing column).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bigdata_gamedb_etl_spark import plans
from bigdata_gamedb_etl_spark.functions.cleaning import GAMES_SCHEMA
from bigdata_gamedb_etl_spark.operators.marts import build_marts
from bigdata_gamedb_etl_spark.sources.catalog import (
    TABLE_NAMES,
    TABLE_SCHEMAS,
    read_csv,
    read_events,
    read_json,
    table,
    write_parquet,
)


def test_catalog_reads_start_no_spark_job(spark, sf_dir):
    # Every table is read with its declared schema, so building the
    # DataFrames runs no schema-inference job.
    sc = spark.sparkContext
    group = "catalog-declared-schema-reads"
    sc.setJobGroup(group, group)
    try:
        dfs = [table(spark, sf_dir, n) for n in TABLE_NAMES]
        dfs.append(read_events(spark, os.path.join(sf_dir, "events.parquet")))
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        # control: an action under the same group is counted
        dfs[0].count()
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_declared_schemas_match_inferred(spark, sf_dir):
    # Schema-drift guard: the declared schema is exactly what Spark would
    # infer from the files (names, types, nullability, column order).
    def fields(schema):
        return [(f.name, f.dataType, f.nullable) for f in schema.fields]

    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    for name in TABLE_NAMES:
        inferred = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
        assert fields(table(spark, sf_dir, name).schema) == fields(inferred), name
        assert fields(TABLE_SCHEMAS[name]) == fields(inferred), name


def test_table_missing_declared_column_fails_fast(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": pa.array([0, 1], pa.int32())}), path)
    with pytest.raises(ValueError, match=r"'region'.*region\.parquet.*\['r_name'\]"):
        table(spark, str(tmp_path), "region")


def test_csv_roundtrip_with_quotes(spark, tmp_path):
    # name with an embedded quote and a comma — the reference's
    # 'Art of War: Red Tides' class of rows (SURVEY.md §5)
    csv = tmp_path / "games.csv"
    csv.write_text(
        "AppID,Name,release_date,clean_price,avg_owners,Developers,Genres\n"
        '1,"Art of ""War"": Red, Tides",2017-01-01,0.0,1000,"\'Dev A\'","\'Action\'"\n'
        "2,Plain,2020-05-05,9.99,5,\"'Dev B'\",\"'Indie'\"\n"
    )
    df = read_csv(spark, str(csv), GAMES_SCHEMA)
    rows = {r["AppID"]: r for r in df.collect()}
    assert rows[1]["Name"] == 'Art of "War": Red, Tides'
    assert rows[2]["clean_price"] == pytest.approx(9.99)  # FloatType column


def test_json_roundtrip(spark, tmp_path):
    j = tmp_path / "games.jsonl"
    j.write_text(
        '{"AppID": 7, "Name": "J", "release_date": "2021-02-03", "clean_price": 1.5,'
        ' "avg_owners": 10, "Developers": "\'D\'", "Genres": "\'Action\'"}\n'
    )
    df = read_json(spark, str(j), GAMES_SCHEMA)
    assert df.count() == 1
    assert df.first()["Name"] == "J"


def test_partitioned_parquet_prunes(spark, sf_dir, tmp_path):
    out = str(tmp_path / "orders_by_year")
    o = table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    write_parquet(o, out, partition_by=["o_year"])
    # physical layout: one directory per year
    years = sorted(d for d in os.listdir(out) if d.startswith("o_year="))
    assert len(years) >= 5

    back = spark.read.parquet(out)
    one_year = back.where(F.col("o_year") == 1997)
    # partition pruning: the scan's partition filter carries o_year
    plan = plans.explain_str(one_year, "formatted")
    assert "PartitionFilters" in plan and "o_year" in plan
    want = o.where(F.col("o_year") == 1997).count()
    assert one_year.count() == want


def test_build_marts_end_to_end(spark, sf_dir, tmp_path):
    out = build_marts(spark, sf_dir, str(tmp_path / "marts"))
    assert set(out) == {"customer_profile", "supplier_summary", "nation_customer_index"}
    profile = spark.read.parquet(out["customer_profile"])
    # scan-back verification replaces the reference's HBase get/scan
    # spot check (stage3.md:107-114)
    n_cust = table(spark, sf_dir, "customer").count()
    assert profile.count() == n_cust
    assert set(profile.columns) == {"row_key", "c_custkey", "c_name", "c_mktsegment", "acctbal"}
    idx = spark.read.parquet(out["nation_customer_index"])
    row = idx.orderBy("n_name").first()
    assert isinstance(row["member_map"], dict) and len(row["member_map"]) >= 1


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    from bigdata_gamedb_etl_spark.sources.catalog import read_orc, write_orc

    nation = table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_orc")
    write_orc(nation, out)
    back = read_orc(spark, out)
    assert back.schema == nation.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))
    # ORC scans push predicates like parquet
    plan = plans.explain_str(back.where(F.col("n_nationkey") == 3), "formatted")
    assert "PushedFilters" in plan and "n_nationkey" in plan


def test_text_source_feeds_textops(spark, sf_dir, tmp_path):
    from bigdata_gamedb_etl_spark.sources.catalog import read_text

    docs = table(spark, sf_dir, "documents").limit(50)
    out = str(tmp_path / "corpus_txt")
    docs.select("text").coalesce(1).write.mode("overwrite").text(out)
    lines = read_text(spark, out)
    assert lines.columns == ["value"]
    assert lines.count() == 50
    # raw lines flow into the same token-stats shape as the documents table
    stats = lines.select(
        F.size(F.split("value", " ")).alias("n_tokens")
    ).agg(F.sum("n_tokens").alias("total"))
    assert stats.first()["total"] > 0


def test_schema_evolution_merge_read(spark, sf_dir, tmp_path):
    """A dataset that gained a column mid-life must read as one table:
    merged schema is the union, pre-evolution rows carry nulls, and
    filters on the new column still push down to the scan."""
    from bigdata_gamedb_etl_spark.sources.catalog import read_evolving

    docs = table(spark, sf_dir, "documents")
    root = tmp_path / "evolving"
    docs.select("doc_id", "lang").write.parquet(str(root / "batch=1"))
    docs.select(
        "doc_id", "lang", F.length("text").alias("quality_len")
    ).write.parquet(str(root / "batch=2"))

    merged = read_evolving(spark, str(root / "batch=1"), str(root / "batch=2"))
    assert set(merged.columns) >= {"doc_id", "lang", "quality_len"}
    n = docs.count()
    assert merged.count() == 2 * n
    # old files surface the new column as null, new files carry values
    assert merged.where(F.col("quality_len").isNull()).count() == n
    assert merged.where(F.col("quality_len").isNotNull()).count() == n
    # predicate on the evolved column still reaches the scan
    plan = plans.explain_str(
        merged.where(F.col("quality_len") > 100), "formatted"
    )
    assert "PushedFilters" in plan and "quality_len" in plan


def test_csv_permissive_quarantines_malformed_rows(spark, tmp_path):
    """read_csv_permissive: well-formed rows parse into the clean
    split; rows that cannot be coerced to the schema land verbatim in
    the corrupt split — neither is silently dropped, and a FAILFAST
    crash never happens."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from bigdata_gamedb_etl_spark.sources.catalog import read_csv_permissive

    p = tmp_path / "feed.csv"
    p.write_text(
        "id,name,score\n"
        "1,alpha,10\n"
        "2,beta,not_a_number\n"   # score fails the int cast
        "3,gamma,30\n"
    )
    schema = StructType(
        [
            StructField("id", IntegerType()),
            StructField("name", StringType()),
            StructField("score", IntegerType()),
        ]
    )
    clean, corrupt = read_csv_permissive(spark, str(p), schema)
    rows = {r["id"]: (r["name"], r["score"]) for r in clean.collect()}
    assert rows == {1: ("alpha", 10), 3: ("gamma", 30)}
    bad = [r["_corrupt_record"] for r in corrupt.collect()]
    assert bad == ["2,beta,not_a_number"]


def test_csv_permissive_token_count_mismatch(spark, tmp_path):
    """Pins the verified PERMISSIVE token-count behavior on this Spark
    build: short (null-padded) AND long (truncated) rows are flagged
    with `_corrupt_record` and reach the corrupt split — a behavior
    older Spark generations did not have, so it must stay pinned, and
    the catalog docstring cites this test.  Also covers the
    `required=` integrity gate quarantining genuinely-null mandatory
    fields on lines that parsed cleanly."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from bigdata_gamedb_etl_spark.sources.catalog import read_csv_permissive

    p = tmp_path / "feed.csv"
    p.write_text(
        "id,name,score\n"
        "1,alpha,10\n"
        "2,beta\n"               # short: score null-padded + flagged
        "3,gamma,30,EXTRA\n"     # long: truncated + flagged
        "4,,20\n"                # clean parse, but name is empty/null
    )
    schema = StructType(
        [
            StructField("id", IntegerType()),
            StructField("name", StringType()),
            StructField("score", IntegerType()),
        ]
    )
    clean, corrupt = read_csv_permissive(spark, str(p), schema)
    assert {r["id"] for r in clean.collect()} == {1, 4}
    quarantined = {r["id"]: r["_corrupt_record"] for r in corrupt.collect()}
    assert quarantined == {2: "2,beta", 3: "3,gamma,30,EXTRA"}

    # required= additionally routes the null-mandatory-field row
    clean2, corrupt2 = read_csv_permissive(
        spark, str(p), schema, required=["name"]
    )
    assert {r["id"] for r in clean2.collect()} == {1}
    assert {r["id"] for r in corrupt2.collect()} == {2, 3, 4}
