"""Date-partitioned encode (encode_table(pds_col=...)): the reference's
partitionColumns=["pj_pds"] contract — per-file partition dates in the commit
log, per-chunk pds zone column, and Hive/Delta-style date pruning."""

import json
from datetime import date

import pytest
from pyspark.sql import functions as F

from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
    read_commit_log,
)
from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
    decode_table,
    encode_table,
    read_table_chunks,
)


@pytest.fixture(scope="module")
def tbl(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pds") / "tbl")
    df = spark.range(3000).select(
        F.col("id").alias("k"),
        F.expr("date_add(date'2024-03-01', cast(id % 3 as int))").alias("day"),
        (F.col("id") * 0.5).alias("v"),
    )
    encode_table(df, out, key_cols=["k"], n_parts=2, chunk_rows=256,
                 pds_col="day")
    return out, df


def test_round_trip_and_per_file_partition_values(spark, tbl):
    out, df = tbl
    assert sorted(map(tuple, decode_table(spark, out).collect())) == sorted(
        map(tuple, df.collect())
    )
    adds = [e["add"] for e in read_commit_log(out) if "add" in e]
    assert len(adds) == 3 * 2  # 3 dates x 2 parts per date
    by_date = {}
    for a in adds:
        by_date.setdefault(a["partitionValues"]["pds"], []).append(a["path"])
    assert sorted(by_date) == ["2024-03-01", "2024-03-02", "2024-03-03"]
    assert all(len(v) == 2 for v in by_date.values())


def test_date_pruning_via_pds_zone_column(spark, tbl):
    out, df = tbl
    chunks = read_table_chunks(spark, out)
    one_day = chunks.filter(F.col("pds") == F.lit(date(2024, 3, 2)))
    assert 0 < one_day.count() < chunks.count()
    # the three dates partition the chunk set exactly (chunk counts per date
    # vary with salt skew, but nothing falls outside the three dates)
    per_date = sum(
        chunks.filter(F.col("pds") == F.lit(date(2024, 3, d))).count()
        for d in (1, 2, 3)
    )
    assert per_date == chunks.count()
    got = (
        decode_table(spark, out,
                     chunk_filter=F.col("pds") == F.lit(date(2024, 3, 2)))
        .count()
    )
    assert got == df.filter(F.col("day") == F.lit(date(2024, 3, 2))).count()


def test_pds_col_validation(spark, tmp_path):
    df = spark.range(10).select(
        F.col("id").alias("k"), F.col("id").alias("notdate")
    )
    with pytest.raises(ValueError):
        encode_table(df, str(tmp_path / "x"), key_cols=["k"], pds_col="notdate")
    df2 = spark.range(10).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 5, F.lit(date(2024, 1, 1))).alias("day"),
    )
    with pytest.raises(ValueError):
        encode_table(df2, str(tmp_path / "y"), key_cols=["k"], pds_col="day")


def test_dml_preserves_per_file_partition_dates(spark, tmp_path):
    """DELETE/UPDATE/MERGE on a date-partitioned table must keep each
    rewritten file's OWN pds — otherwise date pruning silently drops the
    rewritten rows (the bug this test pins)."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        delete_where,
        merge_table,
        update_where,
    )

    out = str(tmp_path / "tbl")
    df = spark.range(3000).select(
        F.col("id").alias("k"),
        F.expr("date_add(date'2024-03-01', cast(id % 3 as int))").alias("day"),
        (F.col("id") % 10).cast("int").alias("g"),
    )
    encode_table(df, out, key_cols=["k"], n_parts=1, chunk_rows=256,
                 pds_col="day")
    delete_where(spark, out, F.col("g") == 7, condition_cols=["g"])
    update_where(spark, out, F.col("g") == 2, {"g": F.lit(99)},
                 condition_cols=["g"])
    upd = df.filter("k < 30").withColumn("g", F.lit(55).cast("int"))
    merge_table(spark, out, upd)

    # THE invariant: a pds-pruned read equals the unpruned read's same-day
    # slice — through delete (CoW rewrite), update (CoW rewrite) and merge
    # (rewrites keep their file's date; inserts route by the persisted
    # pds_col into per-date files)
    pred = F.col("pds") == F.lit(date(2024, 3, 2))
    got = decode_table(spark, out, chunk_filter=pred).filter(
        "day = date'2024-03-02'"
    )
    full = decode_table(spark, out).filter("day = date'2024-03-02'")
    assert got.count() == full.count() > 0
    # sanity on the merge content itself: upserted keys present with g=55
    # (including keys the earlier delete removed — merge re-inserts them)
    dec = decode_table(spark, out)
    assert dec.filter("g = 55").count() == 30
    assert dec.count() == df.filter("g <> 7 or k < 30").count()


def test_recluster_refuses_date_partitioned_tables(spark, tmp_path):
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        recluster_table,
    )

    out = str(tmp_path / "tbl")
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.expr("date_add(date'2024-03-01', cast(id % 2 as int))").alias("day"),
        (F.col("id") % 5).cast("long").alias("v"),
    )
    encode_table(df, out, key_cols=["k"], n_parts=1, chunk_rows=256,
                 pds_col="day")
    with pytest.raises(ValueError, match="date-partitioned"):
        recluster_table(spark, out, ["v"])


def test_datasource_sink_rejects_pds_table(spark, tmp_path):
    """The pandora_table sinks stamp a fixed pds; appending through them
    into a date-partitioned table would silently break pruning — reject."""
    import pytest
    from pyspark.sql import functions as F

    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        encode_table,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.sources.table_source import (
        register_table_datasource,
    )

    register_table_datasource(spark)
    out = str(tmp_path / "pds_tbl")
    df = spark.range(0, 100).select(
        F.col("id"),
        F.expr("date_add(date'2026-01-01', cast(id % 3 as int))").alias("d"),
    )
    encode_table(df, out, key_cols=["id"], pds_col="d", n_parts=2)
    with pytest.raises(Exception, match="date-partitioned"):
        (df.write.format("pandora_table").mode("append").save(out))


def test_cow_delete_after_clean_checkpoint_keeps_file_date(spark, tmp_path):
    """A clean checkpoint leaves the add records only in the checkpoint; a
    CoW rewrite must still find its file's partition date there. Restamping
    the run default instead makes pds-pruned reads drop the rewritten rows."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
        checkpoint_log,
        committed_files,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        delete_where,
    )

    out = str(tmp_path / "tbl")
    df = spark.range(3000).select(
        F.col("id").alias("k"),
        F.expr("date_add(date'2024-03-01', cast(id % 3 as int))").alias("day"),
    )
    encode_table(df, out, key_cols=["k"], n_parts=2, chunk_rows=256,
                 pds_col="day")
    checkpoint_log(out, clean=True)
    before = set(committed_files(out))
    res = delete_where(spark, out, F.col("k") == 1, condition_cols=["k"])
    assert res["rows_deleted"] == 1
    rewritten = [e["add"] for e in read_commit_log(out)
                 if "add" in e and e["add"]["path"] not in before]
    assert rewritten
    assert {a["partitionValues"]["pds"] for a in rewritten} == {"2024-03-02"}
    pruned = decode_table(
        spark, out, chunk_filter=F.col("pds") == F.lit(date(2024, 3, 2)))
    assert pruned.count() == 999
