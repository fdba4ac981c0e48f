"""Selective decode (zone-map chunk pruning) tests."""

import pytest
from pyspark.sql import functions as F

from pandora_apache_avro_idl_to_apache_parquet_spark.operators.decode import lookup_docs
from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
    encode_tokens,
    read_manifest,
)
from pandora_apache_avro_idl_to_apache_parquet_spark.sources.tokens import synthesize_tokens


@pytest.fixture(scope="module")
def encoded(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("lk"))
    df = synthesize_tokens(spark, 2000, seed=42).cache()
    encode_tokens(df, out, n_parts=16)
    return out, df


def test_lookup_returns_exact_rows(spark, encoded):
    out, df = encoded
    want = [r["doc_id"] for r in df.orderBy("doc_id").limit(5).collect()]
    got = lookup_docs(spark, out, want).collect()
    assert sorted(r["doc_id"] for r in got) == sorted(want)
    src = {r["doc_id"]: r["tokens"] for r in df.filter(F.col("doc_id").isin(want)).collect()}
    for r in got:
        assert r["tokens"] == src[r["doc_id"]]


def test_lookup_prunes_chunks(spark, encoded):
    out, df = encoded
    m = read_manifest(spark, out)
    n_chunks = m.count()
    one = df.orderBy("doc_id").limit(1).collect()[0]["doc_id"]
    surviving = m.filter(
        (F.lit(one) >= F.col("doc_id_min")) & (F.lit(one) <= F.col("doc_id_max"))
    ).count()
    assert surviving < n_chunks, "zone map pruned nothing"
    assert lookup_docs(spark, out, [one]).count() == 1


def test_lookup_missing_doc_is_empty(spark, encoded):
    out, _ = encoded
    assert lookup_docs(spark, out, ["zzz-does-not-exist"]).count() == 0


# ------------------------------------------- driver-side lookup (no job)


def test_lookup_runs_no_spark_job(spark, encoded):
    out, df = encoded
    want = [r["doc_id"] for r in df.orderBy("doc_id").limit(3).collect()]
    sc = spark.sparkContext
    sc.setJobGroup("lookup-no-job", "lookup_docs must not start a job")
    try:
        got = lookup_docs(spark, out, want).collect()
        jobs = list(sc.statusTracker().getJobIdsForGroup("lookup-no-job"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sorted(r["doc_id"] for r in got) == sorted(want)
    assert jobs == []


@pytest.fixture(scope="module")
def small_chunks(spark, tmp_path_factory):
    """4 files of ~5 chunks each; three doc_ids are also stored as separate
    rows under a second source."""
    out = str(tmp_path_factory.mktemp("lk_small"))
    src = synthesize_tokens(spark, 600, seed=7)
    dups = src.orderBy("doc_id").limit(3).withColumn("source", F.lit("dup-src"))
    df = src.unionByName(dups).cache()
    encode_tokens(df, out, n_parts=4, chunk_rows=32)
    return out, df


def _rows(rows):
    return sorted((r["doc_id"], r["source"], list(r["tokens"]), r["n_tok"]) for r in rows)


def test_lookup_hits_several_chunks_and_files(spark, small_chunks):
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
        with_part_id,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.schema import TOKENS_SCHEMA

    out, df = small_chunks
    ids = [r["doc_id"] for r in df.select("doc_id").distinct().orderBy("doc_id").collect()]
    want = ids[5::41]
    expect = df.filter(F.col("doc_id").isin(want))
    m = read_manifest(spark, out)
    hit_chunks = (with_part_id(expect, 4).alias("e")
                  .join(m.alias("m"), "part_id")
                  .filter(F.col("e.doc_id").between(F.col("m.doc_id_min"),
                                                    F.col("m.doc_id_max")))
                  .select("part_id", "chunk_seq").distinct().collect())
    assert len(hit_chunks) >= 5 and len({r["part_id"] for r in hit_chunks}) >= 2
    got = lookup_docs(spark, out, want)
    assert got.schema == TOKENS_SCHEMA
    assert _rows(got.collect()) == _rows(expect.collect())


def test_lookup_returns_every_source_of_a_doc_id(spark, small_chunks):
    out, df = small_chunks
    one = df.filter(F.col("source") == "dup-src").first()["doc_id"]
    got = lookup_docs(spark, out, [one, one]).collect()
    assert len(got) == 2 and {r["source"] for r in got} >= {"dup-src"}
    assert _rows(got) == _rows(df.filter(F.col("doc_id") == one).collect())


def test_lookup_ignores_uncommitted_orphan_file(spark, small_chunks, tmp_path):
    import os
    import shutil

    import pyarrow.parquet as pq

    out, df = small_chunks
    store = str(tmp_path / "s")
    shutil.copytree(out, store)
    data = os.path.join(store, "data")
    live = sorted(f for f in os.listdir(data) if f.endswith(".parquet"))
    # a published-but-never-committed copy of a live file (a crashed or
    # losing writer's leftover) holds the same doc_ids
    orphan = os.path.join(data, "part-09999.parquet")
    shutil.copy(os.path.join(data, live[0]), orphan)
    one = pq.read_table(orphan, columns=["doc_id_min"]).column(0)[0].as_py()
    got = lookup_docs(spark, store, [one]).collect()
    assert _rows(got) == _rows(df.filter(F.col("doc_id") == one).collect())
    # without the log the listing governs, and the orphan's copy shows up
    shutil.rmtree(os.path.join(store, "_log"))
    assert len(lookup_docs(spark, store, [one]).collect()) > len(got)


def test_lookup_without_log_lists_data_dir(spark, small_chunks, tmp_path):
    import os
    import shutil

    out, df = small_chunks
    store = str(tmp_path / "s")
    shutil.copytree(out, store)
    shutil.rmtree(os.path.join(store, "_log"))
    want = [r["doc_id"] for r in df.orderBy(F.desc("doc_id")).limit(4).collect()]
    got = lookup_docs(spark, store, want).collect()
    assert _rows(got) == _rows(df.filter(F.col("doc_id").isin(want)).collect())


def test_lookup_on_empty_store(spark, tmp_path):
    from pandora_apache_avro_idl_to_apache_parquet_spark.schema import TOKENS_SCHEMA

    out = str(tmp_path / "empty")
    encode_tokens(synthesize_tokens(spark, 10, seed=3).limit(0), out, n_parts=4)
    got = lookup_docs(spark, out, ["doc-1"])
    assert got.schema == TOKENS_SCHEMA
    assert got.count() == 0


# ------------------------------------------------------ per-chunk bloom


@pytest.fixture(scope="module")
def bloom_table(spark, tmp_path_factory):
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        encode_table,
    )

    out = str(tmp_path_factory.mktemp("bloomtab"))
    df = spark.range(20000).select(
        F.col("id").alias("k"),
        (F.col("id") * 7919 % 100000).alias("pk"),
        F.concat(F.lit("u"), (F.col("id") % 5000).cast("string")).alias("user"),
    )
    encode_table(df, out, key_cols=["k"], n_parts=4, chunk_rows=1024,
                 bloom_cols=["pk", "user"])
    return out, df


def test_bloom_lookup_exact_rows_with_pruning(spark, bloom_table):
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        bloom_value_predicate,
        lookup_value,
        read_table_chunks,
    )

    out, df = bloom_table
    probe = 3 * 7919 % 100000
    rows = lookup_value(spark, out, "pk", probe).collect()
    want = sorted(map(tuple, df.filter(F.col("pk") == probe).collect()))
    assert sorted(map(tuple, rows)) == want

    chunks = read_table_chunks(spark, out)
    total = chunks.count()
    surv = chunks.filter(bloom_value_predicate("pk", probe)).count()
    # pk is unsorted: zone maps prune ~nothing, the bloom must (1024 values
    # in 4096 bits -> FP ~15%, so the survivor set stays a small fraction)
    assert total == 20 and surv <= total // 2, (total, surv)


def test_bloom_lookup_absent_value_and_string_column(spark, bloom_table):
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        lookup_value,
    )

    out, df = bloom_table
    assert lookup_value(spark, out, "pk", 99999999).count() == 0
    got = lookup_value(spark, out, "user", "u123").count()
    assert got == df.filter(F.col("user") == "u123").count() == 4


def test_bloom_cols_validation_and_immutability(spark, tmp_path):
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        encode_table,
    )

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 0.5).alias("x")
    )
    with pytest.raises(ValueError, match="bloom column"):
        encode_table(df, str(tmp_path / "a"), key_cols=["k"], n_parts=1,
                     bloom_cols=["x"])  # float: no stable canonicalization
    out = str(tmp_path / "b")
    encode_table(df.select("k"), out, key_cols=["k"], n_parts=1,
                 bloom_cols=["k"])
    with pytest.raises(ValueError, match="immutable"):
        encode_table(df.select("k"), out, key_cols=["k"], n_parts=1,
                     bloom_cols=[], run="r1")
