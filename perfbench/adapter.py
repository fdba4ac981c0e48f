"""The benchmark's only door into the package.

Every call the workloads make into the program goes through a function here,
in the benchmark's own vocabulary, so an API change in the package (for
example folding the token pipeline into ``encode_table``/``decode_table``)
is absorbed in this one file. Partition counts are pinned constants, never
derived from the host's core count, so encoded bytes repeat exactly on any
machine.
"""

from __future__ import annotations

import importlib
import os
import subprocess

PKG = "pandora_apache_avro_idl_to_apache_parquet_spark"

MASTER = "local[4]"
TOKEN_PARTS = 16
TABLE_PARTS = 8
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"


def _mod(name: str):
    return importlib.import_module(f"{PKG}.{name}")


def layer_modules() -> dict:
    """Package module per layer name, with the public functions whose calls
    the traced run records as spans. ``functions.fsio`` is a class; its
    methods are wrapped on the class."""
    enc, dec, tbl = _mod("operators.encode"), _mod("operators.decode"), _mod("operators.table")
    ice, tok = _mod("sources.iceberg"), _mod("sources.tokens")
    return {
        "session": (_mod("session"), ["get_spark"]),
        "sources.iceberg": (ice, ["read_iceberg", "write_iceberg", "current_metadata",
                                  "scan_manifests"]),
        "sources.tokens": (tok, ["synthesize_tokens", "synthesize_tokens_pandas",
                                 "scan_tokens"]),
        "operators.encode": (enc, ["encode_tokens", "write_commit_log", "append_log_entry",
                                   "read_commit_log", "committed_files",
                                   "committed_dv_actions", "read_manifest", "read_chunks",
                                   "checkpoint_stats", "completed_parts",
                                   "read_log_checkpoint", "log_versions"]),
        "operators.decode": (dec, ["decode_tokens", "decode_tokens_attributed",
                                   "decode_values_only", "lookup_docs"]),
        "operators.table": (tbl, ["encode_table", "delete_where", "dv_delete_where",
                                  "update_where", "merge_table", "compact_table",
                                  "lookup_value", "table_stats", "decode_table",
                                  "restore_table", "read_table_spec", "read_table_chunks",
                                  "read_table_manifest", "completed_table_parts",
                                  "load_dv_map"]),
        "plans.cost": (_mod("plans.cost"), ["select_int_codec", "select_typed_codec",
                                            "select_str_codec", "encode_values"]),
        "functions.codecs": (_mod("functions.codecs"),
                             ["encode_int32", "encode_int64", "encode_typed",
                              "encode_strings", "encode_int32_grouped", "decode_int32",
                              "decode_int64", "decode_typed", "decode_strings",
                              "decode_int32_grouped"]),
        "functions.fsio": (_mod("functions.fsio").FsIO,
                           ["listdir", "exists", "isdir", "size", "read_bytes", "read_text",
                            "makedirs", "write_bytes", "publish_bytes", "publish_parquet",
                            "create_exclusive"]),
    }


# ---------------------------------------------------------------- session


def start_session():
    """One ``local[4]`` session with pinned shuffle partitions."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    spark = _mod("session").get_spark(app="perfbench", master=MASTER,
                                      shuffle_partitions=SHUFFLE_PARTITIONS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the JVM, and wait for it (its Python workers
    exit with it)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def stage_metrics(spark) -> list[dict]:
    """Per-stage task metrics from Spark's status store (reachable with the
    UI disabled)."""
    sc = spark.sparkContext
    seq = sc._jsc.sc().statusStore().stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)
    out = []
    for i in range(seq.size()):
        s = seq.apply(i)
        out.append({
            "stage_id": int(s.stageId()),
            "attempt": int(s.attemptId()),
            "tasks": int(s.numTasks()),
            "executor_run_s": s.executorRunTime() / 1e3,
            "executor_cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "shuffle_write_bytes": int(s.shuffleWriteBytes()),
            "spill_bytes": int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
        })
    return out


# ---------------------------------------------------------------- tokens


def stage_token_table(spark, table_dir: str, n_docs: int, seed: int) -> None:
    """Seeded synthetic token table written as an Iceberg v2 table."""
    _mod("sources.iceberg").write_iceberg(synth_token_frame(spark, n_docs, seed), table_dir)


def token_rows(n_docs: int, seed: int):
    """The same rows, generated driver-side (pandas), as the reference the
    decoded output is compared against."""
    return _mod("sources.tokens").synthesize_tokens_pandas(n_docs, seed=seed)


def synth_token_frame(spark, n_docs: int, seed: int):
    """Seeded synthetic token table, generated by 8 Spark partitions."""
    return _mod("sources.tokens").synthesize_tokens(spark, n_docs, seed=seed, parallelism=8)


def scan_iceberg(spark, table_dir: str):
    return _mod("sources.iceberg").read_iceberg(spark, table_dir)


def iceberg_data_files(table_dir: str) -> int:
    return len(_mod("sources.iceberg").scan_manifests(table_dir)["data_files"])


def encode_tokens(df, out_dir: str):
    """Salted-shuffle encode + commit (the production path)."""
    return _mod("operators.encode").encode_tokens(df, out_dir, n_parts=TOKEN_PARTS)


def encode_part_stats(out_dir: str):
    """Per-part checkpoint markers (kernel/write seconds, chunks, bytes)."""
    return _mod("operators.encode").checkpoint_stats(out_dir)


def commit_log(out_dir: str) -> list[dict]:
    return _mod("operators.encode").read_commit_log(out_dir)


def log_versions(out_dir: str) -> list[int]:
    return _mod("operators.encode").log_versions(out_dir)


def live_files(out_dir: str) -> list[str]:
    return _mod("operators.encode").committed_files(out_dir) or []


def token_manifest(spark, out_dir: str):
    """Payload-free manifest rows (codec choice and sizes per stream)."""
    return _mod("operators.encode").read_manifest(spark, out_dir).toPandas()


def decode_tokens(spark, out_dir: str):
    return _mod("operators.decode").decode_tokens(spark, out_dir)


def decode_tokens_attributed(spark, out_dir: str):
    return _mod("operators.decode").decode_tokens_attributed(spark, out_dir)


def decode_values(spark, out_dir: str):
    return _mod("operators.decode").decode_values_only(spark, out_dir)


def lookup_doc(spark, out_dir: str, doc_id: str) -> list:
    return _mod("operators.decode").lookup_docs(spark, out_dir, [doc_id]).collect()


def token_chunks_hit(spark, out_dir: str, doc_id: str) -> int:
    """Chunks whose doc_id zone map admits ``doc_id`` (what a lookup reads)."""
    from pyspark.sql import functions as F

    m = _mod("operators.encode").read_manifest(spark, out_dir)
    return m.filter((F.lit(doc_id) >= F.col("doc_id_min"))
                    & (F.lit(doc_id) <= F.col("doc_id_max"))).count()


# ---------------------------------------------------------------- table store

TABLE_KEYS = ["l_orderkey", "l_linenumber"]


def encode_table(df, out_dir: str):
    return _mod("operators.table").encode_table(df, out_dir, key_cols=TABLE_KEYS,
                                                n_parts=TABLE_PARTS)


def delete_where(spark, out_dir: str, cond) -> dict:
    return _mod("operators.table").delete_where(spark, out_dir, cond)


def dv_delete_where(spark, out_dir: str, cond, cols: list[str]) -> dict:
    return _mod("operators.table").dv_delete_where(spark, out_dir, cond,
                                                   condition_cols=cols)


def update_where(spark, out_dir: str, cond, assignments: dict) -> dict:
    return _mod("operators.table").update_where(spark, out_dir, cond, assignments)


def merge_table(spark, out_dir: str, source_df) -> dict:
    return _mod("operators.table").merge_table(spark, out_dir, source_df)


def compact_table(out_dir: str) -> dict:
    return _mod("operators.table").compact_table(out_dir)


def restore_table(out_dir: str, version: int) -> dict:
    return _mod("operators.table").restore_table(out_dir, version)


def lookup_value(spark, out_dir: str, column: str, value) -> list:
    return _mod("operators.table").lookup_value(spark, out_dir, column, value).collect()


def table_row_count(spark, out_dir: str) -> int:
    """Row count from ``table_stats`` (zone maps alone, no payload read)."""
    rows = _mod("operators.table").table_stats(spark, out_dir, columns=["l_orderkey"]).collect()
    return int(rows[0]["n_rows"] or 0) if rows else 0


def decode_table(spark, out_dir: str, columns: list[str] | None = None):
    return _mod("operators.table").decode_table(spark, out_dir, columns=columns)


def table_manifest(spark, out_dir: str):
    return _mod("operators.table").read_table_manifest(spark, out_dir).toPandas()


def table_dv_rows(out_dir: str) -> int:
    enc, tbl = _mod("operators.encode"), _mod("operators.table")
    io = _mod("functions.fsio").FsIO.resolve(out_dir)
    dvm = tbl.load_dv_map(io, enc.committed_dv_actions(out_dir, io))
    return int(sum(len(p) for p in dvm.values()))


# ---------------------------------------------------------------- codecs / cost


def codecs():
    return _mod("functions.codecs")


def cost():
    return _mod("plans.cost")
