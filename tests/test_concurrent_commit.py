"""Concurrent committers on ONE table dir.

Two encode runs racing must both land exactly once: the conflict-checked
exclusive-create commit (A29's upload-with-overwrite=false contract) makes
the loser re-plan from a fresh snapshot, under a real race, not just the
injected-collision adapter test. Conflicting DML must instead fail loudly
with ``CommitConflict`` and leave the winner's serial result."""

import threading

import pytest
from pyspark.sql import functions as F

from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
    log_versions,
)
from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
    decode_table,
    encode_table,
)


def test_two_racing_appends_both_commit(spark, tmp_path):
    out = str(tmp_path / "tbl")
    lo = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    hi = spark.range(4000, 8000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    # seed the dir (schema sidecar) so the racers contend only on the log
    encode_table(lo.limit(0), out, key_cols=["k"], n_parts=1, run="seed")

    errs: list[Exception] = []

    def run(df, run_id):
        try:
            encode_table(df, out, key_cols=["k"], n_parts=4,
                         chunk_rows=512, run=run_id)
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    t1 = threading.Thread(target=run, args=(lo, "ra"))
    t2 = threading.Thread(target=run, args=(hi, "rb"))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs

    # every row from both racers is present exactly once
    dec = decode_table(spark, out)
    assert dec.count() == 8000
    assert dec.select(F.count_distinct("k")).collect()[0][0] == 8000
    assert dec.agg(F.sum("v")).collect()[0][0] == sum(i * 2 for i in range(8000))
    # exactly-once adds: every published file appears in the log ONCE.
    # (One entry total is legal — the marker-gated commit of whichever racer
    # reaches the log first sweeps up every completed, uncommitted file, and
    # the loser then finds nothing new to add.)
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
        read_commit_log,
    )

    adds = [e["add"]["path"] for e in read_commit_log(out) if "add" in e]
    assert len(adds) == len(set(adds)) == 8  # 4 parts per racer, no double-add
    assert len(log_versions(out)) >= 1


# ----------------------------------------------- conflicting DML commits
# The overlap is injected, not timed: a module function that runs inside
# the victim's read -> commit window is wrapped so the rival operation
# commits there first. The loser must raise CommitConflict and the table
# must equal the winner's serial result.

N_ROWS = 1000


def _dml_table(spark, out):
    df = spark.range(N_ROWS).select(
        F.col("id").alias("k"), (F.col("id") % 7).cast("int").alias("g"))
    encode_table(df, out, key_cols=["k"], n_parts=4, chunk_rows=128)


def _keys(spark, out):
    return [r["k"] for r in decode_table(spark, out, columns=["k"]).collect()]


def _inject_once(monkeypatch, name, rival):
    """Make ``operators.table.<name>`` run ``rival()`` on its first call."""
    import pandora_apache_avro_idl_to_apache_parquet_spark.operators.table as tbl

    real = getattr(tbl, name)
    fired = []

    def wrapped(*args, **kwargs):
        if not fired:
            fired.append(True)
            rival()
        return real(*args, **kwargs)

    monkeypatch.setattr(tbl, name, wrapped)
    return fired


def test_delete_loses_to_compaction_in_its_window(spark, tmp_path, monkeypatch):
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
        CommitConflict,
        vacuum,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        compact_table,
        delete_where,
    )

    out = str(tmp_path / "tbl")
    _dml_table(spark, out)
    fired = _inject_once(monkeypatch, "_rewrite_job",
                         lambda: compact_table(out))
    with pytest.raises(CommitConflict):
        delete_where(spark, out, F.col("g") == 3, condition_cols=["g"])
    assert fired
    # winner = the compaction alone: every row once, nothing deleted
    keys = _keys(spark, out)
    assert len(keys) == len(set(keys)) == N_ROWS
    # the loser's rewrite files are plain orphans
    vacuum(out, min_age_sec=0)
    assert len(_keys(spark, out)) == N_ROWS


def test_compaction_loses_to_delete_in_its_window(spark, tmp_path, monkeypatch):
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
        CommitConflict,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        compact_table,
        delete_where,
    )

    out = str(tmp_path / "tbl")
    _dml_table(spark, out)
    fired = _inject_once(
        monkeypatch, "_promote_to",
        lambda: delete_where(spark, out, F.col("g") == 3, condition_cols=["g"]))
    with pytest.raises(CommitConflict):
        compact_table(out)
    assert fired
    # winner = the delete alone: 857 survivors, no deleted key resurrected
    keys = _keys(spark, out)
    assert len(keys) == len(set(keys)) == N_ROWS - 143
    assert not [k for k in keys if k % 7 == 3]


def test_dv_delete_loses_to_cow_delete_in_its_window(spark, tmp_path,
                                                     monkeypatch):
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.encode import (
        CommitConflict,
        committed_dv_actions,
    )
    from pandora_apache_avro_idl_to_apache_parquet_spark.operators.table import (
        delete_where,
        dv_delete_where,
    )

    out = str(tmp_path / "tbl")
    _dml_table(spark, out)
    fired = _inject_once(
        monkeypatch, "_pack_positions",
        lambda: delete_where(spark, out, F.col("g") == 3, condition_cols=["g"]))
    # the DV's ordinals address chunks the CoW delete just rewrote
    with pytest.raises(CommitConflict):
        dv_delete_where(spark, out, F.col("k") < 100, condition_cols=["k"])
    assert fired
    assert committed_dv_actions(out) == []
    # winner = the CoW delete alone
    keys = _keys(spark, out)
    assert len(keys) == len(set(keys)) == N_ROWS - 143
    assert not [k for k in keys if k % 7 == 3]
    assert sorted(k for k in keys if k < 100) == [
        k for k in range(100) if k % 7 != 3]
