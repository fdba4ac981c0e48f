"""ANALYZE TABLE — persisted, mergeable per-column NDV statistics.

The warehouse stats pattern (Delta `ANALYZE TABLE ... COMPUTE STATISTICS FOR
COLUMNS`, Snowflake automatic clustering stats): cost-based decisions — join
strategy, bloom-column selection, dictionary-vs-entropy codec hints — need
per-column distinct counts, and at 100 TB a `count(DISTINCT x)` rescan per
column is not a plan. `analyze_table` decodes the requested columns ONCE
(selective lanes), folds them through the engine's md5-derived HyperLogLog
(`..operators.sketches` — registers are a pure function of the value, so
states merge by register max), and persists the register state to a
`_stats/<version>.json` sidecar keyed by the commit-log version it saw.

Incremental maintenance falls out of sketch mergeability: a re-analyze after
append-only commits decodes ONLY the files added since the previous stats
version and merges register-max with the stored state — O(|delta|), exact
same registers a full recompute produces (pytest-pinned). Any `remove` in
the log gap (DML, compaction rewrites content-hashes, recluster) forces a
full recompute: HLL state is insert-only, deletions cannot be subtracted.

Reference provenance: the reference persists no column statistics (its
manifest carries row counts only); this module extends its Delta sidecar
idea (`DeltaLake.fs:176-444`) with the pre-aggregated-sketch pattern the
round-3 `hll_partial`/`hll_merge` pair already proves cross-engine.
"""

from __future__ import annotations

import json
import posixpath
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.fsio import FsIO
from .sketches import _hll_estimate, hll_partial

__all__ = ["analyze_table", "read_column_stats", "ndv_estimates"]

_STATS_DIR = "_stats"


def _io(out_dir: str, io: FsIO | None) -> FsIO:
    from .table import _io as table_io

    return table_io(out_dir, io)


def _stats_files(io: FsIO) -> list[tuple[int, str]]:
    d = io.join(_STATS_DIR)
    if not io.isdir(d):
        return []
    out = []
    for f in io.listdir(d):
        if f.endswith(".json"):
            out.append((int(f[: -len(".json")]), f))
    return sorted(out)


def read_column_stats(out_dir: str, io: FsIO | None = None) -> dict | None:
    """Newest persisted stats document, or None when never analyzed."""
    io = _io(out_dir, io)
    files = _stats_files(io)
    if not files:
        return None
    return json.loads(io.read_text(posixpath.join(io.join(_STATS_DIR),
                                                  files[-1][1])))


def _log_delta(io: FsIO, lo: int, hi: int) -> tuple[list[str], bool]:
    """(files added in log versions (lo, hi], any-removes?)."""
    from .encode import CommitLog, LogTruncated

    try:
        entries = CommitLog(io).entries(since=lo, as_of=hi)
    except LogTruncated:
        return [], True  # cleaned-away gap: can't prove append-only
    added: list[str] = []
    removed = False
    for _, entry in entries:
        if "add" in entry:
            added.append(entry["add"]["path"])
        if "remove" in entry:
            removed = True
        if "dv" in entry or "dvRestore" in entry:
            # deletion vectors change existing files' VISIBLE rows without
            # touching the file set: same consequence as a remove — HLL
            # state is insert-only, soft-deleted values can't subtract
            removed = True
    return added, removed


def analyze_table(spark: SparkSession, out_dir: str,
                  columns: list[str], p: int = 8, seed: int = 42,
                  io: FsIO | None = None,
                  incremental: bool = True) -> dict:
    """Compute (or incrementally refresh) per-column NDV register state and
    persist it as ``_stats/<log_version>.json``. Idempotent per version:
    re-running at an unchanged table returns the stored document without
    touching data. Returns the stats document."""
    from .encode import CommitLog
    from .table import decode_table, read_table_spec

    io = _io(out_dir, io)
    version = CommitLog(io).version
    if version < 0:
        raise ValueError("analyze_table requires a committed table")
    spec = read_table_spec(out_dir, io)
    known = {f.name for f in spec.schema.fields}
    unknown = [c for c in columns if c not in known]
    if unknown:
        raise ValueError(f"columns not in encoded table: {unknown}")

    stats_dir = io.join(_STATS_DIR)
    target = posixpath.join(stats_dir, f"{version:020d}.json")
    if io.exists(target):
        return json.loads(io.read_text(target))

    base = read_column_stats(out_dir, io)
    new_files: list[str] | None = None  # None = full recompute
    base_regs: dict[str, dict[int, int]] = {}
    if (incremental and base is not None
            and base.get("p") == p and base.get("seed") == seed
            and set(base.get("columns", {})) == set(columns)):
        added, removed = _log_delta(io, base["version"], version)
        if not removed:
            new_files = added
            base_regs = {
                c: {int(r): int(rho) for r, rho in d["regs"]}
                for c, d in base["columns"].items()
            }

    if new_files is not None and not new_files:
        partial_rows: list = []
    else:
        dec = decode_table(
            spark, out_dir, columns=list(columns), io=io,
            meta_cols=["__src_file"] if new_files is not None else None,
            chunk_filter=(F.col("__src_file").isin(new_files)
                          if new_files is not None else None),
        )
        pairs: list = []
        for c in columns:
            pairs += [F.lit(c), F.col(c).cast("string")]
        stacked = (
            dec.select(F.explode(F.create_map(*pairs)).alias("col_name", "val"))
            .filter(F.col("val").isNotNull())
        )
        partial_rows = hll_partial(
            stacked, ["col_name"], "val", p=p, seed=seed).collect()

    regs: dict[str, dict[int, int]] = {c: dict(base_regs.get(c, {}))
                                       for c in columns}
    for r in partial_rows:
        cur = regs[r["col_name"]]
        reg = int(r["hll_reg"])
        cur[reg] = max(cur.get(reg, 0), int(r["hll_rho"]))

    doc = {
        "version": version, "p": p, "seed": seed,
        "mode": "incremental" if new_files is not None else "full",
        "columns": {c: {"regs": [[int(r), int(v)]
                                 for r, v in sorted(regs[c].items())]}
                    for c in columns},
    }
    io.makedirs(stats_dir)
    io.publish_bytes(target, json.dumps(doc).encode(),
                     attempt_tag=uuid.uuid4().hex[:8])
    return doc


def ndv_estimates(spark: SparkSession, out_dir: str,
                  io: FsIO | None = None) -> DataFrame:
    """(col_name, ndv_est) from the PERSISTED register state — no data read.
    The estimate is computed through the same Spark expressions as the live
    sketch (`sketches._hll_estimate`), so it is bit-identical to a direct
    `hll_distinct` pass over the column (and to the DuckDB SQL twin)."""
    io = _io(out_dir, io)
    doc = read_column_stats(out_dir, io)
    if doc is None:
        raise ValueError("table has no persisted stats — run analyze_table")
    rows = [(c, int(reg), int(rho))
            for c, d in doc["columns"].items() for reg, rho in d["regs"]]
    regs = spark.createDataFrame(
        rows, "col_name string, hll_reg int, hll_rho int")
    return _hll_estimate(regs, ["col_name"], doc["p"], "ndv_est")
