"""Spark Python DataSource over the encoded table store.

``register_table_views`` (``operators/table.py``) exposes the store to
``spark.sql`` through a ``mapInArrow`` barrier Catalyst cannot push filters
through, and ``table_sql`` closes that gap only for SQL shapes its
conservative text analysis can prove safe. This module is the engine-native
answer: a **DataSourceV2 (Python Data Source API, Spark 4)** implementation,
so the encoded store becomes a first-class Catalyst relation —

    spark.dataSource.register(PandoraTableDataSource)
    df = spark.read.format("pandora_table").load(out_dir)

— and ``WHERE`` predicates of ANY query shape (joins, ORs elsewhere in the
plan, subqueries …) reach :meth:`DataSourceReader.pushFilters`, where they
become zone-map pruning at two levels:

* **file level (planning, driver)**: each chunk file's parquet FOOTER carries
  row-group statistics for the tiny ``{col}__min``/``{col}__max``/
  ``{col}__nulls`` stat columns (payload stats are deliberately not written —
  ``operators/table.py``); a metadata-only probe drops whole files no
  conjunct can match, so they never become tasks. This is the same
  planning-time contract as the reference's Delta reader (file skipping from
  log/footer stats, ``DeltaLake.fs:176-444``), with the commit log supplying
  the live file set (orphans and compacted-away files are invisible).
* **chunk level (executors)**: the surviving files are read with a pyarrow
  filter over the chunk META rows (``col__min``/``col__max``/``col__nulls``),
  so pruned chunks' payload bytes are never materialized; only then do the
  surviving chunks decode, column-pruned to the requested ``columns``.

Pruning is strictly conservative: ``pushFilters`` returns EVERY filter as
residual, so Spark re-applies the full predicate on decoded rows — a zone map
can only skip chunks that provably contain no matching row, never change a
result. Column pruning: the Python Data Source API has no column-pruning
hook, so the projected column set is an explicit read option
(``.option("columns", "a,b,c")``) — :func:`read_encoded_table` wires it.

Options: ``path`` (load arg), ``columns`` (comma list), ``as_of`` (commit-log
index, same semantics as :func:`operators.table.decode_table`), ``plan_prune``
("false" disables the planning-time file probe; chunk-level pruning remains).

The format is also a **sink** (``df.write.format("pandora_table")`` — map-only
per-task encode, one atomic commit-log entry per save, append/overwrite modes;
options ``key_cols``, ``chunk_rows``), a **streaming source**
(``spark.readStream.format("pandora_table")`` — tails the commit log by
numbered index, exactly-once per appended row, compaction-rewrite entries
skipped via their ``dataChange: false`` tag), and a **streaming sink**
(``df.writeStream.format("pandora_table")`` — one atomic commit-log entry per
micro-batch carrying a ``txn`` idempotence line, so epoch replay after a
crash never duplicates rows; ``outputMode("complete")`` atomically replaces
the live file set each epoch — a materialized view inside the store).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql import types as T

FORMAT_NAME = "pandora_table"

# (op, column, value) specs recorded by pushFilters; value is None for the
# null tests. All ops are self-inverse under conservative zone logic below.
_COMPARE_OPS = {"lt", "le", "gt", "ge", "eq", "in"}


def _zone_specs(filters: list[Filter], colnames: set[str]) -> tuple[list, list[Filter]]:
    """Translate supported pushed filters into picklable zone specs."""
    specs = []
    for f in filters:
        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1 or attr[0] not in colnames:
            continue
        c = attr[0]
        if isinstance(f, LessThan):
            specs.append(("lt", c, f.value))
        elif isinstance(f, LessThanOrEqual):
            specs.append(("le", c, f.value))
        elif isinstance(f, GreaterThan):
            specs.append(("gt", c, f.value))
        elif isinstance(f, GreaterThanOrEqual):
            specs.append(("ge", c, f.value))
        elif isinstance(f, EqualTo):
            specs.append(("eq", c, f.value))
        elif isinstance(f, In) and f.value:
            specs.append(("in", c, tuple(f.value)))
        elif isinstance(f, IsNull):
            specs.append(("isnull", c, None))
        elif isinstance(f, IsNotNull):
            specs.append(("notnull", c, None))
    return specs


class PandoraTableDataSource(DataSource):
    """``spark.read.format("pandora_table")`` over an encoded table dir."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _spec(self):
        from ..operators.table import read_table_spec

        path = self.options.get("path")
        if not path:
            raise ValueError("pandora_table requires a path: .load(<encoded dir>)")
        return path, read_table_spec(path)

    def schema(self) -> T.StructType:
        """The table's ORIGINAL shape: struct columns (auto-flattened at
        encode) report as structs; the ``columns`` option accepts original
        names or individual flat leaf names (``s·leaf``)."""
        from ..operators.table import (_orig_columns, _struct_col_type,
                                       relax_nullable)

        _, spec = self._spec()
        cols_opt = self.options.get("columns")
        scols = {n: relax_nullable(_struct_col_type(tj))
                 for n, tj in (spec.structs or {}).get("cols", {}).items()}
        fields = {f.name: f for f in spec.schema.fields}
        if cols_opt:
            names = [c.strip() for c in cols_opt.split(",") if c.strip()]
            missing = [c for c in names if c not in fields and c not in scols]
            if missing:
                raise ValueError(f"columns not in encoded table: {missing}")
        else:
            names = _orig_columns(spec)
        return T.StructType(
            [T.StructField(n, scols[n] if n in scols else fields[n].dataType,
                           True) for n in names]
        )

    def reader(self, schema: T.StructType) -> "PandoraTableReader":
        path, spec = self._spec()
        as_of = self.options.get("as_of")
        return PandoraTableReader(
            path=path,
            spec_json=spec.to_json(),
            out_names=[f.name for f in schema.fields],
            as_of=int(as_of) if as_of is not None else None,
            plan_prune=self.options.get("plan_prune", "true").lower() != "false",
        )

    def _sink_spec(self, schema: T.StructType):
        """Shared batch/stream sink setup: resolve key columns and
        create/evolve the ``_schema.json`` sidecar BEFORE tasks run.
        Struct columns split into their physical lanes here (schema level;
        executor tasks split the Arrow batches to match)."""
        from ..operators.table import (
            _io, _prepare_spec, _struct_lane_nullable, flatten_struct_schema,
            read_table_spec,
        )

        path = self.options.get("path")
        if not path:
            raise ValueError("pandora_table requires a path: .save(<encoded dir>)")
        if "part_id" in schema.fieldNames():
            raise ValueError("'part_id' is a reserved column name")
        io = _io(path, None)
        key_opt = self.options.get("key_cols")
        if key_opt:
            key_cols = [c.strip() for c in key_opt.split(",") if c.strip()]
        elif io.exists(io.join("_schema.json")):
            key_cols = read_table_spec(path).key_cols
        else:
            raise ValueError(
                "first write into a new dir needs .option('key_cols', 'a,b')"
            )
        missing = [k for k in key_cols if k not in schema.fieldNames()]
        if missing:
            raise ValueError(f"key columns not in DataFrame: {missing}")
        for k in key_cols:
            if isinstance(schema[k].dataType, T.StructType):
                raise ValueError(f"key column {k!r} may not be a struct")
        flat_schema, structs = flatten_struct_schema(schema)
        spec = _prepare_spec(
            io, _struct_lane_nullable(flat_schema, structs), key_cols,
            structs=structs,
        )
        if spec.pds_col:
            # the DataSource task kernel stamps a fixed pds; writing into a
            # date-partitioned table through it would give every new file a
            # bogus partitionValues date and pds-pruned reads would silently
            # drop the rows — route such appends through encode_table, which
            # partitions by the table's own date column
            raise ValueError(
                f"table is date-partitioned on {spec.pds_col!r}; append with "
                "encode_table(..., pds_col=...) — the pandora_table sink "
                "does not route rows to date partitions"
            )
        return path, io, spec

    def writer(self, schema: T.StructType, overwrite: bool) -> "PandoraTableWriter":
        import uuid

        from ..operators.encode import CommitLog

        path, io, spec = self._sink_spec(schema)
        # the commit is planned from this read: an overwrite removes exactly
        # the files live here, and any conflicting commit since fails it
        log = CommitLog(io)
        snap = log.snapshot() if overwrite else None
        return PandoraTableWriter(
            path=path,
            spec_json=spec.to_json(),
            run="w" + uuid.uuid4().hex[:10],
            chunk_rows=int(self.options.get("chunk_rows", "65536")),
            prev_live=snap.files if snap else [],
            read_version=snap.version if snap else log.version,
        )

    def streamWriter(self, schema: T.StructType,
                     overwrite: bool) -> "PandoraTableStreamWriter":
        path, _io_, spec = self._sink_spec(schema)
        return PandoraTableStreamWriter(
            path=path,
            spec_json=spec.to_json(),
            chunk_rows=int(self.options.get("chunk_rows", "65536")),
            app_id=self.options.get("app_id", "pandora-stream-sink"),
            overwrite=overwrite,
        )

    def streamReader(self, schema: T.StructType) -> "PandoraTableStreamReader":
        path, spec = self._spec()
        return PandoraTableStreamReader(
            path=path,
            spec_json=spec.to_json(),
            out_names=[f.name for f in schema.fields],
        )


class PandoraTableReader(DataSourceReader):
    def __init__(self, path: str, spec_json: str, out_names: list[str],
                 as_of: int | None, plan_prune: bool):
        self._path = path
        self._spec_json = spec_json
        self._out_names = out_names
        self._as_of = as_of
        self._plan_prune = plan_prune
        self._zone: list = []
        # merge-on-read deletes: live DV file names at this version; the
        # executors load `_dv/` payloads themselves (bounded sidecars), so
        # only the NAMES ride the plan
        from ..operators.encode import committed_dv_actions
        from ..operators.table import _io

        self._dv_files = [
            a["dvFile"]
            for a in committed_dv_actions(path, _io(path, None), as_of=as_of)
        ]

    # -- planning (driver) --------------------------------------------------

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        from ..operators.table import TableSpec

        spec = TableSpec.from_json(self._spec_json)
        self._zone = _zone_specs(filters, {f.name for f in spec.schema.fields})
        # everything is residual: zone maps prune chunks, Spark still applies
        # the exact predicate to every decoded row
        return iter(filters)

    def _live_files(self) -> list[str]:
        from ..operators.encode import committed_files
        from ..operators.table import _io

        io = _io(self._path, None)
        live = committed_files(self._path, io, as_of=self._as_of)
        if live is None:
            d = io.join("data")
            live = sorted(f for f in io.listdir(d) if f.endswith(".parquet"))
        return live

    def partitions(self) -> list[InputPartition]:
        files = self._live_files()
        if self._plan_prune and self._zone:
            files = [f for f in files if self._file_may_match(f)]
        return [InputPartition(f) for f in files]

    def _file_may_match(self, fname: str) -> bool:
        """Metadata-only probe: footer row-group stats of the stat columns.
        True unless some conjunct proves NO chunk in the file can match."""
        import pyarrow.parquet as pq

        from ..operators.table import _io

        io = _io(self._path, None)
        try:
            md = pq.ParquetFile(
                io.open_input_file(io.join("data/" + fname))
            ).metadata
        except Exception:
            return True  # unreadable footer -> let the scan decide
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}

        def col_range(col: str):
            """(min, max) over row groups of a stat column, or None when any
            row group lacks stats (disabled or all-null page)."""
            if col not in idx:
                return "absent"
            lo = hi = None
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx[col]).statistics
                if st is None or not st.has_min_max:
                    return None
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            return (lo, hi)

        for op, c, v in self._zone:
            if op in _COMPARE_OPS:
                rng_min = col_range(f"{c}__min")
                rng_max = col_range(f"{c}__max")
                if rng_min == "absent" or rng_max == "absent":
                    return False  # column predates file: all-null, no match
                if rng_min is None or rng_max is None:
                    continue
                try:
                    if op == "lt" and not rng_min[0] < v:
                        return False
                    if op == "le" and not rng_min[0] <= v:
                        return False
                    if op == "gt" and not rng_max[1] > v:
                        return False
                    if op == "ge" and not rng_max[1] >= v:
                        return False
                    if op == "eq" and not (rng_min[0] <= v and rng_max[1] >= v):
                        return False
                    if op == "in" and not (
                        rng_min[0] <= max(v) and rng_max[1] >= min(v)
                    ):
                        return False
                except TypeError:
                    continue  # incomparable stat repr (e.g. binary): keep
            elif op == "isnull":
                rng = col_range(f"{c}__nulls")
                if rng == "absent":
                    continue  # column predates file: all null, keep
                if rng is not None and rng[1] == 0:
                    return False
            elif op == "notnull":
                rng = col_range(f"{c}__nulls")
                if rng == "absent":
                    return False  # all null in this file
        return True

    # -- execution (executors) ----------------------------------------------

    def read(self, partition: InputPartition) -> Iterator[Any]:
        if partition is None:  # Spark probes once when partitions() is empty
            return
        yield from _decode_file_batches(
            self._path, self._spec_json, self._out_names, self._zone,
            partition.value, dv_files=self._dv_files,
        )


def _decode_file_batches(path: str, spec_json: str, names: list[str],
                         zone: list, fname: str,
                         dv_files: list[str] | None = None) -> Iterator[Any]:
    """Executor-side: one chunk file -> decoded Arrow batches (one per
    surviving chunk), with the chunk-level zone filter applied over the
    file's META rows before any payload bytes materialize, and live
    deletion vectors (``dv_files``) subtracted per chunk. Shared by the
    batch reader and the streaming reader (``zone=[]`` there)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    from ..operators.table import (
        TableSpec, _decode_column, _io, _struct_col_type, _struct_flat_names,
        assemble_struct_arrow, load_dv_map, relax_nullable,
    )

    spec = TableSpec.from_json(spec_json)
    logicals = spec.logicals
    fields = {f.name: f for f in spec.schema.fields}
    scols = {n: relax_nullable(_struct_col_type(tj))
             for n, tj in (spec.structs or {}).get("cols", {}).items()}
    # requested names may include original struct columns: decode their
    # flat physical lanes, reassemble per batch
    flat_needed: list[str] = []
    for n in names:
        for fn in (_struct_flat_names(n, scols[n]) if n in scols else [n]):
            if fn not in flat_needed:
                flat_needed.append(fn)
    out_struct = T.StructType(
        [T.StructField(n, scols[n] if n in scols else fields[n].dataType,
                       True) for n in names]
    )
    arrow_out = to_arrow_schema(out_struct)
    flat_struct = T.StructType(
        [T.StructField(n, fields[n].dataType, True) for n in flat_needed]
    )
    arrow_flat = to_arrow_schema(flat_struct)

    io = _io(path, None)
    pf = pq.ParquetFile(io.open_input_file(io.join("data/" + fname)))
    present = set(pf.schema_arrow.names)

    # chunk-level zone filter over the meta rows of THIS file
    expr = None
    for op, c, v in zone:
        mn, mx, nl = f"{c}__min", f"{c}__max", f"{c}__nulls"
        if op in _COMPARE_OPS and not (mn in present and mx in present):
            return  # column predates file: all-null, no row matches
        if op == "lt":
            e = pc.field(mn) < v
        elif op == "le":
            e = pc.field(mn) <= v
        elif op == "gt":
            e = pc.field(mx) > v
        elif op == "ge":
            e = pc.field(mx) >= v
        elif op == "eq":
            e = (pc.field(mn) <= v) & (pc.field(mx) >= v)
        elif op == "in":
            e = (pc.field(mn) <= max(v)) & (pc.field(mx) >= min(v))
        elif op == "isnull":
            if nl not in present:
                continue  # column predates file: all rows null, keep all
            e = pc.field(nl) > 0
        elif op == "notnull":
            if nl not in present:
                return  # all rows null in this file
            e = pc.field("n_rows") > pc.field(nl)
        else:  # pragma: no cover
            continue
        expr = e if expr is None else expr & e

    dv_map = (load_dv_map(io, [{"dvFile": f} for f in dv_files])
              if dv_files else {})
    want = ["n_rows"]
    if dv_map:
        want.append("chunk_id")
    for n in flat_needed:
        for side in ("__valid", "__payload"):
            if f"{n}{side}" in present:
                want.append(f"{n}{side}")
    try:
        tbl = pq.read_table(
            io.open_input_file(io.join("data/" + fname)),
            columns=want, filters=expr,
        )
    except pa.ArrowInvalid:
        # filter referenced a stat column absent from this file's subset
        # (pre-evolution file + mixed conjuncts): fall back to unfiltered
        tbl = pq.read_table(
            io.open_input_file(io.join("data/" + fname)),
            columns=want,
        )
    cols = {c: tbl.column(c) for c in tbl.column_names}
    n_rows_col = cols["n_rows"]
    for i in range(tbl.num_rows):  # iterates CHUNKS
        n = int(n_rows_col[i].as_py())
        flat: dict = {}
        for name in flat_needed:
            pcol = cols.get(f"{name}__payload")
            pl = pcol[i].as_py() if pcol is not None else None
            if pl is None:
                flat[name] = pa.nulls(n, arrow_flat.field(name).type)
                continue
            vcol = cols.get(f"{name}__valid")
            vp = vcol[i].as_py() if vcol is not None else None
            flat[name] = _decode_column(vp, pl, logicals[name], n,
                                        arrow_flat.field(name).type)
        arrays = [
            assemble_struct_arrow(flat, name, scols[name],
                                  arrow_out.field(name).type)
            if name in scols else flat[name]
            for name in names
        ]
        if dv_map:
            dead = dv_map.get(cols["chunk_id"][i].as_py())
            if dead is not None:
                keep = np.ones(n, dtype=bool)
                keep[dead] = False
                mask = pa.array(keep)
                arrays = [a.filter(mask) for a in arrays]
        yield pa.RecordBatch.from_arrays(arrays, schema=arrow_out)


def _encode_partition_task(path: str, spec_json: str, chunk_rows: int,
                           run: str, iterator: Iterator[Any]) -> "_FileCommit":
    """Executor task shared by the batch and streaming sinks: drain one
    partition's Arrow batches into ONE published chunk file (the map-only
    :func:`operators.table.encode_table_scan` shape) and return its
    add-entry ingredients. Publication order (data file, then checkpoint
    marker, then — driver-side — the log entry) is the crash contract."""
    import json as _json
    from datetime import date

    import numpy as np
    import pyarrow as pa

    from pyspark import TaskContext

    from ..operators.table import (
        TableSpec, _encode_table_partition, _io, flatten_struct_arrow,
    )

    pid = TaskContext.get().partitionId()
    collected = [b for b in iterator if b.num_rows]
    if not collected:
        return _FileCommit()
    spec = TableSpec.from_json(spec_json)
    table = pa.Table.from_batches(collected)
    # struct columns arrive in their original shape; split to the flat
    # physical lanes the kernel encodes
    table = flatten_struct_arrow(table, spec.structs or {})
    # align to spec order (evolved sidecar may order columns differently)
    table = table.select([f.name for f in spec.schema.fields])
    table = table.append_column(
        "part_id", pa.array(np.full(table.num_rows, pid, np.int32))
    )
    io = _io(path, None)
    _encode_table_partition(
        table, io, spec, chunk_rows, date(2026, 1, 1), run=run
    )
    marker = io.join(f"_checkpoints/part-{run}-{pid:05d}.json")
    st = _json.loads(io.read_text(marker))
    return _FileCommit(file_name=st["file_name"],
                       file_size=st["file_size"],
                       file_sha=st["file_sha256"])


@dataclass
class _FileCommit(WriterCommitMessage):
    """Per-task result: the chunk file this task published (None if its
    partition was empty), with the size/sha the kernel hashed in flight —
    commit() builds the log entry from these, never re-reading data."""

    file_name: str | None = None
    file_size: int = 0
    file_sha: str = ""


class PandoraTableWriter(DataSourceArrowWriter):
    """``df.write.format("pandora_table")`` — each task is one encode unit
    (the map-only :func:`operators.table.encode_table_scan` shape: no
    shuffle; pre-partition/sort upstream for disjoint zone maps), and the
    driver-side ``commit`` publishes ONE atomic commit-log entry holding
    every task's add (plus, for ``mode("overwrite")``, a remove per
    previously-live file) — readers see the old table until the log entry
    lands, then the new one (`DeltaLake.fs:176-444` contract). Task retries
    are safe: the file name is deterministic per (run, partition) and
    publish is last-writer-wins, so a retried task replaces its own attempt.

    Schema changes follow the store's append-only evolution rules even under
    overwrite (the ``_schema.json`` sidecar is shared with time-traveling
    readers of pre-overwrite versions); an incompatible rewrite needs a
    fresh directory."""

    def __init__(self, path: str, spec_json: str, run: str,
                 chunk_rows: int, prev_live: list[str], read_version: int):
        self._path = path
        self._spec_json = spec_json
        self._run = run
        self._chunk_rows = chunk_rows
        self._prev_live = prev_live
        self._read_version = read_version

    def write(self, iterator: Iterator[Any]) -> _FileCommit:
        return _encode_partition_task(
            self._path, self._spec_json, self._chunk_rows, self._run, iterator
        )

    def commit(self, messages) -> None:
        from ..operators import encode

        lines = _sink_lines(self._path, self._spec_json, messages,
                            self._prev_live)
        if len(lines) > 2:
            encode.append_log_entry(self._path, lines, None,
                                    self._read_version)

    def abort(self, messages) -> None:
        import posixpath

        from ..operators.table import _io

        io = _io(self._path, None)
        for m in messages:
            if m is not None and getattr(m, "file_name", None):
                try:
                    io.fs.delete_file(posixpath.join(io.join("data"),
                                                     m.file_name))
                except Exception:
                    pass  # vacuum() reclaims whatever abort could not reach


def _sink_lines(path: str, spec_json: str, messages,
                prev_live: list[str]) -> list[dict]:
    """A sink commit's lines: protocol, metaData, one add per published
    file, one remove per ``prev_live`` file (overwrite)."""
    from ..operators.encode import PROTOCOL, _meta_entry
    from ..operators.table import TableSpec, _io, chunk_schema_for

    io = _io(path, None)
    spec = TableSpec.from_json(spec_json)
    lines = [{"protocol": PROTOCOL},
             _meta_entry(chunk_schema_for(spec).json())]
    for m in messages:
        if m is not None and m.file_name:
            lines.append({"add": {
                "path": m.file_name,
                "size": m.file_size,
                "sha256": m.file_sha,
                "partitionValues": {"pds": "2026-01-01"},
                "dataChange": True,
                "modificationTime": io.mtime_ms(
                    io.join("data/" + m.file_name)),
            }})
    return lines + [{"remove": {"path": f, "dataChange": True}}
                    for f in prev_live]


def _txn_state(path: str, app_id: str) -> tuple[int | None, int]:
    """(highest committed streaming-epoch version for ``app_id`` or None,
    log version read) per the commit log's ``txn`` lines (the Delta
    SetTransaction idempotence axis, ``DeltaLake.fs:176-444`` contract).

    An app's txn versions are monotone in log order (each commit carries
    its batchId), so the NEWEST entry with a txn line for this app is the
    max — the replay runs newest-first and stops at the first hit, keeping
    per-epoch commit cost O(entries since the app's last commit), not
    O(log); the checkpoint's collapsed txn lines come last."""
    from ..operators.encode import CommitLog
    from ..operators.table import _io

    log = CommitLog(_io(path, None))
    for _, entry in log.entries(newest_first=True):
        txn = entry.get("txn")
        if txn and txn.get("appId") == app_id:
            return int(txn["version"]), log.version
    return None, log.version


def _last_txn_version(path: str, app_id: str) -> int | None:
    """Highest committed streaming-epoch version for ``app_id``; None when
    the app never committed."""
    return _txn_state(path, app_id)[0]


class PandoraTableStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("pandora_table")`` — exactly-once micro-batch
    appends into the encoded store.

    Each epoch's tasks blind-publish chunk files under a fresh run id; the
    driver folds every task's add into ONE atomic commit-log entry that also
    carries a ``{"txn": {appId, version=batchId}}`` line. On epoch replay
    (sink ahead of Spark's streaming checkpoint after a crash) the recorded
    txn version gates the commit: the duplicate attempt's files are deleted,
    nothing is re-logged, so downstream readers — including the
    ``pandora_table`` streaming *source* tailing the same log — see every
    input row exactly once. ``app_id`` defaults to a constant per sink dir;
    distinct concurrent queries into one store must set their own
    ``.option("app_id", ...)``.

    ``overwrite=True`` (complete output mode) additionally removes the
    previously-live file set in the same entry — the store then always holds
    exactly the latest materialized result, still time-travelable."""

    def __init__(self, path: str, spec_json: str, chunk_rows: int,
                 app_id: str, overwrite: bool):
        self._path = path
        self._spec_json = spec_json
        self._chunk_rows = chunk_rows
        self._app_id = app_id
        self._overwrite = overwrite

    def write(self, iterator: Iterator[Any]) -> _FileCommit:
        import uuid

        run = "se" + uuid.uuid4().hex[:10]
        return _encode_partition_task(
            self._path, self._spec_json, self._chunk_rows, run, iterator
        )

    def _drop_files(self, messages) -> None:
        import posixpath

        from ..operators.table import _io

        io = _io(self._path, None)
        for m in messages:
            if m is not None and getattr(m, "file_name", None):
                try:
                    io.fs.delete_file(
                        posixpath.join(io.join("data"), m.file_name)
                    )
                except Exception:
                    pass  # vacuum() reclaims stragglers

    def commit(self, messages, batchId: int) -> None:
        from ..operators import encode

        last, read_version = _txn_state(self._path, self._app_id)
        if last is not None and last >= batchId:
            # replayed epoch: the original commit stands; this attempt's
            # files are orphans — reclaim them now
            self._drop_files(messages)
            return
        prev_live: list[str] = []
        if self._overwrite:
            snap = encode.log_snapshot(self._path)
            if snap is not None:
                prev_live, read_version = snap.files, snap.version
        lines = _sink_lines(self._path, self._spec_json, messages, prev_live)
        # the txn line makes even an empty epoch a commit: replay stays gated
        lines.insert(2, {"txn": {"appId": self._app_id, "version": batchId}})
        encode.append_log_entry(self._path, lines, None, read_version)

    def abort(self, messages, batchId: int) -> None:
        self._drop_files(messages)


class PandoraTableStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("pandora_table")`` — tail the commit log.

    The offset axis IS the numbered log index (the time-travel axis of
    ``log_versions``): each micro-batch covers the log entries in
    ``(start, end]`` and its partitions are the data files those entries
    *added with dataChange* — compaction's rewrite entries carry
    ``dataChange: false`` (``operators/table.py:compact_table``) and are
    skipped, so a tailing consumer sees every appended row exactly once and
    never re-sees rows a compaction merely moved. Deletion-vector commits
    (``{"dv": ...}``, metadata-only) likewise add nothing: the offset
    advances with zero rows — streams are append-only and soft deletes never
    retract already-emitted rows (Delta's ``skipChangeCommits`` analog).
    This is the streaming half
    of the reference's micro-batch loop (``README.md`` foreachBatch usage)
    turned inside out: the encoded store as an exactly-once *source*."""

    def __init__(self, path: str, spec_json: str, out_names: list[str]):
        self._path = path
        self._spec_json = spec_json
        self._out_names = out_names

    def initialOffset(self) -> dict:
        return {"version": -1}

    def latestOffset(self) -> dict:
        from ..operators.encode import log_versions

        vs = log_versions(self._path)
        return {"version": vs[-1] if vs else -1}

    def _added_files(self, start_v: int, end_v: int) -> list[str]:
        from ..operators.encode import CommitLog
        from ..operators.table import _io

        log = CommitLog(_io(self._path, None))
        return [e["add"]["path"]
                for _, e in log.entries(since=start_v, as_of=end_v)
                if "add" in e and e["add"].get("dataChange", True)]

    def partitions(self, start: dict, end: dict):
        files = self._added_files(int(start["version"]), int(end["version"]))
        # a remove-only range (compaction) still needs one no-op partition:
        # Spark requires a non-empty partition set per planned batch
        return [InputPartition(f) for f in files] or [InputPartition(None)]

    def read(self, partition: InputPartition) -> Iterator[Any]:
        if partition.value is None:
            return
        yield from _decode_file_batches(
            self._path, self._spec_json, self._out_names, [], partition.value
        )

    def commit(self, end: dict) -> None:
        pass  # progress lives in Spark's own streaming checkpoint


def register_table_datasource(spark) -> None:
    """Idempotently register the ``pandora_table`` format on this session."""
    # Python-data-source filter pushdown is gated off by default (Spark 4.1);
    # without it Spark refuses any reader implementing pushFilters
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(PandoraTableDataSource)


def read_encoded_table(spark, out_dir: str, columns: list[str] | None = None,
                       as_of: int | None = None):
    """``spark.read.format("pandora_table")`` with the options wired."""
    register_table_datasource(spark)
    r = spark.read.format(FORMAT_NAME)
    if columns:
        r = r.option("columns", ",".join(columns))
    if as_of is not None:
        r = r.option("as_of", str(as_of))
    return r.load(out_dir)


def write_encoded_table(df, out_dir: str, key_cols: list[str] | None = None,
                        mode: str = "append",
                        chunk_rows: int | None = None) -> None:
    """``df.write.format("pandora_table")`` with the options wired. Each
    scan partition becomes one chunk file (map-only; repartition upstream to
    size files), committed atomically in one log entry."""
    register_table_datasource(df.sparkSession)
    w = df.write.format(FORMAT_NAME).mode(mode)
    if key_cols:
        w = w.option("key_cols", ",".join(key_cols))
    if chunk_rows is not None:
        w = w.option("chunk_rows", str(chunk_rows))
    w.save(out_dir)


def stream_encoded_table(spark, out_dir: str,
                         columns: list[str] | None = None):
    """``spark.readStream.format("pandora_table")`` — tail committed
    appends of the encoded store as an exactly-once streaming source."""
    register_table_datasource(spark)
    r = spark.readStream.format(FORMAT_NAME)
    if columns:
        r = r.option("columns", ",".join(columns))
    return r.load(out_dir)


def stream_write_encoded_table(df, out_dir: str, checkpoint: str,
                               key_cols: list[str] | None = None,
                               app_id: str | None = None,
                               output_mode: str = "append",
                               chunk_rows: int | None = None):
    """``df.writeStream.format("pandora_table")`` with the options wired —
    returns the un-started :class:`DataStreamWriter` so callers pick the
    trigger. ``output_mode="complete"`` turns each epoch into an atomic
    replace-all (streaming materialized view inside the store)."""
    register_table_datasource(df.sparkSession)
    w = (
        df.writeStream.format(FORMAT_NAME)
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if key_cols:
        w = w.option("key_cols", ",".join(key_cols))
    if app_id:
        w = w.option("app_id", app_id)
    if chunk_rows is not None:
        w = w.option("chunk_rows", str(chunk_rows))
    return w
