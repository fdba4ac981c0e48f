"""Encode pipeline: token table -> encoded chunk files + manifest + checkpoints.

Plan shape (SURVEY.md §3.4): one shuffle, everything else Arrow-vectorized
inside a grouped-map UDF:

    scan -> part_id = pmod(xxhash64(source, doc_id), n_parts)   # salted spread
         -> anti-join against completed checkpoints              # resume
         -> groupBy(part_id).applyInArrow(encode_partition)      # the only shuffle
         -> chunk parquet files (payload columns) + checkpoint markers
         -> manifest = payload-free projection of the chunk files

Scale notes (the 100 TB story):
* ``part_id`` hashes *both* source and doc_id, so a source holding 50% of rows
  spreads uniformly over all partitions — this IS the salted repartition the
  north rule asks for (AQE skew handling does not apply to grouped-map UDFs,
  SURVEY.md §4).
* All chunk/checkpoint/commit-log I/O goes through :class:`..functions.fsio.
  FsIO` resolved from the output URI, so executors write to the real shared
  store (S3/HDFS/local) — never to a path that only exists on their own disk.
  Publication is atomic-rename where the store supports it and write-once keys
  where it does not (complete-object visibility + marker/log-gated readers;
  see ``fsio.py``).
* Each group publishes its own chunk file and then its checkpoint marker, so a
  failed job leaves only whole-partition units; the next run anti-joins
  completed part_ids and re-encodes only the remainder — the reference's
  optimistic Delta-commit retry (A29,
  ``/root/reference/README.md:608-701``) re-expressed as idempotent
  per-partition commits.
* The manifest is never written as a separate table that can drift: it is a
  column-pruned read of the chunk files (payload columns untouched on disk).
* Payload columns are stored uncompressed inside the chunk parquet (they are
  already codec-compressed); metadata columns stay snappy.
"""

from __future__ import annotations

import functools
import json
import posixpath
import uuid
from collections.abc import Iterator
from dataclasses import dataclass, field
from datetime import date

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import codecs as C
from ..functions.fsio import FsIO
from ..functions.hashing import klondike, sha256
from ..plans.cost import encode_values, select_int_codec, select_str_codec
from ..schema import CHUNK_COLUMNS, CHUNK_SCHEMA, MANIFEST_COLUMNS, TOKENS_SCHEMA

DEFAULT_CHUNK_ROWS = 4096
DEFAULT_CHUNK_VALUES = 1 << 18
MANIFEST_ONLY_SCHEMA = CHUNK_SCHEMA  # full schema; UDF returns manifest cols + payloads


def _io(out_dir: str, io: FsIO | None) -> FsIO:
    return io if io is not None else FsIO.resolve(out_dir)


def completed_parts(out_dir: str, io: FsIO | None = None) -> list[int]:
    io = _io(out_dir, io)
    d = io.join("_checkpoints")
    return sorted(
        int(f[len("part-"):-len(".json")])
        for f in io.listdir(d)
        if f.startswith("part-") and f.endswith(".json")
    )


def checkpoint_stats(out_dir: str, io: FsIO | None = None) -> pd.DataFrame:
    io = _io(out_dir, io)
    d = io.join("_checkpoints")
    rows = [
        json.loads(io.read_text(posixpath.join(d, f"part-{p:05d}.json")))
        for p in completed_parts(out_dir, io)
    ]
    return pd.DataFrame(rows)


def _chunk_boundaries(lengths: np.ndarray, max_rows: int, max_values: int) -> list[tuple[int, int]]:
    """Greedy row-ranges such that each chunk has <= max_rows rows and
    <= max_values token values (a single huge row still gets its own chunk)."""
    n = len(lengths)
    bounds = []
    lo = 0
    cum = np.concatenate(([0], np.cumsum(lengths.astype(np.int64))))
    while lo < n:
        hi_rows = min(lo + max_rows, n)
        # furthest hi with cum[hi]-cum[lo] <= max_values
        hi_vals = int(np.searchsorted(cum, cum[lo] + max_values, side="right")) - 1
        hi = max(lo + 1, min(hi_rows, hi_vals))
        bounds.append((lo, hi))
        lo = hi
    return bounds


def _chunk_arrow_schema() -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(CHUNK_SCHEMA)


def _encode_partition_arrow(table: pa.Table, io: FsIO, chunk_rows: int,
                            chunk_values: int, pds: date, fail_parts=None) -> pa.Table:
    """Grouped-map kernel: one part_id's rows -> chunk parquet file + manifest.

    Arrow-native end-to-end (``applyInArrow``): the token list column's Arrow
    (values, offsets) buffers ARE the engine's flattened representation, read
    zero-copy — no pandas conversion, no per-row ndarray objects, no
    re-concatenation. This is the "vectorized explode without blow-up" of
    SURVEY.md §7 taken all the way to the exchange format.
    """
    import time

    import pyarrow.compute as pc

    t_start = time.perf_counter()
    part_id = int(table.column("part_id")[0].as_py())
    if fail_parts and part_id in fail_parts:
        raise RuntimeError(f"injected failure for part {part_id}")

    # sort rows by doc_id (C++ stable sort): RLE-friendly doc_id prefixes +
    # valid zone maps (doc_id_min/max) per chunk
    table = table.take(pc.sort_indices(table, sort_keys=[("doc_id", "ascending")]))
    tokens = table.column("tokens").combine_chunks()
    offs = tokens.offsets.to_numpy().astype(np.int64, copy=False)
    cum = offs - offs[0]
    lengths_all = np.diff(cum).astype(np.int32)
    values_all = tokens.flatten().to_numpy(zero_copy_only=False).astype(np.int32, copy=False)
    n_tok_col = table.column("n_tok").combine_chunks().to_numpy(zero_copy_only=False)
    if not np.array_equal(n_tok_col.astype(np.int64), lengths_all.astype(np.int64)):
        bad = int(np.flatnonzero(n_tok_col != lengths_all)[0])
        raise ValueError(
            f"n_tok invariant violated at doc_id={table.column('doc_id')[bad].as_py()}"
        )
    doc_arr = table.column("doc_id").combine_chunks()
    src_arr = table.column("source").combine_chunks()

    t_kernel0 = time.perf_counter()
    rows: list[dict] = []
    for seq, (lo, hi) in enumerate(_chunk_boundaries(lengths_all, chunk_rows, chunk_values)):
        lengths = lengths_all[lo:hi]
        values = values_all[cum[lo]:cum[hi]]

        d_len, d_blob = C.strings_to_blob(doc_arr.slice(lo, hi - lo))
        s_len, s_blob = C.strings_to_blob(src_arr.slice(lo, hi - lo))
        payloads = {
            "doc_id": (select_str_codec(d_len, d_blob), len(d_blob) + 4 * len(d_len)),
            "source": (select_str_codec(s_len, s_blob), len(s_blob) + 4 * len(s_len)),
            "lengths": (select_int_codec(lengths), 4 * len(lengths)),
            "values": (encode_values(values, lengths), 4 * len(values)),
        }
        sha = sha256(b"".join(p for p, _ in payloads.values()))
        row = {
            "part_id": part_id,
            "chunk_seq": seq,
            "chunk_id": klondike(f"{part_id}:{seq}:".encode() + sha),
            "row_lo": lo,
            "row_hi": hi,
            "n_rows": hi - lo,
            "n_values": int(cum[hi] - cum[lo]),
            "doc_id_min": doc_arr[lo].as_py(),
            "doc_id_max": doc_arr[hi - 1].as_py(),
            "sha": sha,
            "pds": pds,
        }
        for col in CHUNK_COLUMNS:
            payload, raw = payloads[col]
            row[f"{col}_codec"] = C.payload_codec_name(payload)
            row[f"{col}_raw_bytes"] = raw
            row[f"{col}_enc_bytes"] = len(payload)
            row[f"{col}_payload"] = payload
        rows.append(row)
    kernel_sec = time.perf_counter() - t_kernel0

    chunk_schema = _chunk_arrow_schema()
    out = pa.Table.from_pylist(rows, schema=chunk_schema)

    # publish chunk file, then checkpoint marker (all through FsIO: atomic
    # rename locally, write-once keys on object stores — see fsio.py)
    data_dir, ckpt_dir = io.join("data"), io.join("_checkpoints")
    io.makedirs(data_dir)
    io.makedirs(ckpt_dir)
    tag = uuid.uuid4().hex[:8]
    file_name = f"part-{part_id:05d}.parquet"
    t_write0 = time.perf_counter()
    file_size, file_sha = io.publish_parquet(
        out,
        posixpath.join(data_dir, file_name),
        attempt_tag=tag,
        compression={f"{c}_payload": "NONE" for c in CHUNK_COLUMNS} | {"__default__": "SNAPPY"},
        # no parquet statistics/dictionary for payload bytes: binary min/max
        # stats would embed payload prefixes in the footer (measured ~40 KB
        # per file of pure overhead) and every payload is unique; stats stay
        # on the small columns Spark actually filters on (zone maps, meta)
        use_dictionary=False,
        write_statistics=[c for c in MANIFEST_COLUMNS if c != "sha"],
    )
    write_sec = time.perf_counter() - t_write0

    stats = {
        "part_id": part_id,
        "n_chunks": len(rows),
        "n_rows": int(table.num_rows),
        "n_values": int(cum[-1]) if len(cum) else 0,
        "enc_bytes": sum(r[f"{c}_enc_bytes"] for r in rows for c in CHUNK_COLUMNS),
        "raw_bytes": sum(r[f"{c}_raw_bytes"] for r in rows for c in CHUNK_COLUMNS),
        "kernel_sec": round(kernel_sec, 4),
        "write_sec": round(write_sec, 4),
        "total_sec": round(time.perf_counter() - t_start, 4),
        # file integrity recorded at write time so the commit log never
        # re-reads data files driver-side — at 100 TB a driver sha pass over
        # every chunk file would be the serial bottleneck
        "file_name": file_name,
        "file_size": file_size,
        "file_sha256": file_sha,
        "status": "done",
    }
    io.publish_bytes(
        posixpath.join(ckpt_dir, f"part-{part_id:05d}.json"),
        json.dumps(stats).encode(),
        attempt_tag=tag,
    )

    return out.drop_columns([f"{c}_payload" for c in CHUNK_COLUMNS])


def with_part_id(df: DataFrame, n_parts: int) -> DataFrame:
    """Salted partition key: hashes (source, doc_id) so skewed sources spread."""
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64("source", "doc_id"), F.lit(n_parts)).cast("int")
    )


def encode_tokens(df: DataFrame, out_dir: str, n_parts: int = 64,
                  chunk_rows: int = DEFAULT_CHUNK_ROWS,
                  chunk_values: int = DEFAULT_CHUNK_VALUES,
                  pds: date | None = None,
                  fail_parts: set[int] | None = None,
                  io: FsIO | None = None) -> DataFrame:
    """Run the encode job; returns the manifest DataFrame (payload-free).

    Resume: part_ids with a checkpoint marker in ``out_dir/_checkpoints`` are
    skipped; ``fail_parts`` injects failures for the resume pytest (A29 analog).
    ``io`` injects a custom filesystem (tests use a latency + no-rename
    wrapper); by default it resolves from ``out_dir`` via ``pyarrow.fs`` and
    is shipped to executors inside the kernel closure (picklable).
    """
    spark = df.sparkSession
    pds = pds or date(2026, 1, 1)
    io = _io(out_dir, io)
    keyed = with_part_id(df, n_parts)

    done = completed_parts(out_dir, io)
    if done:
        done_df = spark.createDataFrame([(p,) for p in done], "part_id int")
        keyed = keyed.join(F.broadcast(done_df), "part_id", "left_anti")

    from pyspark.sql.types import StructType

    manifest_struct = StructType([f for f in CHUNK_SCHEMA.fields if not f.name.endswith("_payload")])

    def kernel(table: pa.Table) -> pa.Table:
        return _encode_partition_arrow(table, io, chunk_rows, chunk_values, pds,
                                       fail_parts=fail_parts)

    result = keyed.groupBy("part_id").applyInArrow(kernel, schema=manifest_struct)
    # force execution with a no-file action: the manifest of record is the
    # chunk files themselves, and writing (then overwriting) an attempt
    # manifest would churn deletes — expensive on discard-mounted filesystems
    result.write.format("noop").mode("overwrite").save()
    write_commit_log(out_dir, pds, io)
    return read_manifest(spark, out_dir, io)


def encode_tokens_scan(df: DataFrame, out_dir: str,
                       chunk_rows: int = DEFAULT_CHUNK_ROWS,
                       chunk_values: int = DEFAULT_CHUNK_VALUES,
                       pds: date | None = None,
                       fail_parts: set[int] | None = None,
                       io: FsIO | None = None) -> DataFrame:
    """Map-only encode: each *scan partition* is an encode unit — the plan is
    scan → ``mapInArrow`` → files, with **no shuffle at all**.

    For a curated Iceberg/parquet token table the input files already spread
    the corpus (the common case at 10^12-sequence scale), so paying a full
    shuffle of every token byte — plus the JVM-side sort and row↔Arrow serde
    the grouped-map path implies — buys nothing. This mode removes that
    entire cost; :func:`encode_tokens` (salted shuffle) remains the path for
    skewed or hot-keyed sources, exactly as the north rule's "explicit salted
    repartitioning for skewed sources" prescribes.

    Resume: partition ids are the encode identity. Spark's file-split
    planning is deterministic for a static input + fixed reader conf, so a
    restart maps rows to the same partition ids; partitions with a checkpoint
    marker short-circuit (their input is re-scanned but neither re-encoded
    nor re-written — idempotent, not free; the shuffle mode's anti-join
    semantics, minus the shuffle).
    """
    spark = df.sparkSession
    pds = pds or date(2026, 1, 1)
    io = _io(out_dir, io)
    done = set(completed_parts(out_dir, io))

    from pyspark.sql.types import StructType

    manifest_struct = StructType([f for f in CHUNK_SCHEMA.fields if not f.name.endswith("_payload")])

    def gen(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        if pid in done:
            return
        collected = list(batches)
        if not collected or sum(b.num_rows for b in collected) == 0:
            return
        table = pa.Table.from_batches(collected)
        table = table.append_column(
            "part_id", pa.array(np.full(table.num_rows, pid, np.int32))
        )
        yield from _encode_partition_arrow(
            table, io, chunk_rows, chunk_values, pds, fail_parts=fail_parts
        ).to_batches()

    result = df.mapInArrow(gen, schema=manifest_struct)
    result.write.format("noop").mode("overwrite").save()
    write_commit_log(out_dir, pds, io)
    return read_manifest(spark, out_dir, io)


PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 1, "payloadFormat": 2}

_LAST_CHECKPOINT = "_last_checkpoint"


class CommitConflict(RuntimeError):
    """An optimistic commit lost its race: an entry committed after the
    version the commit was planned from touches what the plan read (the
    rule is in :func:`append_log_entry`). Nothing was committed; files the
    loser already published are orphans that :func:`vacuum` reclaims."""


class LogTruncated(ValueError):
    """The requested log versions were collapsed into a checkpoint taken
    with ``clean=True``: their JSON files no longer exist."""


@dataclass
class LogSnapshot:
    """Table state folded from a replay of the commit log.

    ``adds`` maps every live data file to its add record; ``removes`` keeps
    the remove tombstones (a removed file's rows live on elsewhere, so it is
    never re-added); ``txns`` holds the latest txn per appId; ``dvs`` the
    live deletion-vector actions, each stamped with ``"v"``, its original
    commit version, so identity survives checkpoints. ``version`` is the
    newest version folded (-1 for an empty log): the read version a mutator
    plans from and hands to :func:`append_log_entry`."""

    version: int = -1
    adds: dict[str, dict] = field(default_factory=dict)
    removes: dict[str, dict] = field(default_factory=dict)
    meta: dict | None = None
    txns: dict[str, dict] = field(default_factory=dict)
    dvs: list[dict] = field(default_factory=list)

    @property
    def files(self) -> list[str]:
        return sorted(self.adds)

    def apply(self, version: int, entry: dict) -> None:
        self.version = max(self.version, version)
        if "add" in entry:
            self.adds[entry["add"]["path"]] = entry["add"]
            self.removes.pop(entry["add"]["path"], None)
        if "remove" in entry:
            self.removes[entry["remove"]["path"]] = entry["remove"]
            self.adds.pop(entry["remove"]["path"], None)
        if "metaData" in entry:
            self.meta = entry["metaData"]
        if "txn" in entry:
            self.txns[entry["txn"]["appId"]] = entry["txn"]
        if "dv" in entry:
            self.dvs.append(dict(entry["dv"], v=entry["dv"].get("v", version)))
        if "dvRestore" in entry:
            # restore REPLACES the DV state with the target version's exact
            # live set, so restores compose in both directions
            self.dvs = [dict(a) for a in entry["dvRestore"]["keep"]]


class CommitLog:
    """The commit log's one reader: a single listing of ``_log/`` and a
    replay of the latest checkpoint plus the JSON files after it. Every
    read of the log in the package goes through here.

    The log is a numbered-JSONL Delta ``_delta_log`` analog
    (``DeltaLake.fs:176-444``): ``<%020d>.json`` files of one action per
    line (``protocol``, ``metaData``, ``add``, ``remove``, ``txn``, ``dv``,
    ``dvRestore``), plus optional ``<V>.checkpoint.parquet`` snapshots
    named by a ``_last_checkpoint`` pointer (:func:`checkpoint_log`)."""

    def __init__(self, io: FsIO):
        self.io = io
        self.dir = io.join("_log")
        self.exists = io.isdir(self.dir)
        names = io.listdir(self.dir) if self.exists else []
        self.versions = sorted(int(f[:-5]) for f in names if f.endswith(".json"))
        self._has_pointer = _LAST_CHECKPOINT in names

    @functools.cached_property
    def _pointer(self) -> dict | None:
        if not self._has_pointer:
            return None
        return json.loads(self.io.read_text(
            posixpath.join(self.dir, _LAST_CHECKPOINT)))

    @property
    def checkpoint(self) -> int | None:
        """Version of the latest checkpoint; None when never checkpointed."""
        return None if self._pointer is None else int(self._pointer["version"])

    @property
    def version(self) -> int:
        """Newest committed version; -1 for an empty log. A checkpoint
        always sits at or below the newest JSON file, so the pointer is read
        only once every JSON file was cleaned."""
        if self.versions:
            return self.versions[-1]
        return -1 if self.checkpoint is None else self.checkpoint

    def checkpoint_entries(self) -> list[dict]:
        import pyarrow.parquet as pq

        tbl = pq.read_table(pa.BufferReader(self.io.read_bytes(
            posixpath.join(self.dir, self._pointer["file"]))))
        return [json.loads(s) for s in tbl.column("line").to_pylist()]

    def entries(self, since: int | None = None, as_of: int | None = None,
                newest_first: bool = False) -> Iterator[tuple[int, dict]]:
        """Lazy ``(version, entry)`` pairs.

        ``since=None`` replays table STATE up to ``as_of`` (default: the
        newest version): the latest checkpoint's collapsed entries, tagged
        with its version, when it covers ``as_of``, then the JSON entries
        after it — O(commits since the checkpoint). An integer ``since``
        yields the raw entries of versions ``(since, as_of]`` instead: what
        changed, never a collapsed state. ``newest_first`` reverses the
        order (checkpoint last) so a caller can stop at the first hit.

        Raises :class:`LogTruncated` when versions the read needs were
        cleaned by ``checkpoint_log(clean=True)`` — never a silently partial
        answer."""
        base = None
        if since is None:
            ck = self.checkpoint
            if ck is not None and (as_of is None or as_of >= ck):
                base = ck
            lo = 0 if base is None else base + 1
        else:
            lo = since + 1
        # a clean deletes EVERY json file <= the checkpoint, so versions from
        # lo are intact unless the oldest surviving file starts above lo
        if (base is None and self._has_pointer
                and (not self.versions or self.versions[0] > lo)
                and self.checkpoint >= lo):
            raise LogTruncated(
                f"log version {lo} predates log checkpoint {self.checkpoint} "
                "and the covered json files were cleaned"
            )
        vs = [v for v in self.versions
              if v >= lo and (as_of is None or v <= as_of)]

        def replay() -> Iterator[tuple[int, dict]]:
            if base is not None and not newest_first:
                yield from ((base, e) for e in self.checkpoint_entries())
            for v in (reversed(vs) if newest_first else vs):
                text = self.io.read_text(posixpath.join(self.dir, f"{v:020d}.json"))
                yield from ((v, json.loads(line)) for line in text.splitlines())
            if base is not None and newest_first:
                yield from ((base, e) for e in self.checkpoint_entries())

        return replay()

    def snapshot(self, as_of: int | None = None) -> LogSnapshot:
        snap = LogSnapshot()
        for v, e in self.entries(as_of=as_of):
            snap.apply(v, e)
        return snap


def log_snapshot(out_dir: str, io: FsIO | None = None,
                 as_of: int | None = None) -> LogSnapshot | None:
    """Table state at ``as_of`` (default: the newest version), or None when
    no log exists (pre-commit state)."""
    log = CommitLog(_io(out_dir, io))
    return log.snapshot(as_of) if log.exists else None


def _meta_entry(schema_json: str) -> dict:
    return {"metaData": {"schemaString": schema_json,
                         "partitionColumns": ["pds"],
                         "format": {"provider": "parquet"}}}


def write_commit_log(out_dir: str, pds: date, io: FsIO | None = None,
                     schema_json: str | None = None) -> str | None:
    """Commit every completed, not yet committed data file in ONE log entry
    (the reference's ``_delta_log`` writer, ``DeltaLake.fs:176-444``): a
    ``protocol`` line, a ``metaData`` line (schema + partition column), and
    one ``add`` line per data file (path, size, sha256, partitionValues).

    Adds are marker-gated — only files whose writer completed its
    checkpoint marker are committed — and exactly-once: files the snapshot
    already references (added, or removed into a compaction target) are
    never added again, so re-running after resume appends exactly the new
    files. The commit goes through :func:`append_log_entry`; when a racing
    committer added some of the same files first, the resulting
    :class:`CommitConflict` re-plans from a fresh snapshot, which drops the
    files the winner committed."""
    io = _io(out_dir, io)
    data_dir = io.join("data")
    if not io.isdir(data_dir):
        return None
    # an existing (even empty) _log makes readers log-gated from now on
    io.makedirs(io.join("_log"))
    while True:
        snap = log_snapshot(out_dir, io)
        referenced = snap.adds.keys() | snap.removes.keys()
        # a crash between file publish and marker leaves an orphan that is
        # never added (nor read — readers are log-gated) until the part's
        # re-encode overwrites it; vacuum() reclaims anything unreferenced
        markers = _marker_index(io)
        new_files = sorted(
            f for f in io.listdir(data_dir)
            if f.endswith(".parquet") and f not in referenced and f in markers
        )
        if not new_files:
            return None
        lines = [{"protocol": PROTOCOL},
                 _meta_entry(schema_json or CHUNK_SCHEMA.json())]
        for f in new_files:
            info = markers[f]
            lines.append({"add": {
                "path": f,
                "size": info["file_size"],
                "sha256": info["file_sha256"],
                # date-partitioned encodes record each file's own partition
                # date in its marker; legacy markers fall back to the run's
                "partitionValues": {"pds": info.get("pds", pds.isoformat())},
                "dataChange": True,
                "modificationTime": io.mtime_ms(posixpath.join(data_dir, f)),
            }})
        try:
            return append_log_entry(out_dir, lines, io, snap.version)
        except CommitConflict:
            continue


def _marker_index(io: FsIO) -> dict[str, dict]:
    """file_name -> integrity info from the checkpoint markers (written
    executor-side, hashed in flight), so commit never re-reads data."""
    idx: dict[str, dict] = {}
    ckpt = io.join("_checkpoints")
    for f in io.listdir(ckpt):
        if f.startswith("part-") and f.endswith(".json"):
            st = json.loads(io.read_text(posixpath.join(ckpt, f)))
            if "file_name" in st:
                idx[st["file_name"]] = st
    return idx


def read_commit_log(out_dir: str, io: FsIO | None = None) -> list[dict]:
    """The committed entries in replay order: the latest checkpoint's
    collapsed entries (when the log has one), then every JSON entry after
    it. Without a checkpoint this is every entry of every log file."""
    return [e for _, e in CommitLog(_io(out_dir, io)).entries()]


def checkpoint_log(out_dir: str, io: FsIO | None = None,
                   clean: bool = False) -> dict:
    """Delta-style commit-log CHECKPOINT (``DeltaLake`` checkpoint contract;
    Delta writes one every 10 commits): collapse the state at the latest
    version V into one parquet snapshot ``_log/<V>.checkpoint.parquet``
    plus a ``_log/_last_checkpoint`` pointer, so readers replay the
    checkpoint + only the json files AFTER it instead of the whole tail. At
    100 TB a long-lived table accumulates 10^4-10^5 commits; without this
    every reader's planning pass is O(log length).

    State collapsed (:class:`LogSnapshot`): the add record per live path,
    the remove tombstones, the latest ``metaData``, the latest ``txn`` per
    appId (the stream sink's idempotence axis survives checkpointing), and
    the surviving ``"v"``-stamped deletion-vector actions. The snapshot is
    one snappy parquet column of raw json lines — byte-faithful to the log
    format, ~10x smaller than the json tail it replaces.

    ``clean=True`` additionally deletes the json log files the checkpoint
    covers (Delta's log-retention cleanup). That forfeits time travel and
    CDF diffs to versions < V and is only safe when no streaming tail or
    as_of reader still needs them — the default keeps every json file, so
    the checkpoint is purely an accelerator."""
    import pyarrow.parquet as pq

    io = _io(out_dir, io)
    log = CommitLog(io)
    if not log.versions:
        raise ValueError("no commit log to checkpoint")
    snap = log.snapshot()
    v = snap.version
    lines = (([{"metaData": snap.meta}] if snap.meta else [])
             + [{"txn": snap.txns[a]} for a in sorted(snap.txns)]
             + [{"add": snap.adds[p]} for p in sorted(snap.adds)]
             + [{"remove": snap.removes[p]} for p in sorted(snap.removes)]
             + [{"dv": a} for a in snap.dvs])
    buf = pa.BufferOutputStream()
    pq.write_table(
        pa.table({"line": pa.array([json.dumps(e) for e in lines], pa.string())}),
        buf, compression="snappy",
    )
    name = f"{v:020d}.checkpoint.parquet"
    tag = uuid.uuid4().hex[:8]
    io.publish_bytes(posixpath.join(log.dir, name),
                     buf.getvalue().to_pybytes(), attempt_tag=tag)
    io.publish_bytes(posixpath.join(log.dir, _LAST_CHECKPOINT),
                     json.dumps({"version": v, "file": name}).encode(),
                     attempt_tag=tag)
    if clean:
        for x in log.versions:
            io.fs.delete_file(posixpath.join(log.dir, f"{x:020d}.json"))
    return {"version": v, "entries": len(lines), "file": name,
            "cleaned_json_files": len(log.versions) if clean else 0}


def read_log_checkpoint(out_dir: str, io: FsIO | None = None
                        ) -> tuple[int, list[dict]] | None:
    """(checkpoint version, collapsed entries) per ``_last_checkpoint``, or
    None when the log has never been checkpointed."""
    log = CommitLog(_io(out_dir, io))
    if log.checkpoint is None:
        return None
    return log.checkpoint, log.checkpoint_entries()


def committed_files(out_dir: str, io: FsIO | None = None,
                    as_of: int | None = None) -> list[str] | None:
    """Live data-file basenames per the commit log (adds minus removes), or
    None when no log exists (pre-commit state: directory listing governs).
    This is what makes readers log-gated: half-published crash leftovers and
    compacted-away files are invisible.

    ``as_of`` replays only versions <= ``as_of`` — time travel: the table
    exactly as some earlier commit left it (files removed *later*, e.g. by
    compaction, are still present at that version until vacuumed, which is
    why vacuum's retention window also bounds how far back time-travel reads
    stay valid). Replay starts from the latest checkpoint that covers the
    version (:meth:`CommitLog.entries`); a version before a checkpoint taken
    with ``clean=True`` fails loudly."""
    snap = log_snapshot(out_dir, io, as_of)
    return None if snap is None else snap.files


def committed_dv_actions(out_dir: str, io: FsIO | None = None,
                         as_of: int | None = None) -> list[dict]:
    """Live deletion-vector actions per the commit log, in commit order.

    A ``{"dv": {"dvFile": ..., "cardinality": N}}`` log action attaches a
    deletion vector (``_dv/<dvFile>``: chunk_id -> deleted row ordinals) to
    the table — merge-on-read DELETE, the Delta deletion-vector analog.
    DVs are keyed by *chunk id*, never by file path, so compaction (which
    moves chunk rows verbatim into new files) carries them untouched, and a
    copy-on-write rewrite (which mints new chunk ids) orphans them
    harmlessly. Readers union every live action's positions per chunk.

    ``{"dvRestore": {"asOf": V, "keep": [...]}}`` (written by
    :func:`..operators.table.restore_table`) REPLACES the DV state with the
    embedded ``keep`` list — the exact live actions at version V. Carrying
    the full target state (not a truncation predicate) makes restores
    compose in BOTH directions: restoring to a pre-delete version
    resurrects rows, and restoring forward again (undoing that restore)
    re-applies the vectors — a filter-only marker could never recover
    actions a sequential replay had already dropped. Each action carries
    ``"v"`` (its original commit index) so identity survives checkpoints,
    where the source file index is gone."""
    snap = log_snapshot(out_dir, io, as_of)
    return [] if snap is None else snap.dvs


def log_versions(out_dir: str, io: FsIO | None = None) -> list[int]:
    """Committed JSON log indices, in order (the time-travel axis)."""
    return CommitLog(_io(out_dir, io)).versions


def append_log_entry(out_dir: str, lines: list[dict], io: FsIO | None,
                     read_version: int) -> str:
    """Commit ``lines`` as ONE numbered log file — the store's only commit
    path (Delta's optimistic protocol, ``DeltaLake.fs:176-444``).

    ``read_version`` is the version of the snapshot the commit was planned
    from (-1 for an empty log). Before each exclusive-create attempt the
    entries committed after it are re-read; :class:`CommitConflict` is
    raised if any of them

    (a) adds or removes a path this commit adds or removes;
    (b) carries ``dv``/``dvRestore``, while this commit re-encodes rows (a
        ``dataChange: true`` remove) or writes deletion-vector state;
    (c) removes with ``dataChange: true``, while this commit writes
        deletion-vector state.

    Compaction's ``dataChange: false`` moves keep chunk ids, so (b) and (c)
    ignore them. Otherwise the commit takes the next free index;
    ``FsIO.create_exclusive`` plays the reference's upload-with-
    overwrite=false, and losing an index race re-checks the newly committed
    entries. Nothing here re-plans: :func:`write_commit_log` re-plans its
    blind appends, while DML raises and leaves its published files as
    orphans for :func:`vacuum`, as after a crash."""
    io = _io(out_dir, io)
    log_dir = io.join("_log")
    io.makedirs(log_dir)
    payload = ("\n".join(json.dumps(e) for e in lines) + "\n").encode()
    paths = {e[k]["path"] for e in lines for k in ("add", "remove") if k in e}
    rewrites = any(e["remove"].get("dataChange", True)
                   for e in lines if "remove" in e)
    writes_dv = any("dv" in e or "dvRestore" in e for e in lines)

    def clash(entry: dict) -> str | None:
        for k in ("add", "remove"):
            if k in entry and entry[k]["path"] in paths:
                return f"{k} of {entry[k]['path']!r}, which this commit touches"
        if ("dv" in entry or "dvRestore" in entry) and (rewrites or writes_dv):
            return "a deletion-vector change to rows this commit planned from"
        if (writes_dv and "remove" in entry
                and entry["remove"].get("dataChange", True)):
            return (f"a rewrite of {entry['remove']['path']!r}, which this "
                    "commit's deletion vector addresses")
        return None

    seen = read_version
    while True:
        log = CommitLog(io)
        try:
            newer = log.entries(since=seen)
        except LogTruncated as err:
            raise CommitConflict(
                f"versions after {seen} were checkpointed away before this "
                "commit could check them; nothing was committed") from err
        for v, e in newer:
            why = clash(e)
            if why:
                raise CommitConflict(
                    f"version {v} committed {why} after this commit read "
                    f"version {read_version}; nothing was committed")
        idx = max(log.version, seen) + 1
        target = posixpath.join(log_dir, f"{idx:020d}.json")
        if io.create_exclusive(target, payload):
            return target
        seen = idx - 1


def vacuum(out_dir: str, io: FsIO | None = None,
           min_age_sec: float = 7 * 24 * 3600.0) -> list[str]:
    """Delete data files the commit log does not reference as live (orphans
    from crashes between publish and commit, and compacted-away sources).
    New readers are safe because every read resolves files through
    :func:`committed_files`; ``min_age_sec`` is the retention window for
    everyone ELSE in flight: readers whose plan listed files before a
    compaction commit still read the old ones, and **writers publish data
    files BEFORE their checkpoint marker and commit-log entry** — a
    zero-retention vacuum racing an in-flight encode would reclaim
    just-published files as "orphans". The default matches Delta's 7-day
    VACUUM retention; pass a smaller window only when no encode or
    long-running read can overlap (tests pass 0). Returns the deleted
    basenames; no-op when no log exists."""
    import time

    io = _io(out_dir, io)
    snap = log_snapshot(out_dir, io)
    if snap is None:
        return []
    data_dir = io.join("data")
    now_ms = time.time() * 1000
    doomed = [
        f for f in io.listdir(data_dir)
        if f.endswith(".parquet") and f not in snap.adds
        and now_ms - io.mtime_ms(posixpath.join(data_dir, f)) >= min_age_sec * 1000
    ]
    for f in doomed:
        io.fs.delete_file(posixpath.join(data_dir, f))
    # deletion-vector sidecars age out under the same retention contract:
    # a `_dv/` file no live action references (restored-away, or orphaned by
    # a CoW rewrite then superseded) only serves pre-restore time travel —
    # exactly what vacuuming a data file already forfeits
    dv_dir = io.join("_dv")
    if io.isdir(dv_dir):
        live_dv = {a["dvFile"] for a in snap.dvs}
        for f in io.listdir(dv_dir):
            if (f.endswith(".json") and f not in live_dv
                    and now_ms - io.mtime_ms(posixpath.join(dv_dir, f))
                    >= min_age_sec * 1000):
                io.fs.delete_file(posixpath.join(dv_dir, f))
                doomed.append(f)
    return doomed


def read_manifest(spark: SparkSession, out_dir: str, io: FsIO | None = None) -> DataFrame:
    """Manifest = payload-free projection of chunk files (column-pruned scan)."""
    return read_chunks(spark, out_dir, io).select(*MANIFEST_COLUMNS)


def read_chunks(spark: SparkSession, out_dir: str, io: FsIO | None = None) -> DataFrame:
    """Log-gated chunk-file scan: when a commit log exists, exactly the files
    it references as live are read (half-published crash leftovers and
    compacted-away files are invisible); directory listing is the fallback
    for pre-commit state. The DataFrame read itself goes through Spark's own
    Hadoop connectors (pass URIs for cluster stores)."""
    io = _io(out_dir, io)
    d = io.join("data")
    live = committed_files(out_dir, io)
    if live is None:
        live = [f for f in io.listdir(d) if f.endswith(".parquet")]
    if not live:
        # empty input produced no chunk files: empty frame with the chunk schema
        return spark.createDataFrame([], CHUNK_SCHEMA)
    base = out_dir.rstrip("/") + "/data/"
    return spark.read.parquet(*[base + f for f in live])
