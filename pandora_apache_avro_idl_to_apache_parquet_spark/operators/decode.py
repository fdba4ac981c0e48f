"""Decode pipeline: chunk files -> token table, point lookups, and round-trip
verification.

Every chunk row is independently round-trippable (its payloads are
self-describing), so decode is a shuffle-free ``mapInArrow`` over the chunk
scan: decode each column payload, rebuild the list column zero-copy via
``pa.ListArray.from_arrays(offsets, values)`` — the inverse of the vectorized
explode. This mirrors the reference's parent/child recombination contract
(``child.pj_pid = parent.pj_uid``, ``/root/reference/README.md:95-102``) with
offsets standing in for the FK join. One helper per stream (``_strings`` for
doc_id/source, ``_lengths_values`` + ``_token_columns`` for the token lists)
serves every decode path.

The same property makes a point lookup a driver-side read:
:func:`lookup_docs` opens the live chunk files with ``pyarrow.parquet``,
probes only the doc_id streams, decodes only the chunks that hold a wanted
id, and returns a local relation — no Spark job at all.

``verify_roundtrip`` enforces the north-rule invariant: per-row token-array
equality between source and decode(encode(source)).
"""

from __future__ import annotations

from bisect import bisect_left
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import codecs as C
from ..functions.fsio import FsIO
from ..schema import TOKENS_SCHEMA
from .encode import live_data_files, read_chunks

_TOKEN_COLUMNS = [pa.field("tokens", pa.list_(pa.int32()), False),
                  pa.field("n_tok", pa.int32(), False)]
_TOKENS_ARROW = pa.schema([pa.field("doc_id", pa.string(), False), *_TOKEN_COLUMNS,
                           pa.field("source", pa.string(), False)])
_PAYLOADS = ("doc_id_payload", "source_payload", "lengths_payload", "values_payload")


def _strings(payload: bytes) -> pa.StringArray:
    """A doc_id or source stream -> its string column."""
    return C.blob_to_strings(*C.decode_strings(payload))


def _lengths_values(lengths_payload: bytes,
                    values_payload: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Codec half of the token stream: per-row lengths and the flat values."""
    lengths = C.decode_int32(lengths_payload)
    if C.payload_codec_name(values_payload) == "grouped":
        return lengths, C.decode_int32_grouped(values_payload, lengths)
    return lengths, C.decode_int32(values_payload)


def _token_columns(lengths: np.ndarray, values: np.ndarray) -> list[pa.Array]:
    """Arrow half of the token stream: ``[tokens, n_tok]``, the list column
    rebuilt from offsets over the flat values."""
    offs = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offs[1:])
    tokens = pa.ListArray.from_arrays(pa.array(offs, pa.int32()),
                                      pa.array(values, pa.int32()))
    return [tokens, pa.array(lengths, pa.int32())]


def _decoded_chunk(doc_ids: pa.Array, source_payload: bytes, lengths_payload: bytes,
                   values_payload: bytes) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [doc_ids, *_token_columns(*_lengths_values(lengths_payload, values_payload)),
         _strings(source_payload)],
        schema=_TOKENS_ARROW,
    )


def _chunk_payloads(batch: pa.RecordBatch) -> Iterator[tuple[bytes, ...]]:
    """One tuple of payloads per chunk row (few chunks per batch), copied out
    of Arrow one chunk at a time."""
    for i in range(batch.num_rows):
        yield tuple(c[i].as_py() for c in batch.columns)


def _decode_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in it:
        for doc, src, lengths, values in _chunk_payloads(batch):
            yield _decoded_chunk(_strings(doc), src, lengths, values)


def decode_tokens(spark: SparkSession, out_dir: str) -> DataFrame:
    chunks = read_chunks(spark, out_dir).select(*_PAYLOADS)
    return chunks.mapInArrow(_decode_batches, schema=TOKENS_SCHEMA)


def decode_tokens_attributed(spark: SparkSession, out_dir: str):
    """Bench-only decode with per-stage attribution via float accumulators.

    Same result as :func:`decode_tokens`; additionally sums, across ALL
    tasks, the CPU-seconds spent in each stage of the Python worker:

    * ``pull``   — blocked on the upstream Arrow batch iterator (parquet
      payload read + JVM→Python transfer; after the first yield this also
      absorbs the downstream send that precedes the next pull);
    * ``kernel`` — codec decode proper (numpy/zlib in ``functions.codecs``),
      including the zero-copy string-array wrap of the doc_id/source streams;
    * ``arrow``  — list-offset + RecordBatch assembly.

    The per-chunk copy of the payload bytes out of the Arrow batch counts
    in none of the three.

    Purpose (VERDICT r04 item 1): kernel CPU-seconds are host-load-invariant
    — if a bench run's decode *wall* time blows up while ``kernel`` stays in
    its usual band, the regression is host contention (I/O stalls, steal
    time), not the decode path. Returns ``(df, {stage: accumulator})``; read
    ``acc.value`` only after an action has consumed ``df``.
    """
    import time as _time

    acc = {k: spark.sparkContext.accumulator(0.0)
           for k in ("pull", "kernel", "arrow")}

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        while True:
            t0 = _time.perf_counter()
            batch = next(it, None)
            acc["pull"].add(_time.perf_counter() - t0)
            if batch is None:
                return
            for doc, src, lengths, values in _chunk_payloads(batch):
                t0 = _time.perf_counter()
                doc_ids, sources = _strings(doc), _strings(src)
                lv = _lengths_values(lengths, values)
                acc["kernel"].add(_time.perf_counter() - t0)
                t0 = _time.perf_counter()
                rb = pa.RecordBatch.from_arrays(
                    [doc_ids, *_token_columns(*lv), sources], schema=_TOKENS_ARROW)
                acc["arrow"].add(_time.perf_counter() - t0)
                yield rb

    chunks = read_chunks(spark, out_dir).select(*_PAYLOADS)
    return chunks.mapInArrow(batches, schema=TOKENS_SCHEMA), acc


def _tokens_only_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    schema = pa.schema(_TOKEN_COLUMNS)
    for batch in it:
        for lengths, values in _chunk_payloads(batch):
            yield pa.RecordBatch.from_arrays(
                _token_columns(*_lengths_values(lengths, values)), schema=schema)


def decode_values_only(spark: SparkSession, out_dir: str) -> DataFrame:
    """Column-pruned decode: only the ``lengths`` and ``values`` payloads are
    read and decoded — the doc_id/source string payloads never leave parquet
    (their columns are pruned at the scan). The intra-format analog of
    Catalyst's column pruning, for token-statistics workloads that don't need
    identities."""
    from pyspark.sql.types import IntegerType, StructField, StructType
    from pyspark.sql.types import ArrayType

    chunks = read_chunks(spark, out_dir).select("lengths_payload", "values_payload")
    schema = StructType(
        [StructField("tokens", ArrayType(IntegerType(), False), False),
         StructField("n_tok", IntegerType(), False)]
    )
    return chunks.mapInArrow(_tokens_only_batches, schema=schema)


def _admits(want: list[str], lo: str, hi: str) -> bool:
    """Does the zone map ``[lo, hi]`` hold any of the sorted ``want`` ids?"""
    k = bisect_left(want, lo)
    return k < len(want) and want[k] <= hi


def lookup_docs(spark: SparkSession, out_dir: str, doc_ids: list[str]) -> DataFrame:
    """Point lookup of whole documents, answered in the driver: no Spark job.

    The live chunk files (log-gated exactly as :func:`read_chunks` reads
    them) are opened one at a time with ``pyarrow.parquet`` through the
    store's :class:`FsIO`, so any store the driver can list can be probed.
    Per file:

    1. the ``doc_id_min``/``doc_id_max`` zone map drops chunks that cannot
       hold a wanted id (rows inside a chunk are sorted by doc_id);
    2. of the chunks that survive, only the doc_id stream is read, decoded
       and probed with ``pc.is_in``;
    3. only a chunk with a hit has its source, lengths and values streams
       decoded, and its matching rows are kept — every one of them, so a
       doc_id stored under two sources returns both rows.

    The result is built with ``spark.createDataFrame`` from Arrow; below
    ``spark.sql.execution.arrow.localRelationThreshold`` that is a local
    relation, so collecting or counting it runs no job either. Because the
    salted ``part_id`` spreads every key range over every partition, zone
    maps rarely prune, and the doc_id streams of all chunks are read (a
    small fraction of the store's bytes); the payload streams of a chunk
    without a hit are never decoded.
    """
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    io = FsIO.resolve(out_dir)
    want = sorted(set(doc_ids))
    value_set = pa.array(want, pa.string())
    found: list[pa.RecordBatch] = []
    for name in live_data_files(out_dir, io):
        with io.open_input_file(io.join("data", name)) as f:
            pf = pq.ParquetFile(f)
            zone = pf.read(columns=["doc_id_min", "doc_id_max"]).to_pydict()
            maybe = [i for i, (lo, hi) in enumerate(zip(zone["doc_id_min"],
                                                         zone["doc_id_max"]))
                     if _admits(want, lo, hi)]
            if not maybe:
                continue
            doc_payloads = pf.read(columns=["doc_id_payload"]).column(0)
            hits = {}
            for i in maybe:
                ids = _strings(doc_payloads[i].as_py())
                rows = pc.indices_nonzero(pc.is_in(ids, value_set=value_set))
                if len(rows):
                    hits[i] = (ids, rows)
            if not hits:
                continue
            rest = pf.read(columns=list(_PAYLOADS[1:]))
        for i, (ids, rows) in hits.items():
            payloads = (rest.column(c)[i].as_py() for c in range(3))
            found.append(_decoded_chunk(ids, *payloads).take(rows))
    # a table with no chunks at all trips pyspark's Arrow conversion
    table = pa.Table.from_batches(found) if found else _TOKENS_ARROW.empty_table()
    return spark.createDataFrame(table, schema=TOKENS_SCHEMA)


def verify_roundtrip(src: DataFrame, decoded: DataFrame) -> DataFrame:
    """Rows violating the bit-identical invariant (empty DataFrame == pass).

    Full outer join on doc_id: catches missing rows, duplicate rows, and any
    per-row array/source mismatch.
    """
    a = src.select(
        F.col("doc_id"),
        F.col("tokens").alias("src_tokens"),
        F.col("source").alias("src_source"),
    )
    b = decoded.select(
        F.col("doc_id"),
        F.col("tokens").alias("dec_tokens"),
        F.col("source").alias("dec_source"),
    )
    joined = a.join(b, "doc_id", "full_outer")
    return joined.filter(
        F.col("src_tokens").isNull()
        | F.col("dec_tokens").isNull()
        | (F.col("src_tokens") != F.col("dec_tokens"))
        | (F.col("src_source") != F.col("dec_source"))
    )
