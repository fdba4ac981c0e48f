"""Single-core layer run for ``functions.codecs`` and ``plans.cost``: no
Spark, over chunks cut from the workloads' seeded data.

* Codec rates: each codec's encode and decode of one stream, repeated, as
  million values per second (strings: MB of raw blob per second).
* Selection: every stream of every chunk goes through the same public
  ``plans.cost`` entry the encode kernels use, with the tracer installed, so
  each trial encode in ``functions.codecs`` is a child span of its selection.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

import adapter
import inputs

INT_CODECS = ["plain", "bitpack", "for", "rle", "dict", "delta"]
STR_CODECS = ["plain", "dict", "fsst", "zlib"]
CHUNK_ROWS = 4096
CHUNK_VALUES = 1 << 18
MIN_REPEAT_S = 0.04


def _rate(fn, n: float) -> float:
    """n / median seconds per call, over at least 3 calls and 40 ms."""
    times = []
    t_end = time.perf_counter() + MIN_REPEAT_S
    while len(times) < 3 or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return n / statistics.median(times)


def _codec_id(C, name: str, strings: bool = False) -> int:
    if strings:
        return {"plain": C.STR_PLAIN, "dict": C.STR_DICT, "fsst": C.STR_FSST,
                "zlib": C.STR_ZLIB}[name]
    return {"plain": C.PLAIN, "bitpack": C.BITPACK, "for": C.FOR, "rle": C.RLE,
            "dict": C.DICT, "delta": C.DELTA, "gcd": C.GCD, "alp": C.ALP}[name]


def token_chunks(rows) -> list[dict]:
    """Cut token rows into encode-kernel-sized chunks (sorted by doc_id,
    <= 4096 rows, <= 2^18 values)."""
    rows = rows.sort_values("doc_id", kind="stable").reset_index(drop=True)
    lengths = rows["n_tok"].to_numpy().astype(np.int64)
    cum = np.concatenate(([0], np.cumsum(lengths)))
    chunks, lo = [], 0
    while lo < len(rows):
        hi_vals = int(np.searchsorted(cum, cum[lo] + CHUNK_VALUES, side="right")) - 1
        hi = max(lo + 1, min(lo + CHUNK_ROWS, len(rows), hi_vals))
        part = rows.iloc[lo:hi]
        chunks.append({
            "doc_id": part["doc_id"].tolist(),
            "source": part["source"].tolist(),
            "lengths": lengths[lo:hi].astype(np.int32),
            "values": np.concatenate([np.asarray(t, np.int32) for t in part["tokens"]]
                                     or [np.zeros(0, np.int32)]),
        })
        lo = hi
    return chunks


def table_chunk(items) -> dict:
    return {
        "int64": items["l_orderkey"].to_numpy(np.int64),
        "ts": items["l_shipdate"].to_numpy().astype("datetime64[us]").view(np.int64),
        "int32": items["l_linenumber"].to_numpy(np.int32),
        "float64": items["l_extendedprice"].to_numpy(np.float64),
        "strings": items["l_comment"].tolist(),
        "flags": items["l_returnflag"].tolist(),
    }


def codec_rates(tok: dict, tbl: dict) -> dict:
    C = adapter.codecs()
    out = {}
    vals, lens = tok["values"], tok["lengths"]
    for name in INT_CODECS:
        c = _codec_id(C, name)
        buf = C.encode_int32(vals, c)
        out[f"codecs.int32.{name}.enc_mvals_s"] = _rate(lambda: C.encode_int32(vals, c), len(vals) / 1e6)
        out[f"codecs.int32.{name}.dec_mvals_s"] = _rate(lambda: C.decode_int32(buf), len(vals) / 1e6)
    buf = C.encode_int32_grouped(vals, lens)
    out["codecs.int32.grouped.enc_mvals_s"] = _rate(lambda: C.encode_int32_grouped(vals, lens), len(vals) / 1e6)
    out["codecs.int32.grouped.dec_mvals_s"] = _rate(lambda: C.decode_int32_grouped(buf, lens), len(vals) / 1e6)
    # int64: quantized timestamps, the stream GCD exists for
    ts = tbl["ts"]
    for name in INT_CODECS + ["gcd"]:
        c = _codec_id(C, name)
        buf = C.encode_int64(ts, c)
        out[f"codecs.int64.{name}.enc_mvals_s"] = _rate(lambda: C.encode_int64(ts, c), len(ts) / 1e6)
        out[f"codecs.int64.{name}.dec_mvals_s"] = _rate(lambda: C.decode_int64(buf), len(ts) / 1e6)
    f64 = tbl["float64"]
    buf = C.encode_typed(f64, C.ALP)
    out["codecs.float64.alp.enc_mvals_s"] = _rate(lambda: C.encode_typed(f64, C.ALP), len(f64) / 1e6)
    out["codecs.float64.alp.dec_mvals_s"] = _rate(lambda: C.decode_typed(buf), len(f64) / 1e6)
    s_len, s_blob = C.strings_to_blob(tbl["strings"])
    mb = (len(s_blob) + 4 * len(s_len)) / 1e6
    for name in STR_CODECS:
        c = _codec_id(C, name, strings=True)
        buf = C.encode_strings(s_len, s_blob, c)
        out[f"codecs.str.{name}.enc_mb_s"] = _rate(lambda: C.encode_strings(s_len, s_blob, c), mb)
        out[f"codecs.str.{name}.dec_mb_s"] = _rate(lambda: C.decode_strings(buf), mb)
    return out


def selection(tracer, chunks: list[dict], tbl: dict) -> dict:
    """Run every stream through ``plans.cost`` with the tracer installed and
    derive the selection-layer metrics from the spans."""
    C, P = adapter.codecs(), adapter.cost()
    first = len(tracer.spans)
    n_streams = 0
    for ch in chunks:
        for col in ("doc_id", "source"):
            P.select_str_codec(*C.strings_to_blob(ch[col]))
        P.select_int_codec(ch["lengths"])
        P.encode_values(ch["values"], ch["lengths"])
        n_streams += 4
    for col in ("int64", "ts", "int32", "float64"):
        P.select_typed_codec(tbl[col])
    for col in ("strings", "flags"):
        P.select_str_codec(*C.strings_to_blob(tbl[col]))
    n_streams += 6
    spans = tracer.spans[first:]
    tops = [s for s in spans if s["layer"] == "plans.cost" and
            (s["parent"] is None or tracer.spans[s["parent"]]["layer"] != "plans.cost")]
    top_ids = {s["id"] for s in tops}
    total = sum(s["end"] - s["start"] for s in tops)
    trials = [s for s in spans if s["layer"] == "functions.codecs" and s["parent"] in top_ids
              and ".encode_" in s["name"]]
    last_child: dict[int, dict] = {}
    for s in trials:
        last_child[s["parent"]] = s
    final = sum(s["end"] - s["start"] for s in last_child.values())
    str_s = sum(s["end"] - s["start"] for s in tops if s["name"].endswith("select_str_codec"))
    return {
        "cost.select_s_per_chunk": total / (len(chunks) + 1),
        "cost.trial_encodes_per_stream": len(trials) / n_streams,
        "cost.selection_overhead_frac": 1.0 - final / total if total else 0.0,
        "cost.str_select_share": str_s / total if total else 0.0,
    }


def run(tracer, seed: int) -> dict:
    tok_rows = adapter.token_rows(1200, seed)
    chunks = token_chunks(tok_rows)
    tbl = table_chunk(inputs.lineitem(16_384, seed))
    out = codec_rates(chunks[0], tbl)
    tracer.install({k: v for k, v in adapter.layer_modules().items()
                    if k in ("plans.cost", "functions.codecs")}, adapter.PKG)
    try:
        out.update(selection(tracer, chunks, tbl))
    finally:
        tracer.uninstall()
    return out
