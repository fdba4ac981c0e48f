"""The benchmark's workloads: each is a closed loop with one client.

A workload builds its inputs from the seed in ``setup`` and runs an untimed
``warm_up`` (both reported as ``setup_s``), then repeats ``round``
until the run's seconds are spent. Every timed call into the program is one
op: its latency is sampled, its output is checked afterwards (outside the
timer), and an exception or a wrong output counts as a failed op.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import adapter
import inputs
import oracle


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def dir_files(path: str) -> dict[str, int]:
    """Relative path -> size of every regular file under ``path``."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def live_bytes(store: str) -> int:
    return sum(os.path.getsize(os.path.join(store, "data", f))
               for f in adapter.live_files(store))


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.ops: list[dict] = []
        self.warm_ops: list[dict] = []
        self.rounds: list[dict] = []
        self.errors: list[str] = []
        self.attempted = self.failed = 0
        self.recording = True
        self.tracer = None
        self._n_dirs = 0

    def fresh_dir(self, tag: str) -> str:
        self._n_dirs += 1
        return os.path.join(self.work, f"{tag}-{self._n_dirs:04d}")

    def op(self, name: str, fn, check=None, timed: bool = True):
        """Time ``fn``; then run ``check(result)`` untimed. Returns
        ``(ok, result)``. With ``timed=False`` the call is checked and
        counted but its latency is not a sample."""
        t0 = time.perf_counter()
        res, why = None, None
        try:
            if self.tracer is not None:
                # self time of the "op" layer: Spark actions the benchmark
                # runs on returned DataFrames, outside any package call
                with self.tracer.span(f"op.{name}", "op"):
                    res = fn()
            else:
                res = fn()
        except Exception:
            why = traceback.format_exc(limit=6)
        dt = time.perf_counter() - t0
        if why is None and self.recording:
            try:
                if check is not None and not check(res):
                    why = "output mismatch"
            except Exception:
                why = traceback.format_exc(limit=6)
        ok = why is None
        if not self.recording:
            if not ok:
                raise RuntimeError(f"warm-up op {name} failed: {why}")
            self.warm_ops.append({"op": name, "s": dt})
            return ok, res
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{name}: {why}")
        if timed:
            self.ops.append({"op": name, "s": dt, "ok": ok, "traced": self.tracer is not None})
        return ok, res

    def run_round(self) -> None:
        first = len(self.ops)
        self.round()
        if self.recording:
            self.rounds.append({"s": sum(o["s"] for o in self.ops[first:]),
                                "traced": self.tracer is not None})

    def round_times(self, traced: bool = False) -> list[float]:
        return [r["s"] for r in self.rounds if r["traced"] == traced]

    def op_times(self, names, traced: bool = False) -> list[float]:
        """Latencies of the successful ops named; of all of them when every
        one failed (the run then reports ``correct: false`` anyway)."""
        names = (names,) if isinstance(names, str) else names
        mine = [o for o in self.ops if o["op"] in names and o["traced"] == traced]
        return [o["s"] for o in mine if o["ok"]] or [o["s"] for o in mine]

    # subclasses: setup(), round(), end_to_end(), workload_metrics(), sizes(),
    # layer_metrics(tracer); metrics of untraced ops unless named "layer"
    def warm_up(self) -> None:
        self.round()

    def verify_final(self) -> None:
        pass


# ---------------------------------------------------------------- tokens


ROW_COLS = ("doc_id", "tokens", "n_tok", "source")
VALUE_COLS = ("tokens", "n_tok")


def token_digests(df, *col_sets) -> list[tuple]:
    """Order-free digests of a token frame, computed in one job: (rows, sum of
    n_tok, tokens, xor of the rows' xxhash64 over the columns) per column set."""
    from pyspark.sql import functions as F

    r = df.agg(F.count(F.lit(1)), F.sum("n_tok"), F.sum(F.size("tokens")),
               *[F.bit_xor(F.xxhash64(*cols)) for cols in col_sets]).collect()[0]
    r = [int(v or 0) for v in r]
    return [tuple(r[:3] + [h]) for h in r[3:]]


class _TokenBase(Workload):
    def load_reference(self) -> None:
        self.rows = adapter.token_rows(inputs.TOKEN_DOCS, self.seed)
        self.n_docs = len(self.rows)
        self.n_tokens = int(self.rows["n_tok"].sum())
        # Arrow footprint of the source: int32 tokens + list offsets, n_tok,
        # and the two string columns' bytes + offsets
        text = sum(len(x.encode()) for c in ("doc_id", "source") for x in self.rows[c])
        self.raw_bytes = 4 * self.n_tokens + 4 * (self.n_docs + 1) + 4 * self.n_docs \
            + text + 2 * 4 * (self.n_docs + 1)
        self.by_id = self.rows.set_index("doc_id")

    def doc_matches(self, got) -> bool:
        for r in got:
            ref = self.by_id.loc[r["doc_id"]]
            if (r["source"] != ref["source"] or r["n_tok"] != ref["n_tok"]
                    or not np.array_equal(np.asarray(r["tokens"], np.int32),
                                          np.asarray(ref["tokens"], np.int32))):
                return False
        return True

    def sample_ids(self, k: int, salt: int) -> list[str]:
        rng = np.random.default_rng([self.seed, salt])
        return [str(self.rows["doc_id"].iat[i])
                for i in rng.choice(self.n_docs, k, replace=False)]

    def store_facts(self, store: str) -> dict:
        stats = adapter.encode_part_stats(store)
        return {"rows": int(stats["n_rows"].sum()), "tokens": int(stats["n_values"].sum()),
                "chunks": int(stats["n_chunks"].sum()), "bytes": live_bytes(store)}


class TokensIngest(_TokenBase):
    name = "tokens_ingest"
    PRIMARY_OPS = ("encode",)

    def setup(self) -> None:
        self.load_reference()
        self.src = os.path.join(self.work, "iceberg")
        adapter.stage_token_table(self.spark, self.src, inputs.TOKEN_DOCS, self.seed)
        self.expect = token_digests(adapter.scan_iceberg(self.spark, self.src), ROW_COLS)[0]
        if self.expect[:3] != (self.n_docs, self.n_tokens, self.n_tokens):
            raise RuntimeError(f"staged table disagrees with generator: {self.expect}")
        self.outputs: list[dict] = []

    def encode_once(self) -> None:
        out = self.fresh_dir("enc")

        def job():
            adapter.encode_tokens(adapter.scan_iceberg(self.spark, self.src), out)
            return out

        def check(_):
            f = self.store_facts(out)
            files = [e for e in adapter.commit_log(out) if "add" in e]
            return (f["rows"], f["tokens"]) == (self.n_docs, self.n_tokens) and len(files) > 0

        ok, _ = self.op("encode", job, check)
        if ok:
            self.outputs.append({"dir": out, "s": self.ops[-1]["s"] if self.recording else 0.0,
                                 "traced": self.tracer is not None})

    def round(self) -> None:
        self.encode_once()

    def warm_up(self) -> None:
        # encode time keeps falling over the first few jobs of a session
        # (JIT of the scan/shuffle paths); start timing closer to steady state
        for _ in range(3):
            self.encode_once()

    def verify_final(self) -> None:
        """One full decode of the last output against the source digest,
        plus a seeded sample of documents against the generator's rows."""
        from pyspark.sql import functions as F

        dec = adapter.decode_tokens(self.spark, self.outputs[-1]["dir"])
        ids = self.sample_ids(8, 99)
        self.op("verify_decode",
                lambda: (token_digests(dec, ROW_COLS)[0],
                         dec.filter(F.col("doc_id").isin(ids)).collect()),
                lambda r: r[0] == self.expect and len(r[1]) == len(ids)
                and self.doc_matches(r[1]),
                timed=False)

    def end_to_end(self) -> dict:
        f = self.store_facts(self.outputs[-1]["dir"])
        return {"store_bytes_per_raw_byte": (f["bytes"] / self.raw_bytes, "ratio")}

    def workload_metrics(self) -> dict:
        enc = self.op_times("encode")
        f = self.store_facts(self.outputs[-1]["dir"])
        return {
            "encode_tok_per_s": (self.n_tokens / _median(enc), "tok/s"),
            "bytes_per_token": (f["bytes"] / self.n_tokens, "B/tok"),
        }

    def sizes(self) -> dict:
        f = self.store_facts(self.outputs[-1]["dir"])
        return {"rows": self.n_docs, "tokens": self.n_tokens, "raw_bytes": self.raw_bytes,
                "store_bytes": f["bytes"], "chunks": f["chunks"]}

    def layer_metrics(self, tracer) -> dict:
        m = {}
        plans = tracer.calls("sources.iceberg.read_iceberg")
        m["iceberg.plan_s"] = _median(plans)
        m["iceberg.data_files"] = adapter.iceberg_data_files(self.src)
        t0 = time.perf_counter()
        adapter.scan_iceberg(self.spark, self.src).write.format("noop").mode("overwrite").save()
        m["tokens.scan_tok_per_s"] = self.n_tokens / (time.perf_counter() - t0)
        outs = [o for o in self.outputs if o["traced"]]
        per_job = []
        for o in outs:
            st, wall = adapter.encode_part_stats(o["dir"]), o["s"]
            tot = st["total_sec"].to_numpy()
            per_job.append({
                "kernel": float(st["kernel_sec"].sum()), "write": float(st["write_sec"].sum()),
                "part": float(tot.sum()), "skew": float(tot.max() / np.median(tot)),
                "chunks": int(st["n_chunks"].sum()),
                "shell": 1.0 - float(tot.sum()) / (wall * 4),
            })
        for k, name in [("kernel", "encode.kernel_cpu_s"), ("write", "encode.write_s"),
                        ("part", "encode.part_s_sum"), ("skew", "encode.part_skew"),
                        ("chunks", "encode.chunks"), ("shell", "encode.shell_frac")]:
            m[name] = _median([j[k] for j in per_job])
        m["encode.commit_s"] = _median(tracer.calls("operators.encode.write_commit_log"))
        m.update(token_codec_wins(adapter.token_manifest(self.spark, outs[-1]["dir"])))
        m.update(store_fsio(outs[-1]["dir"], 0))
        return m


class TokensRead(_TokenBase):
    name = "tokens_read"
    PRIMARY_OPS = ("lookup",)
    LOOKUPS_PER_ROUND = 5

    def setup(self) -> None:
        self.load_reference()
        self.store = os.path.join(self.work, "store")
        src = adapter.synth_token_frame(self.spark, inputs.TOKEN_DOCS, self.seed)
        adapter.encode_tokens(src, self.store)
        self.expect, self.expect_values = token_digests(src, ROW_COLS, VALUE_COLS)
        f = self.store_facts(self.store)
        if (f["rows"], f["tokens"]) != (self.n_docs, self.n_tokens):
            raise RuntimeError(f"store build disagrees with generator: {f}")
        self.facts = f
        self._round = 0
        self.attributed: list[dict] = []

    def round(self, lookups: int = LOOKUPS_PER_ROUND) -> None:
        self._round += 1
        if self.tracer is not None:
            def decode():
                df, acc = adapter.decode_tokens_attributed(self.spark, self.store)
                d = token_digests(df, ROW_COLS)[0]
                self.attributed.append({k: a.value for k, a in acc.items()})
                return d
        else:
            def decode():
                return token_digests(adapter.decode_tokens(self.spark, self.store), ROW_COLS)[0]
        self.op("decode", decode, lambda d: d == self.expect)
        self.op("values_scan",
                lambda: token_digests(adapter.decode_values(self.spark, self.store),
                                      VALUE_COLS)[0],
                lambda d: d == self.expect_values)
        for doc in self.sample_ids(lookups, self._round):
            self.op("lookup", lambda: adapter.lookup_doc(self.spark, self.store, doc),
                    lambda got, doc=doc: len(got) == 1 and got[0]["doc_id"] == doc
                    and self.doc_matches(got))

    def warm_up(self) -> None:
        self.round(lookups=2)

    def end_to_end(self) -> dict:
        return {"store_bytes_per_raw_byte": (self.facts["bytes"] / self.raw_bytes, "ratio")}

    def workload_metrics(self) -> dict:
        lk = sorted(self.op_times("lookup"))
        out = {
            "decode_tok_per_s": (self.n_tokens / _median(self.op_times("decode")), "tok/s"),
            "values_scan_tok_per_s": (self.n_tokens / _median(self.op_times("values_scan")),
                                      "tok/s"),
            "lookup_p50_ms": (1e3 * _median(lk), "ms"),
        }
        pct = tail_percentile(len(lk))
        tail = None if pct is None else 1e3 * float(np.percentile(lk, pct))
        out["lookup_tail_ms"] = (tail, "ms", {"percentile": pct, "samples": len(lk)})
        return out

    def sizes(self) -> dict:
        return {"rows": self.n_docs, "tokens": self.n_tokens, "raw_bytes": self.raw_bytes,
                "store_bytes": self.facts["bytes"], "chunks": self.facts["chunks"]}

    def layer_metrics(self, tracer) -> dict:
        m = {}
        for k in ("pull", "kernel", "arrow"):
            m[f"decode.{k}_cpu_s"] = _median([a[k] for a in self.attributed])
        m["decode.rows_per_batch"] = self.n_docs / self.facts["chunks"]
        ids = self.sample_ids(self.LOOKUPS_PER_ROUND, 1)
        m["lookup.chunks_read_per_hit"] = (
            sum(adapter.token_chunks_hit(self.spark, self.store, d) for d in ids) / len(ids))
        m.update(store_fsio(self.store, 0))
        return m


def tail_percentile(n: int):
    """Highest of the usual percentiles with at least 10 samples beyond it."""
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100.0) >= 10:
            return p
    return None


def token_codec_wins(manifest) -> dict:
    out = {}
    for stream in ("doc_id", "source", "lengths", "values"):
        for codec, n in manifest[f"{stream}_codec"].value_counts().items():
            out[f"cost.wins.{stream}.{codec}"] = int(n)
    return out


def store_fsio(store: str, base_bytes: int, base_files: int = 0) -> dict:
    """Walk a store: bytes and files written beyond a baseline, bytes no
    commit references (orphans), and write amplification over live bytes."""
    files = dir_files(store)
    live = set(adapter.live_files(store))
    data = {k: v for k, v in files.items() if k.startswith("data" + os.sep)}
    orphan = sum(v for k, v in data.items() if os.path.basename(k) not in live)
    written = sum(files.values()) - base_bytes
    lb = live_bytes(store)
    return {"fsio.bytes_written": written, "fsio.files_written": len(files) - base_files,
            "fsio.orphan_bytes": orphan, "fsio.write_amp": written / lb if lb else 0.0}


# ---------------------------------------------------------------- table store

DML_OPS = ("delete_where", "dv_delete_where", "update_where", "merge_table", "compact_table")


def write_items(df, path: str) -> None:
    """Parquet with UTC-adjusted timestamps (Spark reads them as TIMESTAMP)."""
    df = df.copy()
    df["l_shipdate"] = df["l_shipdate"].dt.tz_localize("UTC")
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


class TableDml(Workload):
    name = "table_dml"
    PRIMARY_OPS = DML_OPS

    def setup(self) -> None:
        items = inputs.lineitem(inputs.TABLE_ROWS, self.seed)
        self.items = items
        self.raw_bytes = pa.Table.from_pandas(items, preserve_index=False).nbytes
        self.src = os.path.join(self.work, "lineitem.parquet")
        self.merge_src = os.path.join(self.work, "merge.parquet")
        self.plan = inputs.dml_plan(items, self.seed)
        write_items(items, self.src)
        write_items(self.plan["merge_rows"], self.merge_src)
        self.round_stats: list[dict] = []

    def checksum(self, store: str, columns=None) -> tuple:
        dec = adapter.decode_table(self.spark, store, columns=columns)
        return tuple(int(v or 0) for v in dec.selectExpr(*oracle.SPARK_CHECKSUM).collect()[0])

    def round(self) -> None:
        """Load, the fixed DML sequence, and a full scan, into a fresh store."""
        from pyspark.sql import functions as F

        spark, plan = self.spark, self.plan
        store = self.fresh_dir("tbl")
        orc = oracle.TableOracle(self.items)
        good = {"version": None}
        stats = {"results": {}, "store": store}
        first_op = len(self.ops)

        def verified(name, fn, apply):
            """Run a mutating op; on a wrong state roll store and oracle back
            to the last verified version so one fault is counted once."""
            if apply is not None:
                apply()

            def check(res):
                stats["results"][name] = res
                return self.checksum(store, oracle.CHECKSUM_COLUMNS) == orc.checksum()

            ok, _ = self.op(name, fn, check)
            if ok:
                good["version"] = max(adapter.log_versions(store))
                orc.mark_good()
            else:
                if good["version"] is not None:
                    adapter.restore_table(store, good["version"])
                orc.reset_to_good()
            return ok

        if not verified("encode_table",
                        lambda: adapter.encode_table(spark.read.parquet(self.src), store), None):
            orc.close()
            return
        stats["encoded_bytes"] = live_bytes(store)
        base = dir_files(store)
        stats["base_bytes"], stats["base_files"] = sum(base.values()), len(base)
        verified("delete_where",
                 lambda: adapter.delete_where(spark, store,
                                              F.col("l_shipdate") < F.lit(plan["delete_before"])),
                 lambda: orc.delete_before(plan["delete_before"]))
        verified("dv_delete_where",
                 lambda: adapter.dv_delete_where(
                     spark, store, F.col("l_partkey") < F.lit(plan["dv_partkey_below"]),
                     ["l_partkey"]),
                 lambda: orc.delete_partkey_below(plan["dv_partkey_below"]))
        key = plan["lookup_key"]
        self.op("lookup_value", lambda: adapter.lookup_value(spark, store, "l_orderkey", key),
                lambda got: sorted((r["l_linenumber"], r["l_partkey"], r["l_quantity"],
                                    r["l_tax"]) for r in got) == orc.lookup(key))
        verified("update_where",
                 lambda: adapter.update_where(
                     spark, store, F.col("l_discount") == F.lit(plan["update_discount"]),
                     {"l_tax": F.col("l_tax") + F.lit(0.01)}),
                 lambda: orc.bump_tax(plan["update_discount"]))
        verified("merge_table",
                 lambda: adapter.merge_table(spark, store, spark.read.parquet(self.merge_src)),
                 lambda: orc.upsert(plan["merge_rows"]))
        stats["dv_rows"] = adapter.table_dv_rows(store)
        verified("compact_table", lambda: adapter.compact_table(store), None)
        self.op("table_stats", lambda: adapter.table_row_count(spark, store),
                lambda n: n == orc.count())
        expect = orc.checksum()
        stats["scan_rows"] = expect[0]
        self.op("decode_table", lambda: self.checksum(store), lambda got: got == expect)
        orc.close()
        if self.recording:
            stats["traced"] = self.tracer is not None
            stats["seq_s"] = sum(o["s"] for o in self.ops[first_op:]
                                 if o["op"] not in ("encode_table", "decode_table"))
            self.round_stats.append(stats)

    def last_round(self, traced: bool = False) -> dict:
        return [r for r in self.round_stats if r["traced"] == traced][-1]

    def end_to_end(self) -> dict:
        enc = self.last_round()["encoded_bytes"]
        return {"store_bytes_per_raw_byte": (enc / self.raw_bytes, "ratio")}

    def seq_times(self, traced: bool = False) -> list[float]:
        """Per round: seconds of the ops between load and final scan."""
        return [r["seq_s"] for r in self.round_stats if r["traced"] == traced]

    def workload_metrics(self) -> dict:
        dml = self.op_times(DML_OPS)
        scans = self.op_times("decode_table")
        rows = self.last_round()["scan_rows"]
        return {
            "table_encode_rows_per_s": (inputs.TABLE_ROWS / _median(self.op_times("encode_table")),
                                        "rows/s"),
            "table_bytes_per_raw_byte": (self.last_round()["encoded_bytes"] / self.raw_bytes,
                                         "ratio"),
            "dml_p50_s": (_median(dml), "s"),
            "dml_seq_s": (_median(self.seq_times()), "s"),
            "table_lookup_p50_ms": (1e3 * _median(self.op_times("lookup_value")), "ms"),
            "table_scan_rows_per_s": (rows / _median(scans), "rows/s"),
        }

    def sizes(self) -> dict:
        return {"rows": inputs.TABLE_ROWS, "raw_bytes": self.raw_bytes,
                "store_bytes": self.last_round()["encoded_bytes"],
                "merge_rows": len(self.plan["merge_rows"])}

    def layer_metrics(self, tracer) -> dict:
        m = {}
        for name in DML_OPS + ("encode_table", "lookup_value", "table_stats", "decode_table"):
            m[f"table.{name}_s"] = _median(self.op_times(name, traced=True))
        st = self.last_round(traced=True)
        store, res = st["store"], st["results"]
        rewritten = sum(int(r.get("files_rewritten", 0)) for r in res.values()
                        if isinstance(r, dict))
        changed = sum(int(res.get(k, {}).get(f, 0)) for k, f in
                      (("delete_where", "rows_deleted"), ("update_where", "rows_updated"),
                       ("merge_table", "rows_replaced")))
        reencoded = sum(removed_rows(store, res.get(k, {}).get("log"))
                        for k in ("delete_where", "update_where", "merge_table"))
        m["table.files_rewritten"] = rewritten
        m["table.rewrite_useful_ratio"] = changed / reencoded if reencoded else 0.0
        m["table.live_files"] = len(adapter.live_files(store))
        m["table.dv_rows"] = st["dv_rows"]
        n_rounds = max(1, len(self.seq_times(traced=True)))
        m["commit.append_calls"] = len(tracer.calls("operators.encode.append_log_entry")) / n_rounds
        m["commit.log_entries"] = len(adapter.log_versions(store))
        m.update(store_fsio(store, st["base_bytes"], st["base_files"]))
        for codec, n in adapter.table_manifest(self.spark, store)["codec"].value_counts().items():
            m[f"cost.wins.table.{codec}"] = int(n)
        return m


def removed_rows(store: str, log_path) -> int:
    """Rows held by the files a CoW commit removed (what it re-encoded from)."""
    if not log_path:
        return 0
    n = 0
    with open(log_path) as f:
        for line in f:
            e = json.loads(line)
            if "remove" in e:
                p = os.path.join(store, "data", e["remove"]["path"])
                n += int(pq.read_table(p, columns=["n_rows"]).column(0).to_numpy().sum())
    return n


WORKLOADS = {w.name: w for w in (TokensIngest, TokensRead, TableDml)}
