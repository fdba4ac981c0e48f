"""Benchmark of the token store and the table store.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload tokens_ingest --seed 1 --seconds 10 --trace 0

One process, one ``local[4]`` Spark session, one closed-loop client. The run
sets up (session start, seeded inputs, store build, one untimed warm-up
round: all reported as ``setup_s``), then repeats the workload's round for
``--seconds``. ``--trace 1`` instead alternates untraced and traced rounds
for twice ``--seconds``, adds the single-core codec/selection run, and reports the
per-layer metrics named in BENCHMARK.json plus the tracing overhead.

Output: one ``metric <name> <value> <unit>`` line per metric, then, as the
last line, ``{"correct", "attempted", "failed", "metrics"}``. The full record
(every op sample, spans and self times, Spark stage metrics, host facts) is
written to ``.perfbench_out/<workload>-seed<seed>-trace<t>.json``.

Work files live under ``.perfbench_work/`` in the checkout (no fsync; deleted
only after all timing) and are removed before exit.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class RssSampler:
    """Peak resident set of the process tree (driver, JVM, Python workers):
    the sum over every process seen of its own kernel-tracked peak
    (``VmHWM``), polled every 100 ms so short-lived workers are counted."""

    def __init__(self):
        self._hwm: dict[int, int] = {}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)
        return False

    @staticmethod
    def _tree(pid: int) -> list[int]:
        out, todo = [], [pid]
        while todo:
            p = todo.pop()
            out.append(p)
            try:
                for task in os.listdir(f"/proc/{p}/task"):
                    with open(f"/proc/{p}/task/{task}/children") as f:
                        todo.extend(int(c) for c in f.read().split())
            except OSError:
                pass
        return out

    @property
    def peak(self) -> int:
        return sum(self._hwm.values())

    def by_process(self) -> dict:
        return {str(p): v for p, v in self._hwm.items()}

    def sample(self) -> None:
        for p in self._tree(os.getpid()):
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            self._hwm[p] = max(self._hwm.get(p, 0), kb * 1024)
                            break
            except OSError:
                pass

    def _loop(self):
        while not self._stop.wait(0.1):
            self.sample()


def configure_env(work: str) -> None:
    """Spark's scratch, temp and warehouse dirs inside the work dir; no
    console progress bars; quiet log4j; repo on the workers' PYTHONPATH."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no hsperfdata files: a JVM writes them under /tmp whatever java.io.tmpdir says
    java_opts = (f"-XX:-UsePerfData -Dlog4j2.configurationFile=file:{HERE}/log4j2.properties "
                 f"-Djava.io.tmpdir={work}/tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={work}/warehouse "
        f"--driver-java-options '{java_opts}' pyspark-shell")
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def host_facts() -> dict:
    import numpy
    import pyarrow
    import pyspark

    mem = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) * 1024
    return {"nproc": os.cpu_count(), "mem_bytes": mem, "python": platform.python_version(),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "platform": platform.platform(),
            "flush_policy": "work files on the checkout's filesystem, never fsynced; "
                            "latencies include no device flush"}


def spark_phase(stages: list[dict]) -> dict:
    keys = ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
            "spill_bytes", "tasks")
    return {f"spark.{k}": sum(s[k] for s in stages) for k in keys}


def timed_rounds(w, seconds: float) -> None:
    t_end = time.perf_counter() + seconds
    w.run_round()
    while time.perf_counter() < t_end:
        w.run_round()


def traced_rounds(w, spark, tracer, layers: dict, package: str, seconds: float) -> list[dict]:
    """Untraced and traced rounds, alternating, for twice ``seconds``, so a
    drift over the run (warm-up, host load) falls on both sides alike.
    Returns the Spark stage metrics of the traced rounds."""
    import adapter

    stages = []
    t_end = time.perf_counter() + 2 * seconds
    i = 0
    while i < 2 or time.perf_counter() < t_end:
        if i % 2 == 0:
            w.run_round()
        else:
            mark = max([s["stage_id"] for s in adapter.stage_metrics(spark)] or [-1])
            tracer.install(layers, package)
            w.tracer = tracer
            try:
                w.run_round()
            finally:
                tracer.uninstall()
                w.tracer = None
            stages += [s for s in adapter.stage_metrics(spark) if s["stage_id"] > mark]
        i += 1
    return stages


def end_to_end(w, setup_s: float) -> dict:
    m = {
        "setup_s": (setup_s, "s"),
        "round_s": (statistics.median(w.round_times()), "s"),
        "op_p50_ms": (1e3 * statistics.median(w.op_times(w.PRIMARY_OPS)), "ms"),
    }
    m.update(w.end_to_end())
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    import adapter

    if importlib.util.find_spec(adapter.PKG) is None:
        print(f"package {adapter.PKG} not found next to {HERE}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    configure_env(work)
    import codec_layer
    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload}; have {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": host_facts(), "master": adapter.MASTER,
              "token_parts": adapter.TOKEN_PARTS, "table_parts": adapter.TABLE_PARTS,
              "shuffle_partitions": adapter.SHUFFLE_PARTITIONS}
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = adapter.start_session()
            session_s = time.perf_counter() - t0
            try:
                w = workloads.WORKLOADS[args.workload](spark, work, args.seed)
                t1 = time.perf_counter()
                w.setup()
                t2 = time.perf_counter()
                w.recording = False
                w.warm_up()
                w.recording = True
                setup_s = time.perf_counter() - t0
                record["setup_phases_s"] = {"session": session_s, "inputs": t2 - t1,
                                            "warm_up": t0 + setup_s - t2}

                layer = {}
                if not args.trace:
                    timed_rounds(w, args.seconds)
                else:
                    tracer = tracing.Tracer(f"{args.workload}-{args.seed}")
                    stages = traced_rounds(w, spark, tracer, adapter.layer_modules(),
                                           adapter.PKG, args.seconds)
                    layer.update(w.layer_metrics(tracer))
                    layer.update(spark_phase(stages))
                    n_traced = len(w.round_times(traced=True))
                    for k, v in tracer.self_times().items():
                        layer[f"self_s.{k}"] = v / n_traced
                    layer["session.start_s"] = session_s
                    layer["trace.overhead_frac"] = (statistics.median(w.round_times(True))
                                                    / statistics.median(w.round_times()) - 1.0)
                    codec_tracer = tracing.Tracer(f"codecs-{args.seed}")
                    layer.update(codec_layer.run(codec_tracer, args.seed))
                    record.update({"spans": tracer.spans, "codec_spans": codec_tracer.spans,
                                   "self_times_s": tracer.self_times(), "stages": stages})
                w.verify_final()
                e2e = end_to_end(w, setup_s)
                wl = w.workload_metrics()
                sizes = w.sizes()
            finally:
                adapter.stop_session(spark)
            rss.sample()
        record["peak_rss_by_pid"] = rss.by_process()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    attempted = w.attempted
    failed = w.failed
    wl["failed_frac"] = (failed / attempted, "ratio")
    # reported, not gated: the JVM's share follows garbage-collector timing
    wl["peak_rss_mb"] = (rss.peak / 2**20, "MB")
    if args.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in names}
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        metrics = {n: {"value": float(e2e[n][0]), "unit": u} for n, u in names}

    record.update({
        "sizes": sizes, "ops": w.ops, "warm_up_ops": w.warm_ops, "rounds": w.rounds,
        "errors": w.errors,
        "end_to_end": {k: {"value": v[0], "unit": v[1]} for k, v in e2e.items()},
        "workload_metrics": {k: {"value": v[0], "unit": v[1], **(v[2] if len(v) > 2 else {})}
                             for k, v in wl.items()},
        "per_layer": layer or None,
        "attempted": attempted, "failed": failed,
    })
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    for k, v in wl.items():
        print(f"metric {k} {v[0]!r} {v[1]}")
    for k, v in metrics.items():
        print(f"metric {k} {v['value']!r} {v['unit']}")
    for e in w.errors[:20]:
        print(f"failure {e.splitlines()[-1] if e else e}")
    print(f"record {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
