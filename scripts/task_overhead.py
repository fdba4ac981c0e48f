"""Fixed per-task cost of Python workers in a ``session.get_spark`` session.

Prints where the worker imported pyspark from, how many zip importers
its ``sys.path_importer_cache`` holds, and the median wall time of an
identity ``mapInArrow`` over 1 and over 16 partitions (one untimed warm-up
each, then ``--repeats`` timed runs). The tasks do no work, so the times are
Spark's and the Python worker's own overhead. Run from the repository root:
``python scripts/task_overhead.py [--master 'local[4]'] [--repeats 7]``.
"""

from __future__ import annotations

import argparse
import statistics
import sys
import time

sys.path.insert(0, ".")


def _identity(batches):
    yield from batches


def _worker_imports(batches):
    import sys
    import zipimport

    import pyarrow as pa
    import pyspark

    for _ in batches:
        pass
    n_zip = sum(isinstance(v, zipimport.zipimporter)
                for v in sys.path_importer_cache.values())
    yield pa.RecordBatch.from_pydict({"pyspark_file": [pyspark.__file__],
                                      "zipimporters": [n_zip]})


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--repeats", type=int, default=7)
    args = ap.parse_args()

    from pandora_apache_avro_idl_to_apache_parquet_spark.session import get_spark

    spark = get_spark(app="task-overhead", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        row = (spark.range(1, numPartitions=1)
               .mapInArrow(_worker_imports, "pyspark_file string, zipimporters long")
               .collect()[0])
        print(f"worker pyspark: {row.pyspark_file}")
        print(f"worker zipimporters: {row.zipimporters}")
        for parts in (1, 16):
            df = spark.range(parts * 1000, numPartitions=parts)
            job = df.mapInArrow(_identity, df.schema).write.format("noop").mode("overwrite")
            job.save()
            ms = []
            for _ in range(args.repeats):
                t0 = time.perf_counter()
                job.save()
                ms.append((time.perf_counter() - t0) * 1e3)
            print(f"identity mapInArrow, {parts} partition(s): median {statistics.median(ms):.0f} ms "
                  f"(min {min(ms):.0f}, max {max(ms):.0f}, n={len(ms)})")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
