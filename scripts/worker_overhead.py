#!/usr/bin/env python
"""Per-task fixed cost inside Spark's Python workers: zip archive re-reads.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task.  Before Python 3.12 that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's central directory
unless ``job._guard_zipimport_rereads`` is installed in the worker,
which the first ``extract_detailed`` task in each worker does.

The script starts a ``local[nproc]`` session, then runs a probe over
``4 * nproc`` tasks before and after one ``extract_detailed`` job.  In
each task the probe records the zipimporter count, their archives, and
the wall time of one ``importlib.invalidate_caches()`` call.  Re-run it
after a Spark or Python upgrade to see whether the cost came back.

Usage (from the repository root):
    python scripts/worker_overhead.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _probe(batches):
    import importlib
    import time
    import zipimport

    import pyarrow as pa

    for _ in batches:
        pass
    zips = [f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)]
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    ms = (time.perf_counter() - t0) * 1e3
    yield pa.RecordBatch.from_pydict({
        "pid": [os.getpid()],
        "zipimporters": [len(zips)],
        "archives": [json.dumps(sorted({f.archive for f in zips}))],
        "guarded": [bool(getattr(zipimport.zipimporter.invalidate_caches,
                                 "_stat_guarded", False))],
        "invalidate_ms": [ms],
    })


def _measure(spark, tasks: int) -> dict:
    rows = (
        spark.range(tasks, numPartitions=tasks)
        .mapInArrow(_probe, "pid long, zipimporters long, archives string, "
                            "guarded boolean, invalidate_ms double")
        .collect()
    )
    ms = sorted(r.invalidate_ms for r in rows)
    return {
        "tasks": len(rows),
        "workers": len({r.pid for r in rows}),
        "zipimporters": sorted({r.zipimporters for r in rows}),
        "archives": sorted({a for r in rows for a in json.loads(r.archives)}),
        "guarded_tasks": sum(r.guarded for r in rows),
        "invalidate_ms_p50": round(statistics.median(ms), 2),
        "invalidate_ms_max": round(ms[-1], 2),
    }


def main() -> int:
    # Spark's Python workers import the product from this checkout
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + old if old else "")
    from pyspark.sql import SparkSession

    from occular_ocr_spark.fixtures import transcripts_pandas
    from occular_ocr_spark.job import extract_detailed

    cpus = os.cpu_count() or 1
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.ui.enabled", "false")
        .appName("worker-overhead")
        .getOrCreate()
    )
    try:
        tasks = 4 * cpus
        print(json.dumps({"python": sys.version.split()[0], "cpus": cpus}))
        print(json.dumps({"phase": "before", **_measure(spark, tasks)}))
        df = spark.createDataFrame(transcripts_pandas(n_convs=400, seed=11))
        (extract_detailed(df, num_partitions=tasks, salt_buckets=8)
         .write.format("noop").mode("overwrite").save())
        print(json.dumps({"phase": "after_extract", **_measure(spark, tasks)}))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
