"""Calibration of the IVF-PQ scan's cost model: the constants
``_TABLE_BYTES`` and ``_SHARD_WORK`` that ``llmdata/ann_index.py``'s
``_scan_shards`` packs probed cells into scan tasks with.

Builds an index on the embeddings table of ``--dir`` and measures:

  table_us_per_query     numpy time of one query's residual ADC tables
                         (``_adc_tables`` over the index's codebooks)
  scan_ns_per_row_query  numpy time of summing those tables over one
                         code row, per query (the kernel's scan loop,
                         at its query-block size)
  code_bytes_per_row     code-file bytes per stored row, the size
                         ``_cell_code_bytes`` reads from the file listing
  task_cpu_ms            CPU of one more Python scan task: a trivial
                         ``applyInPandas`` over 16 explicit partitions
                         minus the same over one, divided by 15, counting
                         the driver JVM and its Python workers

and derives what the cost model implies:

  table_bytes     the code bytes whose scan costs as much as one query's
                  tables (``_TABLE_BYTES`` rounds it)
  shard_work_ms   the numpy scan time one ``_SHARD_WORK`` of predicted
                  work stands for

Prints one JSON line.

Usage:
    python scripts/calibrate_adc_scan.py [--dir SF_DIR] [--rows 200000]
        [--queries 128] [--reps 5]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _median_s(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _task_cpu_ms(spark, reps: int) -> float:
    """Extra CPU of one Python task: a 16-task minus a 1-task trivial
    ``applyInPandas``, per extra task."""
    from pyspark.sql import functions as F

    from perfbench.run import cpu_seconds

    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    df = spark.range(4096).withColumn("k", F.col("id") % 16).localCheckpoint()

    def cpu(n_parts: int) -> float:
        frame = df.repartition(n_parts, "k").groupBy("k")
        samples = []
        for _ in range(reps + 1):  # the first call warms the workers
            c0 = cpu_seconds(jvm_pid)
            frame.applyInPandas(lambda p: p.head(1), df.schema).collect()
            samples.append(cpu_seconds(jvm_pid) - c0)
        return statistics.median(samples[1:])

    # 16 keys in one partition are still 16 groups in one Python task
    return (cpu(16) - cpu(1)) / 15 * 1000


def main() -> None:
    import numpy as np

    from sales_forecast_pyspark_spark.llmdata import ann_index
    from sales_forecast_pyspark_spark.session import get_spark
    from tests.conftest import SF_ORACLE

    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default=SF_ORACLE)
    ap.add_argument("--rows", type=int, default=200_000)
    ap.add_argument("--queries", type=int, default=128)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    spark = get_spark("calibrate_adc_scan")
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "idx")
        ann_index.build_ivfpq_index(
            spark.read.parquet(os.path.join(args.dir, "embeddings.parquet")), path
        )
        cell_mat, books = ann_index._quantizers(spark, path)
        n_rows = spark.read.parquet(os.path.join(path, "codes")).count()
        code_bytes = sum(
            os.path.getsize(f)
            for f in glob.glob(os.path.join(path, "codes", "cell=*", "*.parquet"))
        )
        task_ms = _task_cpu_ms(spark, args.reps)
    spark.stop()

    rng = np.random.default_rng(0)
    d, m = cell_mat.shape[1], len(books)
    sub, n_codes = d // m, books[0].shape[0]
    books_t = [np.ascontiguousarray(b.T) for b in books]
    resid = rng.standard_normal((args.queries, d)) * 0.1
    table_s = _median_s(lambda: ann_index._adc_tables(resid, books_t, sub), args.reps)

    # the kernel's scan loop: one query block's tables summed over the rows
    codes_t = rng.integers(0, n_codes, (m, args.rows)).astype(np.intp)
    block = max(1, min(128, (1 << 22) // args.rows))
    tabs = ann_index._adc_tables(resid[:block], books_t, sub)

    def scan():
        adc = np.zeros((args.rows, block))
        for j, tab in enumerate(tabs):
            adc += tab[codes_t[j]]

    scan_s = _median_s(scan, args.reps)
    table_us = table_s / args.queries * 1e6
    scan_ns = scan_s / (args.rows * block) * 1e9
    bytes_per_row = code_bytes / n_rows
    print(
        json.dumps(
            {
                "d": d,
                "m": m,
                "codebook_k": n_codes,
                "nproc": len(os.sched_getaffinity(0)),
                "table_us_per_query": round(table_us, 2),
                "scan_ns_per_row_query": round(scan_ns, 3),
                "code_bytes_per_row": round(bytes_per_row, 2),
                "task_cpu_ms": round(task_ms, 1),
                "table_bytes": round(table_us * 1e3 / scan_ns * bytes_per_row),
                "shard_work_ms": round(
                    ann_index._SHARD_WORK / bytes_per_row * scan_ns / 1e6, 1
                ),
                "TABLE_BYTES": ann_index._TABLE_BYTES,
                "SHARD_WORK": ann_index._SHARD_WORK,
            }
        )
    )


if __name__ == "__main__":
    main()
