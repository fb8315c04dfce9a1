"""Write the seeded documents table the docs workloads read.

    python3 perfbench/prepare.py --seed N [--rows R]

The table is ``bench.py``'s v5 layout (partitioned by the ``PART_ZOOM``
coarse cell, 20% of docs in a hot spot) over the id range
``[docs_start(seed), docs_start(seed) + rows)``. It is written once per
(seed, rows) under ``perfbench/.work/docs`` and reused; the benchmark runs
this command itself when the table is missing and leaves its time out of
``setup_s``.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def docs_start(seed: int) -> int:
    """First doc id of a seed's table: disjoint 2^22-id ranges, all ids
    below 10^13 so ``doc_id`` keeps its 13 digits."""
    return (seed % (1 << 20)) << 22


def docs_path(seed: int, rows: int) -> str:
    return os.path.join(WORK, "docs", f"seed{seed}_rows{rows}")


def prepare(spark, seed: int, rows: int) -> str:
    from pyspark.sql import functions as F

    from bench import PART_ZOOM
    from pyramids_spark import cells, synth

    path = docs_path(seed, rows)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    d = synth.documents_full(spark, rows, partitions=64, start=docs_start(seed))
    pcx, pcy = cells.geo_cell_col(F.col("x"), F.col("y"), PART_ZOOM)
    d = d.withColumn("pcell", cells.cell_id_col(pcx, pcy, PART_ZOOM))
    (
        d.repartition(64, F.col("pcell"))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 125_000)
        .partitionBy("pcell")
        .parquet(path)
    )
    return path


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    args = ap.parse_args(argv)
    import run

    run.setup_env()
    t0 = time.time()
    spark = run.start_spark("perfbench-prepare", trace_dir=None)
    try:
        path = prepare(spark, args.seed, args.rows)
    finally:
        run.stop_spark(spark)
    print(f"prepared {path} in {time.time() - t0:.1f} s", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
