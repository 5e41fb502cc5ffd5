"""Zone-map file-skipping scale smoke (VERDICT r12 ask #7).

``zone_map_file_skipping`` proves min/max pruning CORRECT; this smoke
measures the 100-TB PAYOFF: on a date-sorted manifest table the number
of files (and scan tasks, and seconds) a range query touches is set by
the query's date span, not the table size — files-read counts at
1x/4x/16x replication, like the r12b exchange-cap measurements.

Per shape R in (1, 4, 16):
- orders (sf0.1) replicated Rx with jittered keys, committed to a
  manifest table as 8*R files range-partitioned + sorted on
  o_orderdate (the sorted layout a zordered/partitioned write
  produces), stats_cols=[o_orderdate];
- one fixed 3-month range query runs twice: via read_table_pruned
  (zone map) and via read_table (full snapshot), both with the row
  predicate applied;
- reported: files_total, files_scanned, spark-visible input files,
  scan wall (median of 2), and the equality of the two results.

Usage: python tools/scale_smoke_zonemap.py [sf_dir]
"""

from __future__ import annotations

import gc
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from automated_etl_pipeline_spark.io.manifest import (  # noqa: E402
    commit_append,
    read_table,
    read_table_pruned,
)
from automated_etl_pipeline_spark.session import get_spark  # noqa: E402

LO, HI = "1995-01-01", "1995-03-31"
FILES_PER_REP = 8


def build_table(spark, sf_dir: str, rep: int, root: str) -> None:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    reps = orders
    if rep > 1:
        reps = orders.crossJoin(
            spark.range(rep).select(F.col("id").alias("__r"))
        ).select(
            (F.col("o_orderkey") * rep + F.col("__r")).alias("o_orderkey"),
            "o_orderdate",
            "o_totalprice",
        )
    n_files = FILES_PER_REP * rep
    laid_out = reps.repartitionByRange(
        n_files, "o_orderdate"
    ).sortWithinPartitions("o_orderdate")
    commit_append(laid_out, root, f"load-{rep}", stats_cols=["o_orderdate"])


def timed_count(df) -> tuple[float, int]:
    t0 = time.time()
    n = df.count()
    return time.time() - t0, n


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(
        "zonemap-smoke",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    print(f"# zone-map skipping smoke, base={sf_dir}, range=[{LO},{HI}]")
    print(
        "| rep | files_total | files_scanned | input_files(pruned/full) "
        "| wall pruned | wall full | rows equal |"
    )
    print("|---|---|---|---|---|---|---|")
    for rep in (1, 4, 16):
        root = tempfile.mkdtemp(prefix=f"zm_smoke_{rep}x_")
        try:
            build_table(spark, sf_dir, rep, root)
            pred = F.col("o_orderdate").between(LO, HI)
            walls_p, walls_f = [], []
            for _ in range(2):
                gc.collect()
                pruned, total, scanned = read_table_pruned(
                    spark, root, "o_orderdate", LO, HI
                )
                w, n_p = timed_count(pruned.filter(pred))
                walls_p.append(w)
                w, n_f = timed_count(read_table(spark, root).filter(pred))
                walls_f.append(w)
            pruned, total, scanned = read_table_pruned(
                spark, root, "o_orderdate", LO, HI
            )
            in_p = len(pruned.inputFiles())
            in_f = len(read_table(spark, root).inputFiles())
            print(
                f"| {rep}x | {total} | {scanned} | {in_p}/{in_f} "
                f"| {sorted(walls_p)[0]:.2f} s | {sorted(walls_f)[0]:.2f} s "
                f"| {n_p == n_f} ({n_p}) |"
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
