"""Hot-domain skew microbench: the salted two-phase window vs salt_width=1.

The north rule names "salted, host-hash-partitioned DataFrames to defeat
hot-domain skew" as a design requirement; this measures the defense in
isolation. Build a pending pool where ONE host owns most of the rows (the
worst case for a per-host window: phase 2's partitionBy(host) puts every
hot row in one task), then time select_wave at salt_width=1 (the unsalted
plan: the hot host's whole row set sorts in a single partition in phase 1
too) against the histogram-chosen width (choose_salt_width): phase 1
splits the hot host across `width` partitions and caps each at
salt_width*budget survivors, so phase 2's per-host partition is bounded at
width*budget rows instead of the raw row count.

Selection OUTPUT is salt-width-invariant (waves.py module docstring proof;
asserted here row-for-row), so the delta is purely physical.

Usage: python tools/bench_skew.py [--rows 1000000] [--hot-frac 0.9]
       [--cold-hosts 10000] [--runs 3] [--cpus 32]
Prints ONE JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=1_000_000)
    ap.add_argument("--hot-frac", type=float, default=0.9)
    ap.add_argument("--cold-hosts", type=int, default=10_000)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--batch-size", type=int, default=50_000)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("vv8-skew-bench")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from visiblev8_crawler_spark import schemas
    from visiblev8_crawler_spark.operators.waves import (
        choose_salt_width,
        robots_dim,
        salt_col,
        select_wave,
    )
    from visiblev8_crawler_spark.streaming.scheduler import CrawlConfig, _HostState

    # pending pool: hot-frac of rows on host "hot.example", the rest spread
    # evenly over cold hosts. Distributed generation (spark.range), not a
    # driver-side list.
    hot_cut = int(args.rows * args.hot_frac)
    base = spark.range(args.rows).withColumn(
        "host",
        F.when(F.col("id") < hot_cut, F.lit("hot.example")).otherwise(
            F.concat(F.lit("cold"), (F.col("id") % args.cold_hosts).cast("string"),
                     F.lit(".example"))
        ),
    )
    pending = schemas.conform(
        base.select(
            F.concat(F.lit("https://"), "host", F.lit("/p/"), F.col("id").cast("string")).alias("canon_url"),
            F.xxhash64(F.col("id").cast("string")).alias("url_hash64"),
            "host",
            F.concat(F.lit("/p/"), F.col("id").cast("string")).alias("path"),
            F.col("id").cast("string").alias("image_id"),
            (F.col("id") % 100).cast("int").alias("priority"),
            F.col("id").alias("seq"),
            F.lit(1).alias("attempt"),
            F.col("id").cast("string").alias("task_id"),
            F.lit(None).cast("string").alias("actions"),
            F.lit(None).cast("array<string>").alias("crawler_args"),
            F.lit(0).alias("salt"),  # placeholder; overwritten per width
        ),
        schemas.PENDING,
    )
    robots = schemas.conform(
        spark.createDataFrame(
            [("hot.example", False, [], 0.01, 25)],
            schemas.ROBOTS,
        ),
        schemas.ROBOTS,
    )

    # wave-0 bucket budgets at a 1200 s period, computed on the driver as
    # the scheduler does (empty here: every host's refill covers its cap)
    hstate = _HostState([], robots_dim(robots).collect(), CrawlConfig(wave_period_s=1200.0))
    budgets = hstate.budget_df(spark, 0)
    unknown_budget = hstate.bucket_of(None, 0)[1]

    auto_width = None

    def timed(width: int) -> tuple[float, int]:
        nonlocal auto_width
        p = pending.withColumn("salt", salt_col(F.col("canon_url"), width))
        p = p.localCheckpoint(eager=True)  # materialize once, outside the timer
        ts = []
        n = 0
        for _ in range(args.runs):
            t0 = time.perf_counter()
            n = select_wave(
                p, robots, wave_id=0, batch_size=args.batch_size,
                salt_width=width, budgets=budgets, unknown_budget=unknown_budget,
            ).count()
            ts.append(time.perf_counter() - t0)
        p.unpersist()
        return round(statistics.median(ts), 3), n

    auto_width = choose_salt_width(pending)
    t_unsalted, n1 = timed(1)
    t_salted, n2 = timed(auto_width)

    # output invariance: identical selected sets, not just counts
    pa = pending.withColumn("salt", salt_col(F.col("canon_url"), 1))
    pb = pending.withColumn("salt", salt_col(F.col("canon_url"), auto_width))
    sel = lambda p, w: select_wave(  # noqa: E731
        p, robots, 0, args.batch_size, salt_width=w, budgets=budgets,
        unknown_budget=unknown_budget,
    ).select("canon_url", "order_in_wave")
    mismatch = sel(pa, 1).exceptAll(sel(pb, auto_width)).count()

    print(
        json.dumps(
            {
                "metric": "skew_select_wave_unsalted_over_salted",
                "rows": args.rows,
                "hot_frac": args.hot_frac,
                "auto_salt_width": auto_width,
                "unsalted_sec": t_unsalted,
                "salted_sec": t_salted,
                "speedup": round(t_unsalted / t_salted, 2) if t_salted else None,
                "selected_rows": n2,
                "mismatch": mismatch,
                "selection_identical": mismatch == 0 and n1 == n2,
                "runs": args.runs,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
