"""spark-submit entry point: run (or resume) a crawl campaign end-to-end.

    spark-submit --master local[32] --py-files vv8spark.zip \
        jobs/run_campaign.py --workdir /tmp/campaign \
        --images 2000 --urls 20000 --hosts 200 --batch-size 2000

Generates the deterministic synthetic world (unless the parquet already
exists under --workdir), runs the wave scheduler to completion, and prints a
one-line JSON summary. Re-running with the same --workdir resumes from the
committed watermark (url_sender.py:146-200 checkpoint semantics).
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--images", type=int, default=2000)
    ap.add_argument("--urls", type=int, default=20000)
    ap.add_argument("--hosts", type=int, default=200)
    ap.add_argument("--batch-size", type=int, default=2000)
    ap.add_argument("--default-budget", type=int, default=25)
    ap.add_argument("--salt-width", type=int, default=8)
    ap.add_argument("--stop-after-waves", type=int, default=None)
    ap.add_argument("--parallelism", type=int, default=32)
    ap.add_argument("--budget-scale", type=int, default=1)
    ap.add_argument("--wave-period", type=float, default=60.0,
                    help="seconds of politeness clock one wave models; a host "
                         "with Crawl-delay d earns period/d bucket credits per "
                         "wave (carried across waves, capped at max_per_wave; "
                         "d > period paces at one fetch per ceil(d/period) waves)")
    ap.add_argument(
        "--frontier-file",
        default=None,
        help="crawl a newline-delimited URL seed file (url_sender.py:52-79 "
        "S1 path) instead of the synthetic frontier",
    )
    ap.add_argument(
        "--robots-txt",
        default=None,
        help="parquet of (host, robots_txt) RAW robots.txt bodies; parsed "
        "via functions/robots.py (RFC 9309 subset) into the politeness "
        "dimension instead of the synthetic structured robots table",
    )
    ap.add_argument(
        "--image-sizes",
        default="16,24,32",
        help="comma-separated side lengths for the synthetic images; larger "
        "sizes raise per-fetch decode cost (used by the scaling bench)",
    )
    args = ap.parse_args()
    sizes = tuple(int(x) for x in args.image_sizes.split(","))

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("vv8-crawl-campaign")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from visiblev8_crawler_spark.sources import synth
    from visiblev8_crawler_spark.streaming import scheduler

    world = os.path.join(args.workdir, "world")
    if not os.path.exists(os.path.join(world, "images.parquet")):
        # generate the fetch universe distributed; frontier/robots driver-side
        # (frontier is also available distributed via generate_frontier_spark)
        os.makedirs(world, exist_ok=True)
        synth.generate_images_spark(spark, args.images, args.parallelism, sizes).write.mode(
            "overwrite"
        ).parquet(os.path.join(world, "images.parquet"))
        synth.generate_frontier_spark(
            spark, args.urls, args.images, args.hosts, args.parallelism
        ).write.mode("overwrite").parquet(os.path.join(world, "frontier.parquet"))
        spark.createDataFrame(
            synth.generate_robots_pdf(args.hosts, args.budget_scale)
        ).write.mode("overwrite").parquet(os.path.join(world, "robots.parquet"))

    if args.frontier_file:
        from visiblev8_crawler_spark.sources.seeds import frontier_from_text

        frontier = frontier_from_text(spark, args.frontier_file)
    else:
        frontier = spark.read.parquet(os.path.join(world, "frontier.parquet"))
    if args.robots_txt:
        from visiblev8_crawler_spark.functions.robots import robots_dim_from_txt

        # materialize the parse ONCE: the politeness join re-references
        # this frame every wave, and an unpinned plan would re-run the
        # Python parse kernel over every body each time
        robots = robots_dim_from_txt(
            spark.read.parquet(args.robots_txt)
        ).localCheckpoint(eager=True)
    else:
        robots = spark.read.parquet(os.path.join(world, "robots.parquet"))
    images = spark.read.parquet(os.path.join(world, "images.parquet"))

    t0 = time.perf_counter()
    cat = scheduler.run_campaign(
        spark,
        os.path.join(args.workdir, "catalog"),
        frontier,
        robots,
        images,
        scheduler.CrawlConfig(
            batch_size=args.batch_size,
            default_budget=args.default_budget,
            salt_width=args.salt_width,
            wave_period_s=args.wave_period,
        ),
        stop_after_waves=args.stop_after_waves,
    )
    wall = time.perf_counter() - t0

    from pyspark.sql import functions as F

    m = (
        cat.read("metrics")
        .agg(
            F.sum("n_attempted").alias("attempted"),
            F.sum("n_ok").alias("ok"),
            F.sum("n_failed").alias("failed"),
            F.max("wave_id").alias("last_wave"),
            F.sum("wall_s").alias("wave_wall_s"),
        )
        .collect()[0]
    )
    wave_wall = float(m["wave_wall_s"] or 0.0)
    print(
        json.dumps(
            {
                "watermark": cat.watermark(),
                # NB: `or -1` would misreport a single-wave campaign
                # (last_wave == 0 is falsy) as 0 waves
                "waves": (m["last_wave"] if m["last_wave"] is not None else -1) + 1,
                "attempted": m["attempted"],
                "ok": m["ok"],
                "failed": m["failed"],
                "rejected": cat.read("rejected").count(),
                "pending_left": scheduler.pending_df(cat).count(),
                "wall_s": round(wall, 2),
                "rows_per_s": round((m["attempted"] or 0) / wall, 1),
                # steady-state: per-wave wall only (excludes one-time prep /
                # pending derivation / worker warmup, which a long campaign
                # amortizes over thousands of waves)
                "wave_wall_s": round(wave_wall, 2),
                "steady_rows_per_s": round((m["attempted"] or 0) / wave_wall, 1)
                if wave_wall > 0
                else 0.0,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
