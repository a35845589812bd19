"""Streaming seed ingest — the reference's always-on submit plane rebuilt as
Structured Streaming.

Reference parity: new URLs arrive continuously over HTTP (Flask
/api/login_candidates, scripts/crawl.py:57-86 [S5]; FastAPI /api/v1/urlsubmit,
backend/app/api/api_v1/endpoints/tasks.py:137-237 [S6]) and each submission
is validated + checked against the crawl cache before enqueue (D1,
tasks.py:148-156). Here the transport is a watched directory of seed files
(url_sender.py:52-79's newline format — the reference's own wire format for
bulk seeds), consumed with ``spark.readStream.text`` and committed through
``foreachBatch`` -> ``scheduler.add_seeds``:

    seed files appear -> micro-batch of raw lines -> canonicalize/validate/
    dedup (bloom screen, bloom-positives confirmed exactly against the crawl
    cache) -> frontier_prepared append (atomic catalog commit)

Exactly-once: foreachBatch can replay a micro-batch after a crash, so the
commit must be idempotent — add_seeds dedups against the catalog itself
(urls already ingested are rejected as 'enqueued'/'cached' on replay), which
makes re-delivery a no-op for the pool. Ordering: seqs are assigned from the
batch's own line order after the catalog's max seq, so one total crawl order
(seq) spans HTTP-era and file-era ingests alike.

``Trigger.AvailableNow`` drains everything present and stops (the batch
campaign shape); omit it for a long-lived ingest daemon next to a running
campaign loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import ParquetCatalog
from . import scheduler


def _batch_to_frontier(batch: DataFrame) -> DataFrame:
    """Raw text lines -> (seq, url, priority) in file order. Blank lines are
    kept here — prepare_frontier rejects them as 'invalid' so the ledger
    records them, mirroring url_sender.py:72-74's accounting."""
    w = F.monotonically_increasing_id()
    return (
        batch.select(F.col("value").alias("url"))
        .withColumn("seq", w)
        .withColumn("priority", F.lit(0))
    )


def run_ingest_stream(
    spark: SparkSession,
    cat: ParquetCatalog,
    seed_dir: str,
    robots: DataFrame,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Watch ``seed_dir`` for newline-delimited URL files and ingest each
    micro-batch into the campaign catalog. Returns the StreamingQuery."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        scheduler.add_seeds(spark, cat, _batch_to_frontier(batch), robots)

    stream = spark.readStream.text(seed_dir)
    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
