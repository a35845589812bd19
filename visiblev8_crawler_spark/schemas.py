"""Explicit StructTypes for every engine table (SURVEY.md §1.3: the reference
is DDL-first — vv8_backend_database/init/*.sql — so the rebuild checks schemas
at write time instead of inferring)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

def conform(df: DataFrame, schema: StructType) -> DataFrame:
    """Write-time schema check (DDL-first discipline): project + cast to the
    declared schema; raises if a column is missing."""
    return df.select([F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields])


# input universe (authoritative shape: BASELINE.json input_hint)
IMAGES = StructType(
    [
        StructField("image_id", StringType()),
        StructField("bytes", BinaryType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("fmt", StringType()),
        StructField("caption", StringType()),
        StructField("phash", LongType()),
    ]
)

# seed list (FIXTURES.md §2; mirrors url_sender.py newline files)
FRONTIER = StructType(
    [
        StructField("seq", LongType()),
        StructField("url", StringType()),
        StructField("host", StringType()),
        StructField("priority", IntegerType()),
        StructField("task_id", StringType()),
        # per-row crawler config passthrough (submissions.actions JSON +
        # crawler_args TEXT[], 3_vv8_backend_init.sql:12-18) — carried
        # untouched from seed source to the fetches ledger (actions are
        # reset to null on retry, crawler_args persist: tasks.py:124,159)
        StructField("actions", StringType()),
        StructField("crawler_args", ArrayType(StringType())),
    ]
)

# per-host gating dimension (north_rule; FIXTURES.md §3)
ROBOTS = StructType(
    [
        StructField("host", StringType()),
        StructField("full_block", BooleanType()),
        StructField("disallow_prefixes", ArrayType(StringType())),
        StructField("crawl_delay_s", DoubleType()),
        StructField("max_per_wave", IntegerType()),
    ]
)

# one-pass dispositioned frontier (prep stage); reason null = schedulable
FRONTIER_PREPARED = StructType(
    [
        StructField("seq", LongType()),
        StructField("url", StringType()),
        StructField("canon_url", StringType()),
        StructField("url_hash64", LongType()),
        StructField("host", StringType()),
        StructField("path", StringType()),
        StructField("image_id", StringType()),
        StructField("priority", IntegerType()),
        StructField("attempt", IntegerType()),
        StructField("task_id", StringType()),
        StructField("actions", StringType()),
        StructField("crawler_args", ArrayType(StringType())),
        StructField("reason", StringType()),
    ]
)

# the not-yet-crawled remainder of the frontier — DERIVED state, never
# written (scheduler.pending_df). ``salt`` splits a hot host's rows across
# partitions (north_rule skew handling); it is a pure function of
# (canon_url, salt_width) and lives here so the in-memory pending frame can
# stay hash-partitioned by (host, salt) across waves — the politeness window
# then runs exchange-free.
PENDING = StructType(
    [
        StructField("canon_url", StringType()),
        StructField("url_hash64", LongType()),
        StructField("host", StringType()),
        StructField("path", StringType()),
        StructField("image_id", StringType()),
        StructField("priority", IntegerType()),
        StructField("seq", LongType()),
        StructField("attempt", IntegerType()),
        StructField("task_id", StringType()),
        StructField("actions", StringType()),
        StructField("crawler_args", ArrayType(StringType())),
        StructField("salt", IntegerType()),
    ]
)

# crawl ledger: one row per fetch attempt (submissions+logfile analog,
# 3_vv8_backend_init.sql:3-20). attempt==1 rows carry the crawl_order tuple.
FETCHES = StructType(
    [
        StructField("canon_url", StringType()),
        StructField("image_id", StringType()),
        StructField("host", StringType()),
        StructField("wave_id", IntegerType()),
        StructField("order_in_wave", IntegerType()),
        StructField("attempt", IntegerType()),
        StructField("priority", IntegerType()),
        StructField("seq", LongType()),
        # the submitting task's id + per-row crawler config, reference parity
        # with submissions (3_vv8_backend_init.sql:12-18)
        StructField("task_id", StringType()),
        StructField("actions", StringType()),
        StructField("crawler_args", ArrayType(StringType())),
        StructField("status", StringType()),
        StructField("psnr", DoubleType()),
        StructField("caption_ok", BooleanType()),
        StructField("phash_ok", BooleanType()),
        StructField("decode_ms", DoubleType()),
        StructField("error", StringType()),
        # executor partition that fetched the row — makes per-partition
        # lineage a free aggregation over fetches instead of a second sink
        StructField("partition_id", IntegerType()),
    ]
)

# per-host politeness token bucket + abuse record (SURVEY §4.2.3) — a pure
# fold of the fetches ledger per host (scheduler.host_state_df), maintained
# as DERIVED state in driver memory (scheduler._HostState, never committed).
# credit/last_wave carry unused budget across waves; ok/failed drive the
# failure-rate demotion (both read by waves.bucket, on the driver).
HOST_STATE = StructType(
    [
        StructField("host", StringType()),
        StructField("credit", DoubleType()),
        StructField("last_wave", IntegerType()),
        StructField("ok", LongType()),
        StructField("failed", LongType()),
    ]
)

# the URL-seen set (backend tasks.py:148-156 dedup cache analog)
URL_SEEN = StructType(
    [
        StructField("canon_url", StringType()),
        StructField("url_hash64", LongType()),
        StructField("wave_id", IntegerType()),
    ]
)

# rows dropped before scheduling (validity filter / dup cache / robots)
REJECTED = StructType(
    [
        StructField("seq", LongType()),
        StructField("url", StringType()),
        StructField("reason", StringType()),
    ]
)

# campaign counters (url_sender.py:279-303, status.txt analog)
METRICS = StructType(
    [
        StructField("wave_id", IntegerType()),
        StructField("n_attempted", LongType()),
        StructField("n_ok", LongType()),
        StructField("n_failed", LongType()),
        StructField("wall_s", DoubleType()),
        StructField("rows_per_s", DoubleType()),
    ]
)

# the production metrics-plane rollup (streaming/windows.py
# run_metrics_stream_update): one row per (tumbling window, event type),
# upserted per micro-batch
METRICS_WINDOWS = StructType(
    [
        StructField("win_start", TimestampType()),
        StructField("event_type", StringType()),
        StructField("n", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)

# persisted URL-seen bloom shards (operators/bloom.py): maintained
# incrementally by add_seeds — delta OR per ingest, O(pool) rebuild only on
# capacity doubling
BLOOM_STATE = StructType(
    [
        StructField("shard", IntegerType()),
        StructField("n_bits", LongType()),
        StructField("n_hashes", IntegerType()),
        StructField("capacity", LongType()),
        StructField("n_added", LongType()),
        StructField("bits", BinaryType()),
    ]
)

# per-partition lineage for resume audit (north_rule)
LINEAGE = StructType(
    [
        StructField("wave_id", IntegerType()),
        StructField("partition_id", IntegerType()),
        StructField("n_rows", LongType()),
        StructField("n_ok", LongType()),
    ]
)
