"""Broadcast Bloom URL-seen filter (operators/bloom.py) — the north-rule
"bloom/cuckoo URL-seen" component — and the seed ingest it screens.

Invariants under test:
- no false negatives, ever (the property that makes the pre-filter exact);
- bounded false-positive rate near the configured fpp;
- the persisted bloom state is one row (``shard`` 0), and anything else is
  refused;
- the exact confirm of bloom-positive rows streams the pool past a
  broadcast of the batch keys (no shuffle of the pool) and gives the same
  reasons as a plain left join;
- ``scheduler.add_seeds`` end-to-end: cache hits rejected as 'cached'
  (backend tasks.py:148-156 D1), already-enqueued as 'enqueued', fresh URLs
  crawled exactly once after resume; later ingests OR in a delta instead of
  rebuilding; concurrent ingests lose no delta.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from visiblev8_crawler_spark.operators import bloom as B
from visiblev8_crawler_spark.streaming import scheduler
from visiblev8_crawler_spark.streaming.scheduler import CrawlConfig


def _urls_df(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "canon_url string")


def test_bloom_numpy_kernel_no_false_negatives():
    rng = np.random.default_rng(7)
    h1 = rng.integers(0, 2**63, size=4000, dtype=np.int64).astype(np.uint64)
    h2 = rng.integers(0, 2**63, size=4000, dtype=np.int64).astype(np.uint64)
    m, k = B.BloomFilter.params_for(4000, 0.01)
    bf = B.BloomFilter(m, k, np.zeros(m // 8, dtype=np.uint8))
    bf.add_hashes(h1, h2)
    assert bf.maybe_contains(h1, h2).all()


def test_bloom_spark_build_probe(spark):
    members = [f"https://h{i % 97}.example/img/img_{i:012d}" for i in range(5000)]
    others = [f"https://h{i % 97}.example/img/img_{i:012d}" for i in range(5000, 10000)]
    bf = B.build_bloom(_urls_df(spark, members), fpp=0.01)

    got = B.with_bloom_maybe(_urls_df(spark, members), bf).collect()
    assert all(r["maybe_seen"] for r in got), "bloom false negative"

    fp = [r["maybe_seen"] for r in B.with_bloom_maybe(_urls_df(spark, others), bf).collect()]
    assert sum(fp) / len(fp) < 0.05, f"fp rate {sum(fp)/len(fp)} too high for fpp=0.01"


def test_bloom_state_is_one_row():
    from visiblev8_crawler_spark.schemas import BLOOM_STATE

    m, k = B.BloomFilter.params_for(100)
    bf = B.BloomFilter(m, k, np.arange(m // 8, dtype=np.uint8))
    rows = [dict(zip(BLOOM_STATE.fieldNames(), t)) for t in B.bloom_to_rows(bf, 200, 100)]
    assert [r["shard"] for r in rows] == [0]
    back, capacity, n_added = B.bloom_from_rows(rows)
    assert (back.n_bits, back.n_hashes, capacity, n_added) == (m, k, 200, 100)
    assert (back.bits == bf.bits).all()
    for bad in ([], rows + [dict(rows[0], shard=1)]):
        with pytest.raises(ValueError):
            B.bloom_from_rows(bad)


def test_confirm_suspects_streams_pool_past_broadcast_keys(spark):
    """With auto-broadcast off (a pool past broadcast range), the confirm of
    bloom-positive rows must plan no SortMergeJoin and no hash exchange —
    the pool is streamed, never shuffled — and give the same reasons as the
    plain two-left-join shape, which does plan a SortMergeJoin here."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        url = F.concat(F.lit("u://p/"), F.col("id").cast("string")).alias("canon_url")
        pool = spark.range(20_000).select(url)
        seen = spark.range(0, 20_000, 3).select(url)
        # crawled, pooled-only and false-positive suspects
        ids = list(range(0, 60)) + list(range(30_000, 30_020))
        suspect = spark.createDataFrame(
            [(f"u://p/{i}", i) for i in ids], "canon_url string, seq long"
        )

        got = scheduler._confirm_suspects(suspect, pool, seen)
        got_rows = {(r["canon_url"], r["seq"], r["reason"]) for r in got.collect()}
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan

        ref = (
            suspect.join(pool.withColumn("_pool", F.lit(True)), "canon_url", "left")
            .join(seen.withColumn("_seen", F.lit(True)), "canon_url", "left")
            .withColumn(
                "reason",
                F.when(F.col("_seen"), "cached").when(F.col("_pool"), "enqueued"),
            )
        )
        want_rows = {(r["canon_url"], r["seq"], r["reason"]) for r in ref.collect()}
        assert "SortMergeJoin" in ref._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, prev)
    assert got_rows == want_rows
    assert len(got_rows) == len(ids)
    reasons = [r for _, _, r in got_rows]
    assert (reasons.count("cached"), reasons.count("enqueued"), reasons.count(None)) == (
        20, 40, 20
    )


def test_catalog_compaction(spark, tmp_path_factory):
    from pyspark.sql.types import LongType, StructField, StructType

    from visiblev8_crawler_spark.catalog import ParquetCatalog

    T = StructType([StructField("v", LongType())])
    cat = ParquetCatalog(spark, str(tmp_path_factory.mktemp("cmp")), {"t": T})
    for i in range(3):
        cat.commit(f"a{i}", appends={"t": spark.createDataFrame([(i,)], T)})
    assert cat.file_sets("t") == 3
    assert cat.compact("t") is True
    assert cat.file_sets("t") == 1
    assert {r["v"] for r in cat.read("t").collect()} == {0, 1, 2}
    assert cat.compact("t") is False  # already compact


def test_add_seeds_cross_campaign(spark, world, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("cat_seeds"))
    frontier = spark.read.parquet(world["paths"]["frontier"])
    robots = spark.read.parquet(world["paths"]["robots"])
    images = spark.read.parquet(world["paths"]["images"])
    cfg = CrawlConfig(batch_size=150)
    cat = scheduler.run_campaign(
        spark, root, frontier, robots, images, cfg, stop_after_waves=2
    )

    crawled = [r["canon_url"] for r in scheduler.url_seen_df(cat).limit(3).collect()]
    enqueued = [
        r["canon_url"]
        for r in scheduler.pending_df(cat)
        .join(scheduler.url_seen_df(cat).select("canon_url"), "canon_url", "left_anti")
        .limit(3)
        .collect()
    ]
    fresh = [f"https://brand-new.example/img/img_{i:012d}" for i in range(5)]
    seeds = crawled + enqueued + fresh + ["ftp://nope.example/x"]
    new_frontier = spark.createDataFrame(
        [(i, u, 0) for i, u in enumerate(seeds)], "seq long, url string, priority int"
    )

    counts = scheduler.add_seeds(spark, cat, new_frontier, robots)
    assert counts["cached"] == 3
    assert counts["enqueued"] == 3
    assert counts["invalid"] == 1
    assert counts["added"] == 5

    cat = scheduler.run_campaign(spark, root, frontier, robots, images, cfg)
    seen = {r["canon_url"] for r in scheduler.url_seen_df(cat).collect()}
    assert set(fresh) <= seen
    n_first = (
        cat.read("fetches")
        .filter(F.col("canon_url").isin(*fresh) & (F.col("attempt") == 1))
        .count()
    )
    assert n_first == 5, "each fresh seed crawled exactly once"


def test_add_seeds_incremental_bloom(spark, world, tmp_path_factory, monkeypatch):
    """After the first ingest the bloom state lives in the catalog: a second
    ingest must NOT rebuild it from an O(pool) scan — only OR in an O(batch)
    delta — and must still classify cached/enqueued/fresh exactly."""
    from visiblev8_crawler_spark.operators import bloom as bloom_mod

    root = str(tmp_path_factory.mktemp("cat_incbloom"))
    frontier = spark.read.parquet(world["paths"]["frontier"])
    robots = spark.read.parquet(world["paths"]["robots"])
    images = spark.read.parquet(world["paths"]["images"])
    cat = scheduler.run_campaign(
        spark, root, frontier, robots, images, CrawlConfig(batch_size=150),
        stop_after_waves=2,
    )

    def mk_frontier(urls):
        return spark.createDataFrame(
            [(i, u, 0) for i, u in enumerate(urls)], "seq long, url string, priority int"
        )

    batch1 = [f"https://inc-a.example/img/img_{i:012d}" for i in range(4)]
    counts = scheduler.add_seeds(spark, cat, mk_frontier(batch1), robots)
    assert counts["added"] == 4
    assert cat.file_sets("bloom") == 1, "bloom state persisted after first ingest"
    assert [r["shard"] for r in cat.read("bloom").collect()] == [0]

    # from now on, any full rebuild is a bug: build_bloom scans the pool
    def boom(*a, **k):
        raise AssertionError("add_seeds rebuilt the bloom from an O(pool) scan")

    monkeypatch.setattr(bloom_mod, "build_bloom", boom)

    crawled = [r["canon_url"] for r in scheduler.url_seen_df(cat).limit(2).collect()]
    batch2 = [f"https://inc-b.example/img/img_{i:012d}" for i in range(3)]
    counts = scheduler.add_seeds(
        spark, cat, mk_frontier(crawled + batch1[:1] + batch2), robots
    )
    assert counts["added"] == 3
    assert counts["cached"] == 2
    assert counts["enqueued"] == 1, "batch-1 url must hit the (incremental) bloom"

    # the delta actually landed: a third ingest of batch2 dupes is 'enqueued'
    counts = scheduler.add_seeds(spark, cat, mk_frontier(batch2), robots)
    assert counts.get("added", 0) == 0
    assert counts["enqueued"] == 3


def test_concurrent_add_seeds_serialize(spark, world, tmp_path_factory):
    """Two ingests racing from separate threads: the catalog writer lock
    serializes the bloom read-modify-write, so NEITHER delta is lost. A
    lost delta would make re-ingested URLs bloom-negative and skip the
    exact join — re-added as duplicates into the pool. Assert both batches
    survive re-ingestion as 'enqueued' and the pool has no duplicate keys."""
    import threading

    root = str(tmp_path_factory.mktemp("cat_race_seeds"))
    frontier = spark.read.parquet(world["paths"]["frontier"])
    robots = spark.read.parquet(world["paths"]["robots"])
    images = spark.read.parquet(world["paths"]["images"])
    cat = scheduler.run_campaign(
        spark, root, frontier, robots, images, CrawlConfig(batch_size=150),
        stop_after_waves=1,
    )

    def mk_frontier(urls):
        return spark.createDataFrame(
            [(i, u, 0) for i, u in enumerate(urls)], "seq long, url string, priority int"
        )

    batches = [
        [f"https://race-{b}.example/img/img_{i:012d}" for i in range(6)]
        for b in ("a", "b")
    ]
    errs = []

    def ingest(urls):
        try:
            c = scheduler.open_catalog(spark, root)  # separate catalog instance
            scheduler.add_seeds(spark, c, mk_frontier(urls), robots)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=ingest, args=(b,)) for b in batches]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs

    # both deltas survived: re-ingesting the union adds NOTHING
    counts = scheduler.add_seeds(
        spark, cat, mk_frontier(batches[0] + batches[1]), robots
    )
    assert counts.get("added", 0) == 0, counts
    assert counts["enqueued"] == 12, counts
    # and the pool has no duplicate canonical keys
    from pyspark.sql import functions as F

    dups = (
        scheduler.pool_df(cat)
        .groupBy("canon_url")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dups == 0
