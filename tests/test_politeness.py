"""Persistent per-host politeness state (SURVEY §4.2.3; round-2 ADVICE +
VERDICT #5): token-bucket credit carried across waves, Crawl-delay > wave
period pacing (no starvation), failure-rate demotion, and empty-wave
fast-forward — each proven by simulator↔Spark equality plus direct
assertions on the pacing itself."""

import pytest
from pyspark.sql import functions as F

from visiblev8_crawler_spark import simulator
from visiblev8_crawler_spark.operators.waves import robots_dim
from visiblev8_crawler_spark.streaming import scheduler
from visiblev8_crawler_spark.streaming.scheduler import CrawlConfig

ROBOTS_DDL = (
    "host string, full_block boolean, disallow_prefixes array<string>, "
    "crawl_delay_s double, max_per_wave int"
)


def _world(rows, robots_rows, spark):
    return (
        spark.createDataFrame(rows),
        spark.createDataFrame(robots_rows, ROBOTS_DDL),
        {r["host"]: r for r in robots_rows},
    )


def _crawl_order(cat):
    return {
        (r["canon_url"], r["wave_id"], r["order_in_wave"])
        for r in scheduler.crawl_order_df(cat).collect()
    }


def _per_wave(cat):
    return {
        r["wave_id"]: r["n"]
        for r in cat.read("fetches").groupBy("wave_id").agg(F.count("*").alias("n")).collect()
    }


def _fetch_rows(cat):
    keys = ["canon_url", "attempt", "wave_id", "order_in_wave", "status"]
    return {tuple(r[k] for k in keys) for r in cat.read("fetches").collect()}


def test_crawl_delay_exceeding_period_still_drains(spark, world, tmp_path_factory):
    """ADVICE r2 (medium): a host declaring Crawl-delay: 150 at a 60 s wave
    period used to get budget floor(60/150)=0 forever — its URLs were
    silently never crawled. The token bucket now paces it at one fetch per
    ceil(150/60)=3 waves' worth of credit, and the campaign drains to
    pending_left == 0."""
    slow = "veryslow.example"
    rows = [
        {"seq": i + 1, "url": f"https://{slow}/img/img_{i:012d}",
         "host": slow, "priority": 0, "task_id": "slow"}
        for i in range(4)
    ]
    robots_rows = [
        {"host": slow, "full_block": False, "disallow_prefixes": [],
         "crawl_delay_s": 150.0, "max_per_wave": 10},
    ]
    frontier, robots, robots_by_host = _world(rows, robots_rows, spark)

    sim = simulator.simulate_campaign(
        rows, robots_by_host, world["images_by_id"], batch_size=100
    )
    # the simulator itself must fully crawl the slow host
    assert len(sim.url_seen) == 4, "slow host starved in the simulator"
    # pacing: rate = 60/150 = 0.4 credits/wave -> fetch waves 2, 4, 7, 9
    # (credit cycle 0.4: eff 1.2 -> spend 1 -> 0.2, 1.0 -> 0.0, ...)
    assert sorted(w for _u, w in sim.url_seen.items()) == [2, 4, 7, 9]

    cat = scheduler.run_campaign(
        spark, str(tmp_path_factory.mktemp("cat_slow")), frontier, robots,
        spark.read.parquet(world["paths"]["images"]), CrawlConfig(batch_size=100),
    )
    assert _crawl_order(cat) == set(sim.crawl_order)
    assert scheduler.pending_df(cat).count() == 0, "URLs left uncrawled"


def test_unused_credit_carries_across_waves(spark, world, tmp_path_factory):
    """A host rate-bound at 12 credits/wave whose selection is batch-bound
    below that must keep the unused credit (capped at max_per_wave) — the
    old stateless budget threw it away every wave. Equality vs simulator
    proves Spark implements the same carry."""
    hosts = [f"h{i}.example" for i in range(4)]
    # three small hosts own the low seqs (crawled first, batch-bound at 16);
    # the big host h0 waits its turn while its bucket accrues 12 credits a
    # wave LAZILY (it is never selected, so only the (wave - last_wave)
    # term grows), then bursts at 16/wave — above the stateless
    # floor(60/5) = 12 cap the old code re-imposed every wave
    rows = [
        {"seq": i + 1,
         "url": f"https://{hosts[1 + i % 3] if i < 39 else hosts[0]}"
                f"/img/img_{i % 250:012d}",
         "host": hosts[1 + i % 3] if i < 39 else hosts[0],
         "priority": 0, "task_id": "carry"}
        for i in range(239)
    ]
    robots_rows = [
        {"host": h, "full_block": False, "disallow_prefixes": [],
         "crawl_delay_s": 5.0, "max_per_wave": 40}
        for h in hosts
    ]
    frontier, robots, robots_by_host = _world(rows, robots_rows, spark)

    sim = simulator.simulate_campaign(
        rows, robots_by_host, world["images_by_id"], batch_size=16
    )
    per_host_wave = {}
    for url, w, _o in sim.crawl_order:
        h = url.split("/")[2]
        per_host_wave[(h, w)] = per_host_wave.get((h, w), 0) + 1
    assert max(
        n for (h, _w), n in per_host_wave.items() if h == hosts[0]
    ) > 12, (
        "fixture never exercised the carry (h0 never exceeded the stateless "
        f"per-wave rate): {per_host_wave}"
    )

    cat = scheduler.run_campaign(
        spark, str(tmp_path_factory.mktemp("cat_carry")), frontier, robots,
        spark.read.parquet(world["paths"]["images"]), CrawlConfig(batch_size=16),
    )
    assert _crawl_order(cat) == set(sim.crawl_order)


def test_failure_demotion_reduces_budget(spark, world, tmp_path_factory):
    """VERDICT r2 #5: a host that keeps failing gets demoted. All this
    host's URLs dangle (NOT_FOUND), so after wave 0's 8 failures the abuse
    rule (failed >= 4 and failed > ok) cuts its cap to max(1, 8//4) = 2.
    A campaign killed after wave 0 and resumed must bind the demotion from
    the ledger fold alone (scheduler.host_state_df) and crawl identically."""
    bad = "abusive.example"
    rows = [
        {"seq": i + 1, "url": f"https://{bad}/img/img_9999999{i:05d}",
         "host": bad, "priority": 0, "task_id": "demote"}
        for i in range(16)
    ]
    robots_rows = [
        {"host": bad, "full_block": False, "disallow_prefixes": [],
         "crawl_delay_s": 1.0, "max_per_wave": 8},
    ]
    frontier, robots, robots_by_host = _world(rows, robots_rows, spark)

    sim = simulator.simulate_campaign(
        rows, robots_by_host, world["images_by_id"], batch_size=100
    )
    sim_per_wave = {}
    for f in sim.fetches:
        sim_per_wave[f["wave_id"]] = sim_per_wave.get(f["wave_id"], 0) + 1
    assert sim_per_wave[0] == 8  # undemoted first wave
    later = {w: n for w, n in sim_per_wave.items() if w > 0}
    assert later and all(n <= 2 for n in later.values()), sim_per_wave

    images = spark.read.parquet(world["paths"]["images"])
    cfg = CrawlConfig(batch_size=100)
    cat = scheduler.run_campaign(
        spark, str(tmp_path_factory.mktemp("cat_demote")), frontier, robots,
        images, cfg,
    )
    assert _per_wave(cat) == sim_per_wave
    assert _crawl_order(cat) == set(sim.crawl_order)

    root = str(tmp_path_factory.mktemp("cat_demote_resume"))
    killed = scheduler.run_campaign(
        spark, root, frontier, robots, images, cfg, stop_after_waves=1
    )
    assert killed.watermark() == 0
    resumed = scheduler.run_campaign(spark, root, frontier, robots, images, cfg)
    assert _per_wave(resumed) == sim_per_wave
    assert _crawl_order(resumed) == _crawl_order(cat) == set(sim.crawl_order)

    # the resume fold equals the in-run state replayed wave by wave; credit
    # doubles compared exactly (a demoted wave's credit is capped at 2, not 8)
    fold = {
        r["host"]: [r["credit"], r["last_wave"], r["ok"], r["failed"]]
        for r in scheduler.host_state_df(resumed, robots).collect()
    }
    replay = scheduler._HostState([], robots_dim(robots).collect(), cfg)
    stats = (
        resumed.read("fetches").groupBy("wave_id", "host")
        .agg(F.count("*").alias("n_sel"),
             F.sum(F.when(F.col("status") == "OK", 1).otherwise(0)).alias("n_ok"))
        .collect()
    )
    for w in sorted({r["wave_id"] for r in stats}):
        replay.update(w, [r for r in stats if r["wave_id"] == w])
    assert fold == replay.state


def test_empty_wave_fast_forward_jumps(spark, world, tmp_path_factory):
    """A lone Crawl-delay: 600 host (rate 0.1/wave) must not cost one empty
    selection pass per wave: the scheduler jumps straight to the next
    eligible wave (watermark gaps), the simulator computes the same jump,
    and metrics contain ONLY fetch waves."""
    glacial = "glacial.example"
    rows = [
        {"seq": i + 1, "url": f"https://{glacial}/img/img_{i:012d}",
         "host": glacial, "priority": 0, "task_id": "ff"}
        for i in range(2)
    ]
    robots_rows = [
        {"host": glacial, "full_block": False, "disallow_prefixes": [],
         "crawl_delay_s": 600.0, "max_per_wave": 5},
    ]
    frontier, robots, robots_by_host = _world(rows, robots_rows, spark)

    sim = simulator.simulate_campaign(
        rows, robots_by_host, world["images_by_id"], batch_size=10
    )
    # rate 0.1: first credit>=1 at wave 9, then wave 19
    assert sorted(w for _u, w in sim.url_seen.items()) == [9, 19]

    cat = scheduler.run_campaign(
        spark, str(tmp_path_factory.mktemp("cat_ff")), frontier, robots,
        spark.read.parquet(world["paths"]["images"]), CrawlConfig(batch_size=10),
    )
    assert _crawl_order(cat) == set(sim.crawl_order)
    waves_with_metrics = sorted(
        r["wave_id"] for r in cat.read("metrics").collect()
    )
    assert waves_with_metrics == [9, 19], "empty waves must not emit metrics"
    assert scheduler.pending_df(cat).count() == 0


def test_zero_cap_host_terminates_campaign(spark, world, tmp_path_factory):
    """A robots row with max_per_wave=0 means the host may never be fetched
    at any wave — the scheduler and simulator must finish the rest of the
    frontier and STOP, not fast-forward one empty wave at a time until
    max_waves."""
    dead, live = "capzero.example", "alive.example"
    rows = [
        {"seq": i + 1,
         "url": f"https://{dead if i % 2 else live}/img/img_{i % 250:012d}",
         "host": dead if i % 2 else live, "priority": 0, "task_id": "z"}
        for i in range(20)
    ]
    robots_rows = [
        {"host": dead, "full_block": False, "disallow_prefixes": [],
         "crawl_delay_s": 1.0, "max_per_wave": 0},
    ]
    frontier, robots, robots_by_host = _world(rows, robots_rows, spark)

    sim = simulator.simulate_campaign(
        rows, robots_by_host, world["images_by_id"], batch_size=50
    )
    assert sim.waves <= 3  # terminated, not 10k fast-forward spins
    assert all(dead not in u for u in sim.url_seen)
    assert any(live in u for u in sim.url_seen)

    cat = scheduler.run_campaign(
        spark, str(tmp_path_factory.mktemp("cat_zero")), frontier, robots,
        spark.read.parquet(world["paths"]["images"]), CrawlConfig(batch_size=50),
    )
    assert _crawl_order(cat) == set(sim.crawl_order)
    left = {r["host"] for r in scheduler.pending_df(cat).collect()}
    assert left == {dead}, left  # only the zero-cap host's rows remain


@pytest.fixture(scope="module")
def frac(spark, world, tmp_path_factory):
    """Two hosts, one with a fractional refill rate (Crawl-delay 7 s at a
    60 s period), plus the uninterrupted campaign over them."""
    slow, fast = "frac.example", "quick.example"
    rows = [
        {"seq": i + 1,
         "url": f"https://{slow if i % 3 == 0 else fast}/img/img_{i % 250:012d}",
         "host": slow if i % 3 == 0 else fast, "priority": 0, "task_id": "kr"}
        for i in range(120)
    ]
    robots_rows = [
        {"host": slow, "full_block": False, "disallow_prefixes": [],
         "crawl_delay_s": 7.0, "max_per_wave": 50},  # rate 60/7 = 8.571...
        {"host": fast, "full_block": False, "disallow_prefixes": [],
         "crawl_delay_s": 1.0, "max_per_wave": 20},
    ]
    frontier, robots, robots_by_host = _world(rows, robots_rows, spark)
    images = spark.read.parquet(world["paths"]["images"])
    cfg = CrawlConfig(batch_size=30)
    straight = scheduler.run_campaign(
        spark, str(tmp_path_factory.mktemp("cat_frac_a")), frontier, robots, images, cfg
    )
    return {
        "slow": slow, "rows": rows, "robots_by_host": robots_by_host,
        "frontier": frontier, "robots": robots, "images": images, "cfg": cfg,
        "straight": straight,
    }


def test_kill_resume_with_fractional_credit(spark, world, frac, tmp_path_factory):
    """Kill/resume across waves with FRACTIONAL carried credit: the resume
    path re-derives host state by folding the fetch ledger
    (scheduler.host_state_df), which must reproduce the in-run incremental
    doubles exactly — final tables byte-equal to an uninterrupted run."""
    inputs = (frac["frontier"], frac["robots"], frac["images"], frac["cfg"])
    straight = frac["straight"]
    root = str(tmp_path_factory.mktemp("cat_frac_b"))
    scheduler.run_campaign(spark, root, *inputs, stop_after_waves=2)
    resumed = scheduler.run_campaign(spark, root, *inputs)

    assert _fetch_rows(straight) == _fetch_rows(resumed)
    # the fractional rate actually produced carried credit: some wave got
    # more slow-host rows than floor(60/7) = 8 would ever allow statelessly
    slow_per_wave = [
        r["n"]
        for r in straight.read("fetches")
        .filter(F.col("host") == frac["slow"])
        .groupBy("wave_id").agg(F.count("*").alias("n"))
        .collect()
    ]
    assert any(n > 8 for n in slow_per_wave), slow_per_wave
    sim = simulator.simulate_campaign(
        frac["rows"], frac["robots_by_host"], world["images_by_id"], batch_size=30
    )
    assert _crawl_order(straight) == set(sim.crawl_order)


def test_resume_catalog_with_committed_host_state_table(spark, frac, tmp_path_factory):
    """A catalog from the era when politeness state could also live in a
    committed ``host_state`` table, with its storage mode pinned in the
    manifest meta, resumes on the driver-held state: the ledger equals the
    uninterrupted run's, and the leftover manifest entries stay inert —
    reads never look up their schema, compaction leaves them alone, and
    snapshot expiry keeps their still-referenced files."""
    from visiblev8_crawler_spark import schemas
    from visiblev8_crawler_spark.catalog import ParquetCatalog

    root = str(tmp_path_factory.mktemp("cat_frac_old"))
    old = ParquetCatalog(
        spark, root, {**scheduler.TABLE_SCHEMAS, "host_state": schemas.HOST_STATE}
    )
    frontier, robots, images = frac["frontier"], frac["robots"], frac["images"]
    scheduler.run_campaign(
        spark, root, frontier, robots, images, frac["cfg"], stop_after_waves=2
    )
    old.commit(
        None,
        appends={"host_state": scheduler.host_state_df(old, robots)},
        meta={"host_state_mode": "table"},
    )
    state_rows = sorted(map(tuple, old.read("host_state").collect()))
    assert len(state_rows) == 2

    # maintenance fires during the resume: compaction every 2 waves, and
    # expiry down to 2 snapshots with no age floor
    cfg = CrawlConfig(
        batch_size=30, compact_every=2, expire_keep_snapshots=2, expire_min_age_s=0.0
    )
    resumed = scheduler.run_campaign(spark, root, frontier, robots, images, cfg)

    assert _fetch_rows(resumed) == _fetch_rows(frac["straight"])
    assert scheduler.pending_df(resumed).count() == 0
    assert resumed.replace_epoch("fetches") > 0, "compaction never ran"
    assert len(resumed.snapshots()) < resumed.commit_seq(), "expiry never ran"
    assert sorted(map(tuple, old.read("host_state").collect())) == state_rows
