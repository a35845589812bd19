"""Persistent per-host politeness state (SURVEY §4.2.3; round-2 ADVICE +
VERDICT #5): token-bucket credit carried across waves, Crawl-delay > wave
period pacing (no starvation), failure-rate demotion, and empty-wave
fast-forward — each proven by simulator↔Spark equality plus direct
assertions on the pacing itself."""

import pytest
from pyspark.sql import functions as F

from visiblev8_crawler_spark import schemas, simulator
from visiblev8_crawler_spark.operators.waves import bucket, robots_dim, select_wave
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
        for r in scheduler.host_state_df(resumed, robots, cfg).collect()
    }
    replay = scheduler._HostState(
        [], robots_dim(robots, cfg.default_budget).collect(), cfg
    )
    stats = (
        resumed.read("fetches").groupBy("wave_id", "host")
        .agg(F.count("*").alias("n_sel"),
             F.sum(F.when(F.col("status") == "OK", 1).otherwise(0)).alias("n_ok"))
        .collect()
    )
    for w in sorted({r["wave_id"] for r in stats}):
        replay.update(w, [r for r in stats if r["wave_id"] == w])
    assert fold == replay.state


# the budget grid: robots max_per_wave x Crawl-delay, and carried states
# (credit, ok, failed) — None = never crawled
GRID_M = (None, 0, 1, 8, 25)
GRID_DELAY = (None, 0, 0.5, 1, 5, 150, 600)
GRID_STATES = {
    "fresh": None,
    "frac": (0.37, 3, 1),
    "demoted": (0.5, 1, 5),
    "recovered": (1.25, 9, 5),
}


def _grid(cfg, last_wave):
    """(state rows, robots_dim rows, {host: (state, m, delay)}) for every
    grid host, plus one host per state that has no robots row."""
    hosts = {
        f"{kind}.m{m}.d{d}.example": (st, m, d)
        for kind, st in GRID_STATES.items() for m in GRID_M for d in GRID_DELAY
    }
    hosts.update({f"{kind}.unknown.example": (st, None, None)
                  for kind, st in GRID_STATES.items()})
    state_rows = [
        {"host": h, "credit": st[0], "last_wave": last_wave, "ok": st[1],
         "failed": st[2]}
        for h, (st, _m, _d) in hosts.items() if st is not None
    ]
    robots_rows = [
        {"host": h, "max_per_wave": cfg.default_budget if m is None else m,
         "crawl_delay_s": d}
        for h, (_st, m, d) in hosts.items() if "unknown" not in h
    ]
    return state_rows, robots_rows, hosts


def _assert_budgets_exact(hs, hosts, wave_id, last_wave):
    """select_wave's resolution — the emitted budget, else the robots
    max_per_wave, else unknown_budget — equals waves.bucket for every host,
    and only hosts whose budget can differ from that fallback are emitted."""
    cfg = hs.cfg
    emitted = hs.budgets(wave_id)
    unknown_budget = hs.bucket_of(None, wave_id)[1]
    differ = set()
    for h, (st, m, d) in hosts.items():
        robots_m = None if "unknown" in h else (cfg.default_budget if m is None else m)
        m_res = cfg.default_budget if robots_m is None else robots_m
        credit, ok, failed = st if st is not None else (0.0, 0, 0)
        last = last_wave if st is not None else -1
        want = bucket(credit, last, ok, failed, wave_id, m_res, d, cfg.wave_period_s)[1]
        got = emitted.get(h, unknown_budget if robots_m is None else robots_m)
        assert got == want, (h, wave_id, cfg.wave_period_s, got, want)
        rate = cfg.wave_period_s / (d if d else 1.0)
        cap = max(m_res, 1)
        if st is not None:
            if (failed >= cfg.demote_after_failures and failed > ok) or rate < cap:
                differ.add(h)
        elif robots_m is not None and rate * (wave_id + 1) < cap:
            differ.add(h)
    assert set(emitted) == differ, (wave_id, cfg.wave_period_s)


def test_budget_dimension_exact_over_grid():
    """No Spark: the driver-computed budget dimension, with select_wave's
    fallbacks, reproduces waves.bucket for every grid host at waves 0-12,
    at the default 60 s period and at 10 s (where hosts with the default
    Crawl-delay — unknown hosts included — are delay-bound). One driver
    state walks the waves in order, as a run does (fresh buckets drop out
    of the dimension once full); a second is built per wave with every
    crawled host last fetched the wave before."""
    for period in (60.0, 10.0):
        cfg = CrawlConfig(wave_period_s=period)
        rows, robots_rows, hosts = _grid(cfg, last_wave=-1)
        hs = scheduler._HostState(rows, robots_rows, cfg)
        for w in range(13):
            _assert_budgets_exact(hs, hosts, w, last_wave=-1)
        for w in range(13):
            rows, robots_rows, hosts = _grid(cfg, last_wave=w - 1)
            per_wave = scheduler._HostState(rows, robots_rows, cfg)
            _assert_budgets_exact(per_wave, hosts, w, last_wave=w - 1)


def test_select_wave_resolves_driver_budgets(spark):
    """The Spark side of the budget dimension: select_wave caps every host
    at exactly the driver's bucket budget — an emitted budget, a robots
    max_per_wave, or unknown_budget — for a grid slice at a 10 s period."""
    cfg = CrawlConfig(wave_period_s=10.0)
    rows, robots_rows, hosts = _grid(cfg, last_wave=2)
    hosts = {h: v for h, v in hosts.items() if v[2] in (None, 0.5, 5, 150)}
    robots = spark.createDataFrame(
        [(h, False, [], None if d is None else float(d), m)
         for h, (_st, m, d) in hosts.items() if "unknown" not in h],
        ROBOTS_DDL,
    )
    hs = scheduler._HostState(
        [r for r in rows if r["host"] in hosts],
        robots_dim(robots, cfg.default_budget).collect(), cfg,
    )
    pending = spark.createDataFrame(
        [(f"https://{h}/p/{i}", 0, h, f"/p/{i}", "x", 0, n * 40 + i, 1, "b", None,
          None, i % 8)
         for n, h in enumerate(sorted(hosts)) for i in range(30)],
        schemas.PENDING,
    )
    got = {
        r["host"]: r["n"]
        for r in select_wave(
            pending, robots, 3, 10_000, cfg.default_budget, 8,
            budgets=hs.budget_df(spark, 3), unknown_budget=hs.bucket_of(None, 3)[1],
        ).groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    want = {h: min(30, hs.bucket_of(h, 3)[1]) for h in hosts}
    assert {h: got.get(h, 0) for h in hosts} == want
    assert len(set(want.values())) > 4, want  # the slice spans many budgets


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
