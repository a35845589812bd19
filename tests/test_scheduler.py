"""The north-rule gate: the Spark scheduler reproduces the sequential
reference simulator exactly — crawl order, URL-seen set, per-row fetch
verdicts, rejects, per-wave counters — and a killed campaign resumes to an
identical final state (url_sender.py:146-200 semantics)."""

import re

import pytest
from pyspark.sql import functions as F

from visiblev8_crawler_spark import simulator
from visiblev8_crawler_spark.streaming import scheduler
from visiblev8_crawler_spark.streaming.scheduler import CrawlConfig

BATCH = 150


@pytest.fixture(scope="module")
def sim(world):
    return simulator.simulate_campaign(
        world["frontier_rows"],
        world["robots_by_host"],
        world["images_by_id"],
        batch_size=BATCH,
    )


@pytest.fixture(scope="module")
def spark_run(spark, world, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("cat"))
    frontier = spark.read.parquet(world["paths"]["frontier"])
    robots = spark.read.parquet(world["paths"]["robots"])
    images = spark.read.parquet(world["paths"]["images"])
    cat = scheduler.run_campaign(
        spark, root, frontier, robots, images, CrawlConfig(batch_size=BATCH)
    )
    return cat


def test_crawl_order_equality(sim, spark_run):
    got = {
        (r["canon_url"], r["wave_id"], r["order_in_wave"])
        for r in scheduler.crawl_order_df(spark_run).collect()
    }
    assert got == set(sim.crawl_order)


def test_url_seen_equality(sim, spark_run):
    got = {r["canon_url"]: r["wave_id"] for r in scheduler.url_seen_df(spark_run).collect()}
    assert got == sim.url_seen


def test_fetch_verdict_equality(sim, spark_run):
    def norm_args(a):
        return tuple(a) if a is not None else None

    got = {
        (r["canon_url"], r["attempt"]): (
            r["status"], r["wave_id"], r["task_id"], r["actions"],
            norm_args(r["crawler_args"]),
        )
        for r in spark_run.read("fetches").collect()
    }
    want = {
        (f["canon_url"], f["attempt"]): (
            f["status"], f["wave_id"], f["task_id"], f["actions"],
            norm_args(f["crawler_args"]),
        )
        for f in sim.fetches
    }
    assert got == want
    # crawler_args passthrough: some ledger rows carry them...
    assert any(v[4] is not None for v in got.values())
    # ...and unlike actions, they PERSIST across the retry (tasks.py:124,159)
    assert any(v[4] is not None for k, v in got.items() if k[1] == 2)
    # the per-row config passthrough is real: some ledger rows carry actions
    assert any(r[2] is not None and r[3] is not None for r in got.values())
    # retry-without-actions (vv8_worker/tasks.py:149-158): every attempt-2
    # row crawls the direct URL with actions reset to None
    second = [(k, v) for k, v in got.items() if k[1] == 2]
    assert second, "campaign must exercise the retry path"
    assert all(v[3] is None for _, v in second)
    # ...and at least one retried URL HAD actions on its first attempt
    assert any(
        got[(url, 1)][3] is not None for (url, a), _ in second if (url, 1) in got
    )


def test_rejected_equality(sim, spark_run):
    got = {(r["seq"], r["reason"]) for r in spark_run.read("rejected").collect()}
    assert got == {(s, reason) for s, _u, reason in sim.rejected}


def test_wave_metrics_equality(sim, spark_run):
    got = {
        r["wave_id"]: (r["n_attempted"], r["n_ok"], r["n_failed"])
        for r in spark_run.read("metrics").collect()
    }
    want = {m["wave_id"]: (m["n_attempted"], m["n_ok"], m["n_failed"]) for m in sim.metrics}
    assert got == want


def test_campaign_exercises_failure_paths(sim):
    statuses = {f["status"] for f in sim.fetches}
    assert "OK" in statuses and len(statuses) >= 4
    assert any(f["attempt"] == 2 for f in sim.fetches)  # retry-once happened
    reasons = {r for _s, _u, r in sim.rejected}
    assert reasons == {"invalid", "duplicate", "robots"}


def test_lineage_covers_every_fetch(sim, spark_run):
    """Per-(wave, partition) lineage rows must roll up to exactly the fetch
    ledger (north_rule: per-partition lineage + metrics)."""
    lin = scheduler.lineage_df(spark_run).collect()
    assert all(r["partition_id"] >= 0 for r in lin)
    assert sum(r["n_rows"] for r in lin) == len(sim.fetches)
    per_wave = {}
    for r in lin:
        per_wave[r["wave_id"]] = per_wave.get(r["wave_id"], 0) + r["n_rows"]
    want = {m["wave_id"]: m["n_attempted"] for m in sim.metrics}
    assert per_wave == want


def test_fetch_status_query(sim, spark_run):
    """§3.2 interactive status lookup: crawled url -> its attempts; rejected
    url -> its disposition."""
    ok_url = sim.fetches[0]["canon_url"]
    rows = scheduler.fetch_status(spark_run, ok_url).collect()
    assert rows and rows[0]["attempt"] >= 1 and rows[0]["status"] is not None

    seq, raw_url, reason = sim.rejected[0]
    rows = scheduler.fetch_status(spark_run, raw_url).collect()
    assert any(r["status"] == f"REJECTED:{reason}" for r in rows)


def test_fetch_artifacts(sim, spark_run, spark, world):
    """Artifact retrieval (scripts/fetch.py:113-201 analog): an OK URL's
    attempt row carries the artifact bytes (byte-identical to the stored
    blob), a NOT_FOUND URL's carries null bytes."""
    images = spark.read.parquet(world["paths"]["images"])
    ok = next(f for f in sim.fetches if f["status"] == "OK")
    rows = scheduler.fetch_artifacts(spark_run, images, ok["canon_url"]).collect()
    assert rows and rows[0]["status"] == "OK"
    blob = world["images_by_id"][ok["image_id"]]["bytes"]
    assert bytes(rows[0]["bytes"]) == bytes(blob)
    assert rows[0]["caption"] == world["images_by_id"][ok["image_id"]]["caption"]

    nf = next(f for f in sim.fetches if f["status"] == "NOT_FOUND" and f["image_id"]
              and f["image_id"] not in world["images_by_id"])
    rows = scheduler.fetch_artifacts(spark_run, images, nf["canon_url"]).collect()
    assert rows and all(r["bytes"] is None for r in rows)
    assert {r["status"] for r in rows} <= {"NOT_FOUND"}


def test_salt_width_invariance(spark, world):
    """Salting is a pure physical-plan choice: selection identical at S=1/8/32."""
    from pyspark.sql import functions as F

    from visiblev8_crawler_spark import schemas
    from visiblev8_crawler_spark.operators.dedup import prepare_frontier
    from visiblev8_crawler_spark.operators.waves import robots_dim, salt_col, select_wave

    frontier = spark.read.parquet(world["paths"]["frontier"])
    robots = spark.read.parquet(world["paths"]["robots"])
    prepared = prepare_frontier(frontier, robots).filter(F.col("reason").isNull())
    # wave-0 bucket budgets, as the campaign's first wave computes them
    hs = scheduler._HostState([], robots_dim(robots).collect(), CrawlConfig())
    budgets = hs.budget_df(spark, 0)
    base = None
    for s in (1, 8, 32):
        pending = schemas.conform(
            prepared.withColumn("salt", salt_col(F.col("canon_url"), s)), schemas.PENDING
        )
        got = sorted(
            (r["canon_url"], r["order_in_wave"])
            for r in select_wave(
                pending, robots, 0, BATCH, salt_width=s, budgets=budgets,
                unknown_budget=hs.bucket_of(None, 0)[1],
            ).collect()
        )
        if base is None:
            base = got
        assert got == base


def test_auto_salt_width(spark, world, tmp_path_factory):
    """salt_width=None derives the width from the host histogram and the
    campaign still reproduces the simulator exactly (width is physical-only)."""
    from visiblev8_crawler_spark.operators.waves import choose_salt_width

    hot = spark.createDataFrame(
        [(f"u{i}", "hot.example" if i < 120_000 else f"h{i}.example") for i in range(120_050)],
        "canon_url string, host string",
    )
    assert choose_salt_width(hot) == 3  # ceil(120000 / 50000)

    sim = simulator.simulate_campaign(
        world["frontier_rows"], world["robots_by_host"], world["images_by_id"], batch_size=BATCH
    )
    cat = scheduler.run_campaign(
        spark,
        str(tmp_path_factory.mktemp("cat_auto")),
        spark.read.parquet(world["paths"]["frontier"]),
        spark.read.parquet(world["paths"]["robots"]),
        spark.read.parquet(world["paths"]["images"]),
        CrawlConfig(batch_size=BATCH, salt_width=None),
    )
    got = {
        (r["canon_url"], r["wave_id"], r["order_in_wave"])
        for r in scheduler.crawl_order_df(cat).collect()
    }
    assert got == set(sim.crawl_order)


def test_extreme_hot_host_skew(spark, world, tmp_path_factory):
    """north_rule skew case: one host owns ~70% of the frontier (far beyond
    the Zipf head). Selection and ordering must still match the sequential
    simulator exactly, and the hot host must never exceed its per-wave
    budget."""
    hot, cold = "mega.hot.example", ["c%d.example" % i for i in range(6)]
    rows = []
    for i in range(800):
        host = hot if i % 10 < 7 else cold[i % len(cold)]
        rows.append(
            {"seq": i + 1, "url": f"https://{host}/img/img_{i % 250:012d}",
             "host": host, "priority": 1 if i % 97 == 0 else 0, "task_id": "skew"}
        )
    robots_rows = [
        {"host": hot, "full_block": False, "disallow_prefixes": [],
         "crawl_delay_s": 1.0, "max_per_wave": 7}
    ]
    robots_by_host = {r["host"]: r for r in robots_rows}

    sim = simulator.simulate_campaign(
        rows, robots_by_host, world["images_by_id"], batch_size=120
    )
    frontier = spark.createDataFrame(rows)
    robots = spark.createDataFrame(
        robots_rows, "host string, full_block boolean, disallow_prefixes array<string>, "
        "crawl_delay_s double, max_per_wave int"
    )
    images = spark.read.parquet(world["paths"]["images"])
    cat = scheduler.run_campaign(
        spark, str(tmp_path_factory.mktemp("cat_skew")), frontier, robots, images,
        CrawlConfig(batch_size=120),
    )
    got = {
        (r["canon_url"], r["wave_id"], r["order_in_wave"])
        for r in scheduler.crawl_order_df(cat).collect()
    }
    assert got == set(sim.crawl_order)

    per_wave_hot = (
        cat.read("fetches")
        .filter((F.col("host") == hot) & (F.col("attempt") == 1))
        .groupBy("wave_id")
        .count()
        .collect()
    )
    assert per_wave_hot and all(r["count"] <= 7 for r in per_wave_hot)


def test_crawl_delay_budget(spark, world, tmp_path_factory):
    """A host declaring Crawl-delay: 5 gets at most floor(wave_period/5) rows
    per wave even when its max_per_wave cap is far larger (reference DELAY
    throttle, url_sender.py:45,259-261) — and the campaign still equals the
    simulator wave-for-wave."""
    slow, fast = "slow.example", "fast.example"
    rows = [
        {"seq": i + 1, "url": f"https://{slow if i % 2 else fast}/img/img_{i % 250:012d}",
         "host": slow if i % 2 else fast, "priority": 0, "task_id": "delay"}
        for i in range(400)
    ]
    robots_rows = [
        {"host": slow, "full_block": False, "disallow_prefixes": [],
         "crawl_delay_s": 5.0, "max_per_wave": 50},
        {"host": fast, "full_block": False, "disallow_prefixes": [],
         "crawl_delay_s": 1.0, "max_per_wave": 50},
    ]
    robots_by_host = {r["host"]: r for r in robots_rows}

    sim = simulator.simulate_campaign(
        rows, robots_by_host, world["images_by_id"], batch_size=100, wave_period_s=60.0
    )
    robots = spark.createDataFrame(
        robots_rows, "host string, full_block boolean, disallow_prefixes array<string>, "
        "crawl_delay_s double, max_per_wave int"
    )
    cat = scheduler.run_campaign(
        spark, str(tmp_path_factory.mktemp("cat_delay")),
        spark.createDataFrame(rows), robots,
        spark.read.parquet(world["paths"]["images"]),
        CrawlConfig(batch_size=100, wave_period_s=60.0),
    )
    got = {
        (r["canon_url"], r["wave_id"], r["order_in_wave"])
        for r in scheduler.crawl_order_df(cat).collect()
    }
    assert got == set(sim.crawl_order)

    per_wave = (
        cat.read("fetches")
        .filter(F.col("attempt") == 1)
        .groupBy("host", "wave_id")
        .count()
        .collect()
    )
    slow_counts = [r["count"] for r in per_wave if r["host"] == slow]
    fast_counts = [r["count"] for r in per_wave if r["host"] == fast]
    assert slow_counts and max(slow_counts) <= 12  # floor(60 / 5)
    assert max(fast_counts) == 50  # delay 1 s -> cap is max_per_wave


def test_auto_compaction_preserves_ledger(spark, world, spark_run, tmp_path_factory):
    """compact_every folds the per-wave fetches file sets during the run
    (Iceberg rewrite_data_files analog): final tables equal the
    uncompacted campaign's exactly, the set count stays bounded, and a
    kill+resume across a compaction boundary still drains correctly."""
    root = str(tmp_path_factory.mktemp("cat_autocompact"))
    frontier = spark.read.parquet(world["paths"]["frontier"])
    robots = spark.read.parquet(world["paths"]["robots"])
    images = spark.read.parquet(world["paths"]["images"])
    cfg = CrawlConfig(batch_size=BATCH, compact_every=3)

    # kill after 4 waves (past the first compaction at wave 2), then resume
    cat = scheduler.run_campaign(
        spark, root, frontier, robots, images, cfg, stop_after_waves=4
    )
    cat = scheduler.run_campaign(spark, root, frontier, robots, images, cfg)

    # EVERY append-accumulating table stays bounded, not just fetches
    # (metrics gains one set per wave; r2 VERDICT #4)
    for table in ("fetches", "metrics"):
        assert cat.file_sets(table) <= cfg.compact_every, f"{table} sets unbounded"
    keys = ["canon_url", "attempt", "wave_id", "order_in_wave", "status"]
    a = {tuple(r[k] for k in keys) for r in cat.read("fetches").collect()}
    b = {tuple(r[k] for k in keys) for r in spark_run.read("fetches").collect()}
    assert a == b, "compaction changed the ledger contents"
    mkeys = ["wave_id", "n_attempted", "n_ok", "n_failed"]
    am = {tuple(r[k] for k in mkeys) for r in cat.read("metrics").collect()}
    bm = {tuple(r[k] for k in mkeys) for r in spark_run.read("metrics").collect()}
    assert am == bm, "compaction changed the metrics contents"
    assert scheduler.pending_df(cat).count() == 0


def test_compaction_covers_ingest_tables(spark, world, tmp_path_factory):
    """frontier_prepared / rejected gain one file set per add_seeds ingest;
    the wave loop's periodic compaction must fold them too (r2 VERDICT #4),
    and the pool/reject contents must survive the rewrite exactly."""
    root = str(tmp_path_factory.mktemp("cat_ingest_compact"))
    frontier = spark.read.parquet(world["paths"]["frontier"])
    robots = spark.read.parquet(world["paths"]["robots"])
    images = spark.read.parquet(world["paths"]["images"])
    cfg = CrawlConfig(batch_size=BATCH, compact_every=2)
    cat = scheduler.run_campaign(
        spark, root, frontier, robots, images, cfg, stop_after_waves=1
    )
    for batch in range(3):  # three ingests -> three extra sets per table
        seeds = [
            f"https://ing{batch}.example/img/img_{i:012d}" for i in range(4)
        ] + ["not a url"]
        scheduler.add_seeds(
            spark, cat,
            spark.createDataFrame(
                [(i, u, 0) for i, u in enumerate(seeds)],
                "seq long, url string, priority int",
            ),
            robots,
        )
    assert cat.file_sets("frontier_prepared") == 4  # prep + 3 ingests
    before_pool = {r["canon_url"] for r in scheduler.pool_df(cat).collect()}
    before_rej = {(r["seq"], r["reason"]) for r in cat.read("rejected").collect()}

    cat = scheduler.run_campaign(spark, root, frontier, robots, images, cfg)
    for table in ("fetches", "metrics", "frontier_prepared", "rejected"):
        assert cat.file_sets(table) <= cfg.compact_every, f"{table} unbounded"
    assert {r["canon_url"] for r in scheduler.pool_df(cat).collect()} == before_pool
    assert {(r["seq"], r["reason"]) for r in cat.read("rejected").collect()} == before_rej
    assert scheduler.pending_df(cat).count() == 0


def test_kill_resume_identical(spark, world, spark_run, tmp_path_factory):
    """Stop after one wave (kill analog), resume with a fresh call: final
    tables byte-equal to the uninterrupted campaign."""
    root = str(tmp_path_factory.mktemp("cat_resume"))
    frontier = spark.read.parquet(world["paths"]["frontier"])
    robots = spark.read.parquet(world["paths"]["robots"])
    images = spark.read.parquet(world["paths"]["images"])
    cfg = CrawlConfig(batch_size=BATCH)
    cat = scheduler.run_campaign(
        spark, root, frontier, robots, images, cfg, stop_after_waves=1
    )
    assert cat.watermark() == 0
    cat = scheduler.run_campaign(spark, root, frontier, robots, images, cfg)

    for table, keys in [
        ("fetches", ["canon_url", "attempt", "wave_id", "order_in_wave", "status"]),
        ("metrics", ["wave_id", "n_attempted", "n_ok", "n_failed"]),
    ]:
        a = {tuple(r[k] for k in keys) for r in cat.read(table).collect()}
        b = {tuple(r[k] for k in keys) for r in spark_run.read(table).collect()}
        assert a == b, table
    assert scheduler.pending_df(cat).count() == 0


def test_failed_stats_scan_fails_campaign_cleanly(
    spark, world, spark_run, tmp_path_factory, monkeypatch
):
    """VERDICT r3 #8: the overlapped per-wave stats scan re-raises on join —
    a failed scan (injected here into wave 1's background read) must fail
    the campaign AFTER that wave's atomic commit but BEFORE any later wave
    could run on stale politeness state. The catalog is left at a clean
    watermark, and a plain resume (politeness state refolds from the
    ledger) finishes byte-identical to the uninterrupted campaign."""
    import threading

    import pyspark.sql.readwriter as rw

    root = str(tmp_path_factory.mktemp("cat_statsfail"))
    frontier = spark.read.parquet(world["paths"]["frontier"])
    robots = spark.read.parquet(world["paths"]["robots"])
    images = spark.read.parquet(world["paths"]["images"])
    cfg = CrawlConfig(batch_size=BATCH)

    orig = rw.DataFrameReader.parquet

    def bomb(self, *paths):
        # only the BACKGROUND stats read of wave 1's parquet fails; the
        # main thread's pending-update read of the same path is untouched
        if (
            threading.current_thread() is not threading.main_thread()
            and any(p.startswith(root) and "wave=1" in p for p in paths)
        ):
            raise RuntimeError("injected stats scan failure")
        return orig(self, *paths)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", bomb)
    with pytest.raises(RuntimeError, match="injected stats scan failure"):
        scheduler.run_campaign(spark, root, frontier, robots, images, cfg)
    monkeypatch.setattr(rw.DataFrameReader, "parquet", orig)

    cat = scheduler.open_catalog(spark, root)
    assert cat.watermark() == 1, "failed before wave 1's commit or after wave 2"

    cat = scheduler.run_campaign(spark, root, frontier, robots, images, cfg)
    for table, keys in [
        ("fetches", ["canon_url", "attempt", "wave_id", "order_in_wave", "status"]),
        ("metrics", ["wave_id", "n_attempted", "n_ok", "n_failed"]),
    ]:
        a = {tuple(r[k] for k in keys) for r in cat.read(table).collect()}
        b = {tuple(r[k] for k in keys) for r in spark_run.read(table).collect()}
        assert a == b, table
    assert scheduler.pending_df(cat).count() == 0


def test_incremental_fetch_poll_via_snapshots(spark_run):
    """C10 poll shape at ledger scale: a downstream consumer polls the
    fetch ledger with read_since(cursor) and sees exactly the waves
    committed after its cursor — no full-table re-read per poll cycle
    (the reference's resend_script_ids.py:59-99 loop re-reads everything).
    Cursor = the snapshot whose watermark is wave 1."""
    cat = spark_run
    cursor = next(
        s for s in cat.snapshots() if cat._load_snapshot(s)["watermark"] == 1
    )
    delta = {
        (r["canon_url"], r["wave_id"]) for r in cat.read_since("fetches", cursor).collect()
    }
    full = {
        (r["canon_url"], r["wave_id"]) for r in cat.read("fetches").collect()
    }
    assert delta == {(u, w) for (u, w) in full if w > 1}
    assert cat.read_since("fetches", cat.commit_seq()).count() == 0


def _plan_nodes(plan) -> list[str]:
    """The operator name on each line of a plan's tree string."""
    return [
        re.sub(r"^[\s:|+-]*(\*\(\d+\)\s*)?", "", line).split(" ")[0]
        for line in plan.toString().splitlines()
        if line.strip()
    ]


def test_fresh_pending_plans_as_one_pool_scan(spark, world, tmp_path_factory):
    """On a freshly prepared catalog the fetch ledger has no file sets, so
    pending_df's anti-join against it and its whole retries branch fold
    away at optimization time: no join, and no exchange, is left over the
    pool scan."""
    root = str(tmp_path_factory.mktemp("cat_fresh_plan"))
    frontier = spark.read.parquet(world["paths"]["frontier"])
    robots = spark.read.parquet(world["paths"]["robots"])
    images = spark.read.parquet(world["paths"]["images"])
    cat = scheduler.run_campaign(
        spark, root, frontier, robots, images, CrawlConfig(batch_size=BATCH),
        stop_after_waves=0,
    )
    assert cat.prepared() and cat.watermark() == -1
    pending = scheduler.pending_df(cat)
    qe = pending._jdf.queryExecution()
    assert "Join" not in _plan_nodes(qe.optimizedPlan()), qe.optimizedPlan().toString()
    assert not [n for n in _plan_nodes(qe.executedPlan()) if "Exchange" in n], (
        qe.executedPlan().toString()
    )
    assert pending.count() == scheduler.pool_df(cat).count()


def test_failed_start_job_fails_campaign_cleanly(
    spark, world, spark_run, tmp_path_factory, monkeypatch
):
    """The start's background jobs re-raise on the caller's thread: a fresh
    call whose Python-worker warm-up fails, and a resume whose host-state
    fold fails, each raise that error out of run_campaign with the
    watermark unmoved. Clean re-runs then finish identical to the
    uninterrupted campaign."""
    import threading

    root = str(tmp_path_factory.mktemp("cat_startfail"))
    frontier = spark.read.parquet(world["paths"]["frontier"])
    robots = spark.read.parquet(world["paths"]["robots"])
    images = spark.read.parquet(world["paths"]["images"])
    cfg = CrawlConfig(batch_size=BATCH)
    ran_on = []

    def bomb(*args, **kwargs):
        ran_on.append(threading.current_thread())
        raise RuntimeError("injected start failure")

    monkeypatch.setattr(scheduler, "_warm_python_workers", bomb)
    with pytest.raises(RuntimeError, match="injected start failure"):
        scheduler.run_campaign(spark, root, frontier, robots, images, cfg)
    monkeypatch.undo()
    cat = scheduler.open_catalog(spark, root)
    assert cat.watermark() == -1
    scheduler.run_campaign(spark, root, frontier, robots, images, cfg, stop_after_waves=2)
    assert cat.watermark() == 1

    monkeypatch.setattr(scheduler, "host_state_df", bomb)
    with pytest.raises(RuntimeError, match="injected start failure"):
        scheduler.run_campaign(spark, root, frontier, robots, images, cfg)
    monkeypatch.undo()
    assert cat.watermark() == 1
    assert len(ran_on) == 2 and threading.main_thread() not in ran_on

    cat = scheduler.run_campaign(spark, root, frontier, robots, images, cfg)
    for table, keys in [
        ("fetches", ["canon_url", "attempt", "wave_id", "order_in_wave", "status"]),
        ("metrics", ["wave_id", "n_attempted", "n_ok", "n_failed"]),
    ]:
        a = {tuple(r[k] for k in keys) for r in cat.read(table).collect()}
        b = {tuple(r[k] for k in keys) for r in spark_run.read(table).collect()}
        assert a == b, table
    assert scheduler.pending_df(cat).count() == 0
