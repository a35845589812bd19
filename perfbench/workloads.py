"""The benchmark workloads. Each runs in one Spark driver as a closed loop:
every ``run_campaign``, ``add_seeds`` or query call waits for the previous
one to finish.

A workload object goes through ``setup(rep)`` (generate the world from the
seed, warm scans), ``run()`` (the timed region), ``check()`` (output checks,
untimed) and then reports ``end_to_end()`` or ``per_layer(tracer)``.
"""

from __future__ import annotations

import os
import statistics
import time

import bench
import numpy as np
from pyspark.sql import SparkSession

from perfbench import checks, world
from perfbench.spans import WAVE, Tracer, add_wave_spans, self_times, subtree_self_sum
from visiblev8_crawler_spark import verify
from visiblev8_crawler_spark.catalog import ParquetCatalog
from visiblev8_crawler_spark.operators import bloom
from visiblev8_crawler_spark.sources import synth
from visiblev8_crawler_spark.streaming import scheduler

CAMPAIGN = "scheduler.run_campaign"
SELECT = "waves.select_wave"


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean_per(total: float, n: int) -> float:
    return total / n if n else 0.0


class FetchWriteProbe:
    """Timestamps of every fetches ``write_unpublished`` call: the end of a
    campaign's start phase. Installed in untraced runs too — one clock read
    per wave."""

    def __init__(self) -> None:
        self.times: list[float] = []
        self._orig = ParquetCatalog.write_unpublished
        orig = self._orig

        def write_unpublished(cat, name, df, tag):
            if name == "fetches":
                self.times.append(time.perf_counter())
            return orig(cat, name, df, tag)

        ParquetCatalog.write_unpublished = write_unpublished

    def uninstall(self) -> None:
        ParquetCatalog.write_unpublished = self._orig


def install_crawl_tracing(tr: Tracer) -> None:
    def set_wave(*args, **kwargs):
        tr.wave_id = kwargs.get("wave_id", args[2] if len(args) > 2 else None)

    PC = ParquetCatalog
    # the prep pass writes frontier_prepared and rejected under tag "prep"
    tr.wrap(PC, "write_unpublished",
            lambda cat, name, df, tag: f"catalog.write_unpublished.{'prep' if tag == 'prep' else name}")
    tr.wrap(PC, "commit", "catalog.commit")
    tr.wrap(PC, "compact", "catalog.compact")
    tr.wrap(PC, "expire_snapshots", "catalog.expire_snapshots")
    tr.wrap(scheduler, "select_wave", SELECT, on_call=set_wave)
    tr.wrap(scheduler, "fetch_verify", "fetch.fetch_verify")
    tr.wrap(scheduler, "next_eligible_wave", "waves.next_eligible_wave")
    tr.wrap(scheduler, "add_seeds", "scheduler.add_seeds")
    tr.wrap(scheduler, "run_campaign", CAMPAIGN)
    tr.wrap(scheduler._HostState, "update", "scheduler.host_state_update")
    for fn in ("build_bloom", "bloom_or_delta", "with_bloom_maybe"):
        tr.wrap(bloom, fn, f"bloom.{fn}")


CRAWL_LAYERS = [
    ("waves.count", "count"),
    ("waves.rows_p50", "count"),
    ("waves.select_wave_s", "s"),
    ("fetch.fetch_verify_s", "s"),
    ("catalog.write_unpublished.fetches_s", "s"),
    ("catalog.commit_s", "s"),
    ("scheduler.host_state_update_s", "s"),
    ("scheduler.wave_self_s", "s"),
    ("scheduler.driver_wave_share", "ratio"),
    ("waves.next_eligible_wave_s", "s"),
    ("scheduler.start_self_s", "s"),
    ("catalog.write_unpublished.prep_s", "s"),
    ("catalog.compact_s", "s"),
    ("catalog.expire_snapshots_s", "s"),
    ("catalog.manifest_bytes", "bytes"),
    ("catalog.snapshot_files", "count"),
    ("catalog.bytes_per_row", "bytes"),
    ("fetch.verify_ms_per_row", "ms"),
    ("fetch.kernel_core_share", "ratio"),
    ("fetch.decode_ms_sum", "ms"),
    ("fetch.ok_ratio", "ratio"),
    ("scheduler.add_seeds_s", "s"),
    ("bloom.build_bloom_s", "s"),
    ("bloom.bloom_or_delta_s", "s"),
    ("bloom.with_bloom_maybe_s", "s"),
    ("ingest.added_ratio", "ratio"),
    ("ingest.rows_per_s", "1/s"),
    ("scheduler.campaign_self_sum_ratio", "ratio"),
]


class CrawlWorkload:
    """A campaign driven as ``plan``: ("campaign", k) runs or resumes
    ``run_campaign(stop_after_waves=k)``; ("ingest", b) offers ingest batch
    b through ``add_seeds``."""

    def __init__(self, spark: SparkSession, work: str, seed: int, cpus: int,
                 shape: world.CrawlShape, cfg: scheduler.CrawlConfig, plan: list):
        self.spark, self.work, self.seed, self.cpus = spark, work, seed, cpus
        self.shape, self.cfg, self.plan = shape, cfg, plan
        self.world: dict = {}
        self.calls: list[tuple[float, float]] = []  # run_campaign (start, end)
        self.ingests: list[tuple[dict, int, float]] = []  # (counts, offered, wall)

    def install_tracing(self, tr: Tracer) -> None:
        install_crawl_tracing(tr)

    def setup(self, rep: int) -> None:
        self.world = world.write_crawl_world(
            os.path.join(self.work, f"world-{rep}"), self.seed, self.shape
        )
        p = self.world["paths"]
        for path in [p["images"], p["frontier"], p["robots"], *p["ingest"]]:
            self.spark.read.parquet(path).count()

    def run(self) -> None:
        sp, p = self.spark, self.world["paths"]
        frontier, robots, images = (sp.read.parquet(p[k]) for k in ("frontier", "robots", "images"))
        self.root = os.path.join(self.work, "catalog")
        cat = None
        self.probe = FetchWriteProbe()
        try:
            for kind, arg in self.plan:
                t0 = time.perf_counter()
                if kind == "campaign":
                    cat = scheduler.run_campaign(
                        sp, self.root, frontier, robots, images, self.cfg, stop_after_waves=arg
                    )
                    self.calls.append((t0, time.perf_counter()))
                else:
                    counts = scheduler.add_seeds(sp, cat, sp.read.parquet(p["ingest"][arg]), robots)
                    self.ingests.append((counts, self.shape.ingest_rows, time.perf_counter() - t0))
        finally:
            self.probe.uninstall()

    def check(self) -> tuple[int, int, list[str]]:
        cat = scheduler.open_catalog(self.spark, self.root)
        self.ledger = (
            cat.read("fetches").select("canon_url", "image_id", "attempt", "status", "decode_ms")
            .toPandas()
        )
        self.metrics = cat.read("metrics").orderBy("wave_id").toPandas()
        pool = set(scheduler.pool_df(cat).select("canon_url").toPandas()["canon_url"])
        bad, reasons = checks.check_ledger(self.ledger, self.world["expected"], pool, self.metrics)
        for counts, offered, _ in self.ingests:
            b, r = checks.check_ingest(counts, offered)
            bad, reasons = bad + b, reasons + r
        return len(self.ledger) + len(self.ingests), bad, reasons

    def _starts(self) -> list[float]:
        """Call -> first fetches write, per run_campaign call."""
        out = []
        for t0, t1 in self.calls:
            first = [t for t in self.probe.times if t0 <= t <= t1]
            if first:
                out.append(first[0] - t0)
        return out

    def diagnostics(self) -> dict:
        return {
            "campaign_starts_s": [round(x, 3) for x in self._starts()],
            "campaign_walls_s": [round(t1 - t0, 3) for t0, t1 in self.calls],
            "add_seeds_walls_s": [round(w, 3) for _, _, w in self.ingests],
            "wave_walls_s": [round(x, 3) for x in self.metrics["wall_s"]],
            "wave_rows": [int(x) for x in self.metrics["n_attempted"]],
        }

    def end_to_end(self) -> dict[str, float]:
        attempted = float(self.metrics["n_attempted"].sum())
        walls = self.metrics["wall_s"].tolist()
        return {
            "throughput_per_s": attempted / sum(t1 - t0 for t0, t1 in self.calls),
            "steady_per_s": attempted / sum(walls),
            "start_s": _median(self._starts()),
            "op_p50_s": _median(walls),
        }

    def verify_ms_per_row(self, n: int = 24, reps: int = 3) -> float:
        """Driver microbench of the verify kernel over a fixed sample of the
        workload's images (Python-worker code cannot be traced)."""
        rows = [synth.image_row(i, self.shape.image_sizes) for i in range(min(n, self.shape.n_images))]
        per = []
        for _ in range(reps):
            t0 = time.perf_counter()
            for r in rows:
                verify.verify_image_row(r["image_id"], r["bytes"], r["w"], r["h"], r["fmt"],
                                        r["caption"], r["phash"])
            per.append((time.perf_counter() - t0) * 1000.0 / len(rows))
        return min(per)

    def per_layer(self, tr: Tracer) -> dict[str, float]:
        spans = tr.spans
        add_wave_spans(spans, CAMPAIGN, SELECT)
        selfs = self_times(spans)
        by: dict[str, list[float]] = {}
        for s, st in zip(spans, selfs):
            by.setdefault(s.name, []).append(st)
        tot = {k: sum(v) for k, v in by.items()}
        n_waves = len(by.get(WAVE, []))
        wave_wall = sum(s.dur for s in spans if s.name == WAVE)
        def in_wave(name: str) -> float:
            return sum(
                st for s, st in zip(spans, selfs)
                if s.name == name and s.parent is not None and spans[s.parent].name == WAVE
            )

        per_wave = {
            "waves.select_wave_s": in_wave(SELECT),
            "fetch.fetch_verify_s": in_wave("fetch.fetch_verify"),
            "catalog.write_unpublished.fetches_s": in_wave("catalog.write_unpublished.fetches"),
            "catalog.commit_s": in_wave("catalog.commit"),
            "scheduler.host_state_update_s": in_wave("scheduler.host_state_update"),
            "scheduler.wave_self_s": tot.get(WAVE, 0.0),
        }
        driver = sum(per_wave[k] for k in ("waves.select_wave_s", "fetch.fetch_verify_s",
                                           "catalog.commit_s", "scheduler.wave_self_s"))
        roots = [i for i, s in enumerate(spans) if s.name == CAMPAIGN]
        starts = [selfs[i] for i in roots]
        camp_wall = sum(spans[i].dur for i in roots)
        camp_self = sum(subtree_self_sum(spans, selfs, i) for i in roots)
        attempted = float(len(self.ledger))
        verify_ms = self.verify_ms_per_row()
        fetch_write = tot.get("catalog.write_unpublished.fetches", 0.0)
        n_ing = len(self.ingests)
        offered = sum(o for _, o, _ in self.ingests)
        added = sum(int(c.get("added", 0)) for c, _, _ in self.ingests)
        data_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(os.path.join(self.root, "data")) for f in fs
        )
        snapdir = os.path.join(self.root, "_snapshots")
        out = {
            "waves.count": float(n_waves),
            "waves.rows_p50": _median(self.metrics["n_attempted"].tolist()),
            **{k: _mean_per(v, n_waves) for k, v in per_wave.items()},
            "scheduler.driver_wave_share": driver / wave_wall if wave_wall else 0.0,
            "waves.next_eligible_wave_s": tot.get("waves.next_eligible_wave", 0.0),
            "scheduler.start_self_s": _median(starts),
            "catalog.write_unpublished.prep_s": tot.get("catalog.write_unpublished.prep", 0.0),
            "catalog.compact_s": tot.get("catalog.compact", 0.0),
            "catalog.expire_snapshots_s": tot.get("catalog.expire_snapshots", 0.0),
            "catalog.manifest_bytes": float(os.path.getsize(os.path.join(self.root, "_manifest.json"))),
            "catalog.snapshot_files": float(len(os.listdir(snapdir))) if os.path.isdir(snapdir) else 0.0,
            "catalog.bytes_per_row": data_bytes / attempted,
            "fetch.verify_ms_per_row": verify_ms,
            "fetch.kernel_core_share": attempted * verify_ms / 1000.0 / (fetch_write * self.cpus)
            if fetch_write else 0.0,
            "fetch.decode_ms_sum": float(self.ledger["decode_ms"].sum()),
            "fetch.ok_ratio": float((self.ledger["status"] == "OK").mean()),
            "scheduler.add_seeds_s": _mean_per(tot.get("scheduler.add_seeds", 0.0), n_ing),
            **{
                f"bloom.{fn}_s": _mean_per(tot.get(f"bloom.{fn}", 0.0), n_ing)
                for fn in ("build_bloom", "bloom_or_delta", "with_bloom_maybe")
            },
            "ingest.added_ratio": added / offered if offered else 0.0,
            "ingest.rows_per_s": offered / sum(w for _, _, w in self.ingests) if n_ing else 0.0,
            "scheduler.campaign_self_sum_ratio": camp_self / camp_wall if camp_wall else 0.0,
        }
        return out


# ---------------------------------------------------------------------------


class QueryWorkload:
    """The query suite: one cold pass, then ``warm_passes`` timed passes, in
    a seed-permuted query order. The pass count is fixed, not clocked: the
    session keeps warming up pass after pass, so a clocked loop would mix
    runs of 2 and 3 passes."""

    def __init__(self, spark: SparkSession, work: str, seed: int, names: list[str],
                 warm_passes: int):
        import __spark_entry__ as entry

        self.spark, self.work, self.seed = spark, work, seed
        self.queries = entry.queries()
        self.oracle_sql = entry.oracle_sql()
        self.names = [names[i] for i in np.random.default_rng(seed).permutation(len(names))]
        self.warm_passes = warm_passes
        self.cold: dict[str, float] = {}
        self.warm: dict[str, list[float]] = {n: [] for n in self.names}
        self.counts: dict[str, list[int]] = {n: [] for n in self.names}
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}
        self.pass_walls: list[float] = []
        self.tracer: Tracer | None = None

    def install_tracing(self, tr: Tracer) -> None:
        self.tracer = tr

    def setup(self, rep: int) -> None:
        self.dir = world.write_query_world(os.path.join(self.work, f"qworld-{rep}"))
        for t in world.QUERY_TABLES:
            self.spark.read.parquet(f"{self.dir}/{t}.parquet").count()

    def _execute(self, name: str):
        df = self.queries[name](self.spark, self.dir)
        return df.columns, df.collect()

    def _pass(self) -> dict[str, float]:
        times = {}
        t_pass = time.perf_counter()
        for name in self.names:
            t0 = time.perf_counter()
            if self.tracer is not None:
                cols, rows = self.tracer.call(f"plans.{name}", self._execute, name)
            else:
                cols, rows = self._execute(name)
            times[name] = time.perf_counter() - t0
            self.results[name] = (cols, [tuple(r) for r in rows])
            self.counts[name].append(len(rows))
        self.pass_walls.append(time.perf_counter() - t_pass)
        return times

    def run(self) -> None:
        self.cold = self._pass()
        for _ in range(self.warm_passes):
            for name, t in self._pass().items():
                self.warm[name].append(t)

    def check(self) -> tuple[int, int, list[str]]:
        import duckdb

        con = duckdb.connect()
        for t in world.QUERY_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        bad, reasons = 0, []
        for name in self.names:
            oracle = None
            if name in self.oracle_sql:
                res = con.sql(self.oracle_sql[name])
                oracle = (res.columns, res.fetchall())
            cols, rows = self.results[name]
            b, r = checks.check_query(name, cols, rows, self.counts[name], oracle)
            bad, reasons = bad + b, reasons + r
        con.close()
        return sum(len(c) for c in self.counts.values()), bad, reasons

    def diagnostics(self) -> dict:
        return {
            "pass_walls_s": [round(x, 3) for x in self.pass_walls],
            "cold_s": {n: round(t, 3) for n, t in self.cold.items()},
        }

    def _medians(self) -> dict[str, float]:
        return {n: _median(ts) for n, ts in self.warm.items()}

    def end_to_end(self) -> dict[str, float]:
        med = self._medians()
        executions = sum(len(c) for c in self.counts.values())
        return {
            "throughput_per_s": executions / sum(self.pass_walls),
            "steady_per_s": len(med) / sum(med.values()),
            # mean, not median: which query pays the session's first-use
            # costs depends on the seed's order; their sum does not
            "start_s": self.pass_walls[0] / len(self.cold),
            "op_p50_s": _median(list(med.values())),
        }

    def per_layer(self, tr: Tracer) -> dict[str, float]:
        spans = sum(s.dur for s in tr.spans if s.name.startswith("plans."))
        return {
            **{f"plans.{n}_s": v for n, v in self._medians().items()},
            "plans.pass_span_ratio": spans / sum(self.pass_walls),
        }


# ---------------------------------------------------------------------------
# Workload definitions. Work per run is derived from --seconds, not clocked,
# so every run of a workload at one --seconds does the same work.

POLITE_CYCLE_S = 30.0  # one add_seeds batch + one resume, 4 cores
BULK_WAVE_S = 4.0  # one 500-row decode-bound wave, 4 cores
QUERY_PASS_S = 15.0  # one warm pass of the headline suite, 4 cores
QUERY_NAMES = list(bench.HEADLINE)


def crawl_polite(spark, work, seed, seconds, cpus) -> CrawlWorkload:
    batches = max(1, round(seconds / POLITE_CYCLE_S))
    shape = world.CrawlShape(
        n_images=400, image_sizes=synth.IMAGE_SIZES, n_hosts=12, budget_scale=1,
        initial_urls=1200, ingest_batches=batches, ingest_rows=500, reoffer_share=0.1,
    )
    # 12 hosts: the sum of their Crawl-delay caps, not the 1000-row batch,
    # bounds every wave. Compaction every 4 waves (default 64) so it fires
    # inside one run; expiry keeps 4 snapshots with no age floor so it
    # deletes something.
    cfg = scheduler.CrawlConfig(
        batch_size=1000, compact_every=4, expire_keep_snapshots=4, expire_min_age_s=0.0
    )
    # most waves run after a resume, when the session's plans are warm
    plan = [("campaign", 2)]
    for b in range(batches):
        plan += [("ingest", b), ("campaign", 3)]
    return CrawlWorkload(spark, work, seed, cpus, shape, cfg, plan)


def crawl_bulk(spark, work, seed, seconds, cpus) -> CrawlWorkload:
    waves = max(3, round(seconds / BULK_WAVE_S))
    batch = 500
    shape = world.CrawlShape(
        n_images=64, image_sizes=(256, 320, 384), n_hosts=200, budget_scale=4,
        # dedup and robots reject about half of the frontier; the rest must
        # fill every wave
        initial_urls=int(waves * batch * 2.5),
    )
    cfg = scheduler.CrawlConfig(batch_size=batch, default_budget=100, wave_period_s=1200.0)
    return CrawlWorkload(spark, work, seed, cpus, shape, cfg, [("campaign", waves)])


def query_suite(spark, work, seed, seconds, cpus) -> QueryWorkload:
    return QueryWorkload(spark, work, seed, QUERY_NAMES, max(2, round(seconds / QUERY_PASS_S)))


WORKLOADS = {"crawl_polite": crawl_polite, "crawl_bulk": crawl_bulk, "query_suite": query_suite}

PER_LAYER = (
    [(n, u) for n, u in CRAWL_LAYERS]
    + [(f"plans.{q}_s", "s") for q in QUERY_NAMES]
    + [
        ("plans.pass_span_ratio", "ratio"),
        ("trace.spans", "count"),
        ("trace.overhead_s", "s"),
        ("trace.wall_s", "s"),
    ]
)
