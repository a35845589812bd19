"""The campaign scheduler: micro-batch crawl waves over the pending frontier.

This is the Spark-native replacement for the reference's whole control plane —
url_sender.py's batch loop (BATCH_SIZE waves, url_sender.py:47-49, 228-287),
the Celery/Redis queues (vv8_worker/app.py:30-41), per-URL progress pickle
checkpointing (url_sender.py:146-200), and retry-once (url_sender.py:242-253)
— collapsed into one deterministic DataFrame loop with atomic per-wave
commits (catalog.ParquetCatalog; Iceberg semantics).

State model (append-only, Iceberg-shaped):
    frontier_prepared  immutable, written once at prep (+ appended by
                       add_seeds): every seed dispositioned; reason null =
                       the schedulable pool.
    fetches            appended per wave; the ONLY mutable crawl state.
                       Everything else is a projection of it:
                         url_seen  = first attempts (url_seen_df)
                         retries   = failed-retryable firsts minus already-
                                     retried (pending_df)
                         lineage   = per-(wave, partition) rollup (lineage_df)
    pending            DERIVED, never written: pool ANTI url_seen ∪ retries.
                       During a run it lives as a localCheckpoint'd DataFrame
                       updated per wave with a broadcast anti-join (selected
                       wave ids are <= batch_size rows); on resume it is
                       re-derived from the committed tables. At 10^10-frontier
                       scale this is the difference between appending
                       ~batch_size rows per wave and rewriting the whole
                       frontier per wave.

Per wave:
    pending ->(select_wave: politeness windows + top-k)-> wave rows
            ->(fetch_verify: semi-join-pruned images join + Arrow UDF)-> rows
    commit atomically: append fetches + metrics, watermark = wave_id.

Exactly-once resume: every wave is a pure function of the previous committed
snapshot, and the manifest swap is atomic — kill the driver anywhere and a
restart re-runs at most the in-flight wave, producing byte-identical tables
(C8, url_sender.py:146-200 semantics, minus the pickle). localCheckpoint is
a pure cache: if its blocks are lost (executor death on a real cluster) the
campaign restarts from the catalog and re-derives, so reliability never
depends on it.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..catalog import ParquetCatalog
from ..operators.dedup import prepare_frontier
from ..operators.fetch import fetch_verify
from ..operators.waves import (
    DEMOTE_AFTER_FAILURES,
    DEMOTE_FACTOR,
    bucket,
    choose_salt_width,
    next_eligible_wave,
    refill_rate,
    robots_dim,
    salt_col,
    select_wave,
)
from ..simulator import RETRYABLE

TABLE_SCHEMAS = {
    "frontier_prepared": schemas.FRONTIER_PREPARED,
    "fetches": schemas.FETCHES,
    "rejected": schemas.REJECTED,
    "metrics": schemas.METRICS,
    "bloom": schemas.BLOOM_STATE,
}


def url_seen_df(cat: ParquetCatalog) -> DataFrame:
    """The URL-seen set (backend tasks.py:148-156 analog) — a projection of
    the committed fetch ledger, not a second sink: one less write per wave,
    and it can never disagree with fetches."""
    return (
        cat.read("fetches")
        .filter(F.col("attempt") == 1)
        .select(
            "canon_url", F.xxhash64("canon_url").alias("url_hash64"), "wave_id"
        )
    )


def lineage_df(cat: ParquetCatalog) -> DataFrame:
    """Per-(wave, executor-partition) lineage for resume audit — derived from
    the partition_id column stamped by the fetch stage."""
    return (
        cat.read("fetches")
        .groupBy("wave_id", "partition_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col("status") == "OK", 1).otherwise(0)).alias("n_ok"),
        )
    )


def pool_df(cat: ParquetCatalog) -> DataFrame:
    """The schedulable pool: prepared rows that passed validate/dedup/robots."""
    return cat.read("frontier_prepared").filter(F.col("reason").isNull())


def pending_df(cat: ParquetCatalog, salt_width: int = 8) -> DataFrame:
    """Re-derive not-yet-crawled state from the committed tables (the resume
    path, and the definition the in-run incremental pending must equal):
      fresh   = pool ANTI url_seen                       (attempt 1)
      retries = failed-retryable first attempts that have no second attempt
                yet, rejoined to their pool row          (attempt 2)
    """
    pool = pool_df(cat).withColumn("salt", salt_col(F.col("canon_url"), salt_width))
    fetches = cat.read("fetches")
    first = fetches.filter(F.col("attempt") == 1)
    fresh = pool.join(first.select("canon_url"), "canon_url", "left_anti").withColumn(
        "attempt", F.lit(1)
    )
    retry_urls = (
        first.filter(F.col("status").isin(*RETRYABLE))
        .select("canon_url")
        .join(
            fetches.filter(F.col("attempt") == 2).select("canon_url"),
            "canon_url",
            "left_anti",
        )
    )
    # retry-without-actions (reference parity: the retry crawls the direct
    # URL with actions reset to None, vv8_worker/tasks.py:149-158)
    retries = (
        pool.join(retry_urls, "canon_url", "left_semi")
        .withColumn("attempt", F.lit(2))
        .withColumn("actions", F.lit(None).cast("string"))
    )
    return schemas.conform(fresh.unionByName(retries), schemas.PENDING)


# (credit, last_wave, ok, failed) of a host never crawled
_FRESH = (0.0, -1, 0, 0)


def host_state_df(
    cat: ParquetCatalog, robots: DataFrame, cfg: "CrawlConfig | None" = None
) -> DataFrame:
    """Re-derive the per-host politeness token bucket + abuse record from the
    committed fetch ledger (the resume path; same design rule as pending_df:
    host state is a PROJECTION of fetches, never a second sink — no per-wave
    state table to write, compact, or reconcile). run_campaign collects the
    result into the driver-held _HostState.

    The bucket recurrence (waves.bucket) is a sequential fold per host over
    its (wave_id, n_selected, n_ok) history, so the replay is a grouped
    applyInPandas — one shuffle by host at resume time, distributed because
    its input grows with waves x hosts — that ships waves.bucket itself to
    the workers: the in-run update applies the same function, and the
    kill-resume equality tests prove the two never diverge."""
    per_wave = (
        cat.read("fetches")
        .groupBy("host", "wave_id")
        .agg(
            F.count("*").alias("n_sel"),
            F.sum(F.when(F.col("status") == "OK", 1).otherwise(0)).alias("n_ok"),
        )
    )
    cfg = cfg or CrawlConfig()
    db = cfg.default_budget
    knobs = (cfg.wave_period_s, cfg.demote_after_failures, cfg.demote_factor)
    joined = per_wave.join(F.broadcast(robots_dim(robots, db)), "host", "left")

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("wave_id")
        m_raw = pdf["max_per_wave"].iloc[0]
        m = db if pd.isna(m_raw) else int(m_raw)
        d_raw = pdf["crawl_delay_s"].iloc[0]
        d = None if pd.isna(d_raw) else float(d_raw)
        credit, last, ok, failed = _FRESH
        for w, n_sel, n_ok in zip(pdf["wave_id"], pdf["n_sel"], pdf["n_ok"]):
            eff, _ = bucket(credit, last, ok, failed, int(w), m, d, *knobs)
            credit = eff - int(n_sel)
            last = int(w)
            ok += int(n_ok)
            failed += int(n_sel) - int(n_ok)
        return pd.DataFrame(
            [(pdf["host"].iloc[0], credit, last, ok, failed)],
            columns=schemas.HOST_STATE.fieldNames(),
        )

    return joined.groupBy("host").applyInPandas(fold, schema=schemas.HOST_STATE)


class _HostState:
    """In-run politeness state: {host: [credit, last_wave, ok, failed]}.

    Driver-held, like the bloom bitmap (the north_rule's own "broadcast
    bloom" pattern): per-host aggregate state is orders of magnitude
    smaller than the frontier, so the driver evaluates every host's bucket
    (waves.bucket) itself and the selection plan only reads the resulting
    budgets as a broadcast dimension — no politeness arithmetic in Spark,
    no checkpoint action or aggregation job per wave. The driver therefore
    sets the campaign's host-count ceiling: this object plus the robots
    dims retains ~500 B/host (~1.25 KB/host at peak while the resume
    fold's rows are collected; CPython 3.11, ~25-char host names,
    tracemalloc at 10^4-10^6 hosts), i.e. ~0.5 GB of driver memory per
    million hosts. Resume re-derives the dict by folding the fetch ledger
    (host_state_df) — state is a projection of fetches, never a committed
    table."""

    def __init__(self, rows, robots_rows, cfg: "CrawlConfig"):
        self.state = {
            r["host"]: [r["credit"], r["last_wave"], r["ok"], r["failed"]]
            for r in rows
        }
        # robots_rows come from robots_dim(): max_per_wave already defaulted
        self.dims = {
            r["host"]: (r["max_per_wave"], r["crawl_delay_s"]) for r in robots_rows
        }
        self.cfg = cfg
        # the hosts whose budget can differ from select_wave's stateless
        # fallback (see budgets), kept current by update and budgets
        self._relevant = {
            h for h in self.state.keys() | self.dims.keys()
            if self._depends(h, self.state.get(h, _FRESH))
        }

    def _rate_cap(self, host: str) -> tuple[float, float]:
        m, d = self.dims.get(host, (self.cfg.default_budget, None))
        return refill_rate(d, self.cfg.wave_period_s), float(max(m, 1))

    def _depends(self, host: str, v) -> bool:
        """Demoted (budget differs from the robots default) or delay-bound
        (credit carries)."""
        _credit, _last, ok, failed = v
        rate, cap = self._rate_cap(host)
        return (failed >= self.cfg.demote_after_failures and failed > ok) or rate < cap

    def bucket_of(self, host: str | None, wave_id: int) -> tuple[float, int]:
        """(eff_credit, budget) of ``host`` at ``wave_id``; ``None`` (or any
        host with neither state nor robots row) is a never-seen host."""
        c = self.cfg
        return bucket(
            *self.state.get(host, _FRESH), wave_id,
            *self.dims.get(host, (c.default_budget, None)),
            c.wave_period_s, c.demote_after_failures, c.demote_factor,
        )

    def budgets(self, wave_id: int) -> dict[str, int]:
        """{host: budget} at ``wave_id`` for exactly the hosts whose budget
        can differ from the stateless fallback select_wave applies (robots
        max_per_wave, else ``bucket_of(None, wave_id)``). Every other host
        has rate >= cap, or has no state and rate * (wave_id + 1) >= cap,
        so eff = min(credit + rate*delta, cap) = cap (credit >= 0, delta >=
        1) and its budget is the fallback: an exact filter, and the work is
        proportional to the hosts it keeps (campaigns where none is
        delay-bound or demoted, e.g. the throughput bench at
        wave_period=1200, emit nothing and skip the broadcast — measured
        ~10% of wave wall at 5000 hosts). Wave ids only grow within a run,
        so a fresh bucket found full is dropped for good."""
        for h in list(self._relevant):
            rate, cap = self._rate_cap(h)
            if h not in self.state and rate * (wave_id + 1) >= cap:
                self._relevant.discard(h)
        return {h: self.bucket_of(h, wave_id)[1] for h in self._relevant}

    def budget_df(self, spark: SparkSession, wave_id: int) -> DataFrame | None:
        """budgets() as the selection plan's (host, host_budget) dimension:
        a LocalRelation built via Arrow — scanned inside the select job, no
        extra Spark action. None when no host needs one."""
        b = self.budgets(wave_id)
        if not b:
            return None
        pdf = pd.DataFrame({"host": list(b), "host_budget": list(b.values())})
        return spark.createDataFrame(pdf, schema="host string, host_budget int")

    def update(self, wave_id: int, host_stats) -> None:
        """Fold one wave's per-host (n_sel, n_ok) aggregate rows — produced
        by a 2-column scan of the just-committed wave parquet that runs on
        a background thread OVERLAPPED with the pending-update checkpoint,
        so the stats cost ~zero wall time (an Observation collect_list on
        the write measured ~0.3 s/wave at 22k rows; the overlapped scan
        hides entirely behind the ~1 s checkpoint)."""
        for r in host_stats:
            host, n_sel, n_ok = r["host"], int(r["n_sel"]), int(r["n_ok"])
            eff, _ = self.bucket_of(host, wave_id)
            _credit, _last, ok, failed = self.state.get(host, _FRESH)
            v = self.state[host] = [eff - n_sel, wave_id, ok + n_ok, failed + n_sel - n_ok]
            if self._depends(host, v):
                self._relevant.add(host)
            else:
                self._relevant.discard(host)


@dataclass
class CrawlConfig:
    batch_size: int = 1000
    default_budget: int = 25
    # one wave models this many seconds of wall clock for politeness: a host
    # with robots Crawl-delay d earns period/d bucket credits per wave,
    # carried across waves (waves.bucket; reference DELAY,
    # url_sender.py:45) — so d > period means one fetch every
    # ceil(d/period) waves, never starvation
    wave_period_s: float = 60.0
    # abuse demotion (SURVEY §4.2.3): a host with >= demote_after_failures
    # failed fetches AND more failures than successes has its concurrency
    # cap cut to max(1, max_per_wave // demote_factor) until it recovers
    demote_after_failures: int = DEMOTE_AFTER_FAILURES
    demote_factor: int = DEMOTE_FACTOR
    # None -> choose from the pool's host histogram (waves.choose_salt_width)
    salt_width: int | None = 8
    max_waves: int = 10_000
    # Arrow rows per batch for the fetch stage. Wave rows carry the full
    # image ``bytes`` column, so the Spark default (10_000 rows/batch) builds
    # multi-GB Arrow batches that stall the JVM->Python pipeline and churn
    # both heaps; 64 rows keeps batches ~16 MB at 250 KB/row and the decode
    # workers saturated (25k-row wave: 60 s -> 24 s at local[32], and larger
    # batches degrade sharply — 256 rows measured 106 s).
    arrow_batch_rows: int = 64
    # per-fetch decode budget in ms (reference hard timeout, vv8_worker/
    # tasks.py:131-141); None = no budget. TIMEOUT rows are retryable.
    fetch_timeout_ms: float | None = None
    # fold the fetches table's accumulated per-wave file sets into one every
    # N waves (Iceberg rewrite_data_files analog): a 10^10 campaign appends
    # one set per wave, and reads degrade linearly in set count without it.
    # 0 disables. Runs AFTER the wave commit, as its own atomic commit, so a
    # kill between them loses nothing.
    compact_every: int = 64
    # snapshot retention: every commit keeps its manifest for read_at()
    # time travel; the compaction pass expires all but the newest N and
    # deletes data files referenced only by expired snapshots (Iceberg
    # expire_snapshots analog) — without it every compaction strands the
    # superseded file sets on disk forever. None disables expiry.
    expire_keep_snapshots: int | None = 256
    # reader-lease age floor passed to expire_snapshots: snapshots younger
    # than this are never expired, so an incremental consumer (catalog.poll
    # / jobs/poll_fetches.py) that re-polls at least this often can never
    # have a lazy delta scan's files deleted from under it by the wave
    # loop's maintenance pass. 0 disables the floor (tests that assert
    # tight disk bounds set it explicitly).
    expire_min_age_s: float = 300.0


def open_catalog(spark: SparkSession, root: str) -> ParquetCatalog:
    return ParquetCatalog(spark, root, TABLE_SCHEMAS)


def _warm_python_workers(spark: SparkSession) -> None:
    """Spawn + warm one Python worker per core before the first wave (imports
    of numpy/pandas/the verify kernel happen here, not inside wave 0). The
    cluster analog is executor/container warmup; without it the first wave's
    fetch pays ~N_cores × interpreter-start + import latency."""
    n = spark.sparkContext.defaultParallelism

    def _w(batches):
        import time as _t

        from visiblev8_crawler_spark import verify  # noqa: F401 (import cost)

        _t.sleep(0.25)  # hold the slot so every core spawns its own worker
        yield from batches

    spark.range(n, numPartitions=n).mapInPandas(_w, "id long").count()


def run_campaign(
    spark: SparkSession,
    catalog_root: str,
    frontier: DataFrame,
    robots: DataFrame,
    images: DataFrame,
    cfg: CrawlConfig = CrawlConfig(),
    stop_after_waves: int | None = None,
) -> ParquetCatalog:
    """Run (or resume) a campaign to completion. ``stop_after_waves`` kills
    the loop early — used by the kill/resume test. Calling again with the
    same catalog_root resumes from the committed watermark.

    For the whole call, ``spark.sql.execution.arrow.maxRecordsPerBatch`` is
    set SESSION-WIDE to ``cfg.arrow_batch_rows`` (Spark has no per-operator
    form of it) and restored on exit, so any query running concurrently in
    the same session sees ``cfg.arrow_batch_rows``-row Arrow batches."""
    cat = open_catalog(spark, catalog_root)

    if not cat.prepared():
        # the expensive pass (canonicalize + dedup window + robots gate)
        # computed ONCE; rejected is then derived by scanning the just-
        # written files — no recompute. Both sets are written UNPUBLISHED
        # and land in ONE atomic commit: a kill at any earlier point leaves
        # only unpublished junk that the re-run overwrites (paths are
        # deterministic), never a published path to collide with.
        fp_path = cat.write_unpublished(
            "frontier_prepared", prepare_frontier(frontier, robots), "prep"
        )
        fp = spark.read.schema(schemas.FRONTIER_PREPARED).parquet(fp_path)
        rej_path = cat.write_unpublished(
            "rejected",
            schemas.conform(fp.filter(F.col("reason").isNotNull()), schemas.REJECTED),
            "prep",
        )
        cat.commit(
            "prep",
            prewritten={"frontier_prepared": fp_path, "rejected": rej_path},
            prepared=True,
        )

    arrow_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev_arrow = spark.conf.get(arrow_key, None)
    spark.conf.set(arrow_key, str(cfg.arrow_batch_rows))

    # derive once (resume point), then maintain incrementally in memory;
    # localCheckpoint materializes each generation and truncates lineage so
    # plan depth stays O(1) in waves (a persist-chain would preserve
    # outputPartitioning but accumulates nested cached plans until the JVM
    # heap gives out). The phase-1 politeness window therefore pays one
    # hash exchange of the fresh pool per wave in local mode; on a real
    # cluster the pool lives as an Iceberg table bucketed by (host, salt)
    # and storage-partitioned reads make that exchange disappear. Retries
    # (tiny, bounded by one wave's failures) are unioned into this pending
    # frame at commit time (_wave_loop) and ride the same selection path.
    _warm_python_workers(spark)
    salt_width = (
        cfg.salt_width if cfg.salt_width is not None else choose_salt_width(pool_df(cat))
    )
    pending = pending_df(cat, salt_width).localCheckpoint(eager=True)
    # politeness state resumes from the ledger too (empty ledger -> empty
    # state): the distributed fold replays exactly what the in-run updates
    # computed, and its per-host aggregate comes to the driver (bloom-bitmap
    # pattern; see _HostState)
    hstate = _HostState(
        host_state_df(cat, robots, cfg).collect(),
        robots_dim(robots, cfg.default_budget).collect(),
        cfg,
    )

    wave_id = cat.watermark() + 1
    try:
        _wave_loop(
            spark, cat, robots, images, cfg, stop_after_waves, pending, wave_id,
            salt_width, hstate,
        )
    finally:
        if prev_arrow is None:
            spark.conf.unset(arrow_key)
        else:
            spark.conf.set(arrow_key, prev_arrow)
    return cat


def _wave_loop(
    spark, cat, robots, images, cfg, stop_after_waves, pending, wave_id, salt_width,
    hstate,
):
    P = spark.sparkContext.defaultParallelism
    waves_done = 0
    carry_s = 0.0  # previous wave's commit+update time, folded into this wall
    while wave_id < cfg.max_waves:
        if stop_after_waves is not None and waves_done >= stop_after_waves:
            break
        t0 = time.perf_counter()
        # select_wave necessarily funnels through one partition to assign
        # order_in_wave (bounded <= batch_size rows); re-spread the wave so
        # the fetch UDF uses every core instead of one.
        selected = (
            select_wave(
                pending, robots, wave_id, cfg.batch_size, cfg.default_budget,
                salt_width, budgets=hstate.budget_df(spark, wave_id),
                unknown_budget=hstate.bucket_of(None, wave_id)[1],
            )
            .repartition(P, "canon_url")
            .persist()
        )
        # the fetches write is the wave's ONLY pass over the fetch results:
        # counts ride along as Observation metrics (no separate agg job, no
        # results cache), and the file set stays unpublished until the commit
        # below — so an empty wave, or a crash here, publishes nothing.
        obs = Observation()
        results = fetch_verify(selected, images, cfg.fetch_timeout_ms).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("status") == "OK", 1).otherwise(0)).alias("ok"),
        )
        fetches_path = cat.write_unpublished("fetches", results, f"wave={wave_id}")
        n_attempted = int(obs.get["n"])
        n_ok = int(obs.get["ok"] or 0)
        if n_attempted == 0:
            selected.unpersist()
            # pending drained -> done; pending non-empty means every host's
            # bucket is below 1 credit (Crawl-delay > wave period): jump to
            # the earliest wave where one refills instead of spinning empty
            # selection passes (simulator mirrors the same jump)
            if pending.isEmpty():
                break
            nxt = next_eligible_wave(
                pending, hstate.state, hstate.dims, cfg.default_budget,
                cfg.wave_period_s,
            )
            if nxt is None:  # no pending host can ever fetch (cap 0)
                break
            wave_id = max(wave_id + 1, nxt)
            continue

        wall = time.perf_counter() - t0 + carry_s
        # JVM-side 1-row relation: a python-list createDataFrame would drag a
        # 32-partition Python RDD through the worker pipeline (~5 s/write)
        metrics = schemas.conform(
            spark.range(0, 1, 1, 1)
            .select(
                F.lit(wave_id).alias("wave_id"),
                F.lit(n_attempted).alias("n_attempted"),
                F.lit(n_ok).alias("n_ok"),
                F.lit(n_attempted - n_ok).alias("n_failed"),
                F.lit(wall).alias("wall_s"),
                F.lit(n_attempted / wall if wall > 0 else 0.0).alias("rows_per_s"),
            ),
            schemas.METRICS,
        )

        # the atomic wave commit: appends only — nothing is rewritten
        t_commit = time.perf_counter()
        cat.commit(
            f"wave={wave_id}",
            appends={"metrics": metrics},
            prewritten={"fetches": fetches_path},
            watermark=wave_id,
        )

        # per-host outcome aggregate for the politeness state — a 2-column
        # columnar scan of the just-committed wave parquet, submitted on a
        # background thread so it runs CONCURRENTLY with the pending-update
        # checkpoint below and costs ~zero wall time (both read immutable
        # committed data; Spark schedules jobs from separate threads fine)
        stats_box: dict = {}

        def _collect_stats(path=fetches_path, box=stats_box):
            try:
                box["rows"] = (
                    spark.read.schema(schemas.FETCHES)
                    .parquet(path)
                    .groupBy("host")
                    .agg(
                        F.count("*").alias("n_sel"),
                        F.sum(
                            F.when(F.col("status") == "OK", 1).otherwise(0)
                        ).alias("n_ok"),
                    )
                    .collect()
                )
            except BaseException as e:  # surfaced at join below
                box["err"] = e

        stats_thread = threading.Thread(target=_collect_stats, daemon=True)
        stats_thread.start()

        # incremental pending update (in-memory mirror of pending_df over the
        # new snapshot): drop this wave's rows, add this wave's retryable
        # failures back as attempt 2. Both joins broadcast the wave keys
        # (<= batch_size rows); one localCheckpoint per wave materializes the
        # new generation and truncates lineage. Retry keys are read back from
        # the just-committed parquet — a columnar scan of <= batch_size rows,
        # not a recompute of the fetch kernel.
        wave_keys = F.broadcast(selected.select("canon_url"))
        bad = (
            spark.read.schema(schemas.FETCHES)
            .parquet(fetches_path)
            .filter((F.col("attempt") == 1) & F.col("status").isin(*RETRYABLE))
            .select("canon_url")
        )
        new_retries = schemas.conform(
            selected.join(F.broadcast(bad), "canon_url", "left_semi")
            .withColumn("attempt", F.lit(2))
            # retry-without-actions (vv8_worker/tasks.py:149-158)
            .withColumn("actions", F.lit(None).cast("string")),
            schemas.PENDING,
        )
        pending = (
            pending.join(wave_keys, "canon_url", "left_anti")
            .unionByName(new_retries)
            .coalesce(P)
            .localCheckpoint(eager=True)
        )
        # politeness bucket + abuse record for the <= hosts-in-wave touched
        # hosts — fed by the overlapped stats scan
        stats_thread.join()
        if "err" in stats_box:
            raise stats_box["err"]
        hstate.update(wave_id, stats_box["rows"])
        selected.unpersist()

        # periodic maintenance: compaction is its own atomic commit after
        # the wave publishes, so it can never mix wave data with rewrite
        # data; its cost is charged to this wave's carry_s like the commit.
        # EVERY append-accumulating table folds, not just fetches (r2
        # VERDICT #4): metrics gains one set per wave, frontier_prepared /
        # rejected one per add_seeds ingest — a long campaign's status and
        # resume reads would otherwise degrade linearly in set count. The
        # min_file_sets guard makes untouched tables a no-op.
        if cfg.compact_every and (wave_id + 1) % cfg.compact_every == 0:
            for table in ("fetches", "metrics", "frontier_prepared", "rejected"):
                cat.compact(table, min_file_sets=cfg.compact_every)
            if cfg.expire_keep_snapshots:
                cat.expire_snapshots(
                    keep_last=cfg.expire_keep_snapshots,
                    min_age_s=cfg.expire_min_age_s,
                )

        carry_s = time.perf_counter() - t_commit
        wave_id += 1
        waves_done += 1


def add_seeds(
    spark: SparkSession,
    cat: ParquetCatalog,
    new_frontier: DataFrame,
    robots: DataFrame,
) -> dict:
    """Serialized entry point for seed ingest: the bloom maintenance inside
    is a read-modify-write spanning the whole call (read the bitmap → OR the
    batch delta → publish), so concurrent ingests take the catalog's writer
    lock and run one at a time — the 'single ingest writer' assumption is
    now enforced, not documented. Wave-loop commits are unaffected (they
    never touch the bloom or this lock). See _add_seeds_impl for the full
    semantics."""
    with cat.writer_lock():
        return _add_seeds_impl(spark, cat, new_frontier, robots)


def _confirm_suspects(
    suspect: DataFrame, pool_urls: DataFrame, seen_urls: DataFrame
) -> DataFrame:
    """Exact dispositions for the bloom-positive rows: ``reason`` is
    'cached' for a crawled url, 'enqueued' for one only pooled, null for a
    bloom false positive. Each probe streams the big side (pool, url_seen)
    past a broadcast of the suspects' keys as a left-semi join, so neither
    is shuffled however large it grows. The hit sets are unique per key and
    no larger than the batch, so attaching them is two broadcast left
    joins."""
    keys = F.broadcast(suspect.select("canon_url"))
    pool_hits = pool_urls.join(keys, "canon_url", "left_semi").withColumn("_pool", F.lit(True))
    seen_hits = seen_urls.join(keys, "canon_url", "left_semi").withColumn("_seen", F.lit(True))
    return (
        suspect.join(F.broadcast(pool_hits), "canon_url", "left")
        .join(F.broadcast(seen_hits), "canon_url", "left")
        .withColumn(
            "reason",
            F.when(F.col("_seen"), "cached").when(F.col("_pool"), "enqueued"),
        )
        .drop("_pool", "_seen")
    )


def _add_seeds_impl(
    spark: SparkSession,
    cat: ParquetCatalog,
    new_frontier: DataFrame,
    robots: DataFrame,
) -> dict:
    """Incremental seed ingest into a live/finished campaign — the rebuild of
    the reference's always-on submit path: new URLs arrive while a campaign
    runs (resend_script_ids.py:59-99 poll loop, C10) and each is checked
    against the crawl cache first (backend tasks.py:148-156, D1: a hit
    returns the cached submission instead of re-crawling).

    The broadcast Bloom filter (operators/bloom.py) screens the batch first:
    bloom-negative rows (the vast majority of genuinely new URLs) are
    definitely unseen and skip the exact check. Only bloom-positive rows
    (dup_rate + fpp of the batch) are confirmed against the pool and
    url_seen, so exactness is preserved.

    New rows are re-sequenced after every seq already in the catalog, so one
    global crawl order (seq) stays total and deterministic across ingests.
    Dispositions: fresh rows land in frontier_prepared with reason null
    (-> schedulable); already-crawled urls are rejected as 'cached',
    already-enqueued ones as 'enqueued', plus the usual invalid/duplicate/
    robots from preparation. Returns the per-disposition counts.

    Bloom maintenance is INCREMENTAL: the bitmap lives in the catalog
    ('bloom' table, one row), each ingest ORs in a delta built over just its
    own new rows (O(batch)), and the updated bitmap publishes in the same
    atomic commit as the frontier append. A full O(pool) rebuild happens
    only when n_added outgrows the sized capacity (doubling ⇒ amortized O(1)
    per row) — never per ingest.

    The confirm (_confirm_suspects) still scans the pool's and url_seen's
    canon_url columns once each whenever a batch has any bloom-positive row,
    but it streams them past a broadcast of the batch-sized suspect keys: no
    exchange over the pool, at any pool size.
    """
    from ..operators.bloom import (
        bloom_from_rows,
        bloom_or_delta,
        bloom_to_rows,
        build_bloom,
        with_bloom_maybe,
    )

    base = cat.meta("next_seq")
    if base is None:  # pre-meta catalog: derive once from the pool, column-pruned
        got = cat.read("frontier_prepared").agg(F.max("seq")).collect()[0][0]
        base = int(got) + 1 if got is not None else 0

    prep = prepare_frontier(
        new_frontier.withColumn("seq", F.col("seq") + F.lit(base)), robots
    ).persist()
    batch_rejects = prep.filter(F.col("reason").isNotNull())
    cand = prep.filter(F.col("reason").isNull())

    # the "crawl cache": every url in the pool is either crawled (cached) or
    # awaiting crawl (enqueued); url_seen ⊆ pool so one bloom covers both.
    pool_urls = pool_df(cat).select("canon_url")
    state_rows = cat.read("bloom").collect() if cat.file_sets("bloom") else []
    if state_rows:
        bf, capacity, n_added = bloom_from_rows(state_rows)
        if n_added > capacity:  # outgrown: the amortized doubling rebuild
            n_added = pool_urls.count()
            capacity = max(2 * n_added, 1024)
            bf = build_bloom(pool_urls, "canon_url", capacity=capacity)
    else:
        # first ingest on this catalog: one-time build over the pool with 2x
        # headroom so subsequent ingests stay delta-only
        n_added = pool_urls.count()
        capacity = max(2 * n_added, 1024)
        bf = build_bloom(pool_urls, "canon_url", capacity=capacity)
    flagged = with_bloom_maybe(cand, bf).persist()
    clean = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    suspect = _confirm_suspects(
        flagged.filter(F.col("maybe_seen")).drop("maybe_seen"),
        pool_urls,
        url_seen_df(cat).select("canon_url"),
    )
    ingested = schemas.conform(
        clean.unionByName(suspect), schemas.FRONTIER_PREPARED
    ).persist()

    counts = {
        "added": ingested.filter(F.col("reason").isNull()).count(),
        **{
            r["reason"]: r["n"]
            for r in batch_rejects.unionByName(suspect.filter(F.col("reason").isNotNull()))
            .groupBy("reason")
            .agg(F.count("*").alias("n"))
            .collect()
        },
    }
    # incremental bloom: OR a delta over just this batch's newly-pooled rows
    # (O(batch)); the updated bitmap and the frontier append publish in ONE
    # atomic commit, so the bloom can never disagree with the pool
    new_pool_urls = ingested.filter(F.col("reason").isNull()).select("canon_url")
    bf = bloom_or_delta(bf, new_pool_urls)
    n_added += counts["added"]
    next_seq = int(
        prep.agg(F.max("seq")).collect()[0][0] or (base - 1)
    ) + 1  # batch-sized agg, not pool-sized

    all_new = schemas.conform(batch_rejects, schemas.FRONTIER_PREPARED).unionByName(ingested)
    # tag=None: derived from the commit counter inside the commit lock, so
    # a concurrent wave-loop commit can never collide with this one. (The
    # bloom read-modify-write above is protected by the writer lock the
    # public add_seeds wrapper holds for the whole ingest.)
    cat.commit(
        None,
        appends={
            "frontier_prepared": all_new,
            "rejected": schemas.conform(
                all_new.filter(F.col("reason").isNotNull()), schemas.REJECTED
            ),
        },
        replaces={
            "bloom": spark.createDataFrame(
                bloom_to_rows(bf, capacity, n_added), schemas.BLOOM_STATE
            )
        },
        meta={"next_seq": next_seq},
    )
    prep.unpersist()
    flagged.unpersist()
    ingested.unpersist()
    return counts


def fetch_status(cat: ParquetCatalog, url: str) -> DataFrame:
    """The §3.2 interactive metadata query (`vv8cli fetch status <url>`,
    scripts/fetch.py:78-112 + backend tasks.py:330-386) as one DataFrame:
    every attempt's verdict for the URL, or its rejection disposition if it
    never scheduled. The reference needed sqlite + HTTP + Postgres + Redis +
    a GridFS glob; here Catalyst plans a filter over two tables."""
    from ..functions.urls import canonicalize

    canon = canonicalize(url)["canon_url"]
    attempts = (
        cat.read("fetches")
        .filter(F.col("canon_url") == canon)
        .select(
            F.lit(canon).alias("canon_url"),
            F.col("attempt"),
            F.col("wave_id"),
            F.col("status"),
            F.col("psnr"),
            F.col("error"),
        )
    )
    rejected = (
        cat.read("rejected")
        .filter(F.col("url") == url)
        .select(
            F.lit(canon).alias("canon_url"),
            F.lit(0).alias("attempt"),
            F.lit(-1).alias("wave_id"),
            F.concat(F.lit("REJECTED:"), F.col("reason")).alias("status"),
            F.lit(0.0).alias("psnr"),
            F.lit(None).cast("string").alias("error"),
        )
    )
    return attempts.unionByName(rejected).orderBy("attempt")


def fetch_artifacts(cat: ParquetCatalog, images: DataFrame, url: str) -> DataFrame:
    """Artifact retrieval (scripts/fetch.py:113-201 analog: download the
    screenshot/HAR/raw-log blobs for a submission): every fetch attempt for
    ``url`` joined back to its artifact bytes + typed metadata. A NOT_FOUND
    attempt comes back with null bytes — the 404 the reference CLI prints.

    Scale shape: the fetches filter is a pushed-down predicate on canon_url,
    and the (tiny) matching ledger rows broadcast against the images table,
    so the blob scan prunes to the matching image_id rows — same join
    strategy as the fetch plane itself (operators/fetch.py)."""
    from ..functions.urls import canonicalize

    canon = canonicalize(url)["canon_url"]
    attempts = cat.read("fetches").filter(F.col("canon_url") == canon).select(
        "canon_url", "image_id", "attempt", "wave_id", "status", "psnr",
        "task_id", "actions", "crawler_args",
    )
    # the preserved side of a left join can't broadcast, so prune the blob
    # table with a broadcast semi-join first, then broadcast the (tiny)
    # pruned rows back — identical strategy to fetch_verify
    ids = attempts.select("image_id").where(F.col("image_id").isNotNull())
    matched = images.join(F.broadcast(ids), "image_id", "left_semi")
    return attempts.alias("a").join(
        F.broadcast(matched.alias("i")), F.col("a.image_id") == F.col("i.image_id"), "left"
    ).select(
        "a.canon_url",
        "a.attempt",
        "a.wave_id",
        "a.status",
        "a.psnr",
        "a.task_id",
        "a.actions",
        "a.crawler_args",
        "a.image_id",
        "i.bytes",
        "i.fmt",
        "i.w",
        "i.h",
        "i.caption",
    ).orderBy("attempt")


def crawl_order_df(cat: ParquetCatalog) -> DataFrame:
    """(canon_url, wave_id, order_in_wave) for first attempts — the golden
    crawl-order tuple compared against the simulator."""
    return (
        cat.read("fetches")
        .filter(F.col("attempt") == 1)
        .select("canon_url", "wave_id", "order_in_wave")
    )
