"""Wave selection — the politeness-budgeted priority queue, declaratively.

Replaces the reference's Celery/Redis queue + sleeps (url_sender.py:45,
259-261 DELAY; :47-49 BATCH_SIZE waves; eval_banks.py:50-56 priority
preference) with pure window algebra over the ``pending`` DataFrame.

Selection spec (must match simulator.simulate_campaign exactly):
    order key   = (-priority, seq)
    host cap    = the token-bucket budget for this wave (``bucket``: credit
                  carried across waves + Crawl-delay refill rate + failure
                  demotion)
    wave        = first ``batch_size`` rows in order whose per-host rank in
                  order is <= the host's cap
which is the window form of the simulator's sequential greedy scan (proof in
simulator.py docstring; the cap is a per-host constant within a wave, so
carried state does not disturb the equivalence).

The politeness arithmetic is plain Python, evaluated once per host on the
driver, which holds all per-host state (scheduler._HostState): ``bucket`` is
the one formula, and the Spark plan only reads its results — a broadcast
(host, host_budget) dimension of the hosts whose budget differs from the
stateless value, falling back to robots' max_per_wave, then to the budget
of a host nobody has described.

Skew + shuffle design (north_rule "salted, host-hash-partitioned"):
a hot host (Zipf head, urls_100k.txt analog) would put all its pending rows
into one window partition. The ``salt`` column (pmod(xxhash64(canon_url,
'wave-salt'), S), stored in PENDING) splits each host's rows into S
deterministic sub-partitions: phase 1 ranks within (host, salt) and keeps
only rank <= cap — at most S*cap rows per host survive, independent of how
hot the host is — then phase 2 re-ranks exactly within host over that
bounded set. The result is *identical* to the unsalted window for every
S >= 1 (phase 1 can never drop a row that phase 2 would keep: a row with
within-host rank <= cap has within-(host,salt) rank <= cap too).

Phase 1 is the only pending-sized operation: one hash exchange on
(host, salt) + per-partition sort. On a real cluster the pending pool lives
as an Iceberg table bucketed by bucket(host) & salt, and storage-partitioned
reads (spark.sql.sources.v2.bucketing.enabled) eliminate that exchange; in
local mode the pool is a localCheckpoint'd DataFrame and pays it per wave.
Retries are unioned into the pending pool by the scheduler before each wave
(streaming/scheduler._wave_loop), so they flow through the same two-phase
window as fresh rows — one code path, same selection semantics.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_BUDGET = 25  # simulator.DEFAULT_MAX_PER_WAVE

# The declarative form of the reference's politeness sleep (url_sender.py:45
# DELAY, :259-261 the 1 s-per-URL throttle): a wave models one scheduling
# period of WAVE_PERIOD_S seconds, so a host whose robots.txt declares
# Crawl-delay: d earns period/d fetch credits per wave. Credits accumulate
# across waves in a token bucket (capped at the host's burst budget), so a
# host declaring Crawl-delay LARGER than the wave period gets one fetch
# every ceil(delay/period) waves instead of starving forever (round-2
# ADVICE: the stateless floor(period/delay) was 0 for such hosts, leaving
# their URLs permanently unselectable). max_per_wave stays as the
# operator-set concurrency cap; repeated failures demote a host's cap
# (SURVEY §4.2.3 abuse accounting).
DEFAULT_WAVE_PERIOD_S = 60.0
DEFAULT_CRAWL_DELAY_S = 1.0  # reference DELAY=1 s when the site declares none
# a host is demoted once it has accumulated >= DEMOTE_AFTER_FAILURES failed
# fetches AND more failures than successes; its concurrency cap drops to
# max(1, max_per_wave // DEMOTE_FACTOR) until its record recovers
DEMOTE_AFTER_FAILURES = 4
DEMOTE_FACTOR = 4

SALT_SEED = "wave-salt"


def salt_col(canon_url: Column, salt_width: int) -> Column:
    return F.pmod(F.xxhash64(canon_url, F.lit(SALT_SEED)), F.lit(salt_width)).cast("int")


# target upper bound for one (host, salt) window partition's row count; a
# hotter host gets proportionally more salts (SURVEY §4.2: salt width chosen
# from the host histogram)
ROWS_PER_SALT = 50_000


def choose_salt_width(pending: DataFrame) -> int:
    """Pick the salt width from the pending pool's host histogram: enough
    salts that even the hottest host's rows split into ~ROWS_PER_SALT-row
    window partitions. Selection output is salt-width-invariant (see module
    docstring), so this is a purely physical choice — computed once per
    campaign (the histogram only shrinks as the pool drains)."""
    hottest = (
        pending.groupBy("host").count().agg(F.max("count")).collect()[0][0] or 0
    )
    return max(1, min(256, -(-int(hottest) // ROWS_PER_SALT)))


def refill_rate(crawl_delay_s: float | None, wave_period_s: float) -> float:
    """Bucket credits a host earns per wave: period / Crawl-delay, with the
    reference DELAY for a host that declares none (or a non-positive one)."""
    if not crawl_delay_s or crawl_delay_s <= 0:
        crawl_delay_s = DEFAULT_CRAWL_DELAY_S
    return wave_period_s / crawl_delay_s


def bucket(
    credit: float,
    last_wave: int,
    ok: int,
    failed: int,
    wave_id: int,
    m: int,
    crawl_delay_s: float | None,
    wave_period_s: float = DEFAULT_WAVE_PERIOD_S,
    demote_after: int = DEMOTE_AFTER_FAILURES,
    demote_factor: int = DEMOTE_FACTOR,
) -> tuple[float, int]:
    """THE token-bucket politeness formula: one host's (eff_credit, budget)
    at ``wave_id`` from its carried state (credit, last_wave, ok, failed —
    0.0/-1/0/0 for a host never crawled) and its robots dims (``m`` =
    max_per_wave, already defaulted; ``crawl_delay_s`` may be None).

        rate    = wave_period / crawl_delay          (credits earned / wave)
        m_eff   = demoted ? max(1, m // factor) : m  (abuse demotion)
        cap     = max(m_eff, 1)                      (bucket burst bound)
        eff     = min(credit + rate * (wave - last_wave), cap)
        budget  = min(m_eff, floor(eff))

    After a wave that selected n rows of the host, its credit is eff - n.
    The driver (scheduler._HostState), the resume fold
    (scheduler.host_state_df) and thus every selection budget derive from
    this one function; simulator.simulate_campaign replays the same IEEE-
    double arithmetic independently as the reference."""
    rate = refill_rate(crawl_delay_s, wave_period_s)
    demoted = failed >= demote_after and failed > ok
    m_eff = max(1, m // demote_factor) if demoted else m
    eff = min(credit + rate * (wave_id - last_wave), float(max(m_eff, 1)))
    return eff, min(m_eff, math.floor(eff))


def robots_dim(robots: DataFrame, default_budget: int = DEFAULT_BUDGET) -> DataFrame:
    """The politeness columns of the robots dimension, ``max_per_wave``
    defaulted to ``default_budget`` (crawl_delay_s may be absent in minimal
    fixtures — filled with null = reference DELAY)."""
    return robots.select(
        "host",
        F.coalesce(F.col("max_per_wave"), F.lit(default_budget)).alias("max_per_wave"),
        F.col("crawl_delay_s") if "crawl_delay_s" in robots.columns
        else F.lit(None).cast("double").alias("crawl_delay_s"),
    )


def next_eligible_wave(
    pending: DataFrame,
    state: dict,
    dims: dict,
    default_budget: int = DEFAULT_BUDGET,
    wave_period_s: float = DEFAULT_WAVE_PERIOD_S,
) -> int | None:
    """Fast-forward target for an empty wave: the earliest wave id at which
    some pending host's bucket reaches 1 credit. Only called when selection
    returned no rows while pending is non-empty — in that state every
    pending host has eff < 1 (the bucket cap is always >= 1, so the cap
    never blocks reaching 1 credit), hence
        next_w(h) = last_wave + ceil((1 - credit) / rate)   (> current wave)
    and the scheduler jumps straight there instead of burning one selection
    pass per empty wave (a host declaring Crawl-delay: 3600 at a 60 s
    period would otherwise cost 60 empty selection jobs per fetch).
    ``state`` / ``dims`` are the driver-held per-host maps of
    scheduler._HostState; only the distinct pending hosts come from Spark.
    Hosts whose concurrency cap is 0 (a robots row with max_per_wave=0)
    can never fetch at any wave, so they are excluded from the minimum —
    otherwise the scheduler would fast-forward one jump at a time until
    max_waves. Returns None when pending has no rows or no pending host can
    ever become eligible (the scheduler then stops instead of spinning)."""
    waits = []
    for r in pending.select("host").distinct().collect():
        m, d = dims.get(r["host"], (default_budget, None))
        if m >= 1:
            credit, last = state.get(r["host"], (0.0, -1))[:2]
            waits.append(
                last + math.ceil((1.0 - credit) / refill_rate(d, wave_period_s))
            )
    return min(waits, default=None)


def select_wave(
    pending: DataFrame,
    robots: DataFrame,
    wave_id: int,
    batch_size: int,
    default_budget: int = DEFAULT_BUDGET,
    salt_width: int = 8,
    budgets: DataFrame | None = None,
    unknown_budget: int | None = None,
) -> DataFrame:
    """Pick this wave's rows from pending (which already includes any
    retries — the scheduler unions them in). Returns pending columns +
    (wave_id, order_in_wave). Deterministic and plan-independent.

    Each host's cap is ``coalesce(host_budget, max_per_wave,
    unknown_budget)``: ``budgets`` is the driver-computed (host,
    host_budget) dimension of every host whose bucket budget differs from
    its stateless value (scheduler._HostState.budget_df), robots supplies
    the defaulted max_per_wave, and ``unknown_budget`` (default:
    ``default_budget``) is the bucket budget of a host in neither. Both
    dimensions are per-host and LEFT-broadcast-joined — two independent
    broadcast hash joins, never a pre-join of the two (full-outer, which
    cannot broadcast and would drag a SortMergeJoin + two exchanges into
    every wave)."""
    order = [F.col("priority").desc(), F.col("seq").asc()]

    cand = pending.join(
        F.broadcast(robots_dim(robots, default_budget).select("host", "max_per_wave")),
        "host", "left",
    )
    caps = [F.col("max_per_wave")]
    if budgets is not None:
        cand = cand.join(F.broadcast(budgets), "host", "left")
        caps.insert(0, F.col("host_budget"))
    fallback = default_budget if unknown_budget is None else unknown_budget
    cand = cand.withColumn(
        "host_budget", F.coalesce(*caps, F.lit(fallback))
    ).drop("max_per_wave")
    if salt_width > 1:
        # phase 1: bound each host to <= salt_width*cap survivors. One hash
        # exchange on (host, salt) — the salt splits a hot host across
        # partitions; an Iceberg pool bucketed on these keys reads
        # pre-clustered and skips the exchange entirely.
        w1 = Window.partitionBy("host", "salt").orderBy(*order)
        cand = cand.withColumn("_r1", F.row_number().over(w1)).filter(
            F.col("_r1") <= F.col("host_budget")
        ).drop("_r1")
    # phase 2: exact per-host rank over the (now bounded per host) candidates
    w2 = Window.partitionBy("host").orderBy(*order)
    eligible = (
        cand.withColumn("_hr", F.row_number().over(w2))
        .filter(F.col("_hr") <= F.col("host_budget"))
        .drop("_hr", "host_budget")
    )
    # global top-batch_size in order: planned as TakeOrderedAndProject
    # (distributed top-k, no full sort). order_in_wave is then assigned on
    # <= batch_size rows, so the single-partition window is bounded.
    top = eligible.orderBy(*order).limit(batch_size)
    w3 = Window.orderBy(*order)
    return top.withColumn("order_in_wave", F.row_number().over(w3)).withColumn(
        "wave_id", F.lit(wave_id)
    )
