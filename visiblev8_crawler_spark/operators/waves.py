"""Wave selection — the politeness-budgeted priority queue, declaratively.

Replaces the reference's Celery/Redis queue + sleeps (url_sender.py:45,
259-261 DELAY; :47-49 BATCH_SIZE waves; eval_banks.py:50-56 priority
preference) with pure window algebra over the ``pending`` DataFrame.

Selection spec (must match simulator.simulate_campaign exactly):
    order key   = (-priority, seq)
    host cap    = the token-bucket budget for this wave (politeness_exprs:
                  credit carried across waves + Crawl-delay refill rate +
                  failure demotion; default_budget when host unknown)
    wave        = first ``batch_size`` rows in order whose per-host rank in
                  order is <= the host's cap
which is the window form of the simulator's sequential greedy scan (proof in
simulator.py docstring; the cap is a per-host constant within a wave, so
carried state does not disturb the equivalence).

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


def politeness_exprs(
    wave_id: int,
    default_budget: int,
    wave_period_s: float = DEFAULT_WAVE_PERIOD_S,
    demote_after_failures: int = DEMOTE_AFTER_FAILURES,
    demote_factor: int = DEMOTE_FACTOR,
) -> dict[str, Column]:
    """The token-bucket politeness formula as named Column expressions over
    the joined (robots ⋈ host_state) columns ``max_per_wave``,
    ``crawl_delay_s``, ``credit``, ``last_wave``, ``ok``, ``failed`` (the
    state columns may be null for hosts never crawled — defaults 0/-1/0/0).

    This is THE authoritative politeness spec; simulator.simulate_campaign
    replays the identical arithmetic sequentially, and the scheduler's
    per-wave state update consumes ``eff_credit`` from the same expressions,
    so selection and state can never drift apart. All arithmetic is IEEE
    double with the same operation order on both sides.

        rate    = wave_period / crawl_delay          (credits earned / wave)
        m_eff   = demoted ? max(1, m // factor) : m  (abuse demotion)
        cap     = max(m_eff, 1)                      (bucket burst bound)
        eff     = min(credit + rate * (wave - last_wave), cap)
        budget  = min(m_eff, floor(eff))
    """
    delay = F.when(
        F.col("crawl_delay_s").isNull() | (F.col("crawl_delay_s") <= 0),
        F.lit(DEFAULT_CRAWL_DELAY_S),
    ).otherwise(F.col("crawl_delay_s"))
    rate = F.lit(float(wave_period_s)) / delay
    m = F.coalesce(F.col("max_per_wave"), F.lit(default_budget))
    ok = F.coalesce(F.col("ok"), F.lit(0))
    failed = F.coalesce(F.col("failed"), F.lit(0))
    demoted = (failed >= F.lit(demote_after_failures)) & (failed > ok)
    m_eff = F.when(
        demoted, F.greatest(F.lit(1), F.floor(m / F.lit(demote_factor)).cast("int"))
    ).otherwise(m)
    cap = F.greatest(m_eff, F.lit(1)).cast("double")
    eff = F.least(
        F.coalesce(F.col("credit"), F.lit(0.0))
        + rate * (F.lit(wave_id) - F.coalesce(F.col("last_wave"), F.lit(-1))),
        cap,
    )
    return {
        "rate": rate,
        "m_eff": m_eff,
        "eff_credit": eff,
        "host_budget": F.least(m_eff, F.floor(eff).cast("int")),
    }


STATE_COLS = [
    ("credit", "double"), ("last_wave", "int"), ("ok", "long"), ("failed", "long"),
]


def robots_dim(robots: DataFrame) -> DataFrame:
    """The politeness columns of the robots dimension (crawl_delay_s may be
    absent in minimal fixtures — filled with null = reference DELAY)."""
    return robots.select("host", "max_per_wave", *(
        [F.col("crawl_delay_s")] if "crawl_delay_s" in robots.columns
        else [F.lit(None).cast("double").alias("crawl_delay_s")]
    ))


def join_politeness_dims(
    df: DataFrame,
    robots: DataFrame,
    host_state: DataFrame | None,
) -> DataFrame:
    """LEFT-broadcast-join the robots and host-state dimensions onto ``df``
    (host-keyed), producing exactly the columns politeness_exprs reads.
    Two independent broadcast hash joins — never a robots ⋈ state pre-join,
    which (being full-outer) cannot broadcast and would drag a SortMergeJoin
    + two exchanges into every wave. Both dimensions are per-host and the
    state is driver-held (scheduler._HostState), so the driver's host-count
    ceiling bounds what these broadcasts carry."""
    out = df.join(F.broadcast(robots_dim(robots)), "host", "left")
    if host_state is None:
        for name, t in STATE_COLS:
            out = out.withColumn(name, F.lit(None).cast(t))
        return out
    state = host_state.select("host", *[n for n, _ in STATE_COLS])
    return out.join(F.broadcast(state), "host", "left")


def with_host_budget(
    pending: DataFrame,
    robots: DataFrame,
    default_budget: int,
    wave_period_s: float = DEFAULT_WAVE_PERIOD_S,
    host_state: DataFrame | None = None,
    wave_id: int = 0,
    demote_after_failures: int = DEMOTE_AFTER_FAILURES,
    demote_factor: int = DEMOTE_FACTOR,
) -> DataFrame:
    """Left-broadcast-join the per-host politeness dimensions (robots and
    the carried token-bucket state, one row per host each) onto pending and
    evaluate the token-bucket budget at ``wave_id``.
    Unknown hosts get the default budget at the reference's global
    DELAY=1 s; hosts with no state yet start with an empty bucket that has
    accrued ``wave_id + 1`` waves of credit."""
    e = politeness_exprs(
        wave_id, default_budget, wave_period_s, demote_after_failures, demote_factor
    )
    return (
        join_politeness_dims(pending, robots, host_state)
        .withColumn("host_budget", e["host_budget"])
        .drop("max_per_wave", "crawl_delay_s", "credit", "last_wave", "ok", "failed")
    )


def next_eligible_wave(
    pending: DataFrame,
    robots: DataFrame,
    host_state: DataFrame | None,
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
    Hosts whose concurrency cap is 0 (a robots row with max_per_wave=0)
    can never fetch at any wave, so they are excluded from the minimum —
    otherwise the scheduler would fast-forward one jump at a time until
    max_waves. Returns None when pending has no rows or no pending host can
    ever become eligible (the scheduler then stops instead of spinning)."""
    hosts = join_politeness_dims(
        pending.select("host").distinct(), robots, host_state
    ).filter(F.coalesce(F.col("max_per_wave"), F.lit(default_budget)) >= 1)
    delay = F.when(
        F.col("crawl_delay_s").isNull() | (F.col("crawl_delay_s") <= 0),
        F.lit(DEFAULT_CRAWL_DELAY_S),
    ).otherwise(F.col("crawl_delay_s"))
    rate = F.lit(float(wave_period_s)) / delay
    credit = F.coalesce(F.col("credit"), F.lit(0.0))
    last = F.coalesce(F.col("last_wave"), F.lit(-1))
    nxt = hosts.agg(
        F.min(last + F.ceil((F.lit(1.0) - credit) / rate)).alias("w")
    ).collect()[0]["w"]
    return int(nxt) if nxt is not None else None


def select_wave(
    pending: DataFrame,
    robots: DataFrame,
    wave_id: int,
    batch_size: int,
    default_budget: int = DEFAULT_BUDGET,
    salt_width: int = 8,
    wave_period_s: float = DEFAULT_WAVE_PERIOD_S,
    host_state: DataFrame | None = None,
    demote_after_failures: int = DEMOTE_AFTER_FAILURES,
    demote_factor: int = DEMOTE_FACTOR,
) -> DataFrame:
    """Pick this wave's rows from pending (which already includes any
    retries — the scheduler unions them in). Returns pending columns +
    (wave_id, order_in_wave). Deterministic and plan-independent."""
    order = [F.col("priority").desc(), F.col("seq").asc()]

    cand = with_host_budget(
        pending, robots, default_budget, wave_period_s,
        host_state, wave_id, demote_after_failures, demote_factor,
    )
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
