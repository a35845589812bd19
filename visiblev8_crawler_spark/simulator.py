"""Pure-Python sequential reference simulator (SURVEY.md §5b).

Replays the reference's scheduling semantics exactly as a single-threaded
loop, deriving golden ``crawl_order`` / ``url_seen`` / ``fetches`` tables that
the Spark scheduler (streaming/scheduler.py) must reproduce *independent of
parallelism* (the north_rule equality gate).

Semantics replayed, with reference citations:
- seed-file order defines crawl order; ids are 1-based seq — url_sender.py:235-237
- blank-line drop — url_sender.py:72-74
- scheme normalization + validity — url_sender.py:93-101; backend tasks.py:29-52
- exact-URL dedup, first occurrence wins (cached submission returned for
  repeats) — backend tasks.py:148-156
- priority preference (CRAWLING-strategy analog) — eval_banks.py:50-56
- waves of BATCH_SIZE — url_sender.py:47, 228-265
- per-host politeness as a token bucket carried across waves (declarative
  analog of DELAY=1 s, url_sender.py:45, 259-261 — the sleep-based throttle
  always eventually crawls, so Crawl-delay > period paces instead of
  starving) + robots gating (north_rule addition; reference has none —
  closest analog adblock, 1_postgres_schema.sql:20-25) + failure-rate
  demotion (SURVEY §4.2.3 abuse accounting)
- retry-once on failure — url_sender.py:242-253; vv8_worker/tasks.py:147-178

Wave selection rule (the authoritative spec for both this simulator and the
Spark plan): candidates = unseen ∪ retries, ordered by (-priority, seq);
greedy scan selects a row unless its host already hit this wave's bucket
budget (the waves.bucket formula); stop at batch_size.
Greedy-with-host-skip is exactly equivalent to "per-host rank <= budget,
then global top-batch_size by order", which is how the Spark side computes
it with window functions (operators/waves.py) — the budget is a per-host
constant within a wave, so the equivalence proof is unchanged by the
carried state.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from .functions.urls import canonicalize, image_id_from_path
from .verify import verify_image_row

DEFAULT_MAX_PER_WAVE = 25
DEFAULT_WAVE_PERIOD_S = 60.0  # waves.DEFAULT_WAVE_PERIOD_S
DEFAULT_CRAWL_DELAY_S = 1.0  # reference DELAY=1 s (url_sender.py:45)
DEMOTE_AFTER_FAILURES = 4  # waves.DEMOTE_AFTER_FAILURES
DEMOTE_FACTOR = 4  # waves.DEMOTE_FACTOR
RETRYABLE = ("NOT_FOUND", "DECODE_ERROR", "TIMEOUT", "DIM_MISMATCH", "LOW_PSNR",
             "CAPTION_MISMATCH", "PHASH_MISMATCH")


@dataclass
class SimResult:
    crawl_order: list  # (canon_url, wave_id, order_in_wave)
    url_seen: dict  # canon_url -> first wave_id
    fetches: list  # dicts: canon_url, image_id, wave_id, attempt, status, ...
    rejected: list  # (seq, url, reason)  reason in {invalid, duplicate, robots}
    waves: int = 0
    metrics: list = field(default_factory=list)


def _robots_blocked(row: dict, robots: dict) -> bool:
    rb = robots.get(row["host"])
    if rb is None:
        return False
    if rb.get("full_block"):
        return True
    return any(row["path"].startswith(p) for p in rb.get("disallow_prefixes") or ())


def simulate_campaign(
    frontier_rows: list[dict],
    robots: dict[str, dict],
    images: dict[str, dict],
    batch_size: int = 1000,
    default_budget: int = DEFAULT_MAX_PER_WAVE,
    max_waves: int = 10_000,
    fetch_timeout_ms: float | None = None,
    wave_period_s: float = DEFAULT_WAVE_PERIOD_S,
    demote_after_failures: int = DEMOTE_AFTER_FAILURES,
    demote_factor: int = DEMOTE_FACTOR,
) -> SimResult:
    """frontier_rows: dicts with seq/url/priority. robots: host -> robots row.
    images: image_id -> images row (bytes/w/h/fmt/caption/phash)."""
    res = SimResult([], {}, [], [])

    # 1. canonicalize + validate + first-occurrence dedup + robots gate
    pending: list[dict] = []
    seen_canon: set[str] = set()
    for row in sorted(frontier_rows, key=lambda r: r["seq"]):
        c = canonicalize(row["url"])
        if not c["valid"]:
            res.rejected.append((row["seq"], row["url"], "invalid"))
            continue
        if c["canon_url"] in seen_canon:
            res.rejected.append((row["seq"], row["url"], "duplicate"))
            continue
        seen_canon.add(c["canon_url"])
        item = {
            **c,
            "seq": row["seq"],
            "priority": row.get("priority", 0),
            "attempt": 1,
            "task_id": row.get("task_id"),
            "actions": row.get("actions"),
            "crawler_args": row.get("crawler_args"),
        }
        if _robots_blocked(item, robots):
            res.rejected.append((row["seq"], row["url"], "robots"))
            continue
        pending.append(item)

    # 2. wave loop — politeness is a per-host token bucket carried across
    # waves, replayed here independently of waves.bucket (which computes
    # every budget the Spark scheduler uses) as the reference it is tested
    # against — identical IEEE-double arithmetic in the same order:
    #     rate   = period / delay            (credits earned per wave)
    #     m_eff  = demoted ? max(1, m // f) : m
    #     eff    = min(credit + rate * (w - last_wave), max(m_eff, 1))
    #     budget = min(m_eff, floor(eff))
    # and after a wave, per selected host: credit = eff - n_selected.
    retries: list[dict] = []
    wave_id = 0
    credit: dict[str, float] = {}
    last_wave: dict[str, int] = {}
    ok_count: dict[str, int] = {}
    fail_count: dict[str, int] = {}

    def host_rate(host: str) -> float:
        delay = robots.get(host, {}).get("crawl_delay_s")
        if not delay or delay <= 0:
            delay = DEFAULT_CRAWL_DELAY_S
        return wave_period_s / delay

    while (pending or retries) and wave_id < max_waves:
        candidates = sorted(pending + retries, key=lambda r: (-r["priority"], r["seq"]))
        host_count: dict[str, int] = {}
        budgets: dict[str, int] = {}
        effs: dict[str, float] = {}
        selected, leftover = [], []
        for item in candidates:
            host = item["host"]
            if host not in budgets:
                rb = robots.get(host, {})
                m = rb.get("max_per_wave")
                if m is None:
                    m = default_budget
                o, f = ok_count.get(host, 0), fail_count.get(host, 0)
                m_eff = (
                    max(1, m // demote_factor)
                    if (f >= demote_after_failures and f > o)
                    else m
                )
                eff = min(
                    credit.get(host, 0.0)
                    + host_rate(host) * (wave_id - last_wave.get(host, -1)),
                    float(max(m_eff, 1)),
                )
                effs[host] = eff
                budgets[host] = min(m_eff, math.floor(eff))
            if len(selected) < batch_size and host_count.get(host, 0) < budgets[host]:
                host_count[host] = host_count.get(host, 0) + 1
                selected.append(item)
            else:
                leftover.append(item)
        if not selected:
            # every pending host's bucket is below 1 credit: fast-forward to
            # the earliest wave where some host reaches 1 (the same rule as
            # waves.next_eligible_wave) instead of spinning empty waves;
            # zero-cap hosts (max_per_wave=0) can never fetch and are
            # excluded — if none remain, the campaign is done
            eligible = {
                it["host"]
                for it in candidates
                if (robots.get(it["host"], {}).get("max_per_wave")
                    if robots.get(it["host"], {}).get("max_per_wave") is not None
                    else default_budget) >= 1
            }
            if not eligible:
                break
            nxt = min(
                last_wave.get(h, -1)
                + math.ceil((1.0 - credit.get(h, 0.0)) / host_rate(h))
                for h in eligible
            )
            wave_id = max(wave_id + 1, nxt)
            continue

        n_ok = n_failed = 0
        wave_ok: dict[str, int] = {}
        wave_fail: dict[str, int] = {}
        next_retries = []
        for order, item in enumerate(selected, start=1):
            if item["attempt"] == 1:
                res.crawl_order.append((item["canon_url"], wave_id, order))
                res.url_seen[item["canon_url"]] = wave_id
            image_id = image_id_from_path(item["path"])
            img = images.get(image_id) if image_id else None
            v = verify_image_row(
                image_id or "",
                img["bytes"] if img else None,
                img["w"] if img else None,
                img["h"] if img else None,
                img["fmt"] if img else None,
                img["caption"] if img else None,
                img["phash"] if img else None,
                timeout_ms=fetch_timeout_ms,
            )
            res.fetches.append(
                {
                    "canon_url": item["canon_url"],
                    "image_id": image_id,
                    "wave_id": wave_id,
                    "attempt": item["attempt"],
                    "task_id": item.get("task_id"),
                    "actions": item.get("actions"),
                    "crawler_args": item.get("crawler_args"),
                    "status": v.status,
                    "psnr": v.psnr,
                    "caption_ok": v.caption_ok,
                    "phash_ok": v.phash_ok,
                }
            )
            if v.status == "OK":
                n_ok += 1
                wave_ok[item["host"]] = wave_ok.get(item["host"], 0) + 1
            else:
                n_failed += 1
                wave_fail[item["host"]] = wave_fail.get(item["host"], 0) + 1
                if v.status in RETRYABLE and item["attempt"] == 1:
                    # retry crawls the direct URL with actions reset to None
                    # (vv8_worker/tasks.py:149-158)
                    next_retries.append({**item, "attempt": 2, "actions": None})

        # token-bucket + abuse-record update for every host that fetched
        # this wave (untouched hosts keep accruing lazily via the
        # (wave - last_wave) term — no per-wave global sweep)
        for h, n in host_count.items():
            credit[h] = effs[h] - n
            last_wave[h] = wave_id
            ok_count[h] = ok_count.get(h, 0) + wave_ok.get(h, 0)
            fail_count[h] = fail_count.get(h, 0) + wave_fail.get(h, 0)

        res.metrics.append(
            {"wave_id": wave_id, "n_attempted": len(selected), "n_ok": n_ok, "n_failed": n_failed}
        )
        pending = [x for x in leftover if x["attempt"] == 1]
        retries = [x for x in leftover if x["attempt"] == 2] + next_retries
        wave_id += 1

    res.waves = wave_id
    return res
