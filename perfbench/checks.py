"""Output checks, run after the timed region. Each returns the number of
failed operations plus human-readable reasons (at most a few per kind)."""

from __future__ import annotations

import math

import pandas as pd

from visiblev8_crawler_spark.simulator import RETRYABLE


def check_ledger(
    ledger: pd.DataFrame,
    expected: dict[str, str],
    pool_urls: set[str],
    metrics: pd.DataFrame,
) -> tuple[int, list[str]]:
    """``ledger`` holds the fetches table's (canon_url, image_id, attempt,
    status) rows; ``expected`` maps image id -> status from generation
    (missing ids are dangling -> NOT_FOUND). A row fails if its status is
    not its image's expected status, if its URL is not in the pool, if it is
    a second first-attempt of a URL, or if it is a retry whose first attempt
    was not a retryable failure (or a second retry). The per-wave metrics
    must also add up: ok + failed = attempted = ledger rows."""
    reasons: list[str] = []
    want = ledger["image_id"].map(lambda i: expected.get(i, "NOT_FOUND") if i else "NOT_FOUND")
    bad = ledger["status"] != want
    if bad.any():
        reasons.append(f"{int(bad.sum())} status != expected, e.g. {ledger[bad].iloc[0].to_dict()}")
    stray = ~ledger["canon_url"].isin(pool_urls)
    if stray.any():
        reasons.append(f"{int(stray.sum())} fetched URLs not in the pool")
    bad |= stray
    first = ledger["attempt"] == 1
    dup_first = first & ledger.duplicated(["canon_url", "attempt"], keep="first")
    retry = ledger["attempt"] == 2
    retryable = set(ledger.loc[first & ledger["status"].isin(RETRYABLE), "canon_url"])
    bad_retry = retry & (
        ~ledger["canon_url"].isin(retryable)
        | ledger.duplicated(["canon_url", "attempt"], keep="first")
    )
    other = ~(first | retry)
    for mask, what in (
        (dup_first, "repeated first attempts"),
        (bad_retry, "retries without a retryable first attempt"),
        (other, "attempts other than 1 and 2"),
    ):
        if mask.any():
            reasons.append(f"{int(mask.sum())} {what}")
        bad |= mask
    n_bad = int(bad.sum())
    n_att, n_ok, n_failed = (int(metrics[c].sum()) for c in ("n_attempted", "n_ok", "n_failed"))
    if not (n_ok + n_failed == n_att == len(ledger)) or n_ok != int((ledger["status"] == "OK").sum()):
        reasons.append(
            f"metrics ok {n_ok} + failed {n_failed} vs attempted {n_att} vs ledger {len(ledger)}"
        )
        n_bad += 1
    return n_bad, reasons


def check_ingest(counts: dict, offered: int) -> tuple[int, list[str]]:
    """add_seeds dispositions must account for every offered row."""
    got = sum(int(v) for v in counts.values())
    if got != offered:
        return 1, [f"add_seeds dispositions {counts} sum to {got}, offered {offered}"]
    return 0, []


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    return v


def rows_key(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Order- and column-order-insensitive form of a result set."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted(tuple(_norm(r[i]) for i in idx) for r in rows)


def check_query(
    name: str, cols: list[str], rows: list[tuple], counts: list[int], oracle
) -> tuple[int, list[str]]:
    """Against the DuckDB oracle where one exists (``oracle`` is
    (cols, rows)); otherwise a nonzero row count that every pass repeats."""
    if oracle is not None:
        ocols, orows = oracle
        same_cols = sorted(c.lower() for c in cols) == sorted(c.lower() for c in ocols)
        if not rows or not same_cols or rows_key(cols, rows) != rows_key(ocols, orows):
            return 1, [f"{name}: {len(rows)} rows differ from the oracle's {len(orows)}"]
        return 0, []
    if not rows or len(set(counts)) != 1:
        return 1, [f"{name}: row counts {counts}"]
    return 0, []
