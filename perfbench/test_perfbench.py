"""Self-tests for the benchmark's own code (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from perfbench import checks, world
from perfbench.spans import WAVE, Span, add_wave_spans, self_times, subtree_self_sum, tail


def test_tail_needs_ten_samples_beyond():
    assert tail([float(i) for i in range(19)]) is None
    assert tail([float(i) for i in range(20)]) == (50.0, 9.0)
    pct, value = tail([float(i) for i in range(100)])
    assert (pct, value) == (90.0, 89.0)
    assert sum(x > value for x in range(100)) == 10
    pct, value = tail([float(i) for i in range(1000)])
    assert pct == 99.0 and sum(x > value for x in range(1000)) == 10


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("root", 0.0, 10.0, None),
        Span("a", 1.0, 3.0, 0),
        Span("b", 2.0, 5.0, 0),  # overlaps a: union [1, 5]
        Span("c", 8.0, 12.0, 0),  # clipped to the parent: [8, 10]
        Span("a.x", 1.5, 2.5, 1),
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert selfs[1] == pytest.approx(2.0 - 1.0)
    assert selfs[4] == pytest.approx(1.0)


def test_wave_spans_partition_the_campaign():
    spans = [
        Span("camp", 0.0, 10.0, None),
        Span("prep", 0.5, 1.5, 0),
        Span("sel", 2.0, 2.2, 0, wave_id=0),
        Span("write", 2.3, 4.0, 0, wave_id=0),
        Span("sel", 5.0, 5.1, 0, wave_id=1),
        Span("write", 5.2, 7.0, 0, wave_id=1),
        Span("commit", 7.1, 7.5, 0, wave_id=1),
    ]
    add_wave_spans(spans, "camp", "sel")
    waves = [s for s in spans if s.name == WAVE]
    assert [(w.start, w.end, w.wave_id) for w in waves] == [(2.0, 5.0, 0), (5.0, 10.0, 1)]
    assert spans[1].parent == 0  # prep precedes the first wave
    assert spans[3].parent == spans.index(waves[0])
    assert spans[6].parent == spans.index(waves[1])
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(2.0 - 1.0)  # campaign start, minus prep
    assert subtree_self_sum(spans, selfs, 0) == pytest.approx(spans[0].dur)


SHAPE = world.CrawlShape(
    n_images=20, image_sizes=(16,), n_hosts=10, budget_scale=1,
    initial_urls=200, ingest_batches=2, ingest_rows=50, reoffer_share=0.1,
)


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = fh.read()
    return out


def test_same_seed_same_world_other_seed_other_frontier(tmp_path):
    a = world.write_crawl_world(str(tmp_path / "a"), 3, SHAPE)
    b = world.write_crawl_world(str(tmp_path / "b"), 3, SHAPE)
    c = world.write_crawl_world(str(tmp_path / "c"), 4, SHAPE)
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    assert a["expected"] == b["expected"]
    fa, fc = _files(str(tmp_path / "a")), _files(str(tmp_path / "c"))
    assert fa["frontier.parquet"] != fc["frontier.parquet"]
    assert fa["images.parquet"] == fc["images.parquet"]  # the fetch universe is fixed
    assert c["expected"] == a["expected"]

    q1, q2 = world.query_tables(), world.query_tables()
    assert all(q1[t].equals(q2[t]) for t in world.QUERY_TABLES)


def test_ingest_batches_reoffer_earlier_urls():
    urls = {r["url"] for r in world.frontier_rows(3, 0, SHAPE.initial_urls, SHAPE)}
    batch = world.ingest_batch_rows(3, 0, SHAPE)
    assert len(batch) == SHAPE.ingest_rows
    reoffered = [r for r in batch[-5:] if r["url"] in urls]
    assert len(reoffered) == 5


def _ledger():
    expected = {"img_a": "OK", "img_b": "DECODE_ERROR"}
    ledger = pd.DataFrame(
        [
            ("u1", "img_a", 1, "OK"),
            ("u2", "img_b", 1, "DECODE_ERROR"),
            ("u2", "img_b", 2, "DECODE_ERROR"),  # one retry of a retryable failure
            ("u3", "img_zz", 1, "NOT_FOUND"),  # dangling image id
            ("u4", "img_a", 1, "OK"),
        ],
        columns=["canon_url", "image_id", "attempt", "status"],
    )
    metrics = pd.DataFrame({"n_attempted": [3, 2], "n_ok": [1, 1], "n_failed": [2, 1]})
    return ledger, expected, {"u1", "u2", "u3", "u4"}, metrics


def test_ledger_check_passes_a_correct_ledger():
    assert checks.check_ledger(*_ledger()) == (0, [])


def test_ledger_check_flags_one_corrupted_row():
    ledger, expected, pool, metrics = _ledger()
    ledger.loc[3, "status"] = "OK"  # a dangling id must read NOT_FOUND
    metrics.loc[1, "n_ok"], metrics.loc[1, "n_failed"] = 2, 0
    bad, reasons = checks.check_ledger(ledger, expected, pool, metrics)
    assert bad == 1 and len(reasons) == 1


def test_ledger_check_flags_retry_of_success_and_repeat_attempt():
    ledger, expected, pool, metrics = _ledger()
    extra = pd.DataFrame(
        [("u1", "img_a", 2, "OK"), ("u4", "img_a", 1, "OK")], columns=ledger.columns
    )
    metrics.loc[1, ["n_attempted", "n_ok"]] = [4, 3]
    bad, _ = checks.check_ledger(pd.concat([ledger, extra], ignore_index=True), expected, pool, metrics)
    assert bad == 2


def test_ingest_and_query_checks():
    assert checks.check_ingest({"added": 7, "cached": 2, "enqueued": 1}, 10) == (0, [])
    assert checks.check_ingest({"added": 7}, 10)[0] == 1
    rows = [(1, "a"), (2, "b")]
    assert checks.check_query("q", ["k", "v"], rows, [2, 2], (["v", "k"], [("b", 2), ("a", 1)]))[0] == 0
    assert checks.check_query("q", ["k", "v"], rows, [2, 2], (["k", "v"], [(1, "a")]))[0] == 1
    assert checks.check_query("q", ["k"], [(1,)], [1, 1], None)[0] == 0
    assert checks.check_query("q", ["k"], [(1,)], [1, 2], None)[0] == 1
