"""Seeded input generation for the benchmark workloads.

Every table is a pure function of (workload shape, seed): the same seed
writes byte-identical parquet, a different seed a different frontier.
Nothing is cached across runs; each run generates its world into its own
work directory.

Crawl worlds reuse the product's synthetic row functions
(``synth.image_row``, ``synth.frontier_row``, ``synth.robots_row``). The
frontier index is offset by the seed and ``seq`` is re-numbered from 1, so
the seed changes which URLs, hosts and images the campaign sees, while the
images (the fetch universe) stay fixed. ``image_row``'s ``_expected_status``
is kept from generation as the fetch oracle.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from visiblev8_crawler_spark.sources import synth

# far enough apart that two seeds never share a frontier index
SEED_STRIDE = 10_000_019

FRONTIER_PA_SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("url", pa.string()),
        ("host", pa.string()),
        ("priority", pa.int32()),
        ("task_id", pa.string()),
        ("actions", pa.string()),
        ("crawler_args", pa.list_(pa.string())),
    ]
)

ROBOTS_PA_SCHEMA = pa.schema(
    [
        ("host", pa.string()),
        ("full_block", pa.bool_()),
        ("disallow_prefixes", pa.list_(pa.string())),
        ("crawl_delay_s", pa.float64()),
        ("max_per_wave", pa.int32()),
    ]
)


@dataclass(frozen=True)
class CrawlShape:
    n_images: int
    image_sizes: tuple[int, ...]
    n_hosts: int
    budget_scale: int
    initial_urls: int
    # add_seeds batches: (rows per batch, share of each batch that re-offers
    # URLs from earlier frontier rows)
    ingest_batches: int = 0
    ingest_rows: int = 0
    reoffer_share: float = 0.0


def frontier_rows(seed: int, start: int, n: int, shape: CrawlShape) -> list[dict]:
    """Frontier rows ``start .. start+n`` of the seed's frontier stream."""
    base = seed * SEED_STRIDE
    return [
        synth.frontier_row(base + i, shape.n_images, shape.n_hosts)
        for i in range(start, start + n)
    ]


def _frontier_table(rows: list[dict]) -> pa.Table:
    pdf = pd.DataFrame(rows, columns=FRONTIER_PA_SCHEMA.names)
    # seq is 1-based and dense within each table (the scheduler re-bases
    # ingest batches after the catalog's own next_seq)
    pdf["seq"] = np.arange(1, len(pdf) + 1, dtype=np.int64)
    return pa.Table.from_pandas(pdf, schema=FRONTIER_PA_SCHEMA, preserve_index=False)


def ingest_batch_rows(seed: int, k: int, shape: CrawlShape) -> list[dict]:
    """Batch ``k`` of the add_seeds stream: fresh rows continuing the
    frontier, plus ``reoffer_share`` of the batch re-offering rows of the
    initial frontier and of earlier batches (so bloom positives resolve to
    both 'cached' and 'enqueued')."""
    n_re = int(round(shape.ingest_rows * shape.reoffer_share))
    n_fresh = shape.ingest_rows - n_re
    fresh_start = shape.initial_urls + k * n_fresh
    fresh = frontier_rows(seed, fresh_start, n_fresh, shape)
    rng = np.random.default_rng([seed, k])
    earlier = rng.choice(fresh_start, size=n_re, replace=False)
    re = [
        synth.frontier_row(seed * SEED_STRIDE + int(i), shape.n_images, shape.n_hosts)
        for i in sorted(earlier)
    ]
    return fresh + re


def write_crawl_world(out: str, seed: int, shape: CrawlShape) -> dict:
    """Write images / frontier / robots / ingest batches under ``out``.
    Returns the paths plus the expected fetch status per image id."""
    os.makedirs(out, exist_ok=True)
    images = [synth.image_row(i, shape.image_sizes) for i in range(shape.n_images)]
    expected = {r["image_id"]: r.pop("_expected_status") for r in images}
    paths = {"images": os.path.join(out, "images.parquet")}
    pq.write_table(
        pa.Table.from_pylist(images, schema=synth.IMAGES_PA_SCHEMA), paths["images"]
    )
    paths["frontier"] = os.path.join(out, "frontier.parquet")
    pq.write_table(
        _frontier_table(frontier_rows(seed, 0, shape.initial_urls, shape)),
        paths["frontier"],
    )
    paths["robots"] = os.path.join(out, "robots.parquet")
    robots = [synth.robots_row(r, shape.budget_scale) for r in range(shape.n_hosts)]
    pq.write_table(pa.Table.from_pylist(robots, schema=ROBOTS_PA_SCHEMA), paths["robots"])
    paths["ingest"] = []
    for k in range(shape.ingest_batches):
        p = os.path.join(out, f"ingest_{k}.parquet")
        pq.write_table(_frontier_table(ingest_batch_rows(seed, k, shape)), p)
        paths["ingest"].append(p)
    return {"paths": paths, "expected": expected}


# ---------------------------------------------------------------------------
# Query dataset: the TPC-H-like star schema + events/documents/embeddings the
# plans layer reads, in the column layout of the repository's test data. It is
# drawn from one fixed seed, like that test data: how much work a query does
# depends on its data, so a per-run draw would add spread to every timing.
# The run's --seed permutes the query order instead.
# ---------------------------------------------------------------------------

QUERY_DATA_SEED = 42

QUERY_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
QUERY_TABLES = ("region", "nation") + tuple(QUERY_ROWS)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
_PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "nut", "pipe"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo, hi, n):
    return _EPOCH_1995 + rng.integers(lo, hi, n).astype("timedelta64[D]")


def query_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(QUERY_DATA_SEED)
    n = QUERY_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(_SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(_PART_ADJ, npart), rng.choice(_PART_NOUN, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(_PART_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days(rng, 0, 2400, no),
            "o_orderpriority": rng.choice(_PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl),
            "l_partkey": rng.integers(0, npart, nl),
            "l_suppkey": rng.integers(0, ns, nl),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(rng, 0, 2500, nl),
        }
    )
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    t["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": _EPOCH_2024 + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 150, ne),
            "event_type": rng.choice(_EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = [
        " ".join(rng.choice(_VOCAB, int(k))) for k in rng.integers(10, 100, nd)
    ]
    # 5% planted near-duplicates: an earlier document plus one marker token
    for i in sorted(rng.choice(np.arange(1, nd), nd // 20, replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, nd),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    nv = n["embeddings"]
    vecs = rng.normal(0.0, 0.125, (nv, 64)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, nv).astype(np.int32),
        }
    )
    return t


def write_query_world(out: str) -> str:
    os.makedirs(out, exist_ok=True)
    for name, table in query_tables().items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return out
