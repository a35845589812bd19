"""Bit-exactness gates for the round-6 vectorized scoring kernels.

The oracle value-hashes depend on float cosines being IDENTICAL across
Spark, DuckDB and (now) the numpy kernels. These tests pin the kernel
contracts directly, independent of the end-to-end replicas:

- _np_fold_dot / _np_fold_norms reproduce DuckDB's list_dot_product /
  sqrt on the real fixture vectors bit-for-bit (same sequential fold
  order, IEEE-correctly-rounded ops);
- the MIH popcount kernel's byte-LUT popcount is exact two's-complement
  popcount for signed int64 (including negative XOR results);
- phash64_batch equals an independently-spelled scalar reference.
"""

import numpy as np
import pandas as pd
import pytest


@pytest.fixture(scope="module")
def emb_pdf():
    return pd.read_parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_fold_dot_bit_identical_to_duckdb(emb_pdf):
    import duckdb

    from visiblev8_crawler_spark.plans.annops import _np_fold_dot, _np_fold_norms

    X = np.stack([np.asarray(v, dtype=np.float64) for v in emb_pdf["embedding"]])
    sub = X[:120]
    dots = _np_fold_dot(sub, sub)
    norms = _np_fold_norms(sub)
    con = duckdb.connect()
    con.register("e", pd.DataFrame({"i": range(len(sub)), "v": list(map(list, sub))}))
    want = con.execute(
        "SELECT a.i, b.i, list_dot_product(a.v, b.v) FROM e a, e b"
    ).fetchall()
    for i, j, d in want:
        # exact float equality — bit-identical, not approximately equal
        assert dots[i, j] == d, (i, j, dots[i, j], d)
    want_n = con.execute("SELECT i, sqrt(list_dot_product(v, v)) FROM e").fetchall()
    for i, nv in want_n:
        assert norms[i] == nv, (i, norms[i], nv)
    # and the full cosine as emitted by the kernels: dot / (na * nb)
    cos = dots / (norms[:, None] * norms[None, :])
    want_c = con.execute(
        "SELECT a.i, b.i, list_dot_product(a.v, b.v) /"
        " (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
        " FROM e a, e b"
    ).fetchall()
    for i, j, c in want_c:
        assert cos[i, j] == c, (i, j, cos[i, j], c)


def test_bucket_topk_slack_is_safe_vs_bruteforce(emb_pdf):
    """The local top-k keep-set of a bucket must contain that bucket's
    exact top-k under the FINAL ranking key (rounded cosine DESC, nid
    ASC) for every query — the property the exactness argument rests on."""
    from visiblev8_crawler_spark.plans.annops import (
        _bucket_topk_pairs,
        _np_fold_dot,
        _np_fold_norms,
    )

    pdf = emb_pdf.rename(columns={})[:200]
    k = 5
    out = _bucket_topk_pairs(
        pd.DataFrame({"vec_id": pdf["vec_id"], "embedding": pdf["embedding"]}), k
    )
    kept = set(zip(out["qid"], out["nid"]))
    ids = pdf["vec_id"].to_numpy()
    X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    nrm = _np_fold_norms(X)
    cos = _np_fold_dot(X, X) / (nrm[:, None] * nrm[None, :])
    for qi in range(len(ids)):
        ranked = sorted(
            (
                (round(cos[qi, j], 6), -ids[j])
                for j in range(len(ids))
                if j != qi
            ),
            reverse=True,
        )[:k]
        for c, negid in ranked:
            assert (ids[qi], -negid) in kept, (ids[qi], -negid, c)


def test_popcount_lut_twos_complement():
    from visiblev8_crawler_spark.plans.imageops import _np_popcount64

    rng = np.random.default_rng(7)
    xs = rng.integers(-(2**63), 2**63 - 1, size=2000, dtype=np.int64)
    xs = np.concatenate([xs, np.array([0, -1, 2**63 - 1, -(2**63)], dtype=np.int64)])
    got = _np_popcount64(xs)
    want = [bin(int(x) & (2**64 - 1)).count("1") for x in xs]
    assert got.tolist() == want


def test_phash_batch_matches_scalar_reference():
    from visiblev8_crawler_spark import codecs

    def ref(arr):
        gray = arr.astype(np.float64).mean(axis=2)
        h, w = gray.shape
        ys = (np.arange(32) * h // 32).clip(0, h - 1)
        xs = (np.arange(32) * w // 32).clip(0, w - 1)
        small = gray[np.ix_(ys, xs)]
        dct = codecs._DCT32 @ small @ codecs._DCT32.T
        block = dct[:8, :8].flatten()
        block[0] = np.median(block[1:])
        med = np.median(block)
        bits = (block > med).astype(np.uint64)
        val = np.uint64(0)
        for b in bits:
            val = (val << np.uint64(1)) | b
        return int(np.int64(val))

    rng = np.random.default_rng(3)
    arrs = []
    for i in range(200):
        w = int(rng.choice([16, 24, 32]))
        h = int(rng.choice([16, 24, 32]))
        arrs.append(codecs.pixels_for(f"doc_{i}", w, h))
    got = codecs.phash64_batch(arrs)
    assert [int(x) for x in got] == [ref(a) for a in arrs]


def test_mih_kernel_and_rowjoin_paths_identical(spark):
    """The _mih_pairs regime switch (occupancy-adaptive, round 6) must be
    a pure execution choice: forcing the bucket-pair kernel on the small
    fixture corpus (which defaults to the row-level probe join) must give
    the exact same pair set the driver-oracled row-join path gives."""
    from unittest import mock

    from pyspark.sql import functions as F

    from visiblev8_crawler_spark.plans import imageops as io

    sf = "/root/testdata/sf0.001"
    ph = (
        io._with_images(spark, sf)
        .mapInPandas(io._stats_kernel, io._STATS_SCHEMA)
        .select(F.col("doc_id").alias("gid"), F.lit(0).alias("item"), "phash")
        .persist()
    )
    rowjoin = sorted(
        tuple(r) for r in io._mih_pairs(ph, io._PHASH_PAIR_TAU).collect()
    )
    with mock.patch.object(io, "_MIH_KERNEL_MIN_OCC", 0):
        kernel = sorted(
            tuple(r) for r in io._mih_pairs(ph, io._PHASH_PAIR_TAU).collect()
        )
    assert len(rowjoin) > 0
    assert rowjoin == kernel


def test_lsh_kernel_chunking_invariant():
    """_bucket_tau_pairs/_bucket_topk_pairs results must not depend on the
    chunk size (the fixture buckets are single-chunk; force multi-chunk)."""
    from unittest import mock

    from visiblev8_crawler_spark.plans import annops as a

    pdf = pd.read_parquet("/root/testdata/sf0.001/embeddings.parquet")[:200]
    pdf = pd.DataFrame({"vec_id": pdf["vec_id"], "embedding": pdf["embedding"]})

    tau_full = a._bucket_tau_pairs(pdf, 0.30)
    topk_full = a._bucket_topk_pairs(pdf, 5)
    with mock.patch.object(a, "_KERNEL_CHUNK", 7):
        tau_chunked = a._bucket_tau_pairs(pdf, 0.30)
        topk_chunked = a._bucket_topk_pairs(pdf, 5)

    def key(df):
        return sorted(map(tuple, df.itertuples(index=False)))

    assert key(tau_full) == key(tau_chunked)
    assert len(key(tau_full)) > 0
    # chunking splits query rows, never the candidate axis, so the per-row
    # threshold (and thus the keep-set) is exactly chunk-invariant
    assert key(topk_full) == key(topk_chunked)


def test_mih_kernel_chunk_split_matches_bruteforce():
    """The rendezvous kernel splits block pairs whose candidate grid
    exceeds _MIH_KERNEL_CHUNK (a scale-only branch the fixture corpus never
    reaches). Forced here on clustered hashes whose largest block holds
    between 9 and 100 rows: chunk 100 splits pairs along A only, chunk 8
    must also split single B blocks larger than the chunk. Both must emit
    exactly the brute-force pair set."""
    from unittest import mock

    import pyarrow as pa

    from visiblev8_crawler_spark.plans import imageops as io

    tau = io._PHASH_PAIR_TAU
    rng = np.random.default_rng(11)
    # 4 random 64-bit bases x 40 variants of <= 2 flipped bits each
    bases = rng.integers(0, 2**63, size=4, dtype=np.int64)
    flips = rng.integers(0, 64, size=(160, 2))
    ph = np.repeat(bases, 40).astype(np.uint64)
    for k in range(2):
        keep = rng.random(160) < 0.6
        ph ^= np.where(keep, np.uint64(1) << flips[:, k].astype(np.uint64), np.uint64(0))
    ph = ph.view(np.int64)
    gid = np.arange(160) // 2  # pairs of rows share a gid and never pair
    item = np.arange(160) % 2

    # the (band, key, z) entries _mih_pairs ships to the kernel
    cols = {n: [] for n in ("gid", "item", "phash", "band", "key", "z")}
    block_sizes = []
    u = ph.view(np.uint64)
    for b, pos in enumerate(io._mih_layout(tau)):
        key = np.zeros(160, dtype=np.int64)
        for j, p in enumerate(pos):
            key |= ((u >> np.uint64(p)) & np.uint64(1)).astype(np.int64) << j
        block_sizes.append(np.unique(key, return_counts=True)[1].max())
        for m in io._probe_masks(len(pos), radius=1):
            for n, v in (("gid", gid), ("item", item), ("phash", ph),
                         ("band", np.full(160, b)), ("key", key), ("z", key ^ m)):
                cols[n].append(v)
    batch = pa.RecordBatch.from_arrays(
        [pa.array(np.concatenate(cols[n]).astype(np.int64)) for n in cols],
        names=list(cols),
    )
    assert 8 < max(block_sizes) <= 100, block_sizes

    def run(chunk):
        with mock.patch.object(io, "_MIH_KERNEL_CHUNK", chunk):
            out = list(io._mih_rendezvous_kernel(iter([batch]), tau))
        return {
            tuple(r.values()) for o in out for r in o.to_pylist()
        }

    want = set()
    for a in range(160):
        for b in range(160):
            if gid[a] < gid[b]:
                h = bin(int(u[a] ^ u[b])).count("1")
                if h <= tau:
                    want.add((int(gid[a]), int(item[a]), int(gid[b]), int(item[b]), h))
    assert len(want) > 1000
    assert run(io._MIH_KERNEL_CHUNK) == want
    assert run(100) == want
    assert run(8) == want
