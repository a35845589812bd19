"""Multimodal (image) operators over binary columns — the training-pipeline
surface the build brief asks for beyond the reference: decode, metadata
recovery, resize, feature extraction, perceptual fingerprinting, all as
Arrow-batched ``mapInPandas`` kernels over a ``binary`` column.

The driver's testdata has no binary table, so each op first *materializes* a
deterministic image per document row (pixels + PNG encoding are pure
functions of doc_id via codecs.pixels_for/encode_png — the same codec stack
the crawl engine verifies fetches with). That keeps the plumbing real: a
binary column flows through Arrow batches into vectorized Python kernels
with an explicit output StructType, exactly as it would over a real
image table (swap ``_with_images`` for ``spark.read.table('images')``).

Oracle strategy: decode is not SQL-expressible, so most ops are rows-only
for the driver's DuckDB gate (allowed for non-SQL ops) and are instead
exact-checked in pytest against a pure-Python mirror. ``image_decode_dims``
IS oracle-checked end-to-end: the builder sizes each image from an
md5-derived formula both engines can compute, the kernel recovers (w, h)
by actually parsing the PNG it built, and the oracle recomputes the formula
— the hash match proves the encode->decode round trip recovers metadata
bit-for-bit.

Scale notes: the kernels are per-partition Arrow batches (no per-row Python
dispatch, no driver collect); binary rows make big Arrow batches, so a real
deployment caps spark.sql.execution.arrow.maxRecordsPerBatch the way the
crawl scheduler does (streaming/scheduler.py CrawlConfig.arrow_batch_rows).
Audio/video decode would slot into the same shape (binary column + typed
metadata + mapInPandas kernel); those codecs aren't in this container, so
``decode_av_stub`` raises NotImplementedError by design.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .. import codecs
from .queries import fanout, load, q

# golden tables (tools/gen_image_goldens.py): expected outputs of the
# non-SQL-expressible decode kernels, computed single-process from the same
# pure function of doc_id. The oracle joins the golden on documents.doc_id,
# so a driver hash match proves distributed Arrow execution == the
# single-process reference on every row at the scale factor under test.
import os as _os

_GOLDEN_DIR = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "goldens",
)

# deterministic size formula — mirrored literally in the DuckDB oracle:
# side = 16 + (ascii(first md5 hex char of doc_id) % 3) * 8   in {16, 24, 32}
_DIMS_SQL = "16 + (ascii(substr(md5(CAST(doc_id AS VARCHAR)), {pos}, 1)) % 3) * 8"


def _dim_col(pos: int):
    return (
        16 + (F.ascii(F.substring(F.md5(F.col("doc_id").cast("string")), pos, 1)) % 3) * 8
    ).cast("int")


_IMG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("bytes", BinaryType()),
        StructField("decl_w", IntegerType()),
        StructField("decl_h", IntegerType()),
    ]
)


def _encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for b in batches:
        out = []
        for doc_id, w, h in zip(b["doc_id"], b["decl_w"], b["decl_h"]):
            px = codecs.pixels_for(f"doc_{int(doc_id)}", int(w), int(h))
            out.append(codecs.encode_png(px))
        yield pd.DataFrame(
            {"doc_id": b["doc_id"], "bytes": out, "decl_w": b["decl_w"], "decl_h": b["decl_h"]}
        )


def _with_images(spark, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, bytes, decl_w, decl_h): the synthetic binary
    column. Deterministic per doc_id, so any parallelism yields identical
    bytes."""
    # fanout (queries.py): the documents file is one row group -> one scan
    # partition, which serialized the whole encode/decode kernel chain into
    # a single Python worker (guide §2: the round-5 image queries ran 1 task
    # wide). Rebalancing the 8-byte doc_id rows costs ~nothing and restores
    # core-count parallelism for every downstream kernel.
    docs = (
        fanout(load(spark, sf_dir, "documents").select("doc_id"))
        .withColumn("decl_w", _dim_col(1))
        .withColumn("decl_h", _dim_col(2))
    )
    return docs.mapInPandas(_encode_batches, _IMG_SCHEMA)


# ---------------------------------------------------------------------------
# decode + metadata recovery (oracle-checked round trip)
# ---------------------------------------------------------------------------


@q(
    "image_decode_dims",
    f"""
    SELECT doc_id,
           CAST({_DIMS_SQL.format(pos=1)} AS INT) AS w,
           CAST({_DIMS_SQL.format(pos=2)} AS INT) AS h
    FROM documents
    """,
    "multimodal: binary column -> PNG parse -> recovered (w,h); oracle recomputes the size formula, so a hash match proves the encode->decode round trip",
)
def image_decode_dims(spark, sf_dir):
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("w", IntegerType()),
            StructField("h", IntegerType()),
        ]
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ws, hs = [], []
            for data in b["bytes"]:
                arr = codecs.decode_png(bytes(data))
                hs.append(arr.shape[0])
                ws.append(arr.shape[1])
            yield pd.DataFrame({"doc_id": b["doc_id"], "w": ws, "h": hs})

    return _with_images(spark, sf_dir).mapInPandas(decode, schema)


# ---------------------------------------------------------------------------
# feature extraction / resize / fingerprint (rows-only + pytest mirrors)
# ---------------------------------------------------------------------------

_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mean_r", IntegerType()),
        StructField("mean_g", IntegerType()),
        StructField("mean_b", IntegerType()),
        StructField("phash", LongType()),
    ]
)


def _stats_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for b in batches:
        rows = {"doc_id": b["doc_id"], "mean_r": [], "mean_g": [], "mean_b": [], "phash": None}
        arrs = []
        for data in b["bytes"]:
            arr = codecs.decode_png(bytes(data))
            arrs.append(arr)
            m = arr.reshape(-1, 3).mean(axis=0)
            rows["mean_r"].append(int(m[0]))
            rows["mean_g"].append(int(m[1]))
            rows["mean_b"].append(int(m[2]))
        # batched DCT/median/bit-pack (codecs.phash64_batch): bit-identical
        # to the old per-image loop, ~10x fewer small-numpy dispatches
        rows["phash"] = codecs.phash64_batch(arrs)
        yield pd.DataFrame(rows)


@q(
    "image_feature_stats",
    f"""
    SELECT g.doc_id, g.mean_r, g.mean_g, g.mean_b, g.phash
    FROM '{_GOLDEN_DIR}/image_stats.parquet' g
    JOIN documents d ON g.doc_id = d.doc_id
    """,
    "multimodal feature extraction: decode -> per-channel means + 64-bit perceptual hash, vectorized per Arrow batch; oracle = single-process golden (tools/gen_image_goldens.py), also exact-checked in tests/test_imageops.py",
)
def image_feature_stats(spark, sf_dir):
    return _with_images(spark, sf_dir).mapInPandas(_stats_kernel, _STATS_SCHEMA)


def resize_nn(arr: np.ndarray, side: int = 16) -> np.ndarray:
    """Nearest-neighbor resize to side x side (pure numpy, shared with the
    pytest mirror)."""
    h, w = arr.shape[:2]
    ys = (np.arange(side) * h // side).clip(0, h - 1)
    xs = (np.arange(side) * w // side).clip(0, w - 1)
    return arr[np.ix_(ys, xs)]


_RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("thumb_fp", StringType()),
    ]
)


@q(
    "image_resize_fp",
    f"""
    SELECT g.doc_id, g.thumb_fp
    FROM '{_GOLDEN_DIR}/image_resize_fp.parquet' g
    JOIN documents d ON g.doc_id = d.doc_id
    """,
    "multimodal resize: decode -> 16x16 nearest-neighbor thumbnail -> content fingerprint (the dedup key for thumbnail-level exact dedup); oracle = single-process golden",
)
def image_resize_fp(spark, sf_dir):
    import hashlib

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            fps = []
            for data in b["bytes"]:
                thumb = resize_nn(codecs.decode_png(bytes(data)))
                fps.append(hashlib.md5(thumb.tobytes()).hexdigest())
            yield pd.DataFrame({"doc_id": b["doc_id"], "thumb_fp": fps})

    return _with_images(spark, sf_dir).mapInPandas(kernel, _RESIZE_SCHEMA)


# ---------------------------------------------------------------------------
# perceptual-hash similarity search (multimodal ANN over the crawl payload)
# ---------------------------------------------------------------------------

_PHASH_QUERY_DOC = 0
_PHASH_TOPK = 10


def _dim_py(doc_id: int, pos: int) -> int:
    """Python mirror of _dim_col (same formula as the DuckDB oracle)."""
    import hashlib

    return 16 + (ord(hashlib.md5(str(doc_id).encode()).hexdigest()[pos - 1]) % 3) * 8


@q(
    "image_phash_topk",
    f"""
    WITH q AS (SELECT phash AS qp FROM '{_GOLDEN_DIR}/image_stats.parquet'
               WHERE doc_id = {_PHASH_QUERY_DOC})
    SELECT g.doc_id, CAST(bit_count(xor(g.phash, q.qp)) AS INT) AS hamming
    FROM '{_GOLDEN_DIR}/image_stats.parquet' g
    JOIN documents d ON g.doc_id = d.doc_id, q
    WHERE g.doc_id != {_PHASH_QUERY_DOC}
    ORDER BY hamming ASC, g.doc_id ASC
    LIMIT {_PHASH_TOPK}
    """,
    "multimodal similarity search: decode every image (real kernel path), 64-bit perceptual "
    "hash, rank by Hamming distance to the query image's phash (bit_count(xor) — JVM-side, "
    "whole-stage codegen) -> top-k via TakeOrderedAndProject; the image-payload analog of "
    "embedding_cosine_topk. Oracle = single-process golden phashes + the same Hamming rank.",
)
def image_phash_topk(spark, sf_dir):
    # query phash computed driver-side from the same pure function of doc_id
    # (the 'collect the query row' step of any ANN query, without re-running
    # a kernel pass for one row)
    qp = codecs.phash64(
        codecs.pixels_for(
            f"doc_{_PHASH_QUERY_DOC}",
            _dim_py(_PHASH_QUERY_DOC, 1),
            _dim_py(_PHASH_QUERY_DOC, 2),
        )
    )
    phashes = _with_images(spark, sf_dir).mapInPandas(_stats_kernel, _STATS_SCHEMA)
    return (
        phashes.filter(F.col("doc_id") != _PHASH_QUERY_DOC)
        .withColumn(
            "hamming", F.bit_count(F.col("phash").bitwiseXOR(F.lit(qp))).cast("int")
        )
        .orderBy(F.col("hamming").asc(), F.col("doc_id").asc())
        .limit(_PHASH_TOPK)
        .select("doc_id", "hamming")
    )


# ---------------------------------------------------------------------------
# frame sampling over a video-like container
# ---------------------------------------------------------------------------
# Container format "VSEQ": 4-byte magic + u32 frame count + per-frame
# (u32 length + PNG bytes). A deterministic stand-in for a real video (no AV
# codecs in this container) — the Spark-side plumbing (one binary blob per
# row, frame demux + every-k-th sampling + per-frame decode inside the
# kernel) is exactly what an mp4 + pyav deployment does.

_VSEQ_MAGIC = b"VSEQ"


def encode_vseq(frames: list[np.ndarray]) -> bytes:
    import struct

    out = [_VSEQ_MAGIC, struct.pack(">I", len(frames))]
    for f in frames:
        png = codecs.encode_png(f)
        out.append(struct.pack(">I", len(png)))
        out.append(png)
    return b"".join(out)


def iter_vseq_frames(data: bytes):
    import struct

    if data[:4] != _VSEQ_MAGIC:
        raise ValueError("not a VSEQ container")
    (n,) = struct.unpack(">I", data[4:8])
    pos = 8
    for _ in range(n):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        yield codecs.decode_png(data[pos + 4 : pos + 4 + ln])
        pos += 4 + ln


def _video_for(doc_id: int, n_frames: int = 6, side: int = 16) -> bytes:
    frames = [
        codecs.pixels_for(f"doc_{doc_id}_frame_{k}", side, side) for k in range(n_frames)
    ]
    return encode_vseq(frames)


_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("mean_lum", IntegerType()),
        StructField("phash", LongType()),
    ]
)


@q(
    "video_frame_sample",
    f"""
    SELECT g.doc_id, g.frame_idx, g.mean_lum, g.phash
    FROM '{_GOLDEN_DIR}/video_frames.parquet' g
    JOIN documents d ON g.doc_id = d.doc_id
    """,
    "multimodal frame sampling: video-like binary container -> demux -> every-2nd-frame decode -> per-frame luminance + phash; one input row fans out to one row per sampled frame (flatMap-shaped mapInPandas); oracle = single-process golden",
)
def video_frame_sample(spark, sf_dir, stride: int = 2):
    # fanout: single-row-group scan -> serial synthesis/demux kernels
    # otherwise (see _with_images)
    docs = fanout(load(spark, sf_dir, "documents").select("doc_id"))

    # stage 1: materialize the video blob as a real binary column (on a real
    # pipeline this is the stored column; the blob crosses the Arrow boundary)
    vid_schema = StructType(
        [StructField("doc_id", LongType()), StructField("video", BinaryType())]
    )

    def make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame(
                {"doc_id": b["doc_id"], "video": [_video_for(int(d)) for d in b["doc_id"]]}
            )

    videos = docs.mapInPandas(make, vid_schema)

    # stage 2: demux + every-stride-th frame decode; one row in, one row per
    # sampled frame out
    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = {"doc_id": [], "frame_idx": [], "mean_lum": [], "phash": None}
            frames = []
            for doc_id, blob in zip(b["doc_id"], b["video"]):
                for k, frame in enumerate(iter_vseq_frames(bytes(blob))):
                    if k % stride:
                        continue
                    rows["doc_id"].append(int(doc_id))
                    rows["frame_idx"].append(k)
                    rows["mean_lum"].append(int(frame.mean()))
                    frames.append(frame)
            rows["phash"] = codecs.phash64_batch(frames)
            yield pd.DataFrame(rows)

    return videos.mapInPandas(sample, _FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Audio modality: deterministic-fake PCM blob -> framed features
# ---------------------------------------------------------------------------

_AUDIO_MAGIC = b"PCM1"
_AUDIO_N_SAMPLES = 4096
_AUDIO_FRAME, _AUDIO_HOP = 512, 256


def _audio_for(doc_id: int, n_samples: int = _AUDIO_N_SAMPLES) -> bytes:
    """Deterministic fake audio blob (pure function of doc_id): a seeded
    sine + noise mix, int16 little-endian PCM behind a 8-byte header. The
    brief's contract for modalities with no codec in the container: the
    DECODE is a deterministic fake, but everything Spark-side — binary
    column, Arrow boundary crossing, mapInPandas kernel signature, flatMap
    fan-out — is the real plumbing a pyav/ffmpeg swap-in would use."""
    rng = np.random.RandomState(doc_id % (2**31))
    t = np.arange(n_samples, dtype=np.float64)
    freq = 0.01 + (doc_id % 17) * 0.005
    wave = 0.6 * np.sin(2 * np.pi * freq * t) + 0.2 * rng.standard_normal(n_samples)
    pcm = np.clip(wave * 32767.0, -32768, 32767).astype("<i2")
    return _AUDIO_MAGIC + int(n_samples).to_bytes(4, "little") + pcm.tobytes()


def audio_features_from_blob(blob: bytes) -> list[tuple[int, float, int]]:
    """Decode the PCM1 container and emit per-frame (frame_idx, rms, zcr)
    at frame=512 / hop=256 — the ONE kernel shared by the Spark op and the
    golden generator (tools/gen_image_goldens.py), so they cannot drift.
    rms is rounded to 4 decimals HERE so both consumers store the same
    value; zcr counts sign changes (zeros count as positive)."""
    if blob[:4] != _AUDIO_MAGIC:  # ValueError like the VSEQ decoder —
        raise ValueError("not a PCM1 blob")  # survives python -O
    n = int.from_bytes(blob[4:8], "little")
    pcm = np.frombuffer(blob, dtype="<i2", offset=8, count=n).astype(np.float64)
    if n < _AUDIO_FRAME:
        return []
    # vectorized framing (optimization round 6, VERDICT r5 'wrong' #2):
    # all frames at once via a strided window view instead of a Python
    # frame loop. Values are bit-identical to the per-frame path — each
    # row of win*win is a fresh contiguous buffer, so np.mean's pairwise
    # reduction per row matches np.mean over the 1-D slice, and zcr is a
    # cumulative-sum difference over exact integers. The shared golden
    # (tools/gen_image_goldens.py) pins this: its hashes are unchanged.
    win = np.lib.stride_tricks.sliding_window_view(pcm, _AUDIO_FRAME)[::_AUDIO_HOP]
    rms = np.sqrt(np.mean(win * win, axis=1))
    sgn = pcm >= 0
    changes = np.concatenate(([0], np.cumsum(sgn[1:] != sgn[:-1])))
    starts = np.arange(win.shape[0]) * _AUDIO_HOP
    zcr = changes[starts + _AUDIO_FRAME - 1] - changes[starts]
    return [
        (k, round(float(rms[k]), 4), int(zcr[k])) for k in range(win.shape[0])
    ]


_AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("rms", DoubleType()),
        StructField("zcr", IntegerType()),
    ]
)

# Born pytest-oracled (rotation policy, tests/test_imageops.py): same
# golden-table mechanism as the driver-oracled image ops — a hash match
# proves distributed Arrow execution == the single-process reference.
_AUDIO_ORACLE_SQL = f"""
    SELECT g.doc_id, g.frame_idx, g.rms, g.zcr
    FROM '{_GOLDEN_DIR}/audio_frames.parquet' g
    JOIN documents d ON g.doc_id = d.doc_id
"""


@q(
    "audio_frame_features",
    None,  # pytest-oracled via _AUDIO_ORACLE_SQL (newborn-oracle queue)
    "multimodal audio: PCM-like binary container -> framed RMS energy + "
    "zero-crossing rate at frame=512/hop=256 (the MFCC front-end's "
    "framing), one input row fanning out to one row per frame "
    "(flatMap-shaped mapInPandas, same plumbing as video_frame_sample); "
    "decode is a deterministic fake per the no-codec contract "
    "(decode_av_stub documents the swap-in point), the golden table is "
    "generated by the SAME shared kernel so distributed-vs-single-process "
    "parity is exact.",
)
def audio_frame_features(spark, sf_dir):
    # fanout: single-row-group scan -> serial synthesis/framing otherwise
    docs = fanout(load(spark, sf_dir, "documents").select("doc_id"))

    aud_schema = StructType(
        [StructField("doc_id", LongType()), StructField("audio", BinaryType())]
    )

    def make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame(
                {"doc_id": b["doc_id"], "audio": [_audio_for(int(d)) for d in b["doc_id"]]}
            )

    audio = docs.mapInPandas(make, aud_schema)

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = {"doc_id": [], "frame_idx": [], "rms": [], "zcr": []}
            for doc_id, blob in zip(b["doc_id"], b["audio"]):
                for k, rms, zcr in audio_features_from_blob(bytes(blob)):
                    rows["doc_id"].append(int(doc_id))
                    rows["frame_idx"].append(k)
                    rows["rms"].append(rms)
                    rows["zcr"].append(zcr)
            yield pd.DataFrame(rows)

    return audio.mapInPandas(features, _AUDIO_SCHEMA)


def decode_av_stub(data: bytes, fmt: str) -> np.ndarray:
    """Audio/video decode stub: the container ships no AV codecs, so the
    Spark-side plumbing (binary column + mapInPandas kernel shape) is what
    this module demonstrates; a real deployment drops pyav/ffmpeg in here."""
    raise NotImplementedError(f"no {fmt!r} codec in this environment (stub by design)")


# ---------------------------------------------------------------------------
# exact Hamming near-dup pairs via multi-index hashing
# ---------------------------------------------------------------------------
# Multi-index hashing (Norouzi, Punjani, Fleet: "Fast Search in Hamming
# Space with Multi-Index Hashing", CVPR 2012): split the 64-bit phash into
# m bands; by pigeonhole, two hashes within Hamming distance
# tau <= m*(r+1)-1 agree to within r bits on AT LEAST one band — so with
# the layout derived from tau (_mih_layout: the MINIMUM m the bound
# allows, bands as wide as 64/m permits) the banded candidate set
# provably contains EVERY true pair and the oracle is plain brute force,
# not a replica of the banding. Probe-side neighborhood expansion: each
# band key explodes to its radius-<=2 neighbors; the index side stays
# exact, so the join is candidate-bounded by bucket occupancy (~n/2^bits
# per key), never all-pairs.
_PHASH_PAIR_TAU = 16


def _mih_layout(tau: int, radius: int = 2) -> list[list[int]]:
    """Band layout for 64-bit multi-index hashing, as a bit-position list
    per band: the MINIMUM band count the pigeonhole bound allows for
    (tau, radius) — m = ceil((tau+1)/(radius+1)) bands, each as WIDE as
    possible. Fewer, wider bands is the Norouzi et al. scaling rule (band
    bits ~ log2 n): candidate volume per band is n * |probe-neighborhood|
    * occupancy, and occupancy ~ n / 2^bits collapses as bits grow, while
    the neighborhood only grows polynomially (1 + bits + C(bits,2) for
    radius 2). The round-5 first cut used 8x8-bit bands; at 15k hashes
    that is ~58 rows per (band,key) bucket and ~250M candidate rows —
    re-parameterizing to the bound cut it ~40x with the same lossless
    guarantee.

    Round 6 (guide §2.5, skew): positions are INTERLEAVED round-robin
    (band i takes bits i, i+m, i+2m, ...) instead of contiguous runs.
    phash bits are ordered by DCT frequency, and the low-frequency (top)
    bits are strongly correlated across real images — the contiguous
    top-bits band had catastrophic bucket skew (measured at 50k hashes:
    484 occupied buckets of 1024, max occupancy 2469, Σocc² 45M of the
    55M total across all six bands). Round-robin mixes frequencies into
    every band. The pigeonhole bound only needs the bands to PARTITION
    the 64 bits, so candidates stay lossless and the output is identical
    (pinned empirically by test_mih_layout_lossless_across_tau and the
    brute-force oracles)."""
    # band count: the pigeonhole minimum, floored at 4 so no band exceeds
    # 16 bits — wider bands would overflow the int mask/key columns
    # (1<<31 masks, signed-int band keys) and buy nothing: occupancy
    # n/2^16 is already O(1) for any corpus the sandbox can hold, and at
    # 10^9+ hashes the minimum m dominates anyway. The floor keeps the
    # bound: m>=4, r=2 -> lossless to 11 even for tiny tau.
    m = max(-(-(tau + 1) // (radius + 1)), 4)
    return [list(range(i, 64, m)) for i in range(m)]


def _probe_masks(bits: int, radius: int = 2) -> list[int]:
    masks = {0}
    if radius >= 1:
        masks |= {1 << i for i in range(bits)}
    if radius >= 2:
        masks |= {(1 << i) | (1 << j) for i in range(bits) for j in range(i)}
    return sorted(masks)


# occupancy threshold for the _mih_pairs regime switch (avg rows/bucket
# above which the rendezvous kernel beats the row-level probe join);
# module-level so the cross-path equality gate can force either branch
_MIH_KERNEL_MIN_OCC = 4

_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint16)


def _np_popcount64(x: np.ndarray) -> np.ndarray:
    """Two's-complement popcount of an int64 array (exact). Deliberately
    NOT np.bitwise_count of the signed value, which counts bits of |x|
    and would be wrong for negative XOR results. Without the numpy-2
    ufunc, a SWAR nibble reduction (the classic Hamming-weight bit
    trick; exact for every 64-bit pattern, pinned against the byte LUT
    by test_popcount_twos_complement) — measured 4.5x the byte-LUT
    gather this repo used first."""
    if hasattr(np, "bitwise_count"):
        return np.bitwise_count(np.ascontiguousarray(x).view(np.uint64)).astype(
            np.int64
        )
    u = np.ascontiguousarray(x).view(np.uint64).copy()
    u -= (u >> 1) & 0x5555555555555555
    u = (u & 0x3333333333333333) + ((u >> 2) & 0x3333333333333333)
    u = (u + (u >> 4)) & 0x0F0F0F0F0F0F0F0F
    return ((u * 0x0101010101010101) >> 56).astype(np.int64)


_MIH_KERNEL_CHUNK = 2_000_000  # bounds the flattened per-slice candidate arrays


def _mih_rendezvous_kernel(batches: "Iterator[pa.RecordBatch]", tau: int):
    """Exact Hamming scoring of ONE TASK PARTITION of rendezvous entries
    (hash-partitioned by (band, z): every group is complete within the
    partition, and one partition holds many groups — a partition-level
    mapInArrow kernel instead of per-group applyInPandas, whose
    ~ms-scale per-group Arrow/pandas machinery dominated at tens of
    thousands of tiny groups; Arrow batches go straight to numpy,
    skipping the pandas construction both ways). Rows sort once by a packed
    (band, z, key) int64; within each (band, z) rendezvous group they
    block by their TRUE key (<= bits+1 distinct keys per group), and a
    key pair (ka, kb) is scored only in its canonical group
    z == zstar(ka, kb) — own-block pairs only in their own bucket's
    group z == k — so each candidate pair is scored EXACTLY ONCE per
    band: total FLOPs equal the radius-2 bucket-pair enumeration's,
    while the shuffle stays the flat radius-1 replication. Scoring runs
    over a flattened candidate index (ragged cross-products of all the
    partition's allowed block pairs, a 1-D XOR+popcount — no per-block
    numpy dispatch). Emits cross-gid pairs with popcount <= tau,
    oriented gid_a < gid_b. Exact integer arithmetic throughout — the
    emitted set, after the caller's cross-band distinct(), is identical
    to materializing the radius-2 candidate join and filtering."""
    bs = [b for b in batches if b.num_rows]
    if not bs:
        return
    tbl = pa.Table.from_batches(bs)
    del bs

    def _col(name, dt):
        return tbl.column(name).to_numpy(zero_copy_only=False).astype(dt, copy=False)

    band = _col("band", np.int64)
    z = _col("z", np.int64)
    key = _col("key", np.int64)
    # band < 64, z and key < 2^16 (_mih_layout caps band width at 16
    # bits): one packed sort key, blocks contiguous, groups contiguous
    sk = (band << 36) | (z << 18) | key
    order = np.argsort(sk, kind="stable")
    sk = sk[order]
    g = _col("gid", np.int64)[order]
    it = _col("item", np.int64)[order]
    ph = _col("phash", np.int64)[order]
    del tbl, band, z, key
    blocks, starts, counts = np.unique(sk, return_index=True, return_counts=True)
    # group boundaries in block space: same (band, z) prefix
    grp = blocks >> 18
    cut = np.flatnonzero(grp[1:] != grp[:-1]) + 1
    g_starts = np.concatenate(([0], cut))
    g_ends = np.concatenate((cut, [len(blocks)]))
    bkeys = (blocks & 0x3FFFF).tolist()  # python ints: fast inner loop
    bcounts = counts.tolist()
    # allowed block pairs across the whole partition (a == b only for a
    # group's own block); the t^2 selection loop is pure int math over
    # t <= bits+1 block keys per group
    bpa, bpb, tri = [], [], []
    for gs, ge in zip(g_starts, g_ends):
        zv = int((blocks[gs] >> 18) & 0x3FFFF)
        for a in range(gs, ge):
            ka = bkeys[a]
            if ka == zv:
                if bcounts[a] > 1:
                    bpa.append(a)
                    bpb.append(a)
                    tri.append(True)
            for b in range(a + 1, ge):
                xk = ka ^ bkeys[b]
                lb = xk & -xk
                hb = xk ^ lb
                if hb:
                    zs = min(ka ^ lb, ka ^ hb)
                else:
                    zs = min(ka, ka ^ lb)
                if zs == zv:
                    bpa.append(a)
                    bpb.append(b)
                    tri.append(False)
    if not bpa:
        return
    bpa = np.asarray(bpa)
    bpb = np.asarray(bpb)
    tri = np.asarray(tri)
    ca, cb = counts[bpa], counts[bpb]
    sa, sb = starts[bpa], starts[bpb]
    c = ca * cb
    # split oversized block pairs into sub-grids of at most
    # _MIH_KERNEL_CHUNK candidates — along B too when one B block alone
    # exceeds it — so every chunk below is a run of WHOLE sub-pairs. An
    # own-block pair's sub-grids still tile its full grid, so the jj > ii
    # filter keeps each unordered pair exactly once.
    big = np.flatnonzero(c > _MIH_KERNEL_CHUNK)
    if len(big):
        keep_small = np.ones(len(c), dtype=bool)
        keep_small[big] = False
        ex_sa, ex_ca, ex_sb, ex_cb, ex_tri = [], [], [], [], []
        for p_ in big:
            n_a, n_b = int(ca[p_]), int(cb[p_])
            cols = min(n_b, _MIH_KERNEL_CHUNK)
            rows = max(1, _MIH_KERNEL_CHUNK // cols)
            for off_a in range(0, n_a, rows):
                for off_b in range(0, n_b, cols):
                    ex_sa.append(int(sa[p_]) + off_a)
                    ex_ca.append(min(rows, n_a - off_a))
                    ex_sb.append(int(sb[p_]) + off_b)
                    ex_cb.append(min(cols, n_b - off_b))
                    ex_tri.append(bool(tri[p_]))
        sa = np.concatenate((sa[keep_small], np.asarray(ex_sa, dtype=np.int64)))
        ca = np.concatenate((ca[keep_small], np.asarray(ex_ca, dtype=np.int64)))
        sb = np.concatenate((sb[keep_small], np.asarray(ex_sb, dtype=np.int64)))
        cb = np.concatenate((cb[keep_small], np.asarray(ex_cb, dtype=np.int64)))
        tri = np.concatenate((tri[keep_small], np.asarray(ex_tri, dtype=bool)))
        c = ca * cb
    csum = np.cumsum(c)
    npairs = len(c)
    # preallocated chunk workspace, reused across chunks: the hot loop is
    # memory-bound, and per-op numpy allocations (page-fault zeroing of
    # fresh ~16 MB buffers, 32 concurrent worker processes) dominated the
    # arithmetic before buffers were pinned (guide §4.2 — heavyweight
    # init once, not per batch)
    xa = np.empty(_MIH_KERNEL_CHUNK, dtype=np.int64)
    xb = np.empty(_MIH_KERNEL_CHUNK, dtype=np.int64)
    tb = np.empty(_MIH_KERNEL_CHUNK, dtype=np.uint64)
    p0 = 0
    while p0 < npairs:
        # widest run of whole pairs within the chunk budget
        target = (csum[p0 - 1] if p0 else 0) + _MIH_KERNEL_CHUNK
        p1 = max(p0 + 1, int(np.searchsorted(csum, target, side="right")))
        cs, cas, cbs = c[p0:p1], ca[p0:p1], cb[p0:p1]
        sas, sbs, tris = sa[p0:p1], sb[p0:p1], tri[p0:p1]
        p0 = p1
        total = int(cs.sum())
        # flattened (i, j) of all the run's grids via repeat/arange only —
        # no per-candidate division (2x the searchsorted+divmod mapping);
        # int32 positions (partition row counts are far below 2^31)
        ca_tot = int(cas.sum())
        row0 = np.repeat((np.cumsum(cas) - cas).astype(np.int32), cas)
        arows = np.repeat(sas.astype(np.int32), cas) + (
            np.arange(ca_tot, dtype=np.int32) - row0
        )
        cb_rows = np.repeat(cbs, cas)
        i = np.repeat(arows, cb_rows)
        rowstart = np.cumsum(cb_rows) - cb_rows
        j = np.repeat(sbs.astype(np.int32), cs) + (
            np.arange(total, dtype=np.int32)
            - np.repeat(rowstart.astype(np.int32), cb_rows)
        )
        # exact SWAR popcount of ph[i]^ph[j] into pinned buffers
        vxa, vxb = xa[:total], xb[:total]
        np.take(ph, i, out=vxa)
        np.take(ph, j, out=vxb)
        np.bitwise_xor(vxa, vxb, out=vxa)
        u, t = vxa.view(np.uint64), tb[:total]
        np.right_shift(u, 1, out=t)
        t &= 0x5555555555555555
        u -= t
        np.right_shift(u, 2, out=t)
        t &= 0x3333333333333333
        u &= 0x3333333333333333
        u += t
        np.right_shift(u, 4, out=t)
        u += t
        u &= 0x0F0F0F0F0F0F0F0F
        u *= 0x0101010101010101
        np.right_shift(u, 56, out=u)
        # survivor-first: the tau filter keeps ~0.1%, so compress indices
        # before every other gather/compare
        kk = np.flatnonzero(u <= tau)
        if not len(kk):
            continue
        ii, jj = i[kk], j[kk]
        ham = u[kk].astype(np.int32)
        fine = g[ii] != g[jj]
        # own block: each unordered pair once (map survivors to their
        # block pair by position — survivor-sized, not candidate-sized)
        trik = tris[np.searchsorted(np.cumsum(cs), kk, side="right")]
        fine &= ~trik | (jj > ii)
        ii, jj, ham = ii[fine], jj[fine], ham[fine]
        if not len(ii):
            continue
        a_g, b_g = g[ii], g[jj]
        a_i, b_i = it[ii], it[jj]
        swap = a_g > b_g
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.where(swap, b_g, a_g)),
                pa.array(np.where(swap, b_i, a_i)),
                pa.array(np.where(swap, a_g, b_g)),
                pa.array(np.where(swap, a_i, b_i)),
                pa.array(ham),
            ],
            names=["gid_a", "item_a", "gid_b", "item_b", "hamming"],
        )


def _mih_pairs(hashes, tau: int):
    """Multi-index-hashing candidate join, shared by the image and video
    near-dup operators. ``hashes``: (gid, item, phash) — gid groups rows
    that must never pair with each other (a doc's only image, a video's
    frames); item distinguishes rows within a gid. Returns
    (gid_a, item_a, gid_b, item_b, hamming) with gid_a < gid_b and
    hamming <= tau — EVERY such pair: the band layout is derived from tau
    so the pigeonhole bound m*(radius+1)-1 >= tau always holds, for ANY
    tau in [0, 23] (see _mih_layout; above 23 the radius-2 probes cannot
    cover 64 bits and the assert below fires).

    Round-6 execution shape (guide §2.3/§4.2; was: explode every ITEM into
    its full radius-2 probe neighborhood and equi-join against the index —
    Σ probes x occupancy ≈ 1.2B materialized candidate rows at the
    driver's sf1.0 for the video op, then distinct + popcount). Radius-1
    RENDEZVOUS: two band keys within Hamming 2 always share a radius-1
    neighbor z (flip one of the differing bits; z = the key itself when
    they differ by <= 1), so replicating every entry to its 1 + bits
    radius-1 key flips and scoring each (band, z) group with a numpy
    popcount kernel sees every radius-2 candidate pair — candidate pairs
    never exist as rows, only hits do, and the replication factor is the
    radius-1 neighborhood (~12), not the radius-2 bucket-pair degree
    (~60) the first kernel cut shipped through its bucket-payload joins
    (no collect_list buckets, no list-column Arrow traffic, one flat
    hash shuffle). Candidate coverage is identical: pair (x, y) collides
    iff some band's keys differ by <= 2 bits, which is exactly
    co-membership of some rendezvous group."""
    layout = _mih_layout(tau)
    assert len(layout) * 3 - 1 >= tau, "pigeonhole bound violated"

    def band_key(positions):
        # gather the band's (interleaved) bit positions into a packed key;
        # packed-key Hamming distance == band-bit Hamming distance, which
        # is all the radius-2 mask neighborhood needs
        key = None
        for j, pos in enumerate(positions):
            bit = F.shiftrightunsigned("phash", pos).bitwiseAND(F.lit(1))
            term = F.shiftleft(bit, j) if j else bit
            key = term if key is None else key + term
        return key

    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band"), band_key(pos).cast("int").alias("key"))
            for b, pos in enumerate(layout)
        ]
    )
    index = hashes.select(
        "gid", "item", "phash", F.explode(bands).alias("bk")
    ).select("gid", "item", "phash", "bk.band", "bk.key")
    spark = hashes.sparkSession

    # Regime switch (round 6): at low bucket occupancy (n ≲ 4
    # rows/bucket) the round-5 row-level probe join is cheap and its plan
    # is the one the fixture-scale driver oracles exercise; at high
    # occupancy it explodes as Σ probes x occupancy (1.2B joined rows at
    # 150k hashes) while the rendezvous kernel's replication stays a flat
    # ~12x of the entry relation. Both paths emit the identical pair set
    # (same candidate condition, exact popcount filter), so the branch is
    # purely an execution choice, like AQE picking a join strategy.
    # `hashes` is persisted by every caller, so the count is a cache read.
    n_hashes = hashes.count()
    max_bits = max(len(pos) for pos in layout)
    if n_hashes <= _MIH_KERNEL_MIN_OCC * (1 << max_bits):
        # the radius-2 mask neighborhood lives in a tiny broadcast
        # dimension (m * ~C(bits,2) rows — a literal array-of-structs
        # would blow the 64KB codegen limit, see round-5 note)
        mask_rows = [
            (b, m)
            for b, pos in enumerate(layout)
            for m in _probe_masks(len(pos))
        ]
        masks = F.broadcast(
            spark.createDataFrame(mask_rows, "band int, mask int")
        )
        probe = index.join(masks, "band").select(
            "gid", "item", "phash", "band",
            F.col("key").bitwiseXOR(F.col("mask")).alias("key"),
        )
        cand = (
            probe.alias("a")
            .join(
                index.alias("b"),
                on=[
                    F.col("a.band") == F.col("b.band"),
                    F.col("a.key") == F.col("b.key"),
                    F.col("a.gid") < F.col("b.gid"),
                ],
            )
            .select(
                F.col("a.gid").alias("gid_a"),
                F.col("a.item").alias("item_a"),
                F.col("b.gid").alias("gid_b"),
                F.col("b.item").alias("item_b"),
                F.col("a.phash").alias("pa"),
                F.col("b.phash").alias("pb"),
            )
            .distinct()
        )
        return (
            cand.withColumn(
                "hamming", F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))).cast("int")
            )
            .filter(F.col("hamming") <= tau)
            .drop("pa", "pb")
        )

    # radius-1 rendezvous: replicate each entry to key ^ m for every
    # weight-<=1 mask m of its band (1 + bits copies); the mask dimension
    # is a tiny broadcast, the only exchange is the (band, z) group hash
    # shuffle of flat scalar rows
    r1_rows = [
        (b, m)
        for b, pos in enumerate(layout)
        for m in _probe_masks(len(pos), radius=1)
    ]
    r1_masks = F.broadcast(
        spark.createDataFrame(r1_rows, "band int, mask int")
    )
    # exact casts: mapInArrow is strict about physical types (callers
    # pass e.g. a literal-int item), and the flat all-numeric relation is
    # exactly what Arrow ships cheapest
    entries = index.join(r1_masks, "band").select(
        F.col("gid").cast("long").alias("gid"),
        F.col("item").cast("long").alias("item"),
        F.col("phash").cast("long").alias("phash"),
        F.col("band").cast("int").alias("band"),
        F.col("key").cast("int").alias("key"),
        F.col("key").bitwiseXOR(F.col("mask")).cast("int").alias("z"),
    )
    # hash-partition by group key, then a PARTITION-level kernel: each
    # (band, z) group lands whole in one task, and one task scores all
    # its groups in one numpy pass — per-group applyInPandas machinery
    # (one Arrow batch + pandas frame per group) cost ~ms x tens of
    # thousands of near-empty groups; mapInArrow skips the pandas
    # conversion both ways (measured ~2x on the buffered round-trip)
    hits = entries.repartition("band", "z").mapInArrow(
        lambda it: _mih_rendezvous_kernel(it, tau),
        "gid_a long, item_a long, gid_b long, item_b long, hamming int",
    )
    # multi-band dedupe (the kernel's canonical-z rule already makes hits
    # unique within a band) — hits-sized, not candidate-sized; the
    # hamming column is exact in every copy, so duplicate rows are
    # byte-identical
    return hits.distinct()


@q(
    "image_phash_neardup_pairs",
    f"""
    WITH g AS (SELECT s.doc_id, s.phash
               FROM '{_GOLDEN_DIR}/image_stats.parquet' s
               JOIN documents d ON s.doc_id = d.doc_id)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
    FROM g a JOIN g b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= {_PHASH_PAIR_TAU}
    ORDER BY doc_a, doc_b
    """,
    "multimodal near-dup detection: all image pairs within phash Hamming "
    f"distance {_PHASH_PAIR_TAU} via multi-index hashing — "
    "LOSSLESS banding (pigeonhole: 6 bands of 10-11 bits with radius-2 "
    "probes cover every pair to distance 17 >= tau), so the oracle is the brute-force "
    "all-pairs SQL and parity proves the pruning exact, not approximately "
    "recalled. Scale shape: index side m rows/doc, probe side "
    "m*(1+bits+C(bits,2)) rows/doc (~390 at tau=16) via a broadcast mask "
    "dimension, one bucketed equi-join on (band, key) + "
    "distinct pairs + an 8-byte XOR popcount — candidate cost is bucket "
    "occupancy, never n^2; the image-payload twin of "
    "embedding_lsh_neardup_pairs with a provable-completeness upgrade. "
    "Promoted to a driver oracle in round 5 (semi_join_active_parts's "
    "slot).",
)
def image_phash_neardup_pairs(spark, sf_dir):
    ph = (
        _with_images(spark, sf_dir)
        .mapInPandas(_stats_kernel, _STATS_SCHEMA)
        .select(
            F.col("doc_id").alias("gid"), F.lit(0).alias("item"), "phash"
        )
        # 2 plan references (probe and index sides of the self-join) — an
        # unpinned subtree would run the encode+decode+phash Python kernel
        # twice per execution (same persist rationale as
        # benchmark_contamination's shingle frame)
        .persist()
    )
    return (
        _mih_pairs(ph, _PHASH_PAIR_TAU)
        .select(
            F.col("gid_a").alias("doc_a"), F.col("gid_b").alias("doc_b"), "hamming"
        )
        .orderBy("doc_a", "doc_b")
    )


_FRAME_OVERLAP_TAU = 14

# Full DuckDB replica — pytest-gated (the 50-slot driver window is full;
# rotation policy, __spark_entry__.py), written in the driver's dialect so
# it rotates in verbatim. Brute-force all-frame-pairs: the 5-band layout's
# pigeonhole bound is exactly 14 = tau (zero slack — a tau bump must
# re-derive the layout, which _mih_layout does), so the oracle needs no
# banding replica.
_FRAME_OVERLAP_ORACLE_SQL = f"""
    WITH g AS (SELECT f.doc_id, f.frame_idx, f.phash
               FROM '{_GOLDEN_DIR}/video_frames.parquet' f
               JOIN documents d ON f.doc_id = d.doc_id)
    SELECT a.doc_id AS video_a, b.doc_id AS video_b,
           COUNT(*) AS n_frame_pairs,
           CAST(MIN(bit_count(xor(a.phash, b.phash))) AS INT) AS min_hamming
    FROM g a JOIN g b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= {_FRAME_OVERLAP_TAU}
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


@q(
    "video_frame_overlap",
    None,  # pytest-oracled via _FRAME_OVERLAP_ORACLE_SQL (window full)
    "cross-video content-overlap detection: demux + sample frames "
    "(video_frame_sample's kernel), then every cross-video frame pair "
    f"within phash Hamming {_FRAME_OVERLAP_TAU} via the same lossless "
    "multi-index join as image_phash_neardup_pairs, aggregated to one row "
    "per video pair (shared-frame count + closest distance) — the "
    "shared-scene/duplicate-clip screen a multimodal corpus runs before "
    "training. Same-video frame pairs are excluded structurally (the MIH "
    "join orients on video id).",
)
def video_frame_overlap(spark, sf_dir):
    frames = (
        video_frame_sample(spark, sf_dir)
        .select(
            F.col("doc_id").alias("gid"),
            F.col("frame_idx").alias("item"),
            "phash",
        )
        # 2 plan references through the self-join; unpinned would demux +
        # decode every video twice
        .persist()
    )
    return (
        _mih_pairs(frames, _FRAME_OVERLAP_TAU)
        .groupBy("gid_a", "gid_b")
        .agg(
            F.count("*").alias("n_frame_pairs"),
            F.min("hamming").alias("min_hamming"),
        )
        .select(
            F.col("gid_a").alias("video_a"),
            F.col("gid_b").alias("video_b"),
            "n_frame_pairs",
            "min_hamming",
        )
        .orderBy("video_a", "video_b")
    )
