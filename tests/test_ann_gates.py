"""ANN index-quality gates (VERDICT r3 #6): the recall numbers the
ann_recall_report measures become CI floors, so a parameter change that
silently craters index quality (say r=4 -> r=12, emptying every bucket)
fails here instead of shipping.

Floors sit under the deterministic measured values on the sf0.01 fixture
corpus (synthetic embeddings + fixed query panel — no randomness):
  - single-bucket sign-LSH top-10 (ann_recall_report): mean 0.167
  - banded 4x4 near-dup pair recall vs exact tau=0.30 pairs: 0.474
  - banded 8x6 (high-precision parameterization):           0.333
The absolute levels are what one hash table with one probe buys on
64-dim synthetic vectors at tau=0.30 — the documented upgrade path
(annops.py, parameter-choice site) is multiprobe / more bands, measured
by this same report before trusting any swap.
"""

import pyspark.sql.functions as F

from visiblev8_crawler_spark.plans.annops import _banded_neardup_spark, _dot, _norm
from visiblev8_crawler_spark.plans.queries import QUERIES, load

SF_DIR = "/root/testdata/sf0.01"


def _exact_tau_pairs(spark, tau=0.30):
    ev = load(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    a = ev.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = ev.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos", _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= tau)
        .select("vec_a", "vec_b")
    )


def test_lsh_topk_recall_floor(spark):
    rep = QUERIES["ann_recall_report"].spark(spark, SF_DIR).collect()
    recs = [r["recall_at_10"] for r in rep]
    mean = sum(recs) / len(recs)
    assert mean >= 0.10, f"mean recall@10 {mean:.3f} (panel {sorted(recs)})"


def test_banded_neardup_recall_floors(spark):
    exact = _exact_tau_pairs(spark).localCheckpoint(eager=True)
    n_exact = exact.count()
    assert n_exact > 0
    for bands, r, floor in ((4, 4, 0.40), (8, 6, 0.25)):
        got = _banded_neardup_spark(spark, SF_DIR, bands=bands, r=r, tau=0.30).select(
            "vec_a", "vec_b"
        )
        hit = got.join(exact, ["vec_a", "vec_b"], "left_semi").count()
        recall = hit / n_exact
        assert recall >= floor, f"b={bands} r={r}: recall {recall:.3f} < {floor}"


def test_multiprobe_topk_oracle_replica(spark):
    """embedding_lsh_multiprobe_topk carries no driver oracle (the hard-
    signal window is full at 50 oracled queries), so the pytest replica IS
    its correctness gate: same DuckDB engine, same SQL the driver would
    run, rows/schema/values compared exactly."""
    import duckdb

    from visiblev8_crawler_spark.plans.annops import _MULTIPROBE_ORACLE_SQL

    got = [
        (r["vec_id"], r["label"], r["cosine"])
        for r in QUERIES["embedding_lsh_multiprobe_topk"].spark(spark, SF_DIR).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'"
    )
    want = con.execute(_MULTIPROBE_ORACLE_SQL).fetchall()
    assert got == [tuple(r) for r in want]


def test_multiprobe_recall_floor(spark):
    """The multiprobe upgrade must actually buy recall: mean recall@10 over
    the report's query panel with Hamming<=1 probing, measured 0.644 on the
    fixture corpus vs 0.167 single-probe; gated at 0.50."""
    from pyspark.sql import Window

    from visiblev8_crawler_spark.plans.annops import (
        _RECALL_K,
        _RECALL_QUERIES,
        _bucket_expr_spark,
    )

    emb = load(spark, SF_DIR, "embeddings")
    qs = emb.filter(F.col("vec_id") <= _RECALL_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"),
        _bucket_expr_spark(F.col("embedding")).alias("qb"),
        _norm(F.col("embedding")).alias("qn"),
    )
    cand = emb.select(
        "vec_id", "embedding",
        _bucket_expr_spark(F.col("embedding")).alias("vb"),
        _norm(F.col("embedding")).alias("vn"),
    )
    scored = (
        cand.join(F.broadcast(qs), F.col("vec_id") != F.col("qid"))
        .withColumn(
            "cosine",
            F.round(_dot(F.col("embedding"), F.col("qe")) / (F.col("vn") * F.col("qn")), 6),
        )
        .select("qid", "vec_id", "cosine", "vb", "qb")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    exact = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RECALL_K).select("qid", "vec_id")
    )
    ham = F.bit_count(F.col("vb").bitwiseXOR(F.col("qb")))
    mp = (
        scored.filter(ham <= 1)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RECALL_K)
        .select("qid", F.col("vec_id").alias("m"))
    )
    per_q = (
        exact.join(mp, (exact["qid"] == mp["qid"]) & (exact["vec_id"] == mp["m"]), "left")
        .groupBy(exact["qid"])
        .agg((F.count("m") / float(_RECALL_K)).alias("r"))
        .collect()
    )
    recs = [r["r"] for r in per_q]
    mean = sum(recs) / len(recs)
    assert mean >= 0.50, f"multiprobe mean recall@10 {mean:.3f} (panel {sorted(recs)})"


def test_quantize_int8_oracle_replica(spark):
    """embedding_quantize_int8's DuckDB replica (rotation policy: driver
    window entry next round). Integer outputs -> exact equality."""
    import duckdb

    from visiblev8_crawler_spark.plans import annops

    got = [
        (r["vec_id"], r["scale_nano"], list(r["q"]), r["max_err_micro"])
        for r in QUERIES["embedding_quantize_int8"].spark(spark, SF_DIR).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'"
    )
    want = [
        (r[0], r[1], list(r[2]), r[3])
        for r in con.execute(annops._QUANT_ORACLE_SQL).fetchall()
    ]
    assert len(got) == len(want) > 0
    assert got == want
    # semantics: symmetric int8 quantization's error bound is scale/2
    for vec_id, scale_nano, q_arr, err_micro in got:
        assert all(-127 <= x <= 127 for x in q_arr)
        assert max(abs(x) for x in q_arr) == 127  # scale saturates one elem
        # err_micro = floor(err*1e6); bound with 1 micro-unit slack
        assert err_micro * 1e3 <= scale_nano / 2 + 1e3


def test_quantize_int8_map_only(spark):
    """Zero hash exchanges: the only Exchange is the rangepartitioning of
    the determinism orderBy."""
    p = (
        QUERIES["embedding_quantize_int8"]
        .spark(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert p.count("Exchange hashpartitioning") == 0, p


def test_quantized_topk_replica_and_recall(spark):
    """embedding_quantized_topk: DuckDB replica exact-match (integer math;
    the one division floor-truncates to micro units over in-engine IEEE
    sqrts), plus the quality gate — int8 ranking must recover >= 9 of the
    exact float top-10 (measured: 10/10)."""
    import duckdb

    from visiblev8_crawler_spark.plans import annops

    got = [
        tuple(r)
        for r in QUERIES["embedding_quantized_topk"].spark(spark, SF_DIR).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'"
    )
    want = [tuple(r) for r in con.execute(annops._QUANT_TOPK_ORACLE_SQL).fetchall()]
    assert got == want and len(got) == 10
    exact_ids = {
        r["vec_id"]
        for r in QUERIES["embedding_cosine_topk"].spark(spark, SF_DIR).collect()
    }
    assert len({g[0] for g in got} & exact_ids) >= 9


def test_quantize_zero_vector_planted(spark):
    """All-zero embedding: scale guard quantizes it to exact zeros with
    zero error (no NULL poisoning), and the serving query excludes it
    from ranking (cosine undefined) instead of emitting NULLs."""
    import os
    import tempfile

    from visiblev8_crawler_spark.plans.annops import (
        embedding_quantize_int8,
        embedding_quantized_topk,
    )

    dim = 8
    rows = [
        (0, [1.0] + [0.5] * (dim - 1), 0),   # the query vector
        (1, [0.0] * dim, 0),                  # all-zero
        (2, [0.9] + [0.4] * (dim - 1), 1),
        (3, [-0.9] + [0.4] * (dim - 1), 2),
    ]
    d = tempfile.mkdtemp(prefix="qzero_")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    ).write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    quant = {r["vec_id"]: r for r in embedding_quantize_int8(spark, d).collect()}
    assert list(quant[1]["q"]) == [0] * dim
    assert quant[1]["scale_nano"] == 10**9 and quant[1]["max_err_micro"] == 0
    assert max(abs(x) for x in quant[2]["q"]) == 127
    ranked = [r["vec_id"] for r in embedding_quantized_topk(spark, d).collect()]
    assert 1 not in ranked and ranked == [2, 3]


def test_embedding_neardup_incremental_oracle_replica(spark):
    """embedding_lsh_neardup_pairs_incremental is born pytest-oracled
    (rotation policy, __spark_entry__.py): same DuckDB engine, same SQL a
    driver oracle would run."""
    import duckdb

    from visiblev8_crawler_spark.plans.annops import _NEARDUP_INCR_ORACLE_SQL

    got = sorted(
        tuple(r)
        for r in QUERIES["embedding_lsh_neardup_pairs_incremental"]
        .spark(spark, SF_DIR)
        .collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(_NEARDUP_INCR_ORACLE_SQL).fetchall())
    assert len(got) > 0
    assert got == want


def test_embedding_neardup_incremental_equals_full_restricted(spark):
    """Contract: exactly the full-recompute pairs touching the delta
    (vec_b = max of pair, so vec_b >= cursor <=> at least one side is
    new) — no pair invented by the broadcast-probe plan, none lost."""
    full = QUERIES["embedding_lsh_neardup_pairs"].spark(spark, SF_DIR)
    emb = load(spark, SF_DIR, "embeddings")
    cursor = (emb.agg(F.max("vec_id")).collect()[0][0] + 1) * 8 // 10
    want = sorted(tuple(r) for r in full.filter(F.col("vec_b") >= cursor).collect())
    got = sorted(
        tuple(r)
        for r in QUERIES["embedding_lsh_neardup_pairs_incremental"]
        .spark(spark, SF_DIR)
        .collect()
    )
    assert got == want


def test_embedding_neardup_incremental_planted_delta_dup(spark):
    """Semantics on a planted world: a delta vector that duplicates an
    old-corpus vector must surface as (old_id, new_id) at cosine 1.0; a
    delta vector orthogonal/antipodal to everything must pair with
    nothing. Walsh-function rows are exactly orthogonal, so every
    non-planted cosine is 0 or -1 — far below tau=0.30."""
    import os
    import tempfile

    from visiblev8_crawler_spark.plans.annops import (
        _DIM,
        embedding_lsh_neardup_pairs_incremental,
    )

    def walsh(i):
        return [
            1.0 if bin(i & k).count("1") % 2 == 0 else -1.0 for k in range(_DIM)
        ]

    # 10 vectors, cursor = (9+1)*8//10 = 8 -> ids 8,9 are the delta
    rows = [(i, walsh(i), 0) for i in range(8)]
    rows.append((8, walsh(3), 0))                      # delta dup of old vec 3
    rows.append((9, [-x for x in walsh(3)], 0))        # antipodal to 3 and 8
    d = tempfile.mkdtemp(prefix="nbincr_")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    ).write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    pairs = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in embedding_lsh_neardup_pairs_incremental(spark, d).collect()
    }
    assert pairs == {(3, 8): 1.0}, pairs


def test_embedding_neardup_incremental_nan_band_axis(spark):
    """A NaN at a band axis takes Spark's sign rule on both sides of the
    incremental op: `element_at(v, ax) > 0` is true for NaN in Spark (NaN
    orders above every value), so the delta index and the corpus kernel
    must set that bit too, or the op drops the NaN rows' band-0 pairs that
    the full recompute (which keeps NaN cosines) emits. Rows 6 (corpus)
    and 8 (delta) carry the NaN; rows 7 and 9 share their band-0 signature
    only under Spark's rule."""
    import math
    import os
    import tempfile

    from visiblev8_crawler_spark.plans.annops import (
        _DIM,
        embedding_lsh_neardup_pairs_incremental,
    )

    def walsh(i):
        return [
            1.0 if bin(i & k).count("1") % 2 == 0 else -1.0 for k in range(_DIM)
        ]

    nan_row = [float("nan")] + [-1.0] * (_DIM - 1)
    band0_twin = [1.0] + [-1.0] * 5 + [1.0] * (_DIM - 6)
    # 10 vectors, cursor = (9+1)*8//10 = 8 -> ids 8,9 are the delta
    rows = [(i, walsh(i), 0) for i in range(6)]
    rows += [(6, nan_row, 0), (7, band0_twin, 0), (8, nan_row, 0), (9, band0_twin, 0)]
    d = tempfile.mkdtemp(prefix="nbnan_")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    ).write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))

    def pairs(df):  # NaN cosines cross the Arrow boundary as null
        return {
            (r["vec_a"], r["vec_b"]): None if c is None or math.isnan(c) else c
            for r in df.collect()
            for c in [r["cosine"]]
        }

    want = pairs(
        _banded_neardup_spark(spark, d, bands=8, r=6, tau=0.30).filter(
            F.col("vec_b") >= 8
        )
    )
    assert {(6, 9), (7, 8)} <= set(want), want  # band-0 collisions via NaN
    assert pairs(embedding_lsh_neardup_pairs_incremental(spark, d)) == want


def test_lsh_query_bucket_nan_axis(spark, tmp_path):
    """The query's bucket follows Spark's sign rule, like the corpus side:
    with NaN at axes 1, 8 and 22 the query (vec_id 0) lands in bucket 7
    (Spark's `NaN > 0` is true), so its exact copy (vec_id 1) must come back
    from the single-probe and the multiprobe query. Python's `NaN > 0` would
    probe bucket 0 (and its Hamming-1 neighbours), which misses it."""
    from visiblev8_crawler_spark.plans.annops import (
        _DIM,
        embedding_lsh_multiprobe_topk,
        embedding_lsh_topk,
    )

    query = [1.0] * _DIM
    for ax in (0, 7, 21):
        query[ax] = float("nan")
    rows = [(0, query, 0), (1, list(query), 1)]
    rows += [(i, [-1.0] * _DIM, 2) for i in range(2, 6)]  # bucket 0 decoys
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    for fn in (embedding_lsh_topk, embedding_lsh_multiprobe_topk):
        got = {r["vec_id"] for r in fn(spark, str(tmp_path)).collect()}
        assert got == {1}, (fn.__name__, got)


def test_knn_join_oracle_replica(spark):
    """embedding_knn_join parity: the DuckDB replica is the SAME LSH plan
    (generated from the same axis table, sequential-fold cosines), so the
    comparison is exact — rows, ranks, rounded cosines."""
    import duckdb

    from visiblev8_crawler_spark.plans.annops import _KNN_JOIN_ORACLE_SQL

    got = sorted(
        (r["vec_id"], r["neighbor"], r["rank"], r["cosine"])
        for r in QUERIES["embedding_knn_join"].spark(spark, SF_DIR).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'")
    want = sorted(tuple(r) for r in con.execute(_KNN_JOIN_ORACLE_SQL).fetchall())
    assert len(got) > 0
    assert got == want


def test_knn_join_recall_floor_and_coverage(spark):
    """Quality gate vs brute-force truth: measured mean recall@5 is 0.69
    on the fixture corpus (8 bands x 4 bits); floor at 0.55. Every vector
    must also get a full k list — at these bucket widths no query can be
    starved of candidates."""
    import numpy as np
    import pandas as pd

    from visiblev8_crawler_spark.plans.annops import _KNN_K

    rows = QUERIES["embedding_knn_join"].spark(spark, SF_DIR).collect()
    got = {}
    for r in rows:
        got.setdefault(r["vec_id"], set()).add(r["neighbor"])
    pdf = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = Xn @ Xn.T
    ids = pdf["vec_id"].to_numpy()
    recalls = []
    for qi, v in enumerate(ids):
        s = S[qi].copy()
        s[qi] = -2.0
        true = {int(ids[j]) for j in np.argsort(-s)[:_KNN_K]}
        recalls.append(len(got.get(int(v), set()) & true) / _KNN_K)
    assert len(got) == len(ids)  # full coverage
    assert all(len(v) == _KNN_K for v in got.values())
    assert float(np.mean(recalls)) >= 0.55, float(np.mean(recalls))


def test_knn_join_no_cartesian_windowed_per_query(spark):
    """Plan shape: candidates from the bucket self-join (never a
    CartesianProduct), per-query top-k as a PARTITIONED window."""
    df = QUERIES["embedding_knn_join"].spark(spark, SF_DIR)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in p, p
    # the row_number Window node's PARTITION spec (second bracket group)
    # must be qid — an empty spec is the global single-partition sort this
    # test exists to forbid
    win_lines = [ln for ln in p.splitlines() if "Window" in ln and "row_number" in ln]
    assert win_lines, p
    spec = win_lines[0].split("], [", 2)
    assert len(spec) >= 3 and "qid#" in spec[1], win_lines[0]
