"""Physical-plan regression guards (PLANS.md made executable): the plan
properties the engine's 100 TB story depends on must survive refactors —
a wrong-but-green plan (extra exchange, lost broadcast, unpushed filter)
is exactly the regression correctness tests cannot catch."""

import pyspark.sql.functions as F

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ivf_assignment_no_shuffle(spark):
    """PLANS.md §5: centroid assignment is a map-only argmax — zero
    Exchange and zero Window nodes before the top-k."""
    df = entry_mod.queries()["embedding_ivf_topk"](spark, SF_DIR)
    p = _plan(df)
    assert p.count("Exchange") == 0, p
    assert p.count("Window") == 0, p
    assert "TakeOrderedAndProject" in p


def test_topk_plans_as_take_ordered(spark):
    """T1-T3: ORDER BY .. LIMIT k must plan as distributed top-k, not a
    full sort."""
    p = _plan(entry_mod.queries()["top_k_orders"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p.replace("TakeOrdered", ""), p


def test_star_join_broadcasts_dimensions(spark):
    """PLANS.md §3: the dimension joins broadcast (no SortMergeJoin), and
    the lineitem scan prunes to the 3 needed columns."""
    p = _plan(entry_mod.queries()["star_join_revenue"](spark, SF_DIR))
    assert p.count("BroadcastHashJoin") >= 4, p
    assert "SortMergeJoin" not in p, p
    import re

    m = re.search(r"ReadSchema: struct<(l_[^>]*)>", p)
    assert m, "no lineitem ReadSchema found"
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_extendedprice", "l_discount"}, cols


def test_filters_push_to_scan(spark):
    """F8/F9/F11: the BETWEEN / IN / IS NOT NULL predicates reach the
    parquet scan as PushedFilters."""
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        p = _plan(entry_mod.queries()["between_in_filters"](spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    assert "PushedFilters" in p
    pushed = p.split("PushedFilters:")[1].splitlines()[0]
    for frag in ("GreaterThanOrEqual(o_totalprice,1000", "In(o_orderpriority",
                 "IsNotNull(o_orderstatus)"):
        assert frag in pushed, (frag, pushed)


def test_fetch_join_is_broadcast_only(spark, tmp_path_factory):
    """operators/fetch.py: the wave⋈images join must stay broadcast on the
    wave side (semi-prune + broadcast-back) — a SortMergeJoin here would
    shuffle image bytes."""
    from visiblev8_crawler_spark.operators.fetch import fetch_verify
    from visiblev8_crawler_spark.sources import synth

    images = synth.generate_images_spark(spark, 50, 4)
    wave = spark.createDataFrame(
        [(f"https://h{i}.example/img/img_{i:012d}", f"img_{i:012d}", f"h{i}.example",
          0, i + 1, i % 3, 0, i + 1, "t", None, None)
         for i in range(20)],
        "canon_url string, image_id string, host string, wave_id int, "
        "order_in_wave int, attempt int, priority int, seq long, "
        "task_id string, actions string, crawler_args array<string>",
    )
    p = _plan(fetch_verify(wave, images))
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p, p


def test_tfidf_df_join_not_forced_broadcast(spark):
    """VERDICT r2 #1: the tok-frequency (df) dimension is the corpus
    vocabulary — unbounded at web scale — so its join must NOT carry a
    broadcast hint. With the auto-broadcast threshold disabled, a hinted
    join would still plan as BroadcastHashJoin; an unhinted one degrades
    to SortMergeJoin. The only broadcast allowed is the 1-row n_sources
    aggregate (BroadcastNestedLoopJoin)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = _plan(entry_mod.queries()["tfidf_top_terms"](spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" not in p, p
    assert "SortMergeJoin" in p, p


def test_select_wave_with_host_state_adds_no_exchange(spark, world):
    """Round 3: joining the driver-computed budget dimension must add at
    most ONE broadcast hash join to the selection plan — never an extra
    pending-sized exchange (the budget frame is an Arrow LocalRelation)."""
    from visiblev8_crawler_spark import schemas
    from visiblev8_crawler_spark.operators.dedup import prepare_frontier
    from visiblev8_crawler_spark.operators.waves import robots_dim, salt_col, select_wave
    from visiblev8_crawler_spark.streaming.scheduler import CrawlConfig, _HostState

    frontier = spark.read.parquet(world["paths"]["frontier"])
    robots = spark.read.parquet(world["paths"]["robots"])
    prepared = prepare_frontier(frontier, robots).filter(F.col("reason").isNull())
    pending = schemas.conform(
        prepared.withColumn("salt", salt_col(F.col("canon_url"), 8)), schemas.PENDING
    ).localCheckpoint(eager=True)
    # a demoted host: its budget always differs from the robots default
    hs = _HostState(
        [{"host": "host0.site0.example", "credit": 3.5, "last_wave": 2, "ok": 1,
          "failed": 10}],
        robots_dim(robots).collect(), CrawlConfig(),
    )
    budgets = hs.budget_df(spark, 3)
    assert budgets is not None
    p = _plan(select_wave(pending, robots, 3, 150, budgets=budgets))
    hash_exchanges = p.count("Exchange hashpartitioning")
    assert hash_exchanges <= 2, f"{hash_exchanges} hash exchanges:\n{p}"
    assert p.count("BroadcastHashJoin") == 2, p  # robots + budgets, both broadcast
    assert "SortMergeJoin" not in p, p


def test_select_wave_single_pending_exchange(spark, world):
    """PLANS.md §1: phase 1 is the only pending-sized exchange; with no
    driver budgets (no host delay-bound or demoted) the only join is the
    broadcast robots dimension."""
    from visiblev8_crawler_spark import schemas
    from visiblev8_crawler_spark.operators.dedup import prepare_frontier
    from visiblev8_crawler_spark.operators.waves import salt_col, select_wave

    frontier = spark.read.parquet(world["paths"]["frontier"])
    robots = spark.read.parquet(world["paths"]["robots"])
    prepared = prepare_frontier(frontier, robots).filter(F.col("reason").isNull())
    pending = schemas.conform(
        prepared.withColumn("salt", salt_col(F.col("canon_url"), 8)), schemas.PENDING
    ).localCheckpoint(eager=True)
    p = _plan(select_wave(pending, robots, 0, 150, budgets=None))
    # exchanges: phase-1 (host,salt) hash + phase-2 host hash + the final
    # single-partition window for order_in_wave; anything more is a leak
    hash_exchanges = p.count("Exchange hashpartitioning")
    assert hash_exchanges <= 2, f"{hash_exchanges} hash exchanges:\n{p}"
    assert p.count("BroadcastHashJoin") == 1, "robots budget join must broadcast"
    assert "SortMergeJoin" not in p, p


def test_balanced_sample_salted_two_phase(spark):
    """VERDICT r3 #2: the per-source sample window must be the two-phase
    salted construction — phase 1 partitions on (source, salt) so a hot
    source never funnels through one window partition; phase 2's exact
    per-source window only sees <= S*K survivors."""
    p = _plan(entry_mod.queries()["balanced_sample_docs"](spark, SF_DIR))
    import re

    # two window operators, the first partitioned by (source, _salt)
    assert re.search(r"hashpartitioning\(source[^)]*_salt", p), p
    assert p.count("Window") >= 2, p


def test_gopher_repetition_map_only(spark):
    """doc_gopher_repetition's 100 TB story is that it is embarrassingly
    parallel: one parquet scan, all fractions computed as JVM higher-order
    functions in the projection — zero DATA-KEYED exchanges, zero Window,
    zero Aggregate nodes. Round 6: a single round-robin scan-fanout
    exchange is allowed (queries.fanout — the fixture file is one row
    group, which serialized the whole projection into one task); any
    hash/range partitioning would mean a real shuffle crept in and still
    fails."""
    p = _plan(entry_mod.queries()["doc_gopher_repetition"](spark, SF_DIR))
    assert p.count("Exchange") <= 1, p
    assert "hashpartitioning" not in p and "rangepartitioning" not in p, p
    assert p.count("Window") == 0, p
    assert "Aggregate" not in p, p
    assert p.count("Scan parquet") == 1, p


def test_incremental_dedup_broadcasts_delta_only(spark):
    """PLANS.md §13: the incremental dedup ops never reshuffle the
    corpus; only the delta (bucket entries / vectors) is broadcast.
    minhash_lsh_pairs_incremental probes the corpus index with the two
    hinted delta-broadcast joins (index-probe + delta self-join). With
    the auto-broadcast threshold disabled, any surviving
    BroadcastHashJoin is a hint, so the count pins the shape: exactly
    the 2 delta broadcasts; the unhinted joins may shuffle, but no
    nested-loop or cartesian fallback is tolerated.

    Round 6: embedding_lsh_neardup_pairs_incremental went one further —
    the delta bucket index rides a PYTHON broadcast into a single
    map-only corpus pass that recomputes band signatures in-kernel, so
    its plan has ZERO joins and zero data-keyed exchanges (only the
    conditional scan-fanout round-robin is allowed), which this lock now
    pins instead."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = _plan(
            entry_mod.queries()["minhash_lsh_pairs_incremental"](spark, SF_DIR)
        )
        assert p.count("BroadcastHashJoin") == 2, p
        assert "BroadcastNestedLoopJoin" not in p, p
        assert "CartesianProduct" not in p, p
        p = _plan(
            entry_mod.queries()["embedding_lsh_neardup_pairs_incremental"](
                spark, SF_DIR
            )
        )
        assert "Join" not in p, p
        assert "hashpartitioning" not in p and "rangepartitioning" not in p, p
        assert "Aggregate" not in p and "Window" not in p, p
        assert "MapInPandas" in p, p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_pack_sequences_no_single_partition_window(spark):
    """PLANS.md §15: doc_pack_sequences must never plan the global cumsum
    as a single-partition window — the distributed prefix-sum shape is
    range partitioning + mapInPandas, zero Window nodes, zero
    SinglePartition exchanges."""
    p = _plan(entry_mod.queries()["doc_pack_sequences"](spark, SF_DIR))
    assert "Window" not in p, p
    assert "SinglePartition" not in p, p
    assert "MapInPandas" in p, p


def test_chunk_overlap_map_only(spark):
    """doc_chunk_overlap's 100 TB story: sequence+posexplode+slice inside
    one projection — zero Exchange, zero Window, zero Aggregate — and the
    scan prunes to (doc_id, text)."""
    p = _plan(entry_mod.queries()["doc_chunk_overlap"](spark, SF_DIR))
    assert p.count("Exchange") == 0, p
    assert p.count("Window") == 0, p
    assert "Aggregate" not in p, p
    assert "lang" not in p and "n_chars" not in p, p


def test_heavy_tokens_candidate_join_broadcast(spark):
    """doc_heavy_tokens_topk's 100 TB story: the exact recount must key on
    the pruned candidate set behind a broadcast left-semi filter (never a
    vocabulary-sized SortMergeJoin), and the top-k must plan distributed."""
    p = _plan(entry_mod.queries()["doc_heavy_tokens_topk"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p and "LeftSemi" in p, p
    assert "SortMergeJoin" not in p, p
    assert "TakeOrderedAndProject" in p, p


def test_pca_projection_map_only(spark):
    """embedding_pca_project's 100 TB story: training collects per-batch
    sufficient statistics (no shuffle), and the projection inlines the
    components as literals — the projection plan must be zero-Exchange."""
    p = _plan(entry_mod.queries()["embedding_pca_project"](spark, SF_DIR))
    assert p.count("Exchange") == 0, p
    assert "Window" not in p, p


def test_mix_sample_weight_dim_broadcast(spark):
    """corpus_mix_sample's 100 TB story: the S-row weight dimension rides
    a broadcast onto the corpus scan — the apply side is map-only behind
    one BroadcastHashJoin, never a corpus-sized SortMergeJoin."""
    p = _plan(entry_mod.queries()["corpus_mix_sample"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
