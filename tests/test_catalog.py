"""ParquetCatalog atomicity/isolation semantics (catalog.py) — the
properties the scheduler's exactly-once resume stands on (analog of the
reference's per-URL progress pickle + '.completed' rename,
url_sender.py:146-200, 293-296)."""

import json
import os

from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from visiblev8_crawler_spark.catalog import ParquetCatalog

T = StructType([StructField("k", StringType()), StructField("v", IntegerType())])


def _rows(cat):
    return {(r["k"], r["v"]) for r in cat.read("t").collect()}


def test_snapshot_isolation_uncommitted_invisible(spark, tmp_path_factory):
    """Data files written without a manifest swap (a crash between write and
    commit) must be invisible to readers and harmless on re-run."""
    root = str(tmp_path_factory.mktemp("cat_iso"))
    cat = ParquetCatalog(spark, root, {"t": T})
    cat.commit("w0", appends={"t": spark.createDataFrame([("a", 1)], T)})
    assert _rows(cat) == {("a", 1)}

    # simulate the crash: files land on disk, manifest never swaps
    cat._write("t", spark.createDataFrame([("GHOST", 99)], T), "w1")
    assert _rows(cat) == {("a", 1)}, "uncommitted files leaked into a read"

    # the re-run writes the same deterministic path and commits; the orphan
    # is overwritten, the new snapshot is exactly the intended one
    cat.commit("w1", appends={"t": spark.createDataFrame([("b", 2)], T)}, watermark=1)
    assert _rows(cat) == {("a", 1), ("b", 2)}
    assert cat.watermark() == 1


def test_manifest_swap_is_atomic_unit(spark, tmp_path_factory):
    """A multi-table commit publishes all tables in one swap: the manifest on
    disk never names a path that does not exist and fully describes every
    committed table."""
    root = str(tmp_path_factory.mktemp("cat_multi"))
    cat = ParquetCatalog(spark, root, {"t": T, "u": T})
    cat.commit(
        "w0",
        appends={"t": spark.createDataFrame([("a", 1)], T)},
        replaces={"u": spark.createDataFrame([("x", 9)], T)},
        watermark=0,
        prepared=True,
    )
    with open(os.path.join(root, "_manifest.json")) as f:
        m = json.load(f)
    assert set(m["tables"]) == {"t", "u"}
    for paths in m["tables"].values():
        for p in paths:
            assert os.path.isdir(p), p
    assert m["watermark"] == 0 and m["prepared"] is True
    assert {(r["k"], r["v"]) for r in cat.read("u").collect()} == {("x", 9)}


def test_compaction_multiple_cycles(spark, tmp_path_factory):
    """Periodic compaction at a fixed threshold must not reuse a tag across
    cycles (round-1 bug: 'compact-{file_sets}' collided, overwriting the
    path the lazy snapshot was reading). Three full append->compact cycles,
    contents exact after each."""
    root = str(tmp_path_factory.mktemp("cat_compact"))
    cat = ParquetCatalog(spark, root, {"t": T})
    want = set()
    for cycle in range(3):
        for i in range(2):  # two appends -> file_sets hits the threshold
            row = (f"c{cycle}", i)
            cat.commit(f"a{cycle}-{i}", appends={"t": spark.createDataFrame([row], T)})
            want.add(row)
        assert cat.compact("t", min_file_sets=2) is True
        assert cat.file_sets("t") == 1
        assert _rows(cat) == want, f"cycle {cycle} lost rows"
    # tags were unique: three distinct compact paths existed over time
    assert cat.commit_seq() == 9  # 6 appends + 3 compactions


def test_append_tag_collision_raises_without_clobber(spark, tmp_path_factory):
    """ADVICE r2: an append whose tag collides with a published path must
    raise BEFORE any write — the published data stays byte-intact and the
    manifest unchanged (the old code overwrote the files and hid it behind
    a manifest dedup)."""
    import pytest

    root = str(tmp_path_factory.mktemp("cat_coll"))
    cat = ParquetCatalog(spark, root, {"t": T, "u": T})
    cat.commit("w0", appends={"t": spark.createDataFrame([("a", 1)], T)})
    with pytest.raises(ValueError, match="reuses published path"):
        cat.commit("w0", appends={"t": spark.createDataFrame([("EVIL", 666)], T)})
    assert _rows(cat) == {("a", 1)}, "collision overwrote published data"
    assert cat.file_sets("t") == 1

    # validation is all-or-nothing: a commit whose SECOND table collides
    # must not have written its first table either
    with pytest.raises(ValueError, match="reuses published path"):
        cat.commit(
            "w0",
            appends={
                "u": spark.createDataFrame([("x", 7)], T),
                "t": spark.createDataFrame([("EVIL", 666)], T),
            },
        )
    assert cat.read("u").count() == 0
    assert _rows(cat) == {("a", 1)}


def test_write_unpublished_refuses_published_path(spark, tmp_path_factory):
    """write_unpublished happens before the commit lock, so the clobber
    check must fire at write time, not only at commit time."""
    import pytest

    root = str(tmp_path_factory.mktemp("cat_unpub"))
    cat = ParquetCatalog(spark, root, {"t": T})
    cat.commit("w0", appends={"t": spark.createDataFrame([("a", 1)], T)})
    with pytest.raises(ValueError, match="already-published"):
        cat.write_unpublished("t", spark.createDataFrame([("EVIL", 666)], T), "w0")
    assert _rows(cat) == {("a", 1)}


def test_derived_tags_never_collide(spark, tmp_path_factory):
    """tag=None derives the tag from the commit counter inside the lock —
    repeated anonymous commits always publish distinct paths."""
    root = str(tmp_path_factory.mktemp("cat_anon"))
    cat = ParquetCatalog(spark, root, {"t": T})
    for i in range(3):
        cat.commit(None, appends={"t": spark.createDataFrame([("n", i)], T)})
    assert cat.file_sets("t") == 3
    assert _rows(cat) == {("n", 0), ("n", 1), ("n", 2)}


def test_concurrent_commits_serialize(spark, tmp_path_factory):
    """Two committers racing (the ingest-stream-next-to-wave-loop shape):
    every file set survives — the flock serializes the manifest
    read-modify-write, so no commit can publish over a stale manifest."""
    import threading

    root = str(tmp_path_factory.mktemp("cat_race"))
    cat = ParquetCatalog(spark, root, {"t": T})
    errs = []

    def committer(tag_prefix, lo, hi):
        try:
            c = ParquetCatalog(spark, root, {"t": T})  # separate instance, same root
            for i in range(lo, hi):
                c.commit(f"{tag_prefix}-{i}", appends={"t": spark.createDataFrame([(tag_prefix, i)], T)})
        except Exception as e:  # pragma: no cover
            errs.append(e)

    a = threading.Thread(target=committer, args=("wave", 0, 5))
    b = threading.Thread(target=committer, args=("ingest", 100, 105))
    a.start(); b.start(); a.join(); b.join()
    assert not errs
    assert _rows(cat) == {("wave", i) for i in range(5)} | {("ingest", i) for i in range(100, 105)}
    assert cat.file_sets("t") == 10, "a racing commit lost a manifest swap"


def test_stale_replace_aborts_with_catalog_untouched(spark, tmp_path_factory):
    """ADVICE r3 (high): compact()'s snapshot is taken before the commit
    flock, so an append landing in between (add_seeds against a live
    campaign) used to be silently dropped by the blind replace. The
    expect_replaced guard must abort the replace inside the critical
    section, leaving every published set — including the interleaved
    append — in the manifest."""
    import pytest

    from visiblev8_crawler_spark.catalog import ConcurrentReplaceError

    root = str(tmp_path_factory.mktemp("cat_stale"))
    cat = ParquetCatalog(spark, root, {"t": T})
    cat.commit("w0", appends={"t": spark.createDataFrame([("a", 1)], T)})
    cat.commit("w1", appends={"t": spark.createDataFrame([("b", 2)], T)})

    # compact's view of the world...
    expected = list(json.load(open(os.path.join(root, "_manifest.json")))["tables"]["t"])
    snapshot = cat.read("t")
    # ...then a concurrent ingest append lands before the replace commits
    cat.commit("ingest-7", appends={"t": spark.createDataFrame([("c", 3)], T)})

    with pytest.raises(ConcurrentReplaceError, match="re-read and retry"):
        cat.commit(None, replaces={"t": snapshot}, expect_replaced={"t": expected})
    assert _rows(cat) == {("a", 1), ("b", 2), ("c", 3)}, "interleaved append lost"
    assert cat.file_sets("t") == 3


def test_compact_serializes_with_ingest_writer(spark, tmp_path_factory):
    """compact() itself must be safe against the add_seeds interleave: it
    now snapshots AND commits under the catalog writer lock (the lock
    add_seeds holds for its whole transaction). A competing writer-lock
    holder appending between compact cycles never loses rows."""
    import threading

    root = str(tmp_path_factory.mktemp("cat_cw"))
    cat = ParquetCatalog(spark, root, {"t": T})
    want, errs = set(), []
    for i in range(2):
        cat.commit(f"a{i}", appends={"t": spark.createDataFrame([("base", i)], T)})
        want.add(("base", i))

    def ingester():
        try:
            c = ParquetCatalog(spark, root, {"t": T})
            for i in range(4):
                with c.writer_lock():  # the add_seeds discipline
                    c.commit(None, appends={"t": spark.createDataFrame([("ing", i)], T)})
        except Exception as e:  # pragma: no cover
            errs.append(e)

    th = threading.Thread(target=ingester)
    th.start()
    for _ in range(3):
        cat.compact("t", min_file_sets=1)
    th.join()
    assert not errs
    assert _rows(cat) == want | {("ing", i) for i in range(4)}, "compact dropped an ingest append"


def test_time_travel_read_at(spark, tmp_path_factory):
    """Every commit keeps its manifest as a snapshot: read_at(seq) returns
    the table exactly as that commit published it, even after later
    appends AND after a compaction rewrote the current path list."""
    root = str(tmp_path_factory.mktemp("cat_tt"))
    cat = ParquetCatalog(spark, root, {"t": T})
    cat.commit("w0", appends={"t": spark.createDataFrame([("a", 1)], T)})
    s1 = cat.commit_seq()
    cat.commit("w1", appends={"t": spark.createDataFrame([("b", 2)], T)})
    s2 = cat.commit_seq()
    assert cat.compact("t", min_file_sets=2)

    assert cat.snapshots() == [s1, s2, cat.commit_seq()]
    assert {(r["k"], r["v"]) for r in cat.read_at("t", s1).collect()} == {("a", 1)}
    assert {(r["k"], r["v"]) for r in cat.read_at("t", s2).collect()} == {("a", 1), ("b", 2)}
    assert _rows(cat) == {("a", 1), ("b", 2)}


def test_expire_snapshots_deletes_only_stranded_sets(spark, tmp_path_factory):
    """expire_snapshots removes data paths referenced ONLY by expired
    snapshots (the sets a compaction superseded) — never paths the current
    manifest or kept snapshots still reference, and never an in-flight
    unpublished write (it appears in no snapshot)."""
    import pytest

    root = str(tmp_path_factory.mktemp("cat_exp"))
    cat = ParquetCatalog(spark, root, {"t": T})
    cat.commit("w0", appends={"t": spark.createDataFrame([("a", 1)], T)})
    cat.commit("w1", appends={"t": spark.createDataFrame([("b", 2)], T)})
    old_paths = list(json.load(open(os.path.join(root, "_manifest.json")))["tables"]["t"])
    assert cat.compact("t", min_file_sets=2)
    # an in-flight wave write, not yet committed
    inflight = cat.write_unpublished("t", spark.createDataFrame([("c", 3)], T), "w9")

    res = cat.expire_snapshots(keep_last=1)
    assert res["deleted_snapshots"] >= 2
    assert res["deleted_paths"] == 2, res
    for p in old_paths:
        assert not os.path.exists(p), f"kept-by-nothing path survived: {p}"
    assert os.path.isdir(inflight), "expiry deleted an in-flight unpublished set"
    assert _rows(cat) == {("a", 1), ("b", 2)}  # current read intact
    with pytest.raises(KeyError, match="expired"):
        cat.read_at("t", 1)
    # the in-flight set still commits fine afterwards
    cat.commit("w9", prewritten={"t": inflight})
    assert _rows(cat) == {("a", 1), ("b", 2), ("c", 3)}


def test_campaign_disk_stays_bounded_with_expiry(spark, world, tmp_path_factory):
    """End-to-end: a campaign with frequent compaction + expiry keeps the
    fetches data directory bounded instead of stranding one superseded
    generation per rewrite."""
    from visiblev8_crawler_spark.streaming import scheduler
    from visiblev8_crawler_spark.streaming.scheduler import CrawlConfig

    root = str(tmp_path_factory.mktemp("cat_exp_e2e"))
    frontier = spark.read.parquet(world["paths"]["frontier"])
    robots = spark.read.parquet(world["paths"]["robots"])
    images = spark.read.parquet(world["paths"]["images"])
    cat = scheduler.run_campaign(
        spark, root, frontier, robots, images,
        # min_age 0: this test asserts the tight disk bound itself; the
        # production default (300 s) would keep young snapshots alive for
        # the whole sub-minute campaign and mask the mechanics under test
        CrawlConfig(batch_size=150, compact_every=2, expire_keep_snapshots=2,
                    expire_min_age_s=0.0),
    )
    assert scheduler.pending_df(cat).count() == 0
    fetch_sets = os.listdir(os.path.join(root, "data", "fetches"))
    # without expiry this grows ~linearly in waves (one stranded set per
    # compaction cycle); with it only the live set + at most the last
    # couple of uncompacted waves remain
    assert len(fetch_sets) <= 4, sorted(fetch_sets)
    assert len(cat.snapshots()) <= 4


def test_read_since_incremental_scan(spark, tmp_path_factory):
    """read_since(seq) reads exactly the file sets committed after the
    cursor snapshot — the poll shape for downstream consumers (C10
    incremental ingest analog): three commits, cursor after the first,
    delta contains only the later two; a fresh cursor yields empty."""
    root = str(tmp_path_factory.mktemp("cat_inc"))
    cat = ParquetCatalog(spark, root, {"t": T})
    cat.commit("w0", appends={"t": spark.createDataFrame([("a", 1)], T)})
    cursor = cat.commit_seq()
    cat.commit("w1", appends={"t": spark.createDataFrame([("b", 2)], T)})
    cat.commit("w2", appends={"t": spark.createDataFrame([("c", 3)], T)})

    delta = {(r["k"], r["v"]) for r in cat.read_since("t", cursor).collect()}
    assert delta == {("b", 2), ("c", 3)}
    assert cat.read_since("t", cat.commit_seq()).count() == 0
    # seq=0 (pre-history cursor) -> everything
    assert {(r["k"], r["v"]) for r in cat.read_since("t", 0).collect()} == {
        ("a", 1), ("b", 2), ("c", 3),
    }


def test_read_since_raises_across_compaction_epoch(spark, tmp_path_factory):
    """An incremental cursor taken before a compaction must NOT silently
    re-read the whole table (the rewritten set holds all rows): read_since
    raises RebaselineRequired, and a fresh full-read + new cursor resumes
    exactly-once polling — the resend-loop analog driven across a compaction
    without double-processing."""
    import pytest

    from visiblev8_crawler_spark.catalog import RebaselineRequired

    root = str(tmp_path_factory.mktemp("cat_epoch"))
    cat = ParquetCatalog(spark, root, {"t": T})
    cat.commit("w0", appends={"t": spark.createDataFrame([("a", 1)], T)})
    cursor = cat.commit_seq()
    cat.commit("w1", appends={"t": spark.createDataFrame([("b", 2)], T)})
    assert cat.replace_epoch("t") == 0
    assert cat.compact("t", min_file_sets=2)
    assert cat.replace_epoch("t") == 1

    with pytest.raises(RebaselineRequired, match="re-baseline|Re-baseline"):
        cat.read_since("t", cursor)

    # the documented recovery: full read once, poll from a fresh cursor
    assert _rows(cat) == {("a", 1), ("b", 2)}
    cursor = cat.commit_seq()
    cat.commit("w2", appends={"t": spark.createDataFrame([("c", 3)], T)})
    delta = {(r["k"], r["v"]) for r in cat.read_since("t", cursor).collect()}
    assert delta == {("c", 3)}, "post-rebaseline polling must be delta-only again"


def test_compact_retries_past_concurrent_append(spark, tmp_path_factory):
    """A lock-free appender landing between compact()'s snapshot and its
    manifest swap aborts the rewrite (expect_replaced); compact must
    re-snapshot and retry instead of propagating, and the retried rewrite
    must contain the racer's rows."""
    root = str(tmp_path_factory.mktemp("cat_retry"))
    cat = ParquetCatalog(spark, root, {"t": T})
    cat.commit("w0", appends={"t": spark.createDataFrame([("a", 1)], T)})
    cat.commit("w1", appends={"t": spark.createDataFrame([("b", 2)], T)})

    orig = cat.commit
    fired = []

    def racing(tag, **kw):
        # first replace attempt: inject a plain append (no writer_lock — the
        # foreachBatch-ingest shape) before the commit-critical section runs
        if kw.get("expect_replaced") and not fired:
            fired.append(1)
            orig("race", appends={"t": spark.createDataFrame([("c", 3)], T)})
        return orig(tag, **kw)

    cat.commit = racing
    try:
        assert cat.compact("t", min_file_sets=2)
    finally:
        cat.commit = orig
    assert fired, "the race never fired; the test proved nothing"
    assert _rows(cat) == {("a", 1), ("b", 2), ("c", 3)}
    assert cat.file_sets("t") == 1, "retried compaction should leave one folded set"


def test_expire_snapshots_age_floor(spark, tmp_path_factory):
    """min_age_s is the reader-lease approximation: young snapshots (and
    their data) survive expiry even past keep_last, so a reader that
    re-baselines within the window can never have files deleted under a
    lazy scan."""
    root = str(tmp_path_factory.mktemp("cat_age"))
    cat = ParquetCatalog(spark, root, {"t": T})
    cat.commit("w0", appends={"t": spark.createDataFrame([("a", 1)], T)})
    cat.commit("w1", appends={"t": spark.createDataFrame([("b", 2)], T)})
    assert cat.compact("t", min_file_sets=2)

    res = cat.expire_snapshots(keep_last=1, min_age_s=3600)
    assert res == {"deleted_paths": 0, "deleted_snapshots": 0}
    assert len(cat.snapshots()) == 3

    res = cat.expire_snapshots(keep_last=1, min_age_s=0)
    assert res["deleted_snapshots"] == 2
    assert _rows(cat) == {("a", 1), ("b", 2)}


def test_poll_loop_exactly_once_across_compaction(spark, tmp_path_factory):
    """poll() drives the incremental consumer loop exactly-once through a
    compaction: steady-state polls see only new rows; the poll that crosses
    the replace epoch returns the FULL table with rebaselined=True (the
    consumer's reset signal); polling resumes delta-only afterwards."""
    root = str(tmp_path_factory.mktemp("cat_poll"))
    cat = ParquetCatalog(spark, root, {"t": T})

    seen, cursor = set(), None

    def step():
        nonlocal cursor, seen
        delta, cursor, rebaselined = cat.poll("t", cursor)
        rows = {(r["k"], r["v"]) for r in delta.collect()}
        if rebaselined:
            seen = set()  # reset derived state, then re-consume
        assert not (rows & seen), f"double-delivered rows: {rows & seen}"
        seen |= rows
        return rows, rebaselined

    # empty catalog: empty delta, cursor stays at pre-history
    rows, reb = step()
    assert rows == set() and not reb and cursor == 0

    cat.commit("w0", appends={"t": spark.createDataFrame([("a", 1)], T)})
    rows, reb = step()
    assert rows == {("a", 1)} and not reb

    cat.commit("w1", appends={"t": spark.createDataFrame([("b", 2)], T)})
    rows, reb = step()
    assert rows == {("b", 2)} and not reb, "steady state must be delta-only"

    assert cat.compact("t", min_file_sets=2)
    cat.commit("w2", appends={"t": spark.createDataFrame([("c", 3)], T)})
    rows, reb = step()
    assert reb, "the poll crossing the compaction epoch must flag rebaseline"
    assert rows == {("a", 1), ("b", 2), ("c", 3)}, "rebaseline delivers the full table"

    cat.commit("w3", appends={"t": spark.createDataFrame([("d", 4)], T)})
    rows, reb = step()
    assert rows == {("d", 4)} and not reb, "post-rebaseline polling is delta-only again"
    assert seen == {("a", 1), ("b", 2), ("c", 3), ("d", 4)}


def test_poll_fuzz_random_append_compact_sequences(spark, tmp_path_factory):
    """Seeded fuzz of the consumer loop: 60 random operations (append /
    compact / expire / poll) against one catalog; after EVERY poll the
    consumer's accumulated state — reset on rebaseline, then re-filled from
    the delivered full table — must equal the live ledger exactly. Covers
    the orderings the scripted tests don't: consecutive compactions between
    polls, a poll straight after rebaseline, empty appends, expiry racing
    the cursor snapshot."""
    import random

    rng = random.Random(0xC0FFEE)
    root = str(tmp_path_factory.mktemp("cat_fuzz"))
    cat = ParquetCatalog(spark, root, {"t": T})

    consumed: set = set()
    cursor = None
    next_row = 0

    def poll():
        nonlocal cursor, consumed
        delta, cursor, rebaselined = cat.poll("t", cursor)
        rows = {(r["k"], r["v"]) for r in delta.collect()}
        if rebaselined:
            consumed = set()
        assert not (rows & consumed), f"double delivery: {rows & consumed}"
        consumed |= rows
        assert consumed == _rows(cat), (
            f"consumer state diverged from ledger after poll: "
            f"{consumed ^ _rows(cat)}"
        )

    for _ in range(60):
        op = rng.choice(["append", "append", "append", "compact", "expire", "poll", "poll"])
        if op == "append":
            n = rng.randint(0, 2)
            rows = [(f"k{next_row + i}", next_row + i) for i in range(n)]
            next_row += n
            if rows:
                cat.commit(None, appends={"t": spark.createDataFrame(rows, T)})
        elif op == "compact":
            cat.compact("t", min_file_sets=2)
        elif op == "expire":
            # keep_last must retain the cursor's snapshot, or the poll that
            # follows legitimately KeyErrors — model the operational rule
            # (expiry horizon > poll cadence) by keeping plenty
            cat.expire_snapshots(keep_last=64)
        else:
            poll()
    poll()  # final drain: consumer must end exactly equal to the ledger
    assert consumed == _rows(cat)


def test_poll_expired_cursor_rebaselines(spark, tmp_path_factory):
    """A consumer that was down longer than the expiry horizon comes back
    with a cursor whose snapshot no longer exists: poll() must return the
    full table with rebaselined=True (the same recovery as an epoch
    crossing), not crash-loop on the dead cursor."""
    root = str(tmp_path_factory.mktemp("cat_expired_cursor"))
    cat = ParquetCatalog(spark, root, {"t": T})
    cat.commit("w0", appends={"t": spark.createDataFrame([("a", 1)], T)})
    _, cursor, _ = cat.poll("t", None)
    cat.commit("w1", appends={"t": spark.createDataFrame([("b", 2)], T)})
    cat.commit("w2", appends={"t": spark.createDataFrame([("c", 3)], T)})
    cat.expire_snapshots(keep_last=1, min_age_s=0)
    assert cursor not in cat.snapshots(), "precondition: the cursor must be dead"

    delta, next_cursor, rebaselined = cat.poll("t", cursor)
    assert rebaselined
    assert {(r["k"], r["v"]) for r in delta.collect()} == {("a", 1), ("b", 2), ("c", 3)}
    # and the loop continues delta-only from the fresh cursor
    cat.commit("w3", appends={"t": spark.createDataFrame([("d", 4)], T)})
    delta, _, rebaselined = cat.poll("t", next_cursor)
    assert not rebaselined
    assert {(r["k"], r["v"]) for r in delta.collect()} == {("d", 4)}


def test_empty_table_reads_are_empty_local_relations(spark, tmp_path_factory):
    """Every read of a table with no file sets is an empty LocalRelation
    with the table's schema (nullability included), so Catalyst folds
    joins and unions over it away (PropagateEmptyRelation) instead of
    planning exchanges over an RDD scan it cannot see into. ``read_since``
    and ``poll`` reach that case through an empty delta."""
    E = StructType([StructField("k", StringType(), False), StructField("v", IntegerType())])
    root = str(tmp_path_factory.mktemp("cat_empty"))
    cat = ParquetCatalog(spark, root, {"t": T, "e": E})
    first_poll = cat.poll("e", None)  # before any commit
    cat.commit("w0", appends={"t": spark.createDataFrame([("a", 1)], T)})
    seq = cat.commit_seq()
    reads = {
        "read": ("e", cat.read("e")),
        "read_at": ("e", cat.read_at("e", seq)),
        "read_since": ("t", cat.read_since("t", seq)),
        "poll before any commit": ("e", first_poll[0]),
        "poll": ("t", cat.poll("t", seq)[0]),
    }
    for how, (name, df) in reads.items():
        plan = df._jdf.queryExecution().analyzed()
        assert plan.getClass().getSimpleName() == "LocalRelation", (how, plan.toString())
        assert plan.data().isEmpty(), how
        assert df.schema == cat.schemas[name], how
