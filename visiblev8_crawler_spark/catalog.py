"""ParquetCatalog — an Iceberg-style table catalog over parquet directories.

The north_rule asks for Iceberg tables with atomic per-wave commits and
checkpoint resume. This sandbox's Spark has no Iceberg runtime jar
(SURVEY.md risk R1), so this shim reproduces the semantics the engine needs:

- **snapshot isolation**: readers only see files listed in the committed
  manifest (``_manifest.json``), never in-flight writes;
- **atomic multi-table commit**: one wave writes fetches/url_seen/metrics/
  lineage appends plus a pending rewrite, then swaps the manifest with
  ``os.replace`` (atomic on POSIX) — a kill at ANY point before the swap
  leaves the previous snapshot intact, which is what makes the scheduler's
  kill-resume exact (analog of the reference's per-URL progress pickle,
  url_sender.py:146-200);
- **watermark**: ``manifest["watermark"]`` = last committed wave id, the
  resume point (url_sender.py:222 `last_processed_index` analog).

Orphaned data files from a killed wave are overwritten on re-run (paths are
deterministic per wave), so no cleanup pass is required for correctness.
On a real cluster this class is replaced 1:1 by Iceberg multi-table
transactions; the scheduler only uses read/commit_wave/watermark.
"""

from __future__ import annotations

import fcntl
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class ConcurrentReplaceError(RuntimeError):
    """A replace commit found the table's published path list changed since
    the caller snapshotted it (a concurrent append landed in between). The
    catalog is untouched; re-snapshot and retry."""


class RebaselineRequired(RuntimeError):
    """An incremental ``read_since`` cursor straddles a replace (compaction)
    epoch: the path diff since the cursor no longer means "new rows only" —
    it contains a rewritten set holding ALL rows. The caller must
    re-baseline: full ``read()`` once, then resume polling from a fresh
    ``commit_seq()`` cursor. Raised instead of silently double-reading
    (the at-least-once hazard of the reference's resend poll loop,
    resend_script_ids.py:59-99, made loud)."""


class ParquetCatalog:
    MANIFEST = "_manifest.json"

    def __init__(self, spark: SparkSession, root: str, schemas: dict[str, StructType]):
        self.spark = spark
        self.root = root
        self.schemas = schemas
        os.makedirs(root, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.root, self.MANIFEST)

    def _load_manifest(self) -> dict:
        p = self._manifest_path()
        if not os.path.exists(p):
            return {
                "watermark": -1,
                "prepared": False,
                "commit_seq": 0,
                "meta": {},
                "epochs": {},
                "tables": {},
            }
        with open(p) as f:
            m = json.load(f)
        m.setdefault("commit_seq", 0)
        m.setdefault("meta", {})
        m.setdefault("epochs", {})
        return m

    def replace_epoch(self, name: str) -> int:
        """How many times this table has been REPLACED (compaction / fold).
        Incremental consumers pair this with ``commit_seq()``: a cursor is
        only valid within one epoch — ``read_since`` enforces it."""
        return self._load_manifest()["epochs"].get(name, 0)

    def meta(self, key: str, default=None):
        """Small scalar state stored in the manifest itself (e.g. the bloom
        seq watermark) — readable without touching any data file."""
        return self._load_manifest()["meta"].get(key, default)

    def watermark(self) -> int:
        return self._load_manifest()["watermark"]

    def prepared(self) -> bool:
        return self._load_manifest()["prepared"]

    def commit_seq(self) -> int:
        """Monotonic commit counter — derive unique tags from commit_seq()+1."""
        return self._load_manifest()["commit_seq"]

    def file_sets(self, name: str) -> int:
        """Number of committed file sets for a table (used to derive unique,
        deterministic commit tags for incremental appends)."""
        return len(self._load_manifest()["tables"].get(name, []))

    def compact(self, name: str, min_file_sets: int = 2) -> bool:
        """Rewrite a table's accumulated append sets into one (Iceberg
        rewrite_data_files analog). A long campaign appends one fetches set
        per wave; thousands of waves mean thousands of directories per read —
        compaction folds them into one atomically (readers see either the old
        sets or the single new one, never both). Returns True if it ran."""
        if self.file_sets(name) < min_file_sets:
            return False
        # The snapshot path list is captured OUTSIDE the commit flock, and a
        # replace blindly supersedes the table's published list — so an
        # append landing between this read and the manifest swap (add_seeds
        # ingest against a live campaign appends to frontier_prepared/
        # rejected) would be silently dropped from the manifest. Two guards:
        # the writer lock serializes compaction with the only concurrent
        # appender that does read-modify-write (add_seeds holds it for its
        # whole transaction), and expect_replaced makes commit() re-check
        # the published list inside the critical section and abort the
        # rewrite if it moved — the structural invariant, independent of
        # caller lock discipline. A lock-free plain appender (e.g. a
        # foreachBatch ingest stream committing appends without writer_lock)
        # CAN still land in the window, so the documented recovery —
        # re-snapshot and retry — runs here, bounded: the writer lock makes
        # repeated collisions unlikely, so livelock needs an adversarial
        # appender. (Do NOT call compact() while already holding
        # writer_lock: flock re-entry from a second fd self-blocks.)
        with self.writer_lock():
            for attempt in range(4):
                expected = self._load_manifest()["tables"].get(name, [])
                if len(expected) < min_file_sets:
                    return False
                snapshot = self.spark.read.schema(self.schemas[name]).parquet(*expected)
                # tag=None: derived from the monotonic commit counter INSIDE
                # the commit lock — never reuses a tag, so it can never
                # overwrite the very path the lazy snapshot DataFrame is
                # reading from, even with a concurrent committer bumping the
                # counter
                try:
                    self.commit(
                        None, replaces={name: snapshot}, expect_replaced={name: expected}
                    )
                    return True
                except ConcurrentReplaceError:
                    if attempt == 3:
                        raise
        return True

    # -- reads -------------------------------------------------------------
    def read(self, name: str) -> DataFrame:
        paths = self._load_manifest()["tables"].get(name, [])
        if not paths:
            return self.spark.createDataFrame([], self.schemas[name])
        return self.spark.read.schema(self.schemas[name]).parquet(*paths)

    # -- snapshot history (Iceberg time travel / expire analog) ------------
    def _snapdir(self) -> str:
        return os.path.join(self.root, "_snapshots")

    def snapshots(self) -> list[int]:
        """Committed snapshot seqs, oldest first (empty for pre-history
        catalogs — snapshots only accumulate from commits made by this
        version onward)."""
        d = self._snapdir()
        if not os.path.isdir(d):
            return []
        out = []
        for fn in os.listdir(d):
            if fn.startswith("v") and fn.endswith(".json"):
                out.append(int(fn[1:-5]))
        return sorted(out)

    def _load_snapshot(self, seq: int) -> dict:
        p = os.path.join(self._snapdir(), f"v{seq}.json")
        if not os.path.exists(p):
            raise KeyError(f"no snapshot v{seq} (expired or never committed)")
        with open(p) as f:
            return json.load(f)

    def read_at(self, name: str, seq: int) -> DataFrame:
        """Time travel: the table exactly as snapshot ``seq`` published it.
        Valid until expire_snapshots() drops the snapshot — data files are
        never deleted by commits or compaction, only by expiry, so an old
        snapshot's paths remain readable (e.g. diff the url_seen set
        between two waves, or audit what a compaction folded)."""
        paths = self._load_snapshot(seq)["tables"].get(name, [])
        if not paths:
            return self.spark.createDataFrame([], self.schemas[name])
        return self.spark.read.schema(self.schemas[name]).parquet(*paths)

    def read_since(self, name: str, seq: int) -> DataFrame:
        """Incremental scan (Iceberg incremental-append-scan analog): only
        the file sets committed AFTER snapshot ``seq`` — the efficient
        poll shape for downstream consumers (the reference's
        resend_script_ids.py:59-99 poll loop re-reads everything each
        cycle; a 10^10-row campaign's poller must read only the delta).
        Correct for append-only history ONLY: if a replace (compaction /
        fold) landed after ``seq``, the path diff contains the rewritten
        set — ALL rows, old ones included — so this raises
        ``RebaselineRequired`` instead of silently double-reading; the
        caller does one full ``read()`` and resumes from a fresh
        ``commit_seq()`` cursor. Pair with ``commit_seq()`` as the cursor.

        Reader-side expiry hazard (same as ``read_at``): the returned
        DataFrame is lazy; a concurrent ``expire_snapshots`` in another
        process can delete its files mid-scan. Pass an age floor
        (``expire_snapshots(min_age_s=...)``) sized to the longest
        expected poll-to-consume lag."""
        m = self._load_manifest()
        if seq:
            snap = self._load_snapshot(seq)
            then_epoch = snap.get("epochs", {}).get(name, 0)
            now_epoch = m["epochs"].get(name, 0)
            if then_epoch != now_epoch:
                raise RebaselineRequired(
                    f"read_since({name!r}, seq={seq}) crosses a replace "
                    f"epoch ({then_epoch} -> {now_epoch}): the delta since "
                    "the cursor contains a compacted rewrite of the whole "
                    "table, not just new rows. Re-baseline: read() the full "
                    "table once and poll from a fresh commit_seq() cursor."
                )
            since = set(snap["tables"].get(name, []))
        else:
            since = set()
        now = m["tables"].get(name, [])
        new = [p for p in now if p not in since]
        if not new:
            return self.spark.createDataFrame([], self.schemas[name])
        return self.spark.read.schema(self.schemas[name]).parquet(*new)

    def poll(self, name: str, cursor: int | None) -> tuple[DataFrame, int, bool]:
        """One step of an incremental consumer loop (the sharpened
        ``read_since``): returns ``(delta_df, next_cursor, rebaselined)``.

        - First call (``cursor`` falsy): full table, ``rebaselined=False``.
        - Steady state: exactly the file sets committed in
          ``(cursor, next_cursor]`` — delta computed SNAPSHOT-to-snapshot,
          so a commit racing the poll can never be double-counted (it lands
          after ``next_cursor`` and shows up in the next poll).
        - Across a replace epoch (compaction/fold): ``rebaselined=True``
          and the delta is the FULL table as of ``next_cursor`` — the
          consumer must dedupe by key or restart its derived state; the
          flag is the loud version of ``read_since``'s raise for callers
          that drive the loop through this API.

        Loop shape (the reference's resend poll, resend_script_ids.py:59-99,
        driven exactly-once)::

            cursor = None
            while ...:
                delta, cursor, rebaselined = cat.poll("fetches", cursor)
                if rebaselined: reset_derived_state()
                consume(delta)
        """
        next_cursor = self.commit_seq()
        if not next_cursor:
            return self.spark.createDataFrame([], self.schemas[name]), 0, False
        now = self._load_snapshot(next_cursor)
        now_paths = now["tables"].get(name, [])
        if not cursor:
            rebaselined, new = False, now_paths
        else:
            try:
                then = self._load_snapshot(cursor)
            except KeyError:
                # the cursor's snapshot was expired while the consumer was
                # down longer than the expiry horizon — the delta since it
                # is unknowable, which is the same situation as an epoch
                # crossing: rebaseline with the full table instead of
                # crash-looping on a dead cursor
                then = None
            if then is None or then.get("epochs", {}).get(name, 0) != now.get(
                "epochs", {}
            ).get(name, 0):
                rebaselined, new = True, now_paths
            else:
                since = set(then["tables"].get(name, []))
                rebaselined = False
                new = [p for p in now_paths if p not in since]
        if not new:
            return self.spark.createDataFrame([], self.schemas[name]), next_cursor, rebaselined
        df = self.spark.read.schema(self.schemas[name]).parquet(*new)
        return df, next_cursor, rebaselined

    def expire_snapshots(self, keep_last: int = 64, min_age_s: float = 0.0) -> dict:
        """Drop all but the newest ``keep_last`` snapshots and DELETE every
        data path referenced only by dropped snapshots (Iceberg
        expire_snapshots + orphan-file cleanup). Without this, a 10^10
        campaign's compactions strand one superseded file-set generation
        per rewrite on disk forever.

        Safety: runs under the commit flock; a path is deleted only if it
        appears in some EXPIRED snapshot and in NO kept snapshot and not in
        the current manifest — an in-flight write_unpublished path appears
        in no snapshot at all, so concurrent wave writes are never touched.

        There is NO reader lease: a lazy DataFrame another process obtained
        from ``read_at``/``read_since`` can still be mid-scan when its files
        are deleted. ``min_age_s`` is the cheap lease approximation (Iceberg
        expiry-grace analog): snapshots committed within the last
        ``min_age_s`` seconds are never expired, so any reader that
        re-baselines at least that often is safe.
        """
        import shutil

        with open(os.path.join(self.root, "_commit.lock"), "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            snaps = self.snapshots()
            expired = snaps[:-keep_last] if keep_last > 0 else snaps
            if min_age_s > 0 and expired:
                cutoff = time.time() - min_age_s
                expired = [
                    s
                    for s in expired
                    if self._load_snapshot(s).get("committed_at", 0) <= cutoff
                ]
            kept = [s for s in snaps if s not in set(expired)]
            if not expired:
                return {"deleted_paths": 0, "deleted_snapshots": 0}

            def _paths(manifest: dict) -> set[str]:
                return {p for ps in manifest["tables"].values() for p in ps}

            keep_paths = _paths(self._load_manifest())
            for s in kept:
                keep_paths |= _paths(self._load_snapshot(s))
            drop_paths: set[str] = set()
            for s in expired:
                drop_paths |= _paths(self._load_snapshot(s))
            drop_paths -= keep_paths
            data_root = os.path.abspath(os.path.join(self.root, "data"))
            for p in drop_paths:
                # refuse to follow anything outside this catalog's data dir
                ap = os.path.abspath(p)
                if os.path.commonpath([ap, data_root]) == data_root:
                    shutil.rmtree(ap, ignore_errors=True)
            for s in expired:
                os.remove(os.path.join(self._snapdir(), f"v{s}.json"))
            return {"deleted_paths": len(drop_paths), "deleted_snapshots": len(expired)}

    # -- commits -----------------------------------------------------------
    def _write(self, name: str, df: DataFrame, tag: str) -> str:
        path = os.path.join(self.root, "data", name, tag)
        df.write.mode("overwrite").parquet(path)
        return path

    def writer_lock(self):
        """Exclusive inter-process lock for multi-step read-modify-write
        transactions whose state spans MORE than one commit-critical
        section — e.g. the seed ingest's bloom delta (read the bitmap, OR in the
        batch, publish), where two concurrent ingests would each read the
        same base bitmap and the second commit would silently drop the
        first's delta. Distinct lock file from the commit flock: a holder
        still commits normally (same-process flock on the commit file would
        self-deadlock), and plain wave-loop commits never take this lock."""
        import contextlib

        @contextlib.contextmanager
        def _lock():
            with open(os.path.join(self.root, "_writer.lock"), "w") as lk:
                fcntl.flock(lk, fcntl.LOCK_EX)
                yield

        return _lock()

    def write_unpublished(self, name: str, df: DataFrame, tag: str) -> str:
        """Write a file set WITHOUT publishing it (invisible to readers until
        a later commit lists its path via ``prewritten``). Lets the caller run
        the write as the wave's only action — e.g. collecting Observation
        metrics from it — and still decide afterwards whether to commit.
        Paths are deterministic per (name, tag), so an abandoned set is
        simply overwritten on re-run. Refuses to overwrite a path the
        current manifest already publishes — that would corrupt committed
        data before any commit-time check could fire."""
        path = os.path.join(self.root, "data", name, tag)
        if path in self._load_manifest()["tables"].get(name, []):
            raise ValueError(
                f"unpublished write of {name!r} targets already-published "
                f"path {path!r}; pick a unique tag"
            )
        return self._write(name, df, tag)

    def commit(
        self,
        tag: str | None,
        appends: dict[str, DataFrame] | None = None,
        replaces: dict[str, DataFrame] | None = None,
        watermark: int | None = None,
        prepared: bool | None = None,
        prewritten: dict[str, str] | None = None,
        meta: dict | None = None,
        expect_replaced: dict[str, list[str]] | None = None,
    ) -> None:
        """Write all dataframes, then atomically publish them (plus any
        ``prewritten`` paths from write_unpublished) in one manifest swap.
        ``appends`` add file sets to a table; ``replaces`` supersede all
        previous file sets; ``meta`` merges small scalar state into the
        manifest.

        ``tag=None`` derives a unique tag from the commit counter INSIDE the
        critical section — the safe default for tags with no semantic
        meaning (ingest batches, compactions): two concurrent committers can
        never pick the same tag, because the counter increments under the
        lock. Explicit tags are for semantically-keyed sets (``wave=N``).

        Every target path — appends and replaces alike — is validated
        against the published manifest BEFORE anything is written, so a tag
        collision raises with the catalog untouched instead of silently
        overwriting a published file set (the old append path deduped the
        manifest entry and hid exactly that corruption). ``prewritten``
        paths were written before the lock by write_unpublished, which
        performs the same check at write time; it is re-checked here against
        the latest manifest.

        Concurrency: the whole read-modify-write runs under an exclusive
        flock, so concurrent committers (a foreachBatch ingest stream next
        to the wave loop) serialize instead of losing whichever manifest
        swap lands first — the CAS analog of Iceberg's optimistic commit.
        The manifest is re-loaded *inside* the critical section so a commit
        always builds on the latest published state."""
        with open(os.path.join(self.root, "_commit.lock"), "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            m = self._load_manifest()
            m["commit_seq"] += 1
            if tag is None:
                tag = f"c{m['commit_seq']}"

            # validate every target path first: no write happens if ANY
            # part of the commit would clobber published data
            def _target(name: str) -> str:
                return os.path.join(self.root, "data", name, tag)

            for kind, names in (
                ("append", appends or {}),
                ("replace", replaces or {}),
            ):
                for name in names:
                    if _target(name) in m["tables"].get(name, []):
                        raise ValueError(
                            f"{kind} of {name!r} reuses published path "
                            f"{_target(name)!r}; pick a unique tag (or pass "
                            "tag=None to derive one from the commit counter)"
                        )
            for name, p in (prewritten or {}).items():
                if p in m["tables"].get(name, []):
                    raise ValueError(
                        f"prewritten set for {name!r} is already published "
                        f"at {p!r}; it was overwritten outside this commit"
                    )
            # A replace supersedes the table's WHOLE published path list, so
            # it is only sound if that list is still the one the replacement
            # dataframe was derived from. expect_replaced carries the
            # caller's snapshot of the list; a mismatch means a concurrent
            # commit appended (or rewrote) in between — proceeding would
            # silently drop those rows from the manifest. Abort with the
            # catalog untouched; the caller re-snapshots and retries.
            for name, expected in (expect_replaced or {}).items():
                if m["tables"].get(name, []) != expected:
                    raise ConcurrentReplaceError(
                        f"replace of {name!r} aborted: published path list "
                        f"changed since the snapshot was taken "
                        f"({len(expected)} -> {len(m['tables'].get(name, []))} "
                        "sets); re-read and retry"
                    )

            for name, df in (appends or {}).items():
                p = self._write(name, df, tag)
                m["tables"].setdefault(name, []).append(p)
            for name, p in (prewritten or {}).items():
                m["tables"].setdefault(name, []).append(p)
            for name, df in (replaces or {}).items():
                p = self._write(name, df, tag)
                m["tables"][name] = [p]
                # replace-epoch bump: invalidates every read_since cursor
                # taken before this commit (see RebaselineRequired)
                m["epochs"][name] = m["epochs"].get(name, 0) + 1
            if watermark is not None:
                m["watermark"] = watermark
            if prepared is not None:
                m["prepared"] = prepared
            if meta:
                m["meta"].update(meta)
            m["committed_at"] = time.time()
            tmp = self._manifest_path() + ".tmp"
            with open(tmp, "w") as f:
                json.dump(m, f, indent=1)
            # snapshot history (Iceberg metadata-file analog): every commit
            # keeps its manifest under _snapshots/v{seq}.json, enabling
            # read_at() time travel and expire_snapshots() cleanup. Written
            # BEFORE the swap: a kill in between leaves a snapshot file for
            # a manifest that never published — harmless (it references only
            # files that exist, and the re-run overwrites it).
            snapdir = os.path.join(self.root, "_snapshots")
            os.makedirs(snapdir, exist_ok=True)
            snap_tmp = os.path.join(snapdir, f"v{m['commit_seq']}.json.tmp")
            with open(snap_tmp, "w") as f:
                json.dump(m, f, indent=1)
            os.replace(snap_tmp, os.path.join(snapdir, f"v{m['commit_seq']}.json"))
            os.replace(tmp, self._manifest_path())  # the atomic commit point
