"""CacheManager: RubiX read-path semantics on Spark primitives.

Reference parity map (operator ids from SURVEY.md §2.A):

- ``resolve()``    — A2's routing, the one route of every whole-file read (CACHED+fresh →
                     the local copy; expired or stale → invalidate, then the miss route;
                     miss → peer copy, else remote ± warm-up); returns the path to read.
                     ``read()`` and the ``rubix_cache`` DataSource both call it; its hit
                     test, ``_lookup()``, is also ``read_row_groups()``'s
- ``read()``       — ``resolve()`` as a DataFrame, memoized per local copy, plus A5's
                     corruption fallback (local failure → invalidate + re-route,
                     ``CachedReadRequestChain.java:204-223``)
- ``warm()``       — A6/A10/A18-A19 read-through + async warm-up: a serial byte copy
                     of the remote files, relative paths kept (the reference's pool,
                     ``FileDownloader.java:194-239``, measured slower on local disk)
- ``_commit()``    — the one commit of ``warm()``, ``warm_row_groups()`` and the peer
                     fetch: fresh ``_g<N>`` dir, size check, generation-checked manifest
                     CAS (A13), evict to budget
- row groups       — A4 collation at sub-file granularity: ``_fetch_runs`` reads each
                     collated run in-process, one remote trip per run
- staleness        — A16: remote mtime/size vs manifest ⇒ invalidate + new generation
                     (``BookKeeper.java:295-305, 774-777``)
- generations      — A17: monotonic per-path counter; local dirs carry ``_g<N>`` suffixes
                     (``CacheUtil.java:162-167``); stale writers lose the manifest CAS
- ``evict_to_budget()`` — A15: LRU by last_access down to ``budget_bytes``
                     (weigher/maximumWeight analog, ``BookKeeper.java:629-686``)
- deferred delete  — A15's one removal listener (``BookKeeper.java:723-746``): every dir
                     that leaves the manifest (evicted, invalidated, superseded) is a
                     manifest tombstone, unlinked after ``Manifest.RECLAIM_GRACE``
- skip patterns    — ``CacheUtil.skipCache`` allow/deny regexes (``CacheUtil.java:203-222``)
- dummy mode       — A26: metadata-only what-if accounting (``DummyModeCachingInputStream``)
- ``stats()``      — A27 metrics surface (hit/miss/eviction/invalidation counters,
                     ``BookKeeper.java:203-246``)

Cluster posture: on a real cluster the local copy lands on executor-local storage
(per-node NVMe) and task placement follows parquet block locality; RubiX's consistent-hash
split ownership (A12/A21) is replaced by Spark's own locality preferences, and its
cross-node cache plane (A8/A20) by the shuffle service — documented design decisions, not
gaps. Granularity is whole files (a Spark scan re-reads whole row groups anyway, so block
granularity buys nothing at parquet level).
"""

from __future__ import annotations

import os
import re
import shutil
import threading
import time

from pyspark.sql import DataFrame, SparkSession

from rubix_spark.cache.manifest import CACHED, Entry, Manifest


class CacheReadError(RuntimeError):
    """Raised in strict mode when a cached read fails (CacheConfig.java:62 analog)."""


def walk_files(path: str) -> list[str]:
    """Every file under the dir ``path``, sorted; ``[path]`` when it is a file."""
    if not os.path.isdir(path):
        return [path]
    return sorted(os.path.join(root, f) for root, _, files in os.walk(path) for f in files)


def _mtime_size(path: str) -> tuple[float, int]:
    st = os.stat(path)
    if not os.path.isdir(path):
        return st.st_mtime, st.st_size
    sts = [os.stat(f) for f in walk_files(path)]
    return max([st.st_mtime, *(s.st_mtime for s in sts)]), sum(s.st_size for s in sts)


class CacheManager:
    def __init__(
        self,
        spark: SparkSession,
        cache_dir: str,
        budget_bytes: int | None = None,
        ttl_seconds: float | None = None,
        strict: bool = False,
        dummy: bool = False,
        async_warmup: bool = False,
        deny_patterns: tuple[str, ...] = (),
        allow_patterns: tuple[str, ...] = (".*",),
        remote_latency_s: float = 0.0,
        peer_client=None,
    ):
        self.spark = spark
        self.cache_dir = cache_dir
        # Latency-injected remote delegate: every remote OPERATION (footer read, ranged
        # GET, whole-file copy, direct serve) pays one synthetic round trip, the way an
        # object-store GET does — the backend the cache exists for (reference
        # README.md:5-12). Collated runs each pay ONE trip (that is what collation is
        # for), fetched one after another like warm()'s file copies.
        # Freshness stats (HEAD-class metadata) stay free, mirroring the reference's
        # cached file metadata. 0.0 (default) = local-FS delegate, no injection.
        self.remote_latency_s = float(remote_latency_s)
        # A8/A9 non-local read chain: on a miss, ask a peer node's cache daemon
        # (cache/server.py CacheClient) for its CACHED copy BEFORE paying the remote —
        # the reference's NonLocalReadRequestChain / LocalDataTransferServer pair.
        # Peer fetch is LAN-class; remote is object-store-class (remote_latency_s).
        self.peer_client = peer_client
        self.budget_bytes = budget_bytes
        # TTL expiry — the Guava expireAfterWrite analog (BookKeeper.java:674-680);
        # entries older than ttl_seconds are invalidated on next access
        self.ttl_seconds = ttl_seconds
        self.strict = strict
        self.dummy = dummy
        # async read-through: cold reads serve remote immediately and warm in the
        # background (the reference's default, rubix.cache.parallel.warmup=true,
        # CacheConfig.java:157); sync mode warms inline (A6)
        self.async_warmup = async_warmup
        self._warmup = None
        if async_warmup:
            from rubix_spark.cache.warmup import WarmupProcessor

            self._warmup = WarmupProcessor(self)
        self._deny = [re.compile(p) for p in deny_patterns]
        self._allow = [re.compile(p) for p in allow_patterns]
        os.makedirs(os.path.join(cache_dir, "fcache"), exist_ok=True)
        self.manifest = Manifest(os.path.join(cache_dir, "manifest.json"))
        self._lock = threading.RLock()
        # hit-path DataFrame memo keyed by the local ``_g<N>`` dir: schema inference
        # on spark.read.parquet costs ~150 ms per call (driver file listing + footer
        # read), which dominated warm reads. Every re-warm bumps the generation (new
        # local dir), so a memoized entry can never serve stale or relocated data —
        # the in-memory-metadata pattern of the reference's BookKeeper cache.
        self._df_memo: dict[str, DataFrame] = {}
        self._counters = {
            "hits": 0,
            "misses": 0,
            "evictions": 0,
            "invalidations": 0,
            "warmed_files": 0,
            "fallbacks": 0,
            "peer_fetches": 0,
        }

    # ------------------------------------------------------------------ policy
    def cacheable(self, remote_path: str) -> bool:
        """Allow/deny regex gate (CacheUtil.java:203-222, 341-355).

        The path is lexically NORMALIZED before matching: a suffix-anchored allow
        pattern (the daemon's parquet gate) is otherwise bypassable with
        ``real.parquet/../../etc/passwd`` — the '.parquet/' substring matches but
        the OS resolves the dotdots to an arbitrary file (review-caught, r13).
        Symlinks are not resolved (lexical only); a deployment that must defend
        against hostile local symlinks should gate on os.path.realpath instead.
        """
        norm = os.path.normpath(remote_path)
        if any(p.search(norm) for p in self._deny):
            return False
        return any(p.search(norm) for p in self._allow)

    def _remote_penalty(self, trips: int = 1) -> None:
        """Pay ``trips`` synthetic remote round trips (driver-side call sites)."""
        if self.remote_latency_s > 0.0 and trips > 0:
            time.sleep(self.remote_latency_s * trips)

    def _local_dir(self, remote_path: str, generation: int) -> str:
        # <cache>/fcache/<sanitized-remote>_g<N>  (CacheUtil.java:162-167 layout)
        sanitized = re.sub(r"[^A-Za-z0-9._-]", "_", remote_path.strip("/"))
        return os.path.join(self.cache_dir, "fcache", f"{sanitized}_g{generation}")

    # ------------------------------------------------------------------ warm path
    def warm(self, remote_path: str) -> str | None:
        """Materialize a remote parquet file/dir into the local cache; returns local path.

        A byte copy keeping each file's path relative to the remote root (so partition
        dirs, file split and row groups survive). Returns None when gated out by skip
        patterns or dummy mode, or when ``_commit`` drops the copy.
        """
        if not self.cacheable(remote_path) or self.dummy:
            return None
        mtime, size = _mtime_size(remote_path)

        def produce(local: str) -> dict:
            # a flat two round trips: the open, plus one wave of per-file GETs (an object
            # store client fetches files in parallel; on local disk a serial copy is faster)
            self._remote_penalty(2)
            self._materialize(remote_path, local)
            return {"size_bytes": size, "last_modified": mtime}

        return self._commit(remote_path, produce)

    def _commit(self, key: str, produce, counter: str = "warmed_files") -> str | None:
        """The one commit step of every cached copy (``warm``, ``warm_row_groups``, the
        peer fetch): bump ``key``'s generation, let ``produce(local)`` fill the fresh
        ``_g<N>`` dir and return the copy's Entry fields, then commit by generation CAS
        (A13/A17) and evict to budget.

        Returns the local path, or None when the dir's byte total is not the returned
        ``size_bytes`` (A19's check, ``FileDownloadRequestChain.java:145-150`` — a torn
        read), a newer generation won, or the eviction removed the new copy itself.
        A copy that never committed is deleted here at once: no reader can hold it, and
        it is in no manifest entry or tombstone, so nothing else would reclaim it
        before validate()'s orphan age.
        """
        gen = self.manifest.next_generation(key)
        local = self._local_dir(key, gen)
        try:
            fields = produce(local)
            committed = _mtime_size(local)[1] == fields["size_bytes"] and self.manifest.put(
                Entry(remote_path=key, local_path=local, generation=gen, state=CACHED, **fields)
            )
        except BaseException:
            shutil.rmtree(local, ignore_errors=True)
            raise
        if not committed:
            shutil.rmtree(local, ignore_errors=True)
            return None
        with self._lock:
            self._counters[counter] += 1
        self.evict_to_budget()
        entry = self.manifest.get(key)
        return local if entry is not None and entry.local_path == local else None

    def _materialize(self, remote_path: str, local: str) -> None:
        """Copy the remote file, or every file under the remote dir, into ``local``."""
        root = remote_path if os.path.isdir(remote_path) else os.path.dirname(remote_path)
        srcs = walk_files(remote_path)
        dsts = [os.path.join(local, os.path.relpath(src, root)) for src in srcs]
        for d in {local, *map(os.path.dirname, dsts)}:
            os.makedirs(d, exist_ok=True)
        for src, dst in zip(srcs, dsts):
            shutil.copy2(src, dst)

    # ------------------------------------------------------------------ row-group granularity
    # The reference caches 1 MiB blocks with a per-block bitmap (FileMetadata.java:96-97)
    # so a selective query warms only the blocks it touches. Parquet's natural block is
    # the row group: these three methods give the same economics — footer-stats pruning
    # picks the relevant row groups, warm materializes ONLY those (one local file per
    # group; at cluster scale each group is an independent copy task), and reads are
    # served from the subset as long as it covers the request and is fresh.

    def relevant_row_groups(self, remote_path: str, column: str, lo=None, hi=None) -> list[int]:
        """Row-group pruning from parquet footer min/max statistics (conservative:
        groups without stats are kept). Single-file paths only."""
        import pyarrow.parquet as pq

        self._remote_penalty()  # footer read = one ranged GET
        pf = pq.ParquetFile(remote_path)
        out = []
        for i in range(pf.metadata.num_row_groups):
            md = pf.metadata.row_group(i)
            col = next(
                (md.column(j) for j in range(md.num_columns) if md.column(j).path_in_schema == column),
                None,
            )
            st = col.statistics if col is not None else None
            if st is None or not st.has_min_max:
                out.append(i)
                continue
            if (lo is not None and st.max < lo) or (hi is not None and st.min > hi):
                continue
            out.append(i)
        return out

    @staticmethod
    def _rg_key(remote_path: str) -> str:
        return remote_path + "#rg"

    # A4 request collation (ReadRequestChain.java:71-90 merge, :92-116 chunking):
    # adjacent row groups merge into ONE backend ranged read; runs longer than
    # ``max_run`` split so a single huge read can't monopolize memory/bandwidth.
    MAX_COLLATED_RUN = 16

    @staticmethod
    def collate(row_groups: list[int], max_run: int | None = None) -> list[list[int]]:
        max_run = max_run or CacheManager.MAX_COLLATED_RUN
        runs: list[list[int]] = []
        for i in sorted(set(row_groups)):
            if runs and i == runs[-1][-1] + 1 and len(runs[-1]) < max_run:
                runs[-1].append(i)
            else:
                runs.append([i])
        return runs

    def warm_row_groups(self, remote_path: str, row_groups: list[int]) -> str | None:
        """A6 read-through at sub-file granularity: materialize only the given row
        groups (merged with any already-cached subset), one local parquet per group."""
        if not self.cacheable(remote_path) or self.dummy:
            return None
        key = self._rg_key(remote_path)
        mtime, rsize = _mtime_size(remote_path)
        prev = self.manifest.get(key)
        have = set(prev.row_groups or []) if prev is not None and self._fresh(prev, remote_path) else set()
        want = sorted(set(row_groups) | have)

        def produce(local: str) -> dict:
            os.makedirs(local, exist_ok=True)
            fetch = set(want) - have
            for i in sorted(have):
                try:
                    shutil.copy2(
                        os.path.join(prev.local_path, f"rg_{i:05d}.parquet"),
                        os.path.join(local, f"rg_{i:05d}.parquet"),
                    )
                except (FileNotFoundError, NotADirectoryError):
                    # a concurrent evict/invalidate deleted prev's dir between the
                    # manifest read and the copy — the group is simply not-have;
                    # refetch from remote
                    fetch.add(i)
            self._fetch_runs(remote_path, local, self.collate(sorted(fetch)))
            return {"size_bytes": _mtime_size(local)[1], "last_modified": mtime,
                    "row_groups": want, "remote_size": rsize}

        # the local dir derives from the manifest KEY (…#rg), not the raw remote path:
        # whole-file and row-group granularities of one path must never share a
        # directory, or the whole-file hit path would read the rg_* subset files too
        # (silently duplicated rows) and invalidating either granularity would rmtree
        # the other's live data. The put tombstones the previous subset's dir.
        return self._commit(key, produce)

    def _fetch_runs(self, remote_path: str, local: str, runs: list[list[int]]) -> None:
        """A4 + A19 at row-group granularity: each collated run is one ranged read of the
        remote (one remote trip), sliced back into one local parquet per group (the
        serving granularity). Runs are read in-process, one after another, the way
        ``warm()`` copies files: a few megabytes of row groups do not repay a Spark
        job's scheduling (about a second per warm on a 4-core host)."""
        if not runs:
            return
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(remote_path)
        for run in runs:
            self._remote_penalty()  # one ranged GET per collated run
            tbl = pf.read_row_groups(run)
            offset = 0
            for i in run:
                n = pf.metadata.row_group(i).num_rows
                pq.write_table(tbl.slice(offset, n), os.path.join(local, f"rg_{i:05d}.parquet"))
                offset += n

    def read_row_groups(self, remote_path: str, row_groups: list[int], warm_on_miss: bool = True) -> DataFrame:
        """Serve specific row groups: from the cached subset when it covers the request
        and is fresh, else warm-through (or raw remote when warming is off/gated).
        The hit test is ``resolve()``'s (``_lookup``); a fresh subset that does not cover
        the request is a miss the warm merges into."""
        key = self._rg_key(remote_path)
        want = sorted(set(row_groups))
        entry = self._lookup(key, remote_path, lambda e: set(want) <= set(e.row_groups or []))
        if entry is not None:
            try:
                return self.spark.read.parquet(*self._rg_files(entry.local_path, want))
            except Exception:
                if self.strict:
                    raise CacheReadError(f"cached row-group read failed for {remote_path}")
                self.invalidate(key)
                with self._lock:
                    self._counters["fallbacks"] += 1
                    self._counters["misses"] += 1
        if warm_on_miss and self.cacheable(remote_path) and not self.dummy:
            local = self.warm_row_groups(remote_path, want)
            if local is not None:
                return self.spark.read.parquet(*self._rg_files(local, want))
        self._remote_penalty()
        return self.spark.read.parquet(remote_path)

    @staticmethod
    def _rg_files(local: str, row_groups: list[int]) -> list[str]:
        return [os.path.join(local, f"rg_{i:05d}.parquet") for i in row_groups]

    def read_range(self, remote_path: str, column: str, lo=None, hi=None, warm_on_miss: bool = True) -> DataFrame:
        """Predicate-driven cached read: prune row groups by footer stats, serve/warm
        only those, and re-apply the predicate as the residual filter (stats pruning is
        conservative, so the filter — not the pruning — defines the result)."""
        rgs = self.relevant_row_groups(remote_path, column, lo, hi)
        if not rgs:
            return self.spark.read.parquet(remote_path).where("1=0")
        df = self.read_row_groups(remote_path, rgs, warm_on_miss=warm_on_miss)
        c = df[column]
        if lo is not None:
            df = df.where(c >= lo)
        if hi is not None:
            df = df.where(c <= hi)
        return df

    # ------------------------------------------------------------------ read path
    def _lookup(self, key: str, remote_path: str, covers=lambda entry: True) -> Entry | None:
        """The hit test of both granularities: ``key``'s entry when it is within the
        TTL, fresh against ``remote_path`` and ``covers`` the request (touched and
        counted as a hit). An expired or stale entry is invalidated; every non-hit
        counts a miss."""
        entry = self.manifest.get(key)
        if entry is not None:
            expired = self.ttl_seconds is not None and time.time() - entry.last_access > self.ttl_seconds
            if expired or not self._fresh(entry, remote_path):
                self.invalidate(key)
            elif covers(entry):
                self.manifest.touch(key)
                with self._lock:
                    self._counters["hits"] += 1
                return entry
        with self._lock:
            self._counters["misses"] += 1
        return None

    def resolve(self, remote_path: str, warm_on_miss: bool = True) -> str:
        """RubiX's per-read routing (CachingInputStream.java:315-500, file granularity):
        returns the path a whole-file read should scan.

        CACHED+fresh → the local copy; TTL-expired or stale → invalidate, then the miss
        route; miss → a peer's copy, else (async mode) the remote while a warm-up is
        queued, else a read-through warm (A6). The remote itself when warming is off,
        the path is gated, or the new copy was dropped.
        """
        entry = self._lookup(remote_path, remote_path)
        if entry is not None:
            return entry.local_path
        if warm_on_miss and self.cacheable(remote_path) and not self.dummy:
            local = self._fetch_from_peer(remote_path)
            if local is None and self._warmup is not None:
                self._warmup.enqueue(remote_path)  # A10: serve the remote now, warm behind
            elif local is None:
                local = self.warm(remote_path)
            if local is not None:
                return local
        self._remote_penalty()
        return remote_path

    def read(self, remote_path: str, warm_on_miss: bool = True) -> DataFrame:
        """``resolve()``'s path as a DataFrame, memoized per local copy.

        A local copy that fails to plan (A5, CachedReadRequestChain.java:204-223) is
        invalidated and the read re-routed once; strict mode raises instead.
        """
        local = self.resolve(remote_path, warm_on_miss)
        if local == remote_path:
            return self.spark.read.parquet(remote_path)
        # the isdir check: a memoized plan over a copy deleted behind the manifest
        # would fail at execution, past the fallback
        df = self._df_memo.get(local) if os.path.isdir(local) else None
        if df is None:
            try:
                df = self._df_memo[local] = self.spark.read.parquet(local)
            except Exception:
                if self.strict:
                    raise CacheReadError(f"cached read failed for {remote_path}")
                self.invalidate(remote_path)
                with self._lock:
                    self._counters["fallbacks"] += 1
                return self.spark.read.parquet(self.resolve(remote_path, warm_on_miss))
        return df

    def _fetch_from_peer(self, remote_path: str) -> str | None:
        """A8/A9: pull a peer daemon's CACHED copy into this node's cache on a miss.

        Costs one LAN transfer instead of an object-store read (which pays
        ``remote_latency_s`` per trip here). The fetched copy commits through
        ``_commit``, sized against the peer entry's ``size_bytes``, so staleness and
        eviction semantics are identical to a locally-warmed entry. Any peer failure
        degrades silently to the remote path — peer serving is an optimization, never a
        correctness dependency."""
        if self.peer_client is None:
            return None
        try:
            if self.peer_client.get_cache_status(remote_path).get("state") != CACHED:
                return None

            def produce(local: str) -> dict:
                header = self.peer_client.fetch(remote_path, local)
                return {"size_bytes": header["size_bytes"], "last_modified": header["last_modified"]}

            return self._commit(remote_path, produce, counter="peer_fetches")
        except Exception:
            return None  # _commit has already removed the partial transfer dir

    def _fresh(self, entry: Entry, remote_path: str) -> bool:
        """A16 staleness: compare remote lastModified/size with the cached values.

        A vanished remote is NOT stale — serving deleted-behind-us data from cache is the
        reference's signature behavior (TestCachingInputStream.java:165-177).
        """
        try:
            mtime, size = _mtime_size(remote_path)
        except FileNotFoundError:
            return True
        expected = entry.remote_size if entry.remote_size is not None else entry.size_bytes
        return mtime == entry.last_modified and size == expected

    # ------------------------------------------------------------------ invalidation
    def invalidate(self, remote_path: str) -> None:
        """Drop the cached copy and bump the generation (BookKeeper.invalidateFileMetadata).
        The manifest tombstones the copy's dir."""
        entry = self.manifest.remove(remote_path)
        if entry:
            self.manifest.next_generation(remote_path)
            self._df_memo.pop(entry.local_path, None)
            with self._lock:
                self._counters["invalidations"] += 1

    # ------------------------------------------------------------------ eviction
    def evict_to_budget(self) -> int:
        """LRU eviction until under budget (Guava weigher analog, BookKeeper.java:656-686).

        The entry leaves the budget at once; the manifest tombstones its dir, so the
        unlink waits out ``Manifest.RECLAIM_GRACE`` for in-flight readers."""
        if self.budget_bytes is None:
            return 0
        evicted = 0
        with self._lock:
            while self.manifest.total_bytes() > self.budget_bytes:
                lru = min(self.manifest.entries(), key=lambda e: e.last_access, default=None)
                if lru is None:
                    break
                # remove() tombstones the dir of the entry ACTUALLY removed, not the
                # LRU snapshot's: a re-warm can commit a new generation between the
                # snapshot and the remove (TOCTOU found by the generated cache
                # schedules, r13)
                removed = self.manifest.remove(lru.remote_path)
                if removed is None:
                    continue  # raced an invalidate; re-read total_bytes
                self._df_memo.pop(removed.local_path, None)
                evicted += 1
                self._counters["evictions"] += 1
        return evicted

    # ------------------------------------------------------------------ validation
    def drain_warmup(self, timeout: float = 60.0) -> bool:
        """Block until queued background warm-ups finish (test/shutdown hook)."""
        return self._warmup.drain(timeout) if self._warmup else True

    def validate(self, repair: bool = True) -> dict:
        """Self-test sweep — A25 (CachingValidator / FileValidator analog).

        Checks every manifest entry's local copy exists and holds ``size_bytes``
        bytes; broken entries are invalidated (repair=True) so the next read falls back
        to remote and re-warms. With repair it also reclaims due tombstones, and sweeps
        AGED orphan dirs — fcache dirs owned by no live entry or tombstone (a process
        killed mid-warm leaves one; no in-process failure path can cover that) — but
        only past a conservative age so a concurrent manager's in-flight warm (dir
        exists, commit pending) is never touched. Returns {checked, broken, repaired,
        orphans_swept}.
        """
        checked = broken = repaired = 0
        for entry in self.manifest.entries():
            checked += 1
            try:  # a copy is whole files: a missing, torn or extra file changes its total
                ok = _mtime_size(entry.local_path)[1] == entry.size_bytes
            except FileNotFoundError:
                ok = False
            if not ok:
                broken += 1
                if repair:
                    self.invalidate(entry.remote_path)
                    repaired += 1
        orphans_swept = 0
        if repair:
            self.manifest.reclaim()
            owned = {e.local_path for e in self.manifest.entries()}
            with self.manifest._lock:
                owned.update(self.manifest._tombstones)
            min_age = self.manifest.RECLAIM_GRACE + 60.0
            fcache = os.path.join(self.cache_dir, "fcache")
            now = time.time()
            for name in os.listdir(fcache):
                path = os.path.join(fcache, name)
                if path in owned:
                    continue
                try:
                    if now - os.path.getmtime(path) < min_age:
                        continue
                except OSError:
                    continue
                shutil.rmtree(path, ignore_errors=True)
                orphans_swept += 1
        return {"checked": checked, "broken": broken, "repaired": repaired,
                "orphans_swept": orphans_swept}

    # ------------------------------------------------------------------ metrics
    def stats(self) -> dict:
        """A27 metrics surface: hit/miss rates + cache size (BookKeeper.java:203-246)."""
        with self._lock:
            c = dict(self._counters)
        total = c["hits"] + c["misses"]
        c["hit_rate"] = (c["hits"] / total) if total else 0.0
        c["cached_bytes"] = self.manifest.total_bytes()
        c["cached_files"] = len(self.manifest.entries())
        return c
