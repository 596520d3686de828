"""Async warm-up queue — reference parity A10/A18/A19.

The reference serves a cold read directly from remote and queues a background fetch
(``RemoteFetchRequestChain.java:54-77``); a scheduled processor batches queued requests,
merges duplicates/overlaps per file, drops stale ones, and downloads in a bounded thread
pool (``RemoteFetchProcessor.java:102-200``, ``FileDownloader.java:194-239``).

Here the background thread is the fetch pool: it runs ``CacheManager.warm()``, a byte
copy, so warm-up submits no Spark job and never takes task slots from foreground
queries.  Request coalescing is whole-file (our cache granularity), implemented as
de-dup of queued paths; staleness is re-checked at execution time, so a request enqueued
before the file changed warms the new content (the reference drops the stale request
instead — same end state, one fetch later).
"""

from __future__ import annotations

import queue
import threading


class WarmupProcessor:
    """Background thread draining a warm-request queue into CacheManager.warm().

    Mirrors RemoteFetchProcessor: ``enqueue`` is fire-and-forget; duplicates collapse;
    ``drain`` blocks until the queue is empty (test/shutdown hook).
    """

    def __init__(self, manager):
        self.manager = manager
        self._q: queue.Queue[str | None] = queue.Queue()
        self._pending: set[str] = set()
        self._lock = threading.Lock()
        self._idle = threading.Event()
        self._idle.set()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def enqueue(self, remote_path: str) -> bool:
        """Queue a path for background warming; returns False if already pending."""
        with self._lock:
            if remote_path in self._pending:
                return False
            self._pending.add(remote_path)
            # clear idle INSIDE the lock: cleared after release, a concurrent
            # drain() could observe the stale set flag and report "drained" with
            # this request still unprocessed (r13 generated-schedule probe —
            # the enqueue-side half of the worker's pending/empty check)
            self._idle.clear()
        self._q.put(remote_path)
        return True

    def _run(self) -> None:
        while True:
            path = self._q.get()
            if path is None:
                return
            try:
                entry = self.manager.manifest.get(path)
                # the module's declared semantics: staleness re-checked at
                # execution, so a request enqueued before the file changed warms
                # the NEW content — the old `entry is None` gate skipped any
                # existing entry, stale included, silently keeping the old copy
                # until a foreground read paid the warm (r13 probe)
                if entry is None or not self.manager._fresh(entry, path):
                    self.manager.warm(path)
            except Exception:
                pass  # fallback semantics: a failed warm just leaves the read remote
            finally:
                with self._lock:
                    self._pending.discard(path)
                    if not self._pending and self._q.empty():
                        self._idle.set()

    def drain(self, timeout: float = 60.0) -> bool:
        """Wait until all queued warm-ups have completed."""
        return self._idle.wait(timeout)

    def stop(self) -> None:
        self._q.put(None)
