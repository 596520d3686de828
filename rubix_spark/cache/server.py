"""BookKeeper-style RPC tier: the cache's operator surface served over a socket.

The reference runs a per-node BookKeeper daemon that non-JVM/non-Spark engines talk to
over thrift (``rubix-bookkeeper/.../BookKeeperServer.java:87-146``, IDL
``rubix-spi/src/main/thrift/bookkeeper.thrift:47-67``: getCacheStatus / setAllCached /
getCacheMetrics / invalidateFileMetadata / readData). This module re-derives that
deployment shape on the standard library: a threaded JSON-lines-over-TCP server
embedding a sessionless ``CacheManager``, plus a pooled, retrying client — so an
external process (a Presto-style coordinator, a cron warmer, a metrics scraper) can
drive the same cache directory that Spark sessions mount, with all manifest CAS /
generation / staleness semantics shared through the flock'd manifest.

Protocol: one JSON object per line, ``{"method": str, "params": {...}}`` in,
``{"ok": true, "result": ...}`` or ``{"ok": false, "error": str}`` out. The connection
stays open for pipelining (the client pools it).

Methods (reference analog in parens):
- ``get_cache_status(path)``   — CACHED/stale/absent + entry metadata (getCacheStatus)
- ``warm(path)``               — read-through warm, returns local path (readData/setAllCached)
- ``invalidate(path)``         — drop cached copies (invalidateFileMetadata)
- ``get_cache_metrics()``      — counter map (getCacheMetrics)
- ``list_entries()``           — manifest dump (admin surface)
- ``validate(repair)``         — local-copy sweep
- ``evict(budget_bytes)``      — LRU eviction to budget
- ``ping()``                   — liveness (the heartbeat the reference's coordinator polls)
- ``fetch(path)``              — serve this node's CACHED copy to a peer: a JSON header
  listing (path relative to the copy, size) per file followed by the raw bytes,
  the LocalDataTransferServer data plane (A8/A9 non-local read) on the same socket

Scale posture: one daemon per node, owning that node's cache dir — identical to the
reference's deployment. The server is I/O-bound (file copies) so a thread per
connection suffices; state synchronization is the manifest's cross-process flock, not
in-process locks, exactly like concurrent Spark sessions sharing the dir.
"""

from __future__ import annotations

import json
import os
import socket
import socketserver
import threading
import time

from rubix_spark.cache.manager import CacheManager, walk_files


_MAX_LINE = 1 << 20  # request-frame bound: a newline-less flood must not OOM the daemon


class _Handler(socketserver.StreamRequestHandler):
    def handle(self) -> None:  # one connection, many pipelined requests
        mgr: CacheManager = self.server.manager  # type: ignore[attr-defined]
        while True:
            line = self.rfile.readline(_MAX_LINE + 1)
            if not line:
                break
            if len(line) > _MAX_LINE and not line.endswith(b"\n"):
                # no frame boundary within the bound — the stream cannot be
                # resynchronized, so answer once and drop the connection
                # (r13 adversarial-input probe: `for line in rfile` buffered
                # the entire flood in memory first)
                self.wfile.write(
                    (json.dumps({"ok": False, "error": "RequestTooLarge: no newline within 1 MiB"}) + "\n").encode()
                )
                self.wfile.flush()
                break
            line = line.strip()
            if not line:
                continue
            payload: list[str] = []  # file paths whose raw bytes follow the JSON line
            try:
                req = json.loads(line)
                method = req.get("method")
                if method == "fetch":
                    result, payload = self._fetch_header(mgr, req.get("params") or {})
                else:
                    result = self._dispatch(mgr, method, req.get("params") or {})
                resp = {"ok": True, "result": result}
            except Exception as exc:  # protocol errors go back to the client, not the log
                resp = {"ok": False, "error": f"{type(exc).__name__}: {exc}"}
                payload = []
            self.wfile.write((json.dumps(resp) + "\n").encode())
            for path in payload:  # binary frames, sizes pre-announced in the header
                with open(path, "rb") as f:
                    while chunk := f.read(1 << 20):
                        self.wfile.write(chunk)
            self.wfile.flush()

    @staticmethod
    def _fetch_header(mgr: CacheManager, p: dict):
        entry = mgr.manifest.get(p["path"])
        if entry is None or entry.state != "CACHED":
            raise FileNotFoundError(f"not cached here: {p['path']}")
        local = entry.local_path
        if not os.path.isdir(local):  # os.walk is silent on a dir unlinked behind the manifest
            raise FileNotFoundError(f"cached copy gone: {p['path']}")
        # every file, relative to the copy root: a partitioned copy has k=v subdirs
        names = [os.path.relpath(f, local) for f in walk_files(local)]
        files = [{"name": n, "size": os.path.getsize(os.path.join(local, n))} for n in names]
        return (
            {"files": files, "generation": entry.generation,
             "size_bytes": entry.size_bytes, "last_modified": entry.last_modified},
            [os.path.join(local, n) for n in names],
        )

    @staticmethod
    def _dispatch(mgr: CacheManager, method: str, p: dict):
        if method == "ping":
            return {"pong": True, "pid": os.getpid()}
        if method == "get_cache_status":
            entry = mgr.manifest.get(p["path"])
            if entry is None:
                return {"state": "ABSENT"}
            fresh = mgr._fresh(entry, p["path"])
            return {
                "state": entry.state if fresh else "STALE",
                "generation": entry.generation,
                "size_bytes": entry.size_bytes,
                "local_path": entry.local_path,
                "row_groups": entry.row_groups,
            }
        if method == "warm":
            return {"local_path": mgr.warm(p["path"])}
        if method == "invalidate":
            mgr.invalidate(p["path"])
            return {"invalidated": p["path"]}
        if method == "get_cache_metrics":
            return mgr.stats()
        if method == "list_entries":
            return {
                "entries": [
                    {"remote_path": e.remote_path, "state": e.state, "generation": e.generation,
                     "size_bytes": e.size_bytes}
                    for e in sorted(mgr.manifest.entries(), key=lambda e: e.remote_path)
                ],
                "total_bytes": mgr.manifest.total_bytes(),
            }
        if method == "validate":
            return mgr.validate(repair=bool(p.get("repair", True)))
        if method == "evict":
            mgr.budget_bytes = int(p["budget_bytes"])
            return {"evicted": mgr.evict_to_budget(), "total_bytes": mgr.manifest.total_bytes()}
        raise ValueError(f"unknown method {method!r}")


class CacheServer(socketserver.ThreadingTCPServer):
    """Daemon embedding a sessionless CacheManager over one cache directory.

    Unlike the embedded manager (whose caller is the engine reading its own
    tables, allow-all by reference parity), the daemon takes ``warm`` over the
    network — an allow-all default would let any client on the socket copy ANY
    readable file into the cache and ``fetch`` it back (r13 adversarial-input
    probe). The daemon therefore defaults its gate to parquet paths; deployments
    fronting other formats widen it with ``allow_patterns=...`` explicitly.
    """

    allow_reuse_address = True
    daemon_threads = True

    def __init__(self, cache_dir: str, host: str = "127.0.0.1", port: int = 0, **manager_kwargs):
        super().__init__((host, port), _Handler)
        manager_kwargs.setdefault("allow_patterns", (r"\.parquet(/|$)",))
        self.manager = CacheManager(None, cache_dir, **manager_kwargs)

    @property
    def address(self) -> tuple[str, int]:
        return self.server_address  # (host, bound_port) — port 0 resolves on bind

    def serve_background(self) -> threading.Thread:
        t = threading.Thread(target=self.serve_forever, daemon=True)
        t.start()
        return t


class CacheClient:
    """Pooled, retrying client (A23 analog: the reference pools thrift connections and
    retries on transient failure — ``rubix-spi`` client pooling).

    One persistent connection, re-established on failure; ``retries`` attempts with a
    short backoff. Thread-safe via a lock (one in-flight request per connection, like
    the reference's pool checkout)."""

    def __init__(self, host: str, port: int, retries: int = 3, timeout_s: float = 10.0):
        self.host, self.port = host, port
        self.retries = retries
        self.timeout_s = timeout_s
        self._lock = threading.Lock()
        self._sock: socket.socket | None = None
        self._rfile = None

    def _connect(self):
        self._sock = socket.create_connection((self.host, self.port), timeout=self.timeout_s)
        self._rfile = self._sock.makefile("rb")

    def _request(self, method: str, params: dict, receive=None, error=RuntimeError):
        """The one request loop: (re)connect, send one request line, read the response
        line, and hand an ok result to ``receive`` (which may read binary frames that
        follow it). A transport failure — including a pooled connection the peer has
        closed, seen as an empty line — closes the socket and retries with a short
        backoff; a server-side error is raised as ``error`` and not retried."""
        last: Exception | None = None
        with self._lock:
            for attempt in range(self.retries):
                try:
                    if self._sock is None:
                        self._connect()
                    msg = json.dumps({"method": method, "params": params}) + "\n"
                    self._sock.sendall(msg.encode())
                    line = self._rfile.readline()
                    if not line:
                        raise ConnectionError("server closed connection")
                    resp = json.loads(line)
                    if resp.get("ok"):
                        return receive(resp["result"]) if receive else resp["result"]
                except (OSError, json.JSONDecodeError) as exc:
                    last = exc
                    self.close()
                    time.sleep(0.05 * (attempt + 1))
                    continue
                raise error(resp.get("error", "unknown server error"))
        raise ConnectionError(f"cache server unreachable after {self.retries} tries: {last}")

    def call(self, method: str, **params):
        return self._request(method, params)

    def fetch(self, path: str, dest_dir: str) -> dict:
        """Download the peer's CACHED copy of ``path`` into ``dest_dir`` (A8/A9: the
        non-local read chain — LocalDataTransferServer serving a neighbor's blocks).
        Returns the fetch header (files, generation, remote size/mtime). Raises
        ``FileNotFoundError`` on a peer miss; the caller falls back to the remote."""

        def receive(header: dict) -> dict:
            os.makedirs(dest_dir, exist_ok=True)
            for f in header["files"]:
                name = os.path.normpath(f["name"])
                if os.path.isabs(name) or name.split(os.sep)[0] == "..":
                    self.close()  # the unread frames would desync the stream
                    raise ValueError(f"peer sent a path outside the copy: {f['name']!r}")
                dest = os.path.join(dest_dir, name)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                remaining = f["size"]
                with open(dest, "wb") as out:
                    while remaining:
                        chunk = self._rfile.read(min(remaining, 1 << 20))
                        if not chunk:
                            raise ConnectionError("peer stream truncated")
                        out.write(chunk)
                        remaining -= len(chunk)
            return header

        return self._request("fetch", {"path": path}, receive, error=FileNotFoundError)

    def close(self) -> None:
        try:
            if self._sock is not None:
                self._sock.close()
        finally:
            self._sock = None
            self._rfile = None

    # convenience wrappers mirroring the thrift surface
    def ping(self):
        return self.call("ping")

    def get_cache_status(self, path: str):
        return self.call("get_cache_status", path=path)

    def warm(self, path: str):
        return self.call("warm", path=path)

    def invalidate(self, path: str):
        return self.call("invalidate", path=path)

    def get_cache_metrics(self):
        return self.call("get_cache_metrics")


def main() -> None:  # pragma: no cover — exercised via tests/test_cache_server.py
    import argparse

    ap = argparse.ArgumentParser(description="rubix_spark cache daemon (BookKeeper analog)")
    ap.add_argument("--cache-dir", required=True)
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=18898)
    args = ap.parse_args()
    srv = CacheServer(args.cache_dir, args.host, args.port)
    print(json.dumps({"listening": srv.address}), flush=True)
    srv.serve_forever()


if __name__ == "__main__":  # pragma: no cover
    main()
