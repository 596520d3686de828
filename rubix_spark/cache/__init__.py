"""Spark-idiomatic re-expression of RubiX's caching layer (SURVEY.md §2.A).

The reference caches byte ranges of remote object-store files on local disks behind the
Hadoop FileSystem API (``rubix-core/.../CachingFileSystem.java``,
``rubix-bookkeeper/.../BookKeeper.java``).  Spark-first, the same semantics land as:

- a **manifest** (generation-numbered, per-file cache state — the analog of BookKeeper's
  bitmap metadata, A12-A17) in :mod:`rubix_spark.cache.manifest`;
- a **CacheManager** (warm / read-through / staleness / LRU eviction / metrics — A2, A5,
  A6, A10, A15, A16, A18-A19, A26, A27) in :mod:`rubix_spark.cache.manager`, which
  materializes hot parquet onto local disk as a byte copy of the remote files (relative
  paths kept, size-checked before commit) and rewrites reads to the local copy.

Round-4 update — both former design-outs now have executable analogs:
- cross-NODE read chains (NonLocalReadRequestChain, A8/A9): the locality shim
  (``cache/locality.py``) remains the first line (schedule the task onto the owning
  node), and an off-preference task's miss now pulls the owner daemon's cached copy
  over the socket (``CacheManager(peer_client=…)`` + ``server.py`` fetch) before
  paying the remote;
- the RPC tier (A22-A23): ``cache/server.py`` is the BookKeeper-daemon analog
  (JSON/TCP, pooled retrying client); cross-process coordination state still lives in
  the file-locked manifest, the daemon adds the remote-client surface.

The LDTS's actual job (A20) — several ENGINE PROCESSES on one node serving each
other's cached blocks (the reference's Presto+Spark+Hive-share-one-BookKeeper
deployment) — survives without its socket protocol: clients mount the same cache dir,
the flock'd manifest CAS is the coordination point, and a client hits on data another
client warmed (``tests/test_cache_cross_client.py``).
"""

from rubix_spark.cache.manager import CacheManager

__all__ = ["CacheManager"]
