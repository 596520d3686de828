"""Kill-point tests: a cache operation's process is SIGKILLed right after it returns,
and a fresh process must find every dir the dead one dropped recorded in the manifest,
so the cache converges without an operator.

Children run sessionless managers under the spawn context, so no JVM is involved.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import signal

import pyarrow as pa
import pyarrow.parquet as pq

from rubix_spark.cache import CacheManager


def _warm_invalidate_kill(cache_dir: str, remote: str, q) -> None:
    cm = CacheManager(None, cache_dir)
    q.put(cm.warm(remote))
    cm.invalidate(remote)
    os.kill(os.getpid(), signal.SIGKILL)


def test_invalidate_then_kill_leaves_a_tombstone(tmp_path):
    remote = str(tmp_path / "remote" / "t.parquet")
    os.makedirs(os.path.dirname(remote))
    pq.write_table(pa.table({"k": list(range(500))}), remote)
    cache_dir = str(tmp_path / "cache")

    ctx = mp.get_context("spawn")
    q = ctx.Queue()
    p = ctx.Process(target=_warm_invalidate_kill, args=(cache_dir, remote, q))
    p.start()
    local = q.get(timeout=60)
    p.join(60)
    assert p.exitcode == -signal.SIGKILL
    assert local is not None and os.path.isdir(local)

    cm = CacheManager(None, cache_dir)
    assert cm.manifest.get(remote) is None
    assert local in cm.manifest._tombstones
    cm.manifest.reclaim(force=True)
    assert not os.path.exists(local)
    assert os.listdir(os.path.join(cache_dir, "fcache")) == []
