"""Multi-writer manifest: several processes sharing one cache dir must coordinate
through the file-locked CAS (the reference's BookKeeper serves many engines
concurrently — BookKeeper.java:248-353, commit CAS :413-453).

Managers run sessionless (spark=None → inline file copy) so the tests exercise pure
manifest semantics without a JVM in the child processes.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rubix_spark.cache import CacheManager
from rubix_spark.cache.manifest import Manifest


@pytest.fixture()
def remote_file(tmp_path):
    path = str(tmp_path / "remote" / "t.parquet")
    os.makedirs(os.path.dirname(path))
    pq.write_table(pa.table({"k": list(range(500))}), path)
    return path


def _warm_proc(cache_dir: str, remote: str, q):
    cm = CacheManager(None, cache_dir)
    q.put(cm.warm(remote))


def test_two_processes_warm_same_path(remote_file, tmp_path):
    """Concurrent warms from two OS processes: the generation CAS picks one winner;
    the final manifest has exactly one live entry whose dir exists, and no orphan
    generation dirs are left behind."""
    cache_dir = str(tmp_path / "cache")
    ctx = mp.get_context("spawn")
    q = ctx.Queue()
    ps = [ctx.Process(target=_warm_proc, args=(cache_dir, remote_file, q)) for _ in range(2)]
    for p in ps:
        p.start()
    for p in ps:
        p.join(60)
        assert p.exitcode == 0
    results = [q.get(timeout=5), q.get(timeout=5)]

    m = Manifest(os.path.join(cache_dir, "manifest.json"))
    entry = m.get(remote_file)
    assert entry is not None and os.path.isdir(entry.local_path)
    # the committed entry carries the HIGHEST generation issued (a stale writer can
    # never overwrite a newer commit), and losers cleaned their copies up; a
    # superseded COMMIT survives only as a tombstone until the grace sweep
    assert entry.generation == m._generations[remote_file]
    m.reclaim(force=True)
    fcache = os.path.join(cache_dir, "fcache")
    assert os.listdir(fcache) == [os.path.basename(entry.local_path)]
    # at least one warm returned a path; a CAS loser returns None after self-cleanup
    assert any(r is not None for r in results)


def test_two_managers_in_process_race(remote_file, tmp_path):
    """Same race, thread-level, with two independent Manifest objects (two 'apps' in
    one interpreter): the loser's put() must fail against RELOADED disk state."""
    cache_dir = str(tmp_path / "cache")
    cms = [CacheManager(None, cache_dir) for _ in range(2)]
    results = [None, None]

    def run(i):
        results[i] = cms[i].warm(remote_file)

    ts = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(60)
    entry = cms[0].manifest.get(remote_file)
    assert entry is not None and os.path.isdir(entry.local_path)
    cms[0].manifest.reclaim(force=True)
    assert os.listdir(os.path.join(cache_dir, "fcache")) == [os.path.basename(entry.local_path)]
    # BOTH managers (including the one whose put lost) observe the committed entry
    assert cms[1].manifest.get(remote_file).generation == entry.generation


def test_invalidation_is_visible_across_managers(remote_file, tmp_path):
    cache_dir = str(tmp_path / "cache")
    a = CacheManager(None, cache_dir)
    b = CacheManager(None, cache_dir)
    a.warm(remote_file)
    assert b.manifest.get(remote_file) is not None  # B sees A's commit via refresh
    b.invalidate(remote_file)
    assert a.manifest.get(remote_file) is None  # A sees B's removal via refresh
    # and A can re-warm at a fresh generation afterwards
    local = a.warm(remote_file)
    assert local is not None and a.manifest.get(remote_file).generation >= 3


def test_generations_are_globally_monotonic_across_processes(remote_file, tmp_path):
    """next_generation is a cross-process counter: interleaved calls from independent
    Manifest objects never hand out the same generation twice."""
    mpath = str(tmp_path / "cache" / "manifest.json")
    os.makedirs(os.path.dirname(mpath))
    a, b = Manifest(mpath), Manifest(mpath)
    seen = []
    for i in range(10):
        seen.append((a if i % 2 else b).next_generation("some/path"))
    assert seen == list(range(1, 11))


def test_superseded_generation_survives_grace_period(remote_file, tmp_path):
    """A re-warm tombstones the previous generation's dir instead of deleting it, so a
    concurrent process holding a lazy reader over the OLD dir can still run its action;
    the dir is reclaimed only after the grace deadline (forced here)."""
    cache_dir = str(tmp_path / "cache")
    a = CacheManager(None, cache_dir)
    b = CacheManager(None, cache_dir)
    a.warm(remote_file)
    old = b.manifest.get(remote_file)  # B now 'holds a reader' over generation 1's dir
    assert old is not None and os.path.isdir(old.local_path)

    # A re-warms (e.g. staleness or operator-driven refresh) → generation bump + put
    os.utime(remote_file)  # touch mtime so A sees the remote as changed
    a.invalidate(remote_file)
    a.warm(remote_file)
    new = a.manifest.get(remote_file)
    assert new.generation > old.generation
    assert os.path.isdir(old.local_path)  # B's reader survives the invalidate too

    # the invalidate tombstoned generation 1's dir; a raced superseding commit is
    # tombstoned by the put itself:
    from rubix_spark.cache.manifest import Entry

    g = a.manifest.next_generation(remote_file)
    raced = Entry(
        remote_path=remote_file,
        local_path=str(tmp_path / "raced_copy"),
        size_bytes=1,
        last_modified=0.0,
        generation=g,
    )
    os.makedirs(raced.local_path, exist_ok=True)
    assert a.manifest.put(raced)
    # the superseded dir (new.local_path) is tombstoned, NOT deleted
    assert os.path.isdir(new.local_path)
    a.manifest.reclaim()  # grace not yet expired → still alive
    assert os.path.isdir(new.local_path)
    a.manifest.reclaim(force=True)
    assert not os.path.isdir(new.local_path) and not os.path.isdir(old.local_path)
