"""Cache-layer tests mirroring the reference's golden-content strategy
(TestCachingInputStream.java:165-294, CacheRemoval.robot:44-50, TestGenerationNumber.java).
"""

from __future__ import annotations

import os
import shutil
import time

import pytest

from rubix_spark.cache import CacheManager
from tests.conftest import SF_SMOKE


@pytest.fixture()
def remote_dir(tmp_path):
    """A writable 'remote store' seeded with fixture tables."""
    d = tmp_path / "remote"
    d.mkdir()
    for t in ("nation", "region", "orders"):
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", d / f"{t}.parquet")
    return str(d)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_warm_cold_equivalence(spark, remote_dir, tmp_path):
    cm = CacheManager(spark, str(tmp_path / "cache"))
    path = f"{remote_dir}/nation.parquet"
    cold = _rows(spark.read.parquet(path))
    warm1 = _rows(cm.read(path))  # miss → read-through warm
    warm2 = _rows(cm.read(path))  # hit
    assert cold == warm1 == warm2
    s = cm.stats()
    assert s["hits"] == 1 and s["misses"] == 1 and s["warmed_files"] == 1


def test_serve_from_cache_after_remote_delete(spark, remote_dir, tmp_path):
    """The reference's signature proof: delete the backend file, re-read from cache
    (TestCachingInputStream.java:165-177)."""
    cm = CacheManager(spark, str(tmp_path / "cache"))
    path = f"{remote_dir}/nation.parquet"
    before = _rows(cm.read(path))
    os.remove(path)
    after = _rows(cm.read(path))
    assert before == after
    assert cm.stats()["hits"] == 1


def test_staleness_invalidates_and_returns_new_data(spark, remote_dir, tmp_path):
    """Rewrite the remote with new lastModified → next read invalidates
    (TestCachingInputStream.java:193-212; BookKeeper.java:774-777)."""
    cm = CacheManager(spark, str(tmp_path / "cache"))
    path = f"{remote_dir}/nation.parquet"
    old = _rows(cm.read(path))
    # replace remote content with a different table
    shutil.copy(f"{SF_SMOKE}/region.parquet", path)
    os.utime(path, (time.time() + 10, time.time() + 10))
    new = _rows(cm.read(path))
    assert new != old
    assert new == _rows(spark.read.parquet(f"{SF_SMOKE}/region.parquet"))
    s = cm.stats()
    assert s["invalidations"] == 1
    # generation must have advanced past the original copy (A17)
    e = cm.manifest.get(path)
    assert e is not None and e.generation >= 3


def test_eviction_under_budget(spark, remote_dir, tmp_path):
    """Budget < working set forces LRU evictions while results stay correct
    (CacheRemoval.robot:44-50; BookKeeper.java:656-686)."""
    nation_sz = os.path.getsize(f"{remote_dir}/nation.parquet")
    orders_sz = os.path.getsize(f"{remote_dir}/orders.parquet")
    # room for orders alone but not both → exactly the LRU entry (nation) must go
    cm = CacheManager(spark, str(tmp_path / "cache"), budget_bytes=nation_sz + orders_sz - 1)
    n_path, o_path = f"{remote_dir}/nation.parquet", f"{remote_dir}/orders.parquet"
    r_nation = _rows(cm.read(n_path))
    time.sleep(0.01)
    r_orders = _rows(cm.read(o_path))  # warming this evicts nation (LRU)
    assert cm.stats()["evictions"] >= 1
    assert cm.manifest.get(n_path) is None and cm.manifest.get(o_path) is not None
    # evicted table still reads correctly (re-warms through the miss path)
    assert _rows(cm.read(n_path)) == r_nation
    assert _rows(cm.read(o_path)) == r_orders


def test_eviction_is_two_phase_for_inflight_readers(spark, remote_dir, tmp_path):
    """A reader holding a DataFrame planned over a cached copy must survive that
    copy's eviction (r6: eviction unlinking files mid-scan failed a concurrent sf1
    stress reader with FAILED_READ_FILE). Manifest removal is immediate; the dir is
    tombstoned for a grace period, and a forced reclaim frees the disk."""
    cm = CacheManager(spark, str(tmp_path / "cache"))
    path = f"{remote_dir}/nation.parquet"
    expected = _rows(cm.read(path))
    entry = cm.manifest.get(path)
    df = cm.read(path)  # a hit: planned over the local copy
    cm.budget_bytes = 1  # force everything out
    assert cm.evict_to_budget() >= 1
    assert cm.manifest.get(path) is None  # logically gone (budget accounting)
    assert _rows(df) == expected  # in-flight reader still completes
    assert os.path.isdir(entry.local_path)  # files held by the grace period
    cm.manifest.reclaim(force=True)
    assert not os.path.isdir(entry.local_path)  # reclaimed on demand


def test_deny_pattern_skips_cache(spark, remote_dir, tmp_path):
    """skipCache regex gate (CacheUtil.java:203-222)."""
    cm = CacheManager(spark, str(tmp_path / "cache"), deny_patterns=(r"orders",))
    path = f"{remote_dir}/orders.parquet"
    assert not cm.cacheable(path)
    _ = cm.read(path)
    _ = cm.read(path)
    s = cm.stats()
    assert s["warmed_files"] == 0 and s["hits"] == 0 and s["misses"] == 2


def test_dummy_mode_counts_but_never_caches(spark, remote_dir, tmp_path):
    """Dummy what-if mode (DummyModeCachingInputStream; CacheConfig.java:108,183)."""
    cm = CacheManager(spark, str(tmp_path / "cache"), dummy=True)
    path = f"{remote_dir}/nation.parquet"
    _ = cm.read(path)
    assert cm.stats()["misses"] == 1 and cm.stats()["cached_files"] == 0


def test_corruption_falls_back_to_remote(spark, remote_dir, tmp_path):
    """Local-copy corruption → invalidate + direct remote read
    (CachedReadRequestChain.java:204-223); strict mode surfaces the error instead."""
    cm = CacheManager(spark, str(tmp_path / "cache"))
    path = f"{remote_dir}/nation.parquet"
    expected = _rows(cm.read(path))
    e = cm.manifest.get(path)
    shutil.rmtree(e.local_path)  # corrupt the cached copy
    assert _rows(cm.read(path)) == expected
    assert cm.stats()["fallbacks"] == 1

    cm2 = CacheManager(spark, str(tmp_path / "cache2"), strict=True)
    _ = cm2.read(path)
    e2 = cm2.manifest.get(path)
    shutil.rmtree(e2.local_path)
    from rubix_spark.cache.manager import CacheReadError

    with pytest.raises(CacheReadError):
        cm2.read(path)


def test_manifest_survives_restart(spark, remote_dir, tmp_path):
    """Generation numbers and entries persist across manager restarts
    (FileMetadata.findGenerationNumber analog)."""
    cache = str(tmp_path / "cache")
    path = f"{remote_dir}/nation.parquet"
    cm = CacheManager(spark, cache)
    first = _rows(cm.read(path))
    del cm
    cm2 = CacheManager(spark, cache)
    assert _rows(cm2.read(path)) == first
    assert cm2.stats()["hits"] == 1  # served from the persisted cache entry
