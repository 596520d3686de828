"""Round-3 cache-layer fixes (ADVICE.md r2) + the distributed row-group warm path.

- granularity isolation: whole-file and #rg entries for one remote path must live in
  DIFFERENT local dirs (the r2 collision silently duplicated rows and let either
  granularity's invalidate destroy the other's data)
- evict race: a concurrently-deleted previous subset dir must degrade to a remote
  refetch, never propagate FileNotFoundError
- TTL applies to row-group subset entries exactly as to whole-file entries (A16)
- the collated row-group fetch reads the remote once per collated run, in-process
  (A4 collation), and lands one local file per group
- a copy its own budget eviction removed is not handed out: warm, warm_row_groups
  and the peer fetch all return None for it
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rubix_spark.cache import CacheManager


@pytest.fixture()
def multi_rg_file(tmp_path):
    path = str(tmp_path / "remote" / "facts.parquet")
    os.makedirs(os.path.dirname(path))
    n = 1000
    tbl = pa.table({"k": list(range(n)), "v": [i * 2 for i in range(n)]})
    pq.write_table(tbl, path, row_group_size=100)
    return path


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_granularities_never_share_a_directory(spark, multi_rg_file, tmp_path):
    """Warm BOTH granularities for one path: the whole-file read must return exactly
    the file's rows (no rg_* double-count), and each granularity's dir is its own."""
    cm = CacheManager(spark, str(tmp_path / "cache"))
    cm.warm(multi_rg_file)
    cm.warm_row_groups(multi_rg_file, [0, 1])
    whole = cm.manifest.get(multi_rg_file)
    sub = cm.manifest.get(cm._rg_key(multi_rg_file))
    assert whole.local_path != sub.local_path
    # whole-file hit path serves exactly 1000 rows, not 1000 + the subset's 200
    assert cm.read(multi_rg_file).count() == 1000
    # invalidating one granularity leaves the other's data intact and servable
    cm.invalidate(multi_rg_file)
    assert os.path.isdir(sub.local_path)
    assert _rows(cm.read_row_groups(multi_rg_file, [0, 1])) == [(i, i * 2) for i in range(200)]


def test_concurrent_evict_of_prev_subset_falls_back_to_remote(spark, multi_rg_file, tmp_path):
    """Simulate the bench-stress race: prev's dir vanishes between the manifest read
    and the reuse-copy — the groups must be refetched from remote, not crash."""
    cm = CacheManager(spark, str(tmp_path / "cache"))
    cm.warm_row_groups(multi_rg_file, [2, 3])
    prev = cm.manifest.get(cm._rg_key(multi_rg_file))
    shutil.rmtree(prev.local_path)  # concurrent evictor got here first
    local = cm.warm_row_groups(multi_rg_file, [5])
    assert local is not None
    entry = cm.manifest.get(cm._rg_key(multi_rg_file))
    assert entry.row_groups == [2, 3, 5]
    assert sorted(os.listdir(entry.local_path)) == [
        "rg_00002.parquet", "rg_00003.parquet", "rg_00005.parquet"
    ]
    got = _rows(cm.read_row_groups(multi_rg_file, [2, 3, 5]))
    want = [(i, i * 2) for i in list(range(200, 400)) + list(range(500, 600))]
    assert got == sorted(want)


def test_ttl_expires_rowgroup_entries(spark, multi_rg_file, tmp_path):
    cm = CacheManager(spark, str(tmp_path / "cache"), ttl_seconds=0.2)
    cm.warm_row_groups(multi_rg_file, [1])
    assert cm.read_row_groups(multi_rg_file, [1]).count() == 100  # fresh → hit
    assert cm.stats()["hits"] == 1
    time.sleep(0.3)
    assert cm.read_row_groups(multi_rg_file, [1]).count() == 100  # expired → invalidate+rewarm
    s = cm.stats()
    assert s["invalidations"] == 1 and s["misses"] == 1


def test_collated_fetch_reads_once_per_run(spark, multi_rg_file, tmp_path, monkeypatch):
    """Row groups [0, 1, 7] collate into runs [0, 1] and [7]: one remote read each,
    sliced back into one local parquet per group."""
    reads = []
    real = pq.ParquetFile.read_row_groups

    def counting(self, row_groups, *a, **k):
        reads.append(list(row_groups))
        return real(self, row_groups, *a, **k)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", counting)
    cm = CacheManager(spark, str(tmp_path / "cache"))
    cm.warm_row_groups(multi_rg_file, [0, 1, 7])
    assert reads == [[0, 1], [7]]
    entry = cm.manifest.get(cm._rg_key(multi_rg_file))
    assert entry.row_groups == [0, 1, 7]
    got = _rows(spark.read.parquet(os.path.join(entry.local_path, "rg_00007.parquet")))
    assert got == [(i, i * 2) for i in range(700, 800)]


def test_self_evicted_copy_is_not_returned(multi_rg_file, tmp_path):
    """With a 1-byte budget every new copy is evicted by its own commit: no producer
    may return its path (its dir is tombstoned, unlinked after the grace period)."""
    from rubix_spark.cache.server import CacheClient, CacheServer

    cm = CacheManager(None, str(tmp_path / "cache"), budget_bytes=1)
    assert cm.warm(multi_rg_file) is None
    assert cm.warm_row_groups(multi_rg_file, [0, 1]) is None
    assert cm.manifest.get(multi_rg_file) is None
    assert cm.manifest.get(cm._rg_key(multi_rg_file)) is None

    node_a = CacheServer(str(tmp_path / "node_a"))
    node_a.serve_background()
    try:
        node_a.manager.warm(multi_rg_file)
        node_b = CacheManager(None, str(tmp_path / "node_b"), budget_bytes=1,
                              peer_client=CacheClient(*node_a.address))
        assert node_b._fetch_from_peer(multi_rg_file) is None
        assert node_b.manifest.get(multi_rg_file) is None
        assert node_b.stats()["evictions"] == 1
    finally:
        node_a.shutdown()
