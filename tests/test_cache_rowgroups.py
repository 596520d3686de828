"""Row-group-granularity cache tests — the reference's 1 MiB-block economics
(FileMetadata.java:96-97: per-block bitmap, only touched blocks are downloaded) at
parquet's natural block size, plus the batched-touch manifest behavior.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rubix_spark.cache import CacheManager
from rubix_spark.cache.manifest import Manifest


@pytest.fixture()
def multi_rg_file(tmp_path):
    """A 'remote' parquet file with 10 row groups of 100 rows, k ascending — so footer
    min/max stats make range predicates prunable to specific groups."""
    path = str(tmp_path / "remote" / "facts.parquet")
    os.makedirs(os.path.dirname(path))
    n = 1000
    tbl = pa.table({"k": list(range(n)), "v": [i * 2 for i in range(n)]})
    pq.write_table(tbl, path, row_group_size=100)
    assert pq.ParquetFile(path).metadata.num_row_groups == 10
    return path


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stats_pruning_picks_only_relevant_groups(spark, multi_rg_file, tmp_path):
    cm = CacheManager(spark, str(tmp_path / "cache"))
    assert cm.relevant_row_groups(multi_rg_file, "k", lo=250, hi=449) == [2, 3, 4]
    assert cm.relevant_row_groups(multi_rg_file, "k", lo=999) == [9]
    assert cm.relevant_row_groups(multi_rg_file, "k", hi=-1) == []
    # no stats for an unknown column → conservative: all groups kept
    assert cm.relevant_row_groups(multi_rg_file, "nope") == list(range(10))


def test_predicate_warm_materializes_subset_only(spark, multi_rg_file, tmp_path):
    """A 1% predicate must NOT warm 100% of the file (the round-1 gap vs the
    reference's block cache)."""
    cm = CacheManager(spark, str(tmp_path / "cache"))
    direct = _rows(spark.read.parquet(multi_rg_file).where("k >= 250 and k <= 449"))
    cold = _rows(cm.read_range(multi_rg_file, "k", lo=250, hi=449))  # miss → subset warm
    warm = _rows(cm.read_range(multi_rg_file, "k", lo=250, hi=449))  # hit
    assert direct == cold == warm and len(direct) == 200
    s = cm.stats()
    assert s["hits"] == 1 and s["misses"] == 1
    entry = cm.manifest.get(cm._rg_key(multi_rg_file))
    assert entry.row_groups == [2, 3, 4]
    # local subset carries ~3/10ths of the data, not the whole file
    assert entry.size_bytes < os.path.getsize(multi_rg_file)
    local_files = sorted(os.listdir(entry.local_path))
    assert local_files == ["rg_00002.parquet", "rg_00003.parquet", "rg_00004.parquet"]


def test_subset_grows_incrementally_and_serves_covered_requests(spark, multi_rg_file, tmp_path):
    cm = CacheManager(spark, str(tmp_path / "cache"))
    cm.warm_row_groups(multi_rg_file, [2, 3])
    cm.warm_row_groups(multi_rg_file, [7])  # merges, re-using already-local groups
    entry = cm.manifest.get(cm._rg_key(multi_rg_file))
    assert entry.row_groups == [2, 3, 7]
    got = _rows(cm.read_row_groups(multi_rg_file, [3, 7]))  # covered → cache hit
    assert got == _rows(spark.read.parquet(multi_rg_file).where("(k >= 300 and k < 400) or (k >= 700 and k < 800)"))
    assert cm.stats()["hits"] == 1
    # uncovered request → miss, warms the union
    _rows(cm.read_row_groups(multi_rg_file, [0, 3]))
    assert cm.manifest.get(cm._rg_key(multi_rg_file)).row_groups == [0, 2, 3, 7]
    s = cm.stats()
    assert s["misses"] == 1 and s["invalidations"] == 0  # fresh subset: merged, not dropped


def test_lost_subset_falls_back_and_rewarms(spark, multi_rg_file, tmp_path):
    """A subset whose files vanished behind the manifest passes the hit test, fails to
    plan, and is re-routed: one hit, one fallback, one miss — as for a whole file."""
    cm = CacheManager(spark, str(tmp_path / "cache"))
    shutil.rmtree(cm.warm_row_groups(multi_rg_file, [2, 3]))
    got = _rows(cm.read_row_groups(multi_rg_file, [2, 3]))
    assert got == [(i, i * 2) for i in range(200, 400)]
    s = cm.stats()
    assert (s["hits"], s["fallbacks"], s["misses"], s["invalidations"]) == (1, 1, 1, 1)
    assert os.path.isdir(cm.manifest.get(cm._rg_key(multi_rg_file)).local_path)


def test_stale_remote_invalidates_subset(spark, multi_rg_file, tmp_path):
    cm = CacheManager(spark, str(tmp_path / "cache"))
    before = _rows(cm.read_range(multi_rg_file, "k", lo=0, hi=99))
    assert before == [(i, i * 2) for i in range(100)]
    # rewrite remote with shifted values (different size/mtime → stale)
    n = 1000
    pq.write_table(pa.table({"k": list(range(n)), "v": [i * 3 for i in range(n)]}),
                   multi_rg_file, row_group_size=100)
    after = _rows(cm.read_range(multi_rg_file, "k", lo=0, hi=99))
    assert after == [(i, i * 3) for i in range(100)]
    assert cm.stats()["invalidations"] == 1


def test_rowgroup_eviction_weighs_subset_bytes(spark, multi_rg_file, tmp_path):
    cm = CacheManager(spark, str(tmp_path / "cache"), budget_bytes=1)
    cm.warm_row_groups(multi_rg_file, [1])
    # subset entry participates in LRU eviction like any whole-file entry
    assert cm.manifest.get(cm._rg_key(multi_rg_file)) is None
    assert cm.stats()["evictions"] == 1


def test_collation_merges_adjacent_and_chunks_runs():
    """A4 analog (ReadRequestChain.java:71-90, 92-116): adjacent groups merge into one
    backend read; runs cap at MAX_COLLATED_RUN."""
    assert CacheManager.collate([7, 0, 1, 2, 5, 8]) == [[0, 1, 2], [5], [7, 8]]
    assert CacheManager.collate([0, 1, 2, 3], max_run=2) == [[0, 1], [2, 3]]
    assert CacheManager.collate([]) == []
    assert CacheManager.collate([4, 4, 4]) == [[4]]


def test_collated_warm_equals_per_group_content(spark, multi_rg_file, tmp_path):
    """The sliced-back local files must hold exactly their row group's rows."""
    cm = CacheManager(spark, str(tmp_path / "cache"))
    cm.warm_row_groups(multi_rg_file, [3, 4, 5])  # one collated read, three local files
    entry = cm.manifest.get(cm._rg_key(multi_rg_file))
    for i in (3, 4, 5):
        got = _rows(spark.read.parquet(os.path.join(entry.local_path, f"rg_{i:05d}.parquet")))
        assert got == [(k, k * 2) for k in range(i * 100, (i + 1) * 100)]


def test_touch_is_batched_not_per_hit(tmp_path):
    """touch() must not rewrite the manifest synchronously on every cache hit."""
    mpath = str(tmp_path / "manifest.json")
    m = Manifest(mpath)
    from rubix_spark.cache.manifest import CACHED, Entry

    m.put(Entry("r", "l", 1, 1.0, m.next_generation("r"), CACHED))
    mtime0 = os.path.getmtime(mpath)
    time.sleep(0.05)
    for _ in range(100):
        m.touch("r")
    assert os.path.getmtime(mpath) == mtime0  # no synchronous rewrites within interval
    m.flush()
    assert os.path.getmtime(mpath) > mtime0  # explicit flush persists the timestamps
    # a fresh load sees the flushed last_access
    assert Manifest(mpath).get("r").last_access == m.get("r").last_access
