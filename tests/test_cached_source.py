"""rubix_cache Python Data Source: read-through caching behind spark.read.format()."""

from __future__ import annotations

import os
import shutil

import pytest

from rubix_spark.sources.cached_source import register_cache_source
from tests.conftest import SF_SMOKE


@pytest.fixture()
def remote_dir(tmp_path):
    d = tmp_path / "remote"
    d.mkdir()
    shutil.copy(f"{SF_SMOKE}/nation.parquet", d / "nation.parquet")
    return str(d)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _read(spark, path, cache_dir):
    return (
        spark.read.format("rubix_cache")
        .option("path", path)
        .option("cache_dir", cache_dir)
        .load()
    )


def test_cached_source_roundtrip_and_hit(spark, remote_dir, tmp_path):
    register_cache_source(spark)
    cache_dir = str(tmp_path / "dscache")
    path = f"{remote_dir}/nation.parquet"
    direct = _rows(spark.read.parquet(path))
    first = _rows(_read(spark, path, cache_dir))
    assert first == direct  # read-through warm, same data
    # delete the remote: the source must keep serving from cache (the reference's
    # signature behavior, TestCachingInputStream.java:165-177)
    os.remove(path)
    second = _rows(_read(spark, path, cache_dir))
    assert second == direct


def test_cached_source_parallel_partitions(spark, remote_dir, tmp_path):
    register_cache_source(spark)
    cache_dir = str(tmp_path / "dscache2")
    path = f"{remote_dir}/nation.parquet"
    df = _read(spark, path, cache_dir)
    assert df.count() == spark.read.parquet(path).count()
    # partitioning is per row-group: at least one input partition materialized
    assert df.rdd.getNumPartitions() >= 1


@pytest.fixture()
def multi_rg_remote(tmp_path):
    """A parquet file with 10 row groups of 100 sorted keys each (min/max stats prune)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "remote_rg"
    d.mkdir()
    path = str(d / "t.parquet")
    pq.write_table(
        pa.table({"k": list(range(1000)), "v": [float(i) for i in range(1000)]}),
        path,
        row_group_size=100,
    )
    return path


def test_pushed_filters_prune_row_groups(multi_rg_remote, tmp_path):
    """Row-group stats pruning at planning time: an EqualTo on the sorted key keeps
    exactly one of the 10 row-group partitions (reader-level, deterministic)."""
    from pyspark.sql.datasource import EqualTo, LessThan
    from rubix_spark.sources.cached_source import RubixCacheReader

    opts = {"path": multi_rg_remote, "cache_dir": str(tmp_path / "dsc")}
    reader = RubixCacheReader(None, opts)
    residual = list(reader.pushFilters([EqualTo(("k",), 105)]))
    assert len(residual) == 1  # partially-pushed: Spark still re-applies it
    parts = reader.partitions()
    assert len(parts) == 1 and parts[0].row_group == 1  # k=105 lives in rg 1 only

    reader2 = RubixCacheReader(None, opts)
    list(reader2.pushFilters([LessThan(("k",), 250)]))
    assert {p.row_group for p in reader2.partitions()} == {0, 1, 2}


def test_pushed_filter_prune_all_yields_empty_scan(spark, multi_rg_remote, tmp_path):
    register_cache_source(spark)
    df = _read(spark, multi_rg_remote, str(tmp_path / "dsc2"))
    assert df.filter("k < 0").count() == 0
    assert df.filter("k = 555").count() == 1  # survives pruning + residual


def test_columns_option_projects_scan(spark, multi_rg_remote, tmp_path):
    register_cache_source(spark)
    df = (
        spark.read.format("rubix_cache")
        .option("path", multi_rg_remote)
        .option("cache_dir", str(tmp_path / "dsc3"))
        .option("columns", "v")
        .load()
    )
    assert df.columns == ["v"]
    assert df.count() == 1000


def _hive_dir(root):
    """Part files without a ``.parquet`` suffix, plus a ``_SUCCESS`` marker."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root.mkdir(parents=True)
    for f in range(2):
        pq.write_table(pa.table({"id": list(range(f * 50, (f + 1) * 50))}), str(root / f"{f:06d}_0"))
    (root / "_SUCCESS").write_bytes(b"")
    return str(root)


def test_suffixless_part_files_are_listed(spark, tmp_path):
    register_cache_source(spark)
    path = _hive_dir(tmp_path / "remote" / "h")
    got = _read(spark, path, str(tmp_path / "dsc4"))
    assert _rows(got) == _rows(spark.read.parquet(path))


def test_partitioned_layout_is_refused(spark, tmp_path):
    """A k=v dir would lose its partition column: the source refuses it by name."""
    from rubix_spark.sources.cached_source import RubixCacheDataSource

    path = _hive_dir(tmp_path / "remote" / "p" / "k=1")
    src = RubixCacheDataSource({"path": os.path.dirname(path), "cache_dir": str(tmp_path / "dsc5")})
    with pytest.raises(ValueError, match="partitioned"):
        src.schema()
