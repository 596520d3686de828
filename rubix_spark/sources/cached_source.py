"""``rubix_cache`` — a Spark Python Data Source that reads through the cache layer.

This is the literal "Spark data source integration for caching" the charter names
(BASELINE.json ``spark_approach``): after ``register_cache_source(spark, cache_dir)``,

    spark.read.format("rubix_cache").option("path", remote_path).load()

resolves the path at *plan time* through ``CacheManager.resolve()``, the same route as
``CacheManager.read()`` (hit → the warmed local copy, miss → read-through warm, stale →
invalidate + re-warm — all A2/A6/A16 semantics), then scans whatever copy won as Arrow
record batches, one input partition per parquet row-group for parallelism. The data
files are listed recursively by Spark's rule (names starting with ``_`` or ``.`` are
hidden; any other name is a data file, suffix or not); a partitioned (``k=v``) layout
raises, since its column lives in the path and this source does not read it.

Scan-side optimizations (the parts a 100 TB deployment cares about):

- **Filter pushdown** (``pushFilters``, Spark 4.1 DS API): conjunctive predicates on
  top-level columns prune entire row groups via parquet min/max statistics at planning
  time and pre-filter Arrow batches executor-side. All pushed filters are also returned
  to Spark as residuals (the API's "partially pushed" contract), so Spark re-applies
  them — correctness never depends on the source's filtering.
- **Column projection** via ``.option("columns", "a,b")``: the Python DS API has no
  column-pruning pushdown yet, so callers that know their projection pass it explicitly
  and only those parquet column chunks are decoded and shipped through Arrow.
- **Metadata memoization**: parquet footers (row-group count/stats, schema) are cached
  per (path, mtime, size) driver-side, so repeated scans of a warmed file skip the
  footer read entirely.

Reference parity: this is the ``CachingFileSystem.open()`` seam
(``rubix-core/.../CachingFileSystem.java:227-260``) expressed as a DataSource instead of
a Hadoop FileSystem shim — the engine's scan API is the integration point in both
designs. Locality note: partition→row-group mapping is where ``preferredLocations`` from
``cache/ring.py`` plugs in on a real cluster (the Python DS API doesn't expose it yet, so
the local build relies on Spark's default placement; the JVM shim in ``cache/jvm`` is the
supported locality path).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

_MANAGERS: dict[str, object] = {}


def _manager(cache_dir: str):
    """One sessionless CacheManager per cache_dir.

    DataSource planning runs in a dedicated python worker with no SparkSession, so the
    manager operates in sessionless mode: warm() is a local file copy there (manifest /
    generation / staleness semantics unchanged).
    """
    if cache_dir not in _MANAGERS:
        from rubix_spark.cache.manager import CacheManager

        _MANAGERS[cache_dir] = CacheManager(None, cache_dir)
    return _MANAGERS[cache_dir]


def _resolve(options: dict) -> str:
    """Plan-time path resolution through the cache (read-through warm on miss)."""
    return _manager(options.get("cache_dir", "/tmp/rubix_spark_cache/ds")).resolve(options["path"])


def _data_files(path: str) -> list[str]:
    """The data files of a file or dir path, listed the way ``spark.read.parquet`` does."""
    from rubix_spark.cache.manager import walk_files

    if not os.path.isdir(path):
        return [path]
    files = []
    for f in walk_files(path):
        parts = os.path.relpath(f, path).split(os.sep)
        if any(p.startswith(("_", ".")) for p in parts):
            continue
        if any("=" in p for p in parts[:-1]):
            raise ValueError(f"rubix_cache does not read partitioned (k=v) layouts: {f}")
        files.append(f)
    if not files:
        raise FileNotFoundError(f"no data files under {path}")
    return files


# parquet footer memo: (path, mtime_ns, size) -> (num_row_groups, arrow_schema, stats, rows)
# where stats is [ {col: (min, max, has_nulls)} ] per row group (None where absent).
# Footer reads cost ~10-30 ms each and repeat per query over the same warmed file —
# the in-memory-metadata pattern of the reference's BookKeeper (FileMetadata cache).
_META_MEMO: dict[tuple[str, int, int], tuple[int, object, list]] = {}


def _file_meta(path: str):
    import pyarrow.parquet as pq

    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    hit = _META_MEMO.get(key)
    if hit is None:
        pf = pq.ParquetFile(path)
        md = pf.metadata
        stats = []
        rows = []
        for rg in range(md.num_row_groups):
            rg_md = md.row_group(rg)
            rows.append(rg_md.num_rows)
            cols = {}
            for ci in range(rg_md.num_columns):
                col = rg_md.column(ci)
                s = col.statistics
                if s is not None and s.has_min_max:
                    cols[col.path_in_schema] = (s.min, s.max, bool(s.null_count))
            stats.append(cols)
        hit = (md.num_row_groups, pf.schema_arrow, stats, rows)
        pf.close()
        _META_MEMO[key] = hit
    return hit


def _normalize_schema(schema):
    """Spark's Arrow bridge accepts only µs timestamps; retime ms/ns fields."""
    import pyarrow as pa

    fields = []
    for f in schema:
        if pa.types.is_timestamp(f.type) and f.type.unit != "us":
            fields.append(pa.field(f.name, pa.timestamp("us", tz=f.type.tz)))
        else:
            fields.append(f)
    return pa.schema(fields)


def _columns_option(options: dict) -> list[str] | None:
    cols = options.get("columns")
    return [c.strip() for c in cols.split(",") if c.strip()] if cols else None


_RANGE_FILTERS = (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)


def _rg_may_match(f, col_stats: dict) -> bool:
    """Row-group pruning against parquet min/max stats — conservative: True unless the
    statistics PROVE no row can satisfy the predicate (missing stats never prune)."""
    name = f.attribute[0]
    s = col_stats.get(name)
    if s is None:
        return True
    lo, hi, has_nulls = s
    try:
        if isinstance(f, EqualTo):
            return lo <= f.value <= hi
        if isinstance(f, GreaterThan):
            return hi > f.value
        if isinstance(f, GreaterThanOrEqual):
            return hi >= f.value
        if isinstance(f, LessThan):
            return lo < f.value
        if isinstance(f, LessThanOrEqual):
            return lo <= f.value
        if isinstance(f, In):
            return any(lo <= v <= hi for v in f.value)
        if isinstance(f, IsNull):
            return has_nulls
    except TypeError:  # incomparable types (e.g. stats bytes vs value str) — keep
        return True
    return True


def _arrow_expr(filters):
    """AND of pushed filters as a pyarrow compute expression (batch pre-filter)."""
    import pyarrow.compute as pc

    expr = None
    for f in filters:
        name = f.attribute[0]
        fld = pc.field(name)
        if isinstance(f, EqualTo):
            e = fld == f.value
        elif isinstance(f, GreaterThan):
            e = fld > f.value
        elif isinstance(f, GreaterThanOrEqual):
            e = fld >= f.value
        elif isinstance(f, LessThan):
            e = fld < f.value
        elif isinstance(f, LessThanOrEqual):
            e = fld <= f.value
        elif isinstance(f, In):
            e = fld.isin(list(f.value))
        elif isinstance(f, IsNull):
            e = fld.is_null()
        elif isinstance(f, IsNotNull):
            e = ~fld.is_null()
        else:  # pragma: no cover — only supported types reach here
            continue
        expr = e if expr is None else expr & e
    return expr


@dataclass
class _FilePartition(InputPartition):
    file: str
    row_group: int
    # intra-row-group slice (row offsets): a big file written as ONE row group would
    # otherwise scan as one task/one Python worker — the slice partitions trade a
    # repeated (column-pruned) decode for N-way parallelism
    slice_start: int = 0
    slice_len: int = -1

# target rows per input partition when slicing a large row group
_SLICE_ROWS = 131_072


class RubixCacheReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self._options = options
        self._resolved = _resolve(options)
        self._columns = _columns_option(options)
        self._filters: list = []

    # -------------------------------------------------------------- pushdown
    def pushFilters(self, filters):
        """Keep conjuncts we can evaluate against parquet stats / Arrow compute; ALL
        input filters are yielded back (partially-pushed contract) so Spark re-applies
        them and the source's pruning is a pure optimization, never a correctness
        dependency. Nested attributes stay Spark-side."""
        for f in filters:
            if (
                isinstance(f, _RANGE_FILTERS + (In, IsNull, IsNotNull))
                and len(f.attribute) == 1
                and (self._columns is None or f.attribute[0] in self._columns)
            ):
                self._filters.append(f)
            yield f

    def partitions(self):
        files = _data_files(self._resolved)
        parts = []
        for f in files:
            n_rg, _, stats, rows = _file_meta(f)
            for rg in range(n_rg):
                if all(_rg_may_match(flt, stats[rg]) for flt in self._filters):
                    n = rows[rg]
                    n_slices = max(1, -(-n // _SLICE_ROWS))
                    step = -(-n // n_slices)
                    for s in range(0, n, step):
                        parts.append(_FilePartition(
                            file=f, row_group=rg, slice_start=s, slice_len=min(step, n - s)))
        # every row group stats-pruned → an empty-read sentinel (Spark requires ≥1
        # partition; row_group=-2 yields zero batches)
        return parts or [_FilePartition(file=files[0], row_group=-2)]

    def read(self, partition: _FilePartition):
        import pyarrow.parquet as pq

        if partition.row_group == -2:  # all row groups pruned by pushed filters
            return
        pf = pq.ParquetFile(partition.file)
        kwargs = {"columns": self._columns} if self._columns else {}
        table = pf.read_row_group(partition.row_group, **kwargs).slice(
            partition.slice_start, partition.slice_len)
        if self._filters:
            expr = _arrow_expr(self._filters)
            if expr is not None:
                table = table.filter(expr)
        yield from table.cast(_normalize_schema(table.schema)).to_batches()


class RubixCacheDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "rubix_cache"

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        files = _data_files(_resolve(self.options))
        _, arrow_schema, _, _ = _file_meta(files[0])
        cols = _columns_option(self.options)
        if cols:
            import pyarrow as pa

            arrow_schema = pa.schema([arrow_schema.field(c) for c in cols])
        return from_arrow_schema(_normalize_schema(arrow_schema))

    def reader(self, schema: StructType) -> DataSourceReader:
        return RubixCacheReader(schema, self.options)


def register_cache_source(spark) -> None:
    """Register the rubix_cache format with a session.

    Also sets the session confs the source needs (notably
    spark.sql.python.filterPushdown.enabled — Spark refuses to plan a DataSource that
    implements pushFilters() without it); every entry point to this source goes
    through here, so no caller can hit the scan before the conf is set."""
    from rubix_spark.catalog import ensure_session_confs

    ensure_session_confs(spark)
    spark.dataSource.register(RubixCacheDataSource)


def cache_source_stats(cache_dir: str = "/tmp/rubix_spark_cache/ds") -> dict:
    """Metrics surface of the data-source-scoped cache manager (A27)."""
    return _manager(cache_dir).stats()
