"""The three benchmark workloads: ``warm_scan``, ``evict_churn`` and ``query_suite``.

Each is a closed loop with one client thread: the next op starts when the previous
one has returned. A workload function takes the run context and returns a ``Run``
holding its set-up repetitions, its cold pass, every op with its latency
and whether its output was correct, and the workload-specific figures.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

SETUP_REPS = 3
REMOTE_LATENCY_S = 0.02  # one object-store round trip, injected by CacheManager

# query_suite rows: one registered implementation per operator (no twin variants)
SUITE_ROWS = (
    "q1_scan_filter", "q4_star_join", "q29_deep_cte", "q32_cross_channel",
    "x1_minhash_lsh", "x1_simhash", "x1_substring_dedup", "x2_ann_ivf", "x3_token_count",
    "x9_e2e_pipeline", "x7_range_join", "s2_stream_session",
)


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    tracer: object
    work: str
    smoke: bool
    traced: bool


@dataclass
class Op:
    key: str
    seconds: float
    traced: bool
    ok: bool


@dataclass
class Run:
    setup_reps: list = field(default_factory=list)
    setup_spans: list = field(default_factory=list)  # per rep: {span name: seconds}
    cold_pass_s: float | None = None
    warmup_s: float = 0.0
    unlooped_ok: int = 0  # checked ops outside the measured loop: cold pass, warm-up
    unlooped_failed: int = 0
    ops: list = field(default_factory=list)
    loop_s: float = 0.0
    errors: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)


def _setup(ctx: Ctx, run: Run, one_rep: Callable[[str], object]):
    """Run ``one_rep(dir)`` SETUP_REPS times into fresh directories; keep the last
    state. The per-rep set-up span times are recorded for the traced run."""
    state = None
    for rep in range(SETUP_REPS):
        mark = len(ctx.tracer.spans)
        t0 = time.perf_counter()
        state = one_rep(os.path.join(ctx.work, f"rep{rep}"))
        run.setup_reps.append(time.perf_counter() - t0)
        spans: dict[str, float] = {}
        for name, start, end, parent, _ in ctx.tracer.spans[mark:]:
            if parent is None or parent < mark:
                spans[name] = spans.get(name, 0.0) + end - start
        run.setup_spans.append(spans)
    return state


def _closed_loop(ctx: Ctx, run: Run, cycles: int, next_cycle: Callable[[int], list],
                 warmup: list = ()) -> None:
    """Run the ``warmup`` ops once, untimed and untraced, then ``cycles`` measured
    cycles. A cycle is a list of ``(key, op, check)``: ``op()`` is timed,
    ``check(result)`` runs untimed and raises on a wrong result. In the traced run,
    the occurrences of each op key alternate between traced and untraced, so the two
    can be compared on the same mix; every other key starts untraced, so tracing
    does not always fall on a key's first, least warm run."""
    t0 = time.perf_counter()
    ctx.tracer.enabled = False
    for key, op, check in warmup:
        try:
            check(op())
            run.unlooped_ok += 1
        except Exception as e:
            run.unlooped_failed += 1
            run.errors.append(f"warm-up {key}: {type(e).__name__}: {e}"[:500])
    run.warmup_s = time.perf_counter() - t0
    t_start = time.perf_counter()
    seen: dict[str, int] = {}
    for cycle_no in range(cycles):
        for key, op, check in next_cycle(cycle_no):
            if key not in seen:
                seen[key] = len(seen) % 2
            traced = ctx.traced and seen[key] % 2 == 0
            seen[key] += 1
            ctx.tracer.enabled = traced
            ctx.tracer.op_id = len(run.ops)
            ok = True
            t0 = time.perf_counter()
            try:
                result = op()
                dt = time.perf_counter() - t0
                ctx.tracer.enabled = False
                check(result)
            except Exception as e:  # a failed op counts against error_rate; keep looping
                dt = time.perf_counter() - t0
                ok = False
                run.errors.append(f"{key}: {type(e).__name__}: {e}"[:500])
            run.ops.append(Op(key, dt, traced, ok))
    ctx.tracer.enabled = ctx.traced
    ctx.tracer.op_id = None
    run.loop_s = time.perf_counter() - t_start


def _cycles(ctx: Ctx, nominal_cycle_s: float) -> int:
    """Cycles in a run of ``ctx.seconds``. The op count is fixed by the run length
    and the cycle's nominal time on a 4-core reference host, not by the clock, so
    every run of a workload measures the same op mix and its order statistics
    (median, tail) are taken over the same number of samples."""
    return max(1, round(ctx.seconds / nominal_cycle_s))


def _cold_pass(run: Run, tr, items) -> None:
    """Run each ``(key, op, check)`` once; ``cold_pass_s`` sums the op times (the
    correctness checks run untimed)."""
    run.cold_pass_s = 0.0
    for key, op, check in items:
        try:
            t0 = time.perf_counter()
            with tr.span(f"cold.{key}"):
                res = op()
            run.cold_pass_s += time.perf_counter() - t0
            check(res)
            run.unlooped_ok += 1
        except Exception as e:
            run.unlooped_failed += 1
            run.errors.append(f"cold {key}: {type(e).__name__}: {e}"[:500])


class Mismatch(Exception):
    """An op returned a result that differs from the direct read or the oracle."""


def _expect(ok: bool, message: str) -> None:
    if not ok:
        raise Mismatch(message)


def _canonical(cols, rows):
    from tests.oracle_utils import canonical

    return canonical(list(cols), [tuple(r) for r in rows])


def _duck(sql: str):
    import duckdb

    con = duckdb.connect()
    try:
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()


def _cache_stats_delta(cm, before: dict) -> dict:
    after = cm.stats()
    return {k: after[k] - before.get(k, 0) for k in
            ("hits", "misses", "evictions", "invalidations", "fallbacks", "warmed_files")}


# ---------------------------------------------------------------------------- warm_scan
def warm_scan(ctx: Ctx) -> Run:
    """Cache fits: sf0.1-shaped star schema as part-file directories, one cold pass,
    then a fixed seeded mix of star joins, ``read_range`` reads and ``rubix_cache``
    DataSource scans, all served from the warmed cache."""
    from pyspark.sql import functions as F

    from rubix_spark.cache.manager import CacheManager
    from rubix_spark.catalog import ensure_session_confs
    from rubix_spark.fns import duck_sum2, money_sum_fast
    from rubix_spark.queries import load_all
    from rubix_spark.sources.cached_source import register_cache_source

    spark, tr = ctx.spark, ctx.tracer
    sf = 0.002 if ctx.smoke else 0.1
    li_rows = gen._n("lineitem", sf)
    layout = {
        "lineitem": dict(parts=4, row_group_rows=max(1, li_rows // 24), sort_by="l_orderkey"),
        "orders": dict(parts=2, row_group_rows=max(1, gen._n("orders", sf) // 8)),
        "customer": dict(parts=2, row_group_rows=max(1, gen._n("customer", sf) // 4)),
        "nation": dict(parts=1),
    }
    run = Run()

    def one_rep(d):
        remote = os.path.join(d, "remote")
        os.makedirs(remote)
        with tr.span("bench.gen"):
            tbls = gen.tables(ctx.seed, sf, tuple(layout))
            for name, kw in layout.items():
                gen.write_table(tbls[name], os.path.join(remote, f"{name}.parquet"), **kw)
        cm = CacheManager(spark, os.path.join(d, "cache"), remote_latency_s=REMOTE_LATENCY_S)
        return remote, cm, os.path.join(d, "ds_cache")

    remote, cm, ds_cache = _setup(ctx, run, one_rep)
    ensure_session_confs(spark)
    register_cache_source(spark)
    working_set = gen.dir_bytes(remote)
    cm.budget_bytes = 4 * working_set
    run.extra.update(working_set_bytes=working_set, budget_bytes=cm.budget_bytes)

    tables = {n: os.path.join(remote, f"{n}.parquet") for n in layout}
    parts = sorted(os.path.join(tables["lineitem"], f) for f in os.listdir(tables["lineitem"]))
    rng = np.random.default_rng(ctx.seed)

    def key_window(path: str, groups: int) -> tuple[int, int]:
        """An l_orderkey window spanning ``groups`` row groups of one part file."""
        md = pq.ParquetFile(path).metadata
        i = int(rng.integers(0, md.num_row_groups - groups + 1))
        col = next(j for j in range(md.num_columns)
                   if md.row_group(0).column(j).path_in_schema == "l_orderkey")
        lo = md.row_group(i).column(col).statistics.min
        hi = md.row_group(i + groups - 1).column(col).statistics.max
        return int(lo), int(hi)

    # expected answers, from DuckDB reading the remote files directly
    c1_sql = load_all()["c1_cached_star_join"].oracle
    for n, p in tables.items():
        c1_sql = c1_sql.replace(f"FROM {n} ", f"FROM '{p}/*.parquet' ").replace(
            f"JOIN {n} ", f"JOIN '{p}/*.parquet' ")
    star_expected = _canonical(*_duck(c1_sql))

    ranges = []
    for _ in range(2):
        path = parts[int(rng.integers(0, len(parts)))]
        lo, hi = key_window(path, 1)
        cols, rows = _duck(
            f"SELECT count(*), sum(l_partkey), sum(l_quantity) FROM '{path}' "
            f"WHERE l_orderkey BETWEEN {lo} AND {hi}")
        ranges.append((path, lo, hi, tuple(rows[0])))
    ds_scans = []
    li_glob = f"'{tables['lineitem']}/*.parquet'"
    for _ in range(2):
        lo, hi = key_window(parts[int(rng.integers(0, len(parts)))], 2)
        sql = (f"SELECT l_returnflag, count(*) AS cnt, {duck_sum2('l_extendedprice', 'rev')} "
               f"FROM {li_glob} WHERE l_orderkey BETWEEN {lo} AND {hi} GROUP BY l_returnflag")
        ds_scans.append((lo, hi, _canonical(*_duck(sql))))

    star_bytes = sum(gen.dir_bytes(p) for p in tables.values())

    def star():
        li, orders = cm.read(tables["lineitem"]), cm.read(tables["orders"])
        customer, nation = cm.read(tables["customer"]), cm.read(tables["nation"])
        df = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
              .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
              .groupBy("n_name").agg(money_sum_fast("l_extendedprice", "rev")))
        rows = df.collect()
        tr.add("scanned_bytes", star_bytes)
        return df.columns, rows

    def check_star(res):
        _expect(_canonical(*res) == star_expected, "star join differs from the direct read")

    def range_op(path, lo, hi):
        rg_bytes = gen.dir_bytes(path) // pq.ParquetFile(path).metadata.num_row_groups

        def op():
            df = cm.read_range(path, "l_orderkey", lo, hi)
            row = df.agg(F.count("*"), F.sum("l_partkey"), F.sum("l_quantity")).collect()[0]
            tr.add("scanned_bytes", rg_bytes)
            return tuple(row)
        return op

    def check_equal(expected):
        def check(res):
            _expect(res == expected, f"got {res}, direct read gives {expected}")
        return check

    def ds_scan(lo, hi):
        return (spark.read.format("rubix_cache")
                .option("path", tables["lineitem"]).option("cache_dir", ds_cache)
                .option("columns", "l_orderkey,l_returnflag,l_extendedprice")
                .load()
                .where((F.col("l_orderkey") >= lo) & (F.col("l_orderkey") <= hi)))

    def ds_op(lo, hi):
        def op():
            df = (ds_scan(lo, hi).groupBy("l_returnflag")
                  .agg(F.count("*").alias("cnt"), money_sum_fast("l_extendedprice", "rev")))
            with tr.span("sources.cached_source.scan"):
                rows = df.collect()
            return df.columns, rows
        return op

    def check_canon(expected):
        def check(res):
            _expect(_canonical(*res) == expected, "DataSource scan differs from the direct read")
        return check

    distinct = [("star_join", star, check_star)]
    distinct += [(f"read_range{i}", range_op(p, lo, hi), check_equal(exp))
                 for i, (p, lo, hi, exp) in enumerate(ranges)]
    distinct += [(f"ds_scan{i}", ds_op(lo, hi), check_canon(exp))
                 for i, (lo, hi, exp) in enumerate(ds_scans)]
    disk = {"peak": 0}

    def sampled(key, op, check):
        def chk(res):
            disk["peak"] = max(disk["peak"], gen.dir_bytes(cm.cache_dir) + gen.dir_bytes(ds_cache))
            check(res)
        return key, op, chk

    distinct = [sampled(*x) for x in distinct]
    # cycle of 12: 8 star joins, the 2 range reads and the 2 DataSource scans. With
    # two cycles the median (rank 12.5 of 24) and the tail (rank 14) both fall
    # inside the star joins' cluster (ranks 5-20), not on a cluster boundary
    mix = [distinct[0]] * 8 + distinct[1:]
    cycle = [mix[i] for i in rng.permutation(len(mix))]
    _cold_pass(run, tr, distinct)  # every distinct op once, cache empty

    before = cm.stats()
    # star joins run ~20% slower for their first few executions after the cold pass,
    # while the JIT compiles their plan: warm them up untimed
    _closed_loop(ctx, run, _cycles(ctx, 6.0), lambda c: cycle, warmup=[distinct[0]] * 8)
    run.extra.update(
        cache=_cache_stats_delta(cm, before),
        disk_peak_bytes=disk["peak"],
        remote_bytes_touched=working_set,
    )
    if ctx.traced:  # after the loop, untraced: plan each scan again to count its partitions
        tr.enabled = False
        run.extra["ds_partitions"] = float(np.mean(
            [ds_scan(lo, hi).rdd.getNumPartitions() for lo, hi, _ in ds_scans]))
    return run


# ---------------------------------------------------------------------------- evict_churn
def evict_churn(ctx: Ctx) -> Run:
    """Working set twice the cache budget: 32 remote files (~20 MB) under Zipf-skewed
    access; a seeded share of ops first rewrites the remote file (stale -> invalidate
    -> re-warm at a new generation). The cold pass fills the cache with the most
    popular half. Every read is checksummed against a direct read."""
    from pyspark.sql import functions as F

    from rubix_spark.cache.manager import CacheManager

    spark, tr = ctx.spark, ctx.tracer
    n_files = 8 if ctx.smoke else 32
    mean_rows = 2_000 if ctx.smoke else 40_000
    rewrite_share = 0.1
    zipf_s = 1.0
    run = Run()
    rng0 = np.random.default_rng(ctx.seed)
    sizes = rng0.integers(mean_rows // 2, mean_rows * 3 // 2, n_files)

    def content(i: int, version: int) -> pa.Table:
        r = np.random.default_rng([ctx.seed, i, version])
        n = int(sizes[i])
        return pa.table({
            "id": np.arange(n, dtype=np.int64) + i * 10_000_000,
            "v": r.integers(0, 1 << 20, n),
            "tag": pa.array(r.integers(0, 16, n)).cast(pa.string()),
        })

    def write(path: str, tbl: pa.Table) -> None:
        tmp = path + ".tmp"
        pq.write_table(tbl, tmp, row_group_size=max(1, tbl.num_rows // 2))
        os.replace(tmp, path)

    def one_rep(d):
        remote = os.path.join(d, "remote")
        os.makedirs(remote)
        with tr.span("bench.gen"):
            paths = []
            for i in range(n_files):
                p = os.path.join(remote, f"f{i:03d}.parquet")
                write(p, content(i, 0))
                paths.append(p)
        return paths, os.path.join(d, "cache")

    paths, cache_dir = _setup(ctx, run, one_rep)
    working_set = sum(os.path.getsize(p) for p in paths)
    cm = CacheManager(spark, cache_dir, budget_bytes=working_set // 2,
                      remote_latency_s=REMOTE_LATENCY_S)
    run.extra.update(working_set_bytes=working_set, budget_bytes=cm.budget_bytes)

    def checksum_direct(path: str) -> tuple:
        t = pq.read_table(path)
        return (t.num_rows, int(np.sum(t["id"].to_numpy())), int(np.sum(t["v"].to_numpy())))

    expected = [checksum_direct(p) for p in paths]
    versions = [0] * n_files
    rank = rng0.permutation(n_files)  # file rank[k] has popularity k
    weights = 1.0 / np.arange(1, n_files + 1) ** zipf_s
    weights /= weights.sum()
    rng = np.random.default_rng([ctx.seed, 1])
    disk = {"peak": 0}
    touched: dict[tuple[int, int], int] = {}  # (file, version) -> remote bytes

    def make_op(i: int, rewrite: bool):
        path = paths[i]
        if rewrite:
            versions[i] += 1
            write(path, content(i, versions[i]))
            expected[i] = checksum_direct(path)
        size = touched.setdefault((i, versions[i]), os.path.getsize(path))

        def op():
            df = cm.read(path)
            row = df.agg(F.count("*"), F.sum("id"), F.sum("v")).collect()[0]
            tr.add("scanned_bytes", size)
            return tuple(row)

        def check(res):
            disk["peak"] = max(disk["peak"], gen.dir_bytes(cache_dir))
            _expect(res == expected[i],
                    f"f{i:03d} v{versions[i]}: got {res}, direct read {expected[i]}")

        return f"f{i:03d}", op, check

    def one_op(_):
        i = int(rank[rng.choice(n_files, p=weights)])
        return [make_op(i, rng.random() < rewrite_share)]

    _cold_pass(run, tr, [make_op(int(i), False) for i in rank[: n_files // 2]])
    before = cm.stats()
    _closed_loop(ctx, run, _cycles(ctx, 0.25), one_op)
    run.extra.update(
        cache=_cache_stats_delta(cm, before),
        disk_peak_bytes=disk["peak"],
        remote_bytes_touched=sum(touched.values()),
        rewrites=int(sum(versions)),
    )
    return run


# ---------------------------------------------------------------------------- query_suite
def query_suite(ctx: Ctx) -> Run:
    """No cache: the registered rows in ``SUITE_ROWS`` run directly on seeded
    sf0.01-shaped inputs. Set-up writes the inputs. The cold pass runs each row once,
    collecting its result, and hash-checks it against its DuckDB oracle; as on any
    first use, q29 builds the bucketed ``lineitem`` layout and x2_ann_ivf the IVF
    index they read. The loop then repeats seeded permutations of the list,
    consuming each result through the noop sink."""
    from rubix_spark.queries import load_all

    from tests.oracle_utils import compare

    spark, tr = ctx.spark, ctx.tracer
    sf = 0.001 if ctx.smoke else 0.01
    registry = load_all()
    rows = {n: registry[n] for n in SUITE_ROWS}
    run = Run()

    def one_rep(d):
        with tr.span("bench.gen"):
            gen.write_fixture_dir(ctx.seed, sf, d)
        return d

    sf_dir = _setup(ctx, run, one_rep)
    run.extra.update(working_set_bytes=gen.dir_bytes(sf_dir))

    class _Fetched:
        """Hands ``compare`` the frame the cold pass already fetched."""

        def __init__(self, pdf):
            self._pdf = pdf

        def toPandas(self):
            return self._pdf

    def cold_op(q):
        def op():
            return q.builder(spark, sf_dir).toPandas()

        def check(pdf):
            problems = compare(_Fetched(pdf), q.oracle, sf_dir)
            _expect(not problems, "; ".join(problems)[:300])
        return q.name, op, check

    _cold_pass(run, tr, [cold_op(q) for q in rows.values()])

    def row_op(name, q):
        def op():
            with tr.span(f"{name}.build"):
                df = q.builder(spark, sf_dir)
            with tr.span(f"{name}.exec"):
                df.write.format("noop").mode("overwrite").save()
        return name, op, lambda _: None

    names = list(rows)
    rng = np.random.default_rng(ctx.seed)

    def one_pass(_):
        return [row_op(names[i], rows[names[i]]) for i in rng.permutation(len(names))]

    _closed_loop(ctx, run, _cycles(ctx, 6.5), one_pass)
    run.extra["modules"] = {n: _module(q.builder.__module__) for n, q in rows.items()}
    return run


def _module(mod: str) -> str:
    """Roll-up layer of a row: ``queries``, ``ops.<name>`` or ``streaming``."""
    parts = mod.split(".")
    if parts[1] == "ops":
        return f"ops.{parts[2]}"
    return parts[1]


WORKLOADS = {"warm_scan": warm_scan, "evict_churn": evict_churn, "query_suite": query_suite}
