"""Benchmark command: ``python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1``.

Run from the repository root. It generates the workload's inputs from the seed,
starts Spark on ``local[nproc]``, runs the workload's closed loop for ``--seconds``,
checks every result and prints, one per line, each metric with its unit, then as
the last line one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is the separate traced
run that reports the per-layer metrics (see README.md). ``--smoke`` runs every
workload once at tiny scale in one process and reports both sets.

Everything the run writes stays under ``perfbench/_work`` (deleted at exit) and
``perfbench/results`` (one JSON artifact per run). The exit code is non-zero when
any op failed or returned a wrong result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {  # name -> unit; every workload reports these
    "setup_s": "s", "cold_pass_s": "s", "op_p50_s": "s", "op_tail_s": "s", "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}
# reported by the workloads they apply to (error_rate by all), printed and kept in
# the artifact, but not part of the bounded set: they are 0 or undefined elsewhere
WORKLOAD_EXTRAS = {
    "error_rate": ("ratio", ("warm_scan", "evict_churn", "query_suite")),
    "disk_bytes_per_remote_byte": ("ratio", ("warm_scan", "evict_churn")),
    "suite_geomean_s": ("s", ("query_suite",)),
}

_SPANS = (
    "cache.manager.read.hit", "cache.manager.read.miss", "cache.manager.read_range",
    "cache.manager.read_row_groups", "cache.manager.relevant_row_groups", "cache.manager.warm",
    "cache.manager.warm_row_groups", "cache.manager.evict_to_budget", "cache.manager.invalidate",
    "cache.manifest.get", "cache.manifest.touch", "cache.manifest.put",
    "cache.manifest.next_generation", "cache.manifest.remove", "cache.manifest.entries",
    "sources.cached_source.load", "sources.cached_source.scan",
)
_SETUP_SPANS = ("session.start", "bench.gen")
_BUILD_SPANS = ("sources.bucketing.layout", "ops.similarity.index")
_MODULES = ("queries", "ops.dedup", "ops.similarity", "ops.text", "ops.pipeline", "ops.asof",
            "streaming")


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    from workloads import SUITE_ROWS

    out: dict[str, str] = {}
    for s in _SPANS:
        out[f"{s}_s"] = "s"
        out[f"{s}.count"] = "count"
    for k in ("evictions", "invalidations", "fallbacks"):
        out[f"cache.manager.{k}"] = "count"
    out["cache.manager.hit_ratio"] = "ratio"
    out["cache.manager.hit_ratio.base"] = "count"
    out["cache.manifest.saves"] = "count"
    out["cache.manifest.bytes"] = "bytes"
    out["cache.remote.bytes_read_per_scanned_byte"] = "ratio"
    out["cache.disk.peak_bytes"] = "bytes"
    out["sources.cached_source.partitions"] = "count"
    for s in _SETUP_SPANS + _BUILD_SPANS:
        out[f"{s}_s"] = "s"
    for r in SUITE_ROWS:
        out[f"{r}.build_s"] = "s"
        out[f"{r}.exec_s"] = "s"
    for m in _MODULES:
        out[f"{m}.build_s"] = "s"
        out[f"{m}.exec_s"] = "s"
    out["driver_build_share"] = "ratio"
    out["trace.ops"] = "count"
    out["trace.overhead_ratio"] = "ratio"
    return out


def _isolate(work: str) -> None:
    """Point every scratch location of Python, Spark and the engine into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        RUBIX_WAREHOUSE_DIR=os.path.join(work, "warehouse"),
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _start_session(work: str):
    """Start Spark; returns (session, seconds to start it and run a first job)."""
    from rubix_spark import get_session

    cpus = os.cpu_count() or 1
    t0 = time.perf_counter()
    spark = get_session(
        app_name="perfbench",
        cpus=cpus,
        # bench.py's sizing for sub-GiB inputs: AQE off, 8 shuffle partitions
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions":
                # the whole heap is committed and touched at start, so peak RSS
                # does not depend on when the collector first used each region
                "-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # first job: executor threads and codegen are up
    return spark, time.perf_counter() - t0


def _stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _stamp(seed: int) -> dict:
    from tools.host_canary import canary, healthy

    simd, scalar = canary()
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                    text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    digest = hashlib.sha1()
    for base, _, files in sorted(os.walk(os.path.join(ROOT, "rubix_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    digest.update(fh.read())
    return {"canary_simd_ms": simd, "canary_scalar_ms": scalar, "healthy": healthy(simd, scalar),
            "nproc": os.cpu_count(), "commit": commit, "source_sha1": digest.hexdigest(),
            "seed": seed}


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it: the 11th-largest
    value, with its percentile rank. Fewer than 11 samples give the maximum."""
    v = sorted(values)
    if len(v) <= 10:
        return v[-1], 100.0
    return v[-11], 100.0 * (len(v) - 10) / len(v)


def end_to_end(workload: str, run, setup_s: float, rss_mb: float) -> tuple[dict, dict]:
    """(bounded metrics, workload extras) of an untraced run."""
    times = [o.seconds for o in run.ops]
    t, pct = tail(times)
    attempted = len(run.ops) + run.unlooped_ok + run.unlooped_failed
    failed = sum(not o.ok for o in run.ops) + run.unlooped_failed
    metrics = {
        "setup_s": setup_s,
        "cold_pass_s": run.cold_pass_s,
        "op_p50_s": statistics.median(times),
        "op_tail_s": t,
        "ops_per_s": len(times) / run.loop_s,
        "peak_rss_mb": rss_mb,
    }
    extras = {"error_rate": failed / attempted, "op_tail_pct": pct, "op_samples": len(times)}
    if "disk_peak_bytes" in run.extra:
        extras["disk_bytes_per_remote_byte"] = (
            run.extra["disk_peak_bytes"] / max(1, run.extra["remote_bytes_touched"]))
    if workload == "query_suite":
        per_row: dict[str, list[float]] = {}
        for o in run.ops:
            per_row.setdefault(o.key, []).append(o.seconds)
        meds = [statistics.median(v) for v in per_row.values()]
        extras["suite_geomean_s"] = math.exp(sum(math.log(m) for m in meds) / len(meds))
    return metrics, extras


def per_layer(run, tracer, session_start_s: float) -> dict:
    """Per-layer metrics of a traced run: ``<span>_s`` is mean self seconds per
    call and ``<span>.count`` the calls, over the traced part of the run (set-up,
    cold pass and the traced half of the loop); set-up spans are medians over the
    set-up repetitions; layout and index builds are inclusive totals over the cold
    pass; query rows are medians over their traced executions."""
    from workloads import SUITE_ROWS

    names = per_layer_names()
    out = {n: 0.0 for n in names}
    summary = tracer.summary()
    for s in _SPANS:
        st = summary.get(s)
        if st:
            out[f"{s}_s"] = st["self_s"] / st["count"]
            out[f"{s}.count"] = st["count"]
    cache = run.extra.get("cache")
    if cache:
        for k in ("evictions", "invalidations", "fallbacks"):
            out[f"cache.manager.{k}"] = cache[k]
        base = cache["hits"] + cache["misses"]
        out["cache.manager.hit_ratio"] = cache["hits"] / base if base else 0.0
        out["cache.manager.hit_ratio.base"] = base
        out["cache.disk.peak_bytes"] = run.extra["disk_peak_bytes"]
    c = tracer.counters
    out["cache.manifest.saves"] = c.get("cache.manifest.saves", 0.0)
    out["cache.manifest.bytes"] = c.get("cache.manifest.bytes", 0.0)
    if c.get("scanned_bytes"):
        out["cache.remote.bytes_read_per_scanned_byte"] = (
            c.get("remote_bytes", 0.0) / c["scanned_bytes"])
    out["sources.cached_source.partitions"] = run.extra.get("ds_partitions", 0.0)
    out["session.start_s"] = session_start_s
    out["bench.gen_s"] = statistics.median(rep.get("bench.gen", 0.0) for rep in run.setup_spans)
    # built by the first query that reads them, in the cold pass: the IVF index
    # includes the bucketed write of its assignment table, so layouts count only
    # outside it
    for name, start, end, parent, op_id in tracer.spans:
        if op_id is None and name in _BUILD_SPANS and not (
                parent is not None and tracer.spans[parent][0] in _BUILD_SPANS):
            out[f"{name}_s"] += end - start

    # query rows: per-execution build/exec from the traced loop spans
    per: dict[str, list[float]] = {}
    for name, start, end, parent, op_id in tracer.spans:
        if op_id is not None and (name.endswith(".build") or name.endswith(".exec")):
            per.setdefault(name, []).append(end - start)
    modules = run.extra.get("modules", {})
    build_total = exec_total = 0.0
    for r in SUITE_ROWS:
        b = statistics.median(per.get(f"{r}.build", [0.0]))
        e = statistics.median(per.get(f"{r}.exec", [0.0]))
        out[f"{r}.build_s"], out[f"{r}.exec_s"] = b, e
        if r in modules:
            out[f"{modules[r]}.build_s"] += b
            out[f"{modules[r]}.exec_s"] += e
        build_total, exec_total = build_total + b, exec_total + e
    if build_total + exec_total:
        out["driver_build_share"] = build_total / (build_total + exec_total)

    traced = {}
    untraced = {}
    for o in run.ops:
        (traced if o.traced else untraced).setdefault(o.key, []).append(o.seconds)
    keys = [k for k in traced if k in untraced]
    out["trace.ops"] = sum(len(v) for v in traced.values())
    num = sum(statistics.mean(traced[k]) for k in keys)
    den = sum(statistics.mean(untraced[k]) for k in keys)
    out["trace.overhead_ratio"] = num / den if den else 1.0
    return out


def run_one(workload: str, seed: int, seconds: float, traced: bool, smoke: bool,
            spark, session_start_s: float, work: str) -> dict:
    import workloads
    from spans import Tracer

    tracer = Tracer(enabled=traced)
    if traced:
        tracer.install()
    ctx = workloads.Ctx(spark=spark, seed=seed, seconds=seconds, tracer=tracer,
                        work=os.path.join(work, f"{workload}-trace{int(traced)}"), smoke=smoke,
                        traced=traced)
    try:
        run = workloads.WORKLOADS[workload](ctx)
    finally:
        tracer.enabled = False
        tracer.uninstall()
    setup_s = session_start_s + statistics.median(run.setup_reps)
    rss_mb = (_hwm_kb("self") + _hwm_kb(_jvm_pid())) / 1024.0
    e2e, extras = end_to_end(workload, run, setup_s, rss_mb)
    return {
        "run": run, "e2e": e2e, "extras": extras,
        "layers": per_layer(run, tracer, session_start_s) if traced else None,
        "spans": tracer.spans if traced else None,
    }


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _report(workload: str, out: dict, traced: bool) -> dict:
    """Print every metric with its unit; return the ``metrics`` object of the result line."""
    run = out["run"]
    print(f"# {workload}: {len(run.ops)} ops in {run.loop_s:.2f} s, setup reps "
          f"{[round(x, 3) for x in run.setup_reps]}, working set "
          f"{run.extra.get('working_set_bytes')} B, budget {run.extra.get('budget_bytes')} B")
    for e in run.errors[:10]:
        print(f"# error: {e}")
    if traced:
        units = per_layer_names()
        values = out["layers"]
    else:
        units = dict(END_TO_END)
        values = dict(out["e2e"])
    for name, unit in units.items():
        print(f"{workload} {name} = {values[name]:.6g} {unit}")
    if not traced:
        ex = out["extras"]
        print(f"{workload} op_tail_s is p{ex['op_tail_pct']:.1f} of {ex['op_samples']} samples")
        for name, (unit, applies) in WORKLOAD_EXTRAS.items():
            if workload in applies:
                print(f"{workload} {name} = {ex[name]:.6g} {unit}")
    return {name: {"value": values[name], "unit": unit} for name, unit in units.items()}


def _artifact(path: str, workload: str, args, stamp: dict, out: dict, traced: bool) -> None:
    run = out["run"]
    doc = {
        "workload": workload, "seed": args.seed, "seconds": args.seconds, "trace": int(traced),
        "stamp": stamp, "end_to_end": out["e2e"], "extras": out["extras"],
        "per_layer": out["layers"], "setup_reps_s": run.setup_reps,
        "cold_pass_s": run.cold_pass_s, "warmup_s": run.warmup_s, "extra": run.extra,
        "errors": run.errors,
        "ops": [[o.key, o.seconds, o.traced, o.ok] for o in run.ops],
        "spans": out["spans"],
    }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(doc, f, default=str)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=("warm_scan", "evict_churn", "query_suite"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="every workload once at tiny scale, untraced and traced")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke")
    if not os.path.isdir(os.path.join(ROOT, "rubix_spark")):
        print("perfbench: rubix_spark/ not found next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its scratch data (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, "_work", f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    sys.path[:0] = [ROOT, HERE]

    spark = None
    try:
        stamp = {"before": _stamp(args.seed)}
        spark, session_start_s = _start_session(work)
        plan = ([(w, t) for w in ("warm_scan", "evict_churn", "query_suite") for t in (False, True)]
                if args.smoke else [(args.workload, bool(args.trace))])
        seconds = 1.0 if args.smoke else args.seconds
        results = {}
        for workload, traced in plan:
            out = run_one(workload, args.seed, seconds, traced, args.smoke, spark,
                          session_start_s, work)
            results[(workload, traced)] = out
        stamp["after"] = _stamp(args.seed)
    finally:
        try:
            if spark is not None:
                _stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    correct = True
    attempted = failed = 0
    metrics = {}
    for (workload, traced), out in results.items():
        run = out["run"]
        m = _report(workload, out, traced)
        metrics.update({(f"{workload}.{k}" if args.smoke else k): v for k, v in m.items()})
        n_failed = sum(not o.ok for o in run.ops) + run.unlooped_failed
        attempted += len(run.ops) + run.unlooped_ok + run.unlooped_failed
        failed += n_failed
        correct = correct and n_failed == 0
        tag = "smoke" if args.smoke else f"seed{args.seed}"
        _artifact(os.path.join(HERE, "results", f"{workload}-{tag}-trace{int(traced)}.json"),
                  workload, args, stamp, out, traced)
    print(f"# stamp: {json.dumps(stamp)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
