"""In-memory span tracer for the benchmark's traced run.

Spans are recorded only from the benchmark's own files: the workload code opens
spans around its calls into each layer, and ``install`` wraps the public methods of
``CacheManager`` and ``Manifest``, ``DataFrameReader.load`` for the ``rubix_cache``
source, and the layout and index builders (``persisted_bucketed``, ``_ivf_index``).
A span is ``[name, start, end, parent, op_id]``; spans stay in memory and are
summarised once at the end. Self time is a span's duration minus
the time its child spans cover (the client is single-threaded, so children of one
span never overlap).

The ``rubix_cache`` DataSource resolves its path at plan time inside a Python
worker process, so the cache and manifest calls made there are outside this
process and are not traced; ``sources.cached_source.load`` and ``.scan`` time them
from the driver side.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager, nullcontext

_MANAGER_METHODS = (
    "read", "read_range", "read_row_groups", "relevant_row_groups", "warm",
    "warm_row_groups", "evict_to_budget", "invalidate",
)
_MANIFEST_METHODS = ("get", "touch", "put", "next_generation", "remove", "entries")


class Tracer:
    """Records spans while ``enabled``; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self.op_id: int | None = None
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def _record(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.perf_counter(), None, parent, self.op_id]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def span(self, name: str):
        """Context manager timing ``name``; yields the span record, or None when off."""
        return self._record(name) if self.enabled else nullcontext()

    def add(self, counter: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counters[counter] = self.counters.get(counter, 0.0) + value

    # ------------------------------------------------------------------ wrappers
    def _wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        orig = owner.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            state = before(*args, **kwargs) if before else None
            with tracer._record(name) as rec:
                out = orig(*args, **kwargs)
                if after:
                    after(rec, state, out, *args, **kwargs)
                return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap the cache layer and the ``rubix_cache`` reader entry point."""
        if self._patches:
            return
        from pyspark.sql.readwriter import DataFrameReader

        from rubix_spark.cache.manager import CacheManager
        from rubix_spark.cache.manifest import Manifest

        from gen import dir_bytes

        for m in _MANAGER_METHODS:
            before = after = None
            if m == "read":
                def before(cm, *a, **k):
                    return cm._counters["hits"]

                def after(rec, hits, out, cm, *a, **k):
                    rec[0] += ".hit" if cm._counters["hits"] > hits else ".miss"
            elif m == "warm":
                def after(rec, _, out, cm, remote_path, *a, **k):
                    if out is not None:
                        self.add("remote_bytes", dir_bytes(remote_path))
            elif m == "warm_row_groups":
                def after(rec, _, out, cm, remote_path, row_groups, *a, **k):
                    import pyarrow.parquet as pq

                    if out is not None:
                        md = pq.ParquetFile(remote_path).metadata
                        self.add("remote_bytes", sum(
                            md.row_group(i).column(j).total_compressed_size
                            for i in set(row_groups) for j in range(md.num_columns)))
            self._wrap(CacheManager, m, f"cache.manager.{m}", before, after)
        for m in _MANIFEST_METHODS:
            self._wrap(Manifest, m, f"cache.manifest.{m}")

        # the JSON rewrite is counted, not spanned: its cost stays in the self time of
        # the structural mutation (put, next_generation, remove) that triggered it
        save_orig = Manifest.__dict__["_save"]

        def save(manifest):
            save_orig(manifest)
            if self.enabled:
                self.add("cache.manifest.saves")
                size = float(dir_bytes(manifest._path))
                self.counters["cache.manifest.bytes"] = max(
                    self.counters.get("cache.manifest.bytes", 0.0), size)

        self._patches.append((Manifest, "_save", save_orig))
        Manifest._save = save

        # layouts and indexes are built by the first query that reads them; callers
        # import these by name at call time, so wrapping the module attribute reaches
        # every call
        from rubix_spark.ops import similarity
        from rubix_spark.sources import bucketing

        self._wrap(bucketing, "persisted_bucketed", "sources.bucketing.layout")
        self._wrap(similarity, "_ivf_index", "ops.similarity.index")

        fmt_orig = DataFrameReader.__dict__["format"]

        def format_(reader, source):
            reader._perfbench_source = source
            return fmt_orig(reader, source)

        self._patches.append((DataFrameReader, "format", fmt_orig))
        DataFrameReader.format = format_
        load_orig = DataFrameReader.__dict__["load"]

        def load(reader, *a, **k):
            if self.enabled and getattr(reader, "_perfbench_source", None) == "rubix_cache":
                with self._record("sources.cached_source.load"):
                    return load_orig(reader, *a, **k)
            return load_orig(reader, *a, **k)

        self._patches.append((DataFrameReader, "load", load_orig))
        DataFrameReader.load = load

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------------ summary
    def summary(self) -> dict[str, dict[str, float]]:
        """``{span name: {"count", "self_s", "total_s"}}`` over every recorded span."""
        covered = [0.0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent is not None and end is not None:
                covered[parent] += end - start
        out: dict[str, dict[str, float]] = {}
        for i, (name, start, end, _, _) in enumerate(self.spans):
            if end is None:
                continue
            s = out.setdefault(name, {"count": 0, "self_s": 0.0, "total_s": 0.0})
            s["count"] += 1
            s["total_s"] += end - start
            s["self_s"] += end - start - covered[i]
        return out
