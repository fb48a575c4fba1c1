"""Per-layer tracing from outside the package.

``Tracer.install`` replaces the package functions that mark layer boundaries
with timing wrappers, at every module attribute through which callers look
them up (``incremental`` imports ``write_bucket`` by name, ``SearchSession``
binds its engine at construction). Spans are kept in memory and aggregated
per benchmark phase when the run ends. Job, stage and task counts come from
Spark's status tracker, read for a job group set around the traced call.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import statistics
import threading
import time

GROUP_PROPERTY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.spans: list[dict] = []
        self.phase = "setup"
        self.windows: list[tuple[str, float, float]] = []
        self._lock = threading.Lock()
        self._local = threading.local()  # the job group this thread runs under
        self._ids = itertools.count()
        self._undo: list[tuple[object, str, object]] = []

    # --- spans ---------------------------------------------------------------

    def record(self, name: str, t0: float, t1: float, **extra) -> None:
        extra.setdefault("group", getattr(self._local, "group", None))
        with self._lock:
            self.spans.append({"name": name, "phase": self.phase, "t0": t0, "t1": t1, **extra})

    @contextlib.contextmanager
    def window(self, phase: str):
        """Attribute everything until exit to ``phase`` (phases are serial)."""
        prev, self.phase = self.phase, phase
        t0 = time.time()
        try:
            yield
        finally:
            self.windows.append((phase, t0, time.time()))
            self.phase = prev

    def select(self, phase: str, name: str) -> list[dict]:
        return [s for s in self.spans if s["phase"] == phase and s["name"] == name]

    def total_s(self, phase: str, name: str) -> float:
        return sum(s["t1"] - s["t0"] for s in self.select(phase, name))

    def median_s(self, phase: str, name: str) -> float:
        spans = self.select(phase, name)
        return statistics.median(s["t1"] - s["t0"] for s in spans) if spans else 0.0

    # --- Spark job groups ------------------------------------------------------

    def new_group(self, label: str) -> str:
        return f"pb/{self.phase}/{label}{next(self._ids)}"

    @contextlib.contextmanager
    def job_group(self, gid: str):
        """Run this thread's Spark jobs under ``gid``; restore the previous
        group after. Threads started inside do not inherit it."""
        prev = getattr(self._local, "group", None)
        self._local.group = gid
        self.sc.setJobGroup(gid, gid)
        try:
            yield gid
        finally:
            self._local.group = prev
            self.sc.setLocalProperty(GROUP_PROPERTY, prev)

    def group_work(self, *gids: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) run under the given job groups."""
        jobs = stages = tasks = 0
        for gid in gids:
            for jid in self.tracker.getJobIdsForGroup(gid):
                jobs += 1
                info = self.tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = self.tracker.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks:
                        stages += 1
                        tasks += st.numCompletedTasks
        return jobs, stages, tasks

    # --- wrappers --------------------------------------------------------------

    def patch(self, owner, attr: str, wrapper) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def timed(self, fn, name, on_result=None):
        """Wrap ``fn``; ``name`` is a string or a function of the call's
        arguments; ``on_result(result, args)`` adds fields to the span."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.time()
            result = fn(*args, **kwargs)
            extra = on_result(result, args) if on_result else {}
            self.record(name(*args, **kwargs) if callable(name) else name, t0, time.time(), **extra)
            return result

        return wrapper

    def grouped(self, fn, name: str):
        """Wrap ``fn`` in a child job group of the caller's and count the jobs
        it ran (the caller's group is restored, so its own count excludes
        them; ``children`` lets the caller add them back)."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            parent = getattr(self._local, "group", None) or f"pb/{self.phase}"
            gid = f"{parent}/{name}{next(self._ids)}"
            t0 = time.time()
            with self.job_group(gid):
                result = fn(*args, **kwargs)
            t1 = time.time()
            jobs, _, _ = self.group_work(gid)
            self.record(name, t0, t1, jobs=jobs, parent=parent, group=gid)
            return result

        return wrapper

    def children(self, parent_gid: str) -> list[str]:
        return [s["group"] for s in self.spans if s.get("parent") == parent_gid]

    def install(self) -> None:
        from information_retrieval_images_spark import blooms, serving
        from information_retrieval_images_spark.catalog import Catalog
        from information_retrieval_images_spark.operators import bm25, incremental, index_build

        self.patch(Catalog, "write", self.timed(Catalog.write, lambda cat, df, name, *a, **k: f"catalog.write.{name}"))
        self.patch(Catalog, "append_row", self.timed(Catalog.append_row, "catalog.append_row"))
        self.patch(Catalog, "index_version", self.timed(Catalog.index_version, "catalog.index_version"))
        self.patch(Catalog, "term_dfs", self.grouped(Catalog.term_dfs, "catalog.term_dfs"))
        self.patch(index_build, "write_stats_global", self.timed(index_build.write_stats_global, "index_build.write_stats_global"))
        write_bucket = self.timed(index_build.write_bucket, "index_build.write_bucket")
        self.patch(index_build, "write_bucket", write_bucket)
        self.patch(incremental, "write_bucket", write_bucket)
        # write_bucket writes postings through this helper;
        # write_bucket_postings, which also calls it, has no caller
        self.patch(index_build, "_write_postings_rows", self.timed(index_build._write_postings_rows, "index_build.postings_write"))
        self.patch(index_build, "write_bucket_doclens", self.timed(index_build.write_bucket_doclens, "index_build.doclens_write"))
        self.patch(blooms, "write_bucket_bloom", self.timed(blooms.write_bucket_bloom, "blooms.bloom_write"))
        self.patch(incremental, "append_bucket", self.timed(incremental.append_bucket, "incremental.append_bucket"))
        self.patch(blooms, "candidate_buckets_auto", self.timed(blooms.candidate_buckets_auto, "blooms.candidate_buckets", _candidate_share))
        for engine in ("bm25_topk_wand", "bm25_topk_naive"):
            wrapped = self.timed(getattr(bm25, engine), "bm25.plan." + engine.rsplit("_", 1)[1])
            self.patch(bm25, engine, wrapped)
            self.patch(serving, engine, wrapped)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    def plan_s(self, gid: str) -> float:
        """Time spent inside the engine call (planning) under ``gid``."""
        return sum(s["t1"] - s["t0"] for s in self.spans if s["group"] == gid and s["name"].startswith("bm25.plan."))


def _candidate_share(result, args) -> dict:
    """Share of the docs buckets ``candidate_buckets_auto(catalog,
    all_buckets, urls)`` kept; None means no blooms, so all of them."""
    n = len(args[1])
    return {"ratio": (n if result is None else len(result)) / n if n else 0.0}
