"""Seeded end-to-end benchmark of the fulltext engine: build, search, ingest.

Run from the repository root:

    python3 perfbench/run.py --workload web --seed 1 --seconds 5 --trace 0

Every run generates its corpus, queries and write script from ``--seed``,
starts one local Spark session sized for the host, builds the set-up
index and warms every build and query path, and then runs three phases
through the package's public API, each in a closed loop with one client:

* build  - ``build_index`` into an empty warehouse with the ``arrow``
           engine, then with the ``sql`` engine;
* search - single ``SearchSession.search`` calls on the set-up index, then
           50-query batches through ``bm25_topk_wand`` and
           ``bm25_topk_naive`` on it;
* ingest - on a byte copy of the set-up index, ``SearchSession.append`` of
           new pages, then ``delete_docs`` of base urls.

Every answer is checked against ``oracle.py``. A failed or wrong operation
is counted per operation type and the run goes on. The last line of stdout
is one JSON object: ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` wraps the package's layer functions (``tracing.py``), enables
Spark's event log (``eventlog.py``) and reports per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import re
import shutil
import statistics
import sys
import threading
import time
from collections import Counter

import host

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

# Page weight is the input property the workloads vary: arrow-engine
# extraction (a Python UDF) scales with it, the posting pipeline does not.
WORKLOADS = {"web": 8, "bare": 0}  # workload -> page_kb of markup padding
N_PAGES = 500  # about 475 are indexed (lang="en")
N_BUCKETS = 1  # appends add buckets, so ingest still probes several blooms
# One measured build per engine, after the set-up build: builds are nearly
# all fixed per-job cost, and a second one per engine would take 7-9 s of
# a run's time budget. Each must reproduce these tables row for row.
TABLES = ("docs", "postings", "stats", "doclens", "blooms")
# the sql engine's set-up (warm-up) build takes this many pages
WARM_PAGES = 100
# make_queries_pandas(seed, 260): single 0-59, batches 60-159 (both
# checked against answers computed in set-up), warm-up 160-209, ingest
# end-state check 210-229
SINGLE, BATCHES, WARM, CHECK = (0, 60), (60, 160), (160, 210), (210, 230)
BATCH = 50
# Single queries run in a closed loop with one client. An open loop at 2
# or 3 queries/s (four closed-loop senders peaked near 4/s on a 4-core
# host) let one stall pile up every later query: its median moved by a
# factor of two between seeds. About 0.4 s each: SINGLE_PER_S x --seconds.
SINGLE_PER_S = 2
BATCH_ROUNDS = 2  # closed loop: this many batches per engine, alternating
# ingest: append APPEND_PAGES new pages as a new bucket, then delete
# DELETE_URLS base urls (the appended bucket's bloom must rule them out)
APPEND_PAGES = 30
DELETE_URLS = 3


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="sets the single-query count (SINGLE_PER_S per second)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Ops:
    """Per-operation-type attempt, exception and wrong-answer counts."""

    def __init__(self):
        self.attempted: Counter = Counter()
        self.raised: Counter = Counter()
        self.wrong: Counter = Counter()
        self.examples: dict[tuple[str, str], tuple[int, str]] = {}
        self._lock = threading.Lock()

    def call(self, kind: str, fn):
        """Run ``fn``; returns (True, result) or (False, None) if it raised."""
        with self._lock:
            self.attempted[kind] += 1
        try:
            return True, fn()
        except Exception as e:  # the run must go on; the failure is counted
            self._note(kind, self.raised, f"{type(e).__name__}: {_head(str(e))}")
            return False, None

    def check(self, kind: str, reason: str | None) -> bool:
        """Record a wrong answer from an operation already counted."""
        if reason is not None:
            self._note(kind, self.wrong, f"wrong answer: {reason}")
        return reason is None

    def _note(self, kind, counter, message):
        with self._lock:
            counter[kind] += 1
            # one line per failure kind: ids and counts vary, the class and reason do not
            key = (kind, re.sub(r"\d+", "N", message)[:160])
            n, _ = self.examples.get(key, (0, message))
            self.examples[key] = (n + 1, message)

    def totals(self) -> tuple[int, int, int]:
        return sum(self.attempted.values()), sum(self.raised.values()), sum(self.wrong.values())


def _head(message: str, limit: int = 240) -> str:
    """The start of an exception message, where the class and the reason are
    (a Py4J error names the Java exception on its second line)."""
    lines = [ln.strip() for ln in message.splitlines() if ln.strip()]
    return " | ".join(lines)[:limit]


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile; failed operations are passed as ``inf``."""
    s = sorted(values)
    return s[max(0, math.ceil(pct / 100 * len(s)) - 1)]


class Bench:
    def __init__(self, args, env: dict, memory: host.TreeMemory):
        self.args = args
        self.env = env
        self.memory = memory
        self.page_kb = WORKLOADS[args.workload]
        self.ops = Ops()
        self.tracer = None
        self.spark = None
        self.values: dict[str, float] = {}
        self.samples: dict[str, int] = {}
        self.notes: list[str] = []
        self.table_sizes: dict[tuple[str, str], tuple[int, int]] = {}  # (engine, table) -> (bytes, files)

    # --- helpers ---------------------------------------------------------------

    def phase(self, name: str):
        return self.tracer.window(name) if self.tracer else contextlib.nullcontext()

    def put(self, name: str, value: float, samples: int = 1) -> None:
        self.values[name] = value
        self.samples[name] = samples

    # --- set-up ----------------------------------------------------------------

    def start_session(self):
        from information_retrieval_images_spark.session import get_spark

        import eventlog

        extra = {"spark.ui.showConsoleProgress": "false"}
        if self.args.trace:
            os.makedirs(os.path.join(WORK, "eventlog"))
            extra.update(eventlog.conf(os.path.join(WORK, "eventlog")))
        t0 = time.time()
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}", extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.time() - t0

    def make_data(self) -> None:
        """Corpus parquet, queries, oracle index and answers, ingest script:
        everything the phases consume, from the seed alone."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq
        from information_retrieval_images_spark import fixtures
        from information_retrieval_images_spark.oracle import build_oracle_index, oracle_topk

        seed = self.args.seed
        pages = fixtures.make_pages_batch(np.arange(N_PAGES), seed=seed, page_kb=self.page_kb)
        self.corpus = os.path.join(WORK, "corpus")
        os.makedirs(self.corpus)
        pq.write_table(pa.Table.from_pandas(pages, preserve_index=False), os.path.join(self.corpus, "pages.parquet"))
        self.warm_corpus = os.path.join(WORK, "warm_corpus")
        os.makedirs(self.warm_corpus)
        pq.write_table(
            pa.Table.from_pandas(pages.iloc[:WARM_PAGES], preserve_index=False), os.path.join(self.warm_corpus, "pages.parquet")
        )
        self.pages = pages
        self.oracle = build_oracle_index(pages)
        qs = fixtures.make_queries_pandas(seed, CHECK[1])
        self.queries = [(int(q), t, int(k)) for q, t, k in qs[["query_id", "query_text", "k"]].itertuples(index=False)]
        self.want = {q: oracle_topk(self.oracle, t, k) for q, t, k in self.queries[: BATCHES[1]]}

        rng = np.random.default_rng([seed, 1])
        new = fixtures.make_pages_batch(np.arange(N_PAGES, N_PAGES + APPEND_PAGES), seed=seed, page_kb=self.page_kb)
        self.new_pages = new
        self.script = [
            ("append", new),
            ("delete", [str(u) for u in rng.choice(sorted(self.oracle.url_of.values()), DELETE_URLS, replace=False)]),
        ]

    def set_up(self) -> None:
        """Session start (with the data made meanwhile); the index the search
        and ingest phases use, built with the arrow engine, while the sql
        engine builds a slice of the corpus and a few queries run on that
        (the JIT and Python-worker warm-up of the build and query paths)."""
        from information_retrieval_images_spark.catalog import Catalog
        from information_retrieval_images_spark.operators.bm25 import bm25_topk_naive, bm25_topk_wand
        from information_retrieval_images_spark.operators.index_build import build_index
        from information_retrieval_images_spark.serving import SearchSession

        t0 = time.time()
        data = threading.Thread(target=self.make_data)
        data.start()  # Python-side work overlaps the JVM launch
        self.start_s = self.start_session()
        data.join()
        if not hasattr(self, "script"):
            raise RuntimeError("data set-up failed")
        t_data = time.time()
        spark = self.spark
        warm = self.queries[WARM[0] : WARM[1]]
        done: list[float] = []

        def warm_sql():
            wh = os.path.join(WORK, "warm_sql")
            build_index(spark, spark.read.parquet(self.warm_corpus), Catalog(spark, wh), n_buckets=N_BUCKETS, engine="sql")
            session = SearchSession(spark, wh)
            for _, text, k in warm[:2]:
                session.search(text, k)
            for fn in (bm25_topk_wand, bm25_topk_naive):
                fn(spark, session.catalog, warm[2:12]).collect()
            done.append(time.time())

        thread = threading.Thread(target=warm_sql)  # concurrent: warm-up, not measured
        thread.start()
        self.index = os.path.join(WORK, "index")
        build_index(spark, spark.read.parquet(self.corpus), Catalog(spark, self.index), n_buckets=N_BUCKETS)
        t_build = time.time()
        thread.join()
        if not done:
            raise RuntimeError("warm-up failed")
        self.session = SearchSession(spark, self.index)
        self.catalog = self.session.catalog
        self.session.search(*warm[12][1:])  # loads the index's metadata
        t_end = time.time()
        self.put("setup_s", t_end - t0)
        self.notes.append(
            f"set-up {t_end - t0:.2f} s: session start {self.start_s:.2f} s (data made meanwhile, "
            f"ready at {t_data - t0:.2f} s), set-up build {t_build - t_data:.2f} s "
            f"(warm-up build and queries done after {done[0] - t_data:.2f} s)"
        )

    # --- phases ----------------------------------------------------------------

    def build_phase(self) -> None:
        """One build per engine into an empty warehouse. Each must hold the
        same rows as the set-up index, which the search phase checks
        against the oracle (the engines write the same rows)."""
        from information_retrieval_images_spark.catalog import Catalog
        from information_retrieval_images_spark.operators.index_build import build_index

        spark = self.spark
        for engine, name in (("arrow", "build_docs_per_s"), ("sql", "build_sql_docs_per_s")):
            wh = os.path.join(WORK, f"build_{engine}")
            with self.phase(f"build_{engine}"):
                t0 = time.time()
                ok, m = self.ops.call(
                    "build",
                    lambda: build_index(spark, spark.read.parquet(self.corpus), Catalog(spark, wh), n_buckets=N_BUCKETS, engine=engine),
                )
                wall = time.time() - t0
                if self.tracer:
                    self.tracer.record(f"build.{engine}", t0, t0 + wall)
            ok = ok and self.ops.check("build", checks.table_mismatch(wh, self.index, TABLES))
            self.put(name, m["n_docs"] / wall if ok else 0.0)
            self.walk_warehouse(wh, engine)
        index_bytes = sum(self.table_sizes[("arrow", t)][0] for t in ("postings", "doclens", "stats", "blooms"))
        self.put("index_bytes_per_text_byte", index_bytes / self.text_bytes(os.path.join(WORK, "build_arrow")))

    def walk_warehouse(self, wh: str, engine: str) -> None:
        for table in TABLES:
            nbytes = nfiles = 0
            for dirpath, _, files in os.walk(os.path.join(wh, table)):
                for f in files:
                    if f.endswith(".parquet") and not f.startswith("."):
                        nfiles += 1
                        nbytes += os.path.getsize(os.path.join(dirpath, f))
            self.table_sizes[(engine, table)] = (nbytes, nfiles)

    @staticmethod
    def text_bytes(wh: str) -> int:
        """UTF-8 bytes of the extracted text the index holds (docs.text)."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        text = ds.dataset(os.path.join(wh, "docs"), format="parquet", partitioning="hive").to_table(columns=["text"])
        return int(pc.sum(pc.binary_length(text["text"])).as_py())

    def run_batch(self, engine: str, catalog, batch) -> float | None:
        """One query batch through one engine, every answer checked; returns
        its wall time, or None if it raised."""
        from information_retrieval_images_spark.operators import bm25

        fn = getattr(bm25, f"bm25_topk_{engine}")
        gid = self.tracer.new_group(f"{engine}_batch") if self.tracer else None
        with self.tracer.job_group(gid) if gid else contextlib.nullcontext():
            t0 = time.time()
            ok, rows = self.ops.call("batch", lambda: fn(self.spark, catalog, batch).collect())
            wall = time.time() - t0
        if not ok:
            return None
        if gid:
            jobs, _, _ = self.tracer.group_work(gid, *self.tracer.children(gid))
            plan = self.tracer.plan_s(gid)
            self.tracer.record(f"bm25.{engine}.batch", t0, t0 + wall, plan=plan, jobs=jobs)
        got: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            got.setdefault(int(r["query_id"]), []).append((self.oracle.url_of.get(int(r["doc_id"])), float(r["bm25_score"])))
        for qid, _, _ in batch:
            self.ops.check("batch", checks.ranked_mismatch(got.get(qid, []), self.want[qid]))
        return wall

    def search_phase(self) -> None:
        latencies: list[float] = []
        with self.phase("search_single"):
            for qid, text, k in self.single_queries():
                t0 = time.time()
                ok, got = self.search_once("search", self.session, text, k)
                if ok:
                    ok = self.ops.check("search", checks.ranked_mismatch(got, self.want[qid]))
                latencies.append(time.time() - t0 if ok else math.inf)
        self.put("search_p50_ms", 1000 * percentile(latencies, 50), len(latencies))

        # 50-query batches alternating engines
        walls: dict[str, list[float]] = {"wand": [], "naive": []}
        with self.phase("search_batch"):
            for n in range(2 * BATCH_ROUNDS):
                engine = ("wand", "naive")[n % 2]
                lo = BATCHES[0] + (n // 2 % 2) * BATCH
                wall = self.run_batch(engine, self.catalog, self.queries[lo : lo + BATCH])
                walls[engine].append(math.inf if wall is None else wall)
        for engine, w in walls.items():
            self.put(f"batch_{engine}_qps", BATCH / statistics.median(w), len(w))
            self.notes.append(f"batch {engine} walls, s: " + " ".join(f"{x:.2f}" for x in w))

    def single_queries(self) -> list[tuple[int, str, int]]:
        """SINGLE_PER_S x --seconds queries, spread evenly over the pool's
        range of matched postings, in seeded random order: every seed sends
        about the same mix of cheap and expensive queries, so the median
        moves with the engine rather than with the draw."""
        import numpy as np
        from information_retrieval_images_spark.textproc import tokenize

        n = round(SINGLE_PER_S * self.args.seconds)
        pool = self.queries[SINGLE[0] : SINGLE[1]]
        volume = {q: sum(len(self.oracle.postings.get(t, ())) for t in set(tokenize(text))) for q, text, _ in pool}
        ranked = sorted(pool, key=lambda q: (volume[q[0]], q[0]))
        picked = [ranked[int((i + 0.5) * len(ranked) / n)] for i in range(n)]
        order = np.random.default_rng([self.args.seed, 3]).permutation(n)
        return [picked[i] for i in order]

    def search_once(self, kind: str, session, text: str, k: int):
        """One ``SearchSession.search``; in traced runs under its own job group."""
        if not self.tracer:
            ok, rows = self.ops.call(kind, lambda: session.search(text, k))
        else:
            gid = self.tracer.new_group("q")
            with self.tracer.job_group(gid):
                t0 = time.time()
                ok, rows = self.ops.call(kind, lambda: session.search(text, k))
                t1 = time.time()
            jobs, stages, tasks = self.tracer.group_work(gid, *self.tracer.children(gid))
            plan = self.tracer.plan_s(gid)
            self.tracer.record("search", t0, t1, plan=plan, jobs=jobs, stages=stages, tasks=tasks)
        return ok, [(r["url"], r["bm25_score"]) for r in rows] if ok else None

    def ingest_phase(self) -> None:
        import pandas as pd
        from information_retrieval_images_spark.catalog import Catalog
        from information_retrieval_images_spark.operators.bm25 import attach_urls, bm25_topk_wand
        from information_retrieval_images_spark.operators.maintenance import delete_docs
        from information_retrieval_images_spark.oracle import build_oracle_index
        from information_retrieval_images_spark.serving import SearchSession

        wh = os.path.join(WORK, "index_ingest")
        shutil.copytree(self.index, wh)
        session = SearchSession(self.spark, wh)
        walls: dict[str, list[float]] = {"append": [], "delete": []}
        deleted: set[str] = set()
        with self.phase("ingest"):
            for op, arg in self.script:
                t0 = time.time()
                if op == "append":
                    ok, _ = self.ops.call("append", lambda: session.append(_page_dicts(arg)))
                else:
                    ok, res = self.ops.call("delete", lambda: delete_docs(self.spark, session.catalog, arg))
                    if ok:
                        deleted.update(arg)
                        if self.tracer:
                            self.tracer.record("maintenance.delete_docs", t0, time.time(), buckets=len(res["buckets"]))
                walls[op].append(time.time() - t0 if ok else math.inf)
        for op, w in walls.items():
            self.put(f"{op}_p50_s", statistics.median(w), len(w))

        # a fixed query set against an oracle over base - deleted + appended
        # (appended doc ids follow append order, not the oracle's, so ties
        # are checked by score)
        final = pd.concat([self.pages, self.new_pages], ignore_index=True)
        final = final[~final.url.isin(deleted)]
        oracle = build_oracle_index(final)
        catalog = Catalog(self.spark, wh)
        batch = self.queries[CHECK[0] : CHECK[1]]
        ok, rows = self.ops.call("ingest_check", lambda: attach_urls(bm25_topk_wand(self.spark, catalog, batch), catalog).collect())
        if ok:
            got: dict[int, list] = {}
            for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
                got.setdefault(int(r["query_id"]), []).append((r["url"], float(r["bm25_score"])))
            for qid, text, k in batch:
                self.ops.check("ingest_check", checks.scored_mismatch(got.get(qid, []), checks.all_scores(oracle, text), k))

    # --- the run -----------------------------------------------------------------

    def run(self) -> None:
        try:
            self.set_up()
            if self.args.trace:
                import tracing

                from information_retrieval_images_spark import serving

                self.tracer = tracing.Tracer(self.spark)
                self.tracer.install()
                # the set-up session bound its engine before the wrappers
                self.session.engine = serving.bm25_topk_wand
            for phase in (self.build_phase, self.search_phase, self.ingest_phase):
                t0 = time.time()
                phase()
                self.notes.append(f"{phase.__name__} {time.time() - t0:.2f} s")
        finally:
            if self.tracer:
                self.tracer.uninstall()
            if self.spark is not None:
                host.stop_spark(self.spark)
        self.put("peak_rss_mb", self.memory.peak_kb / 1024)
        self.notes.append("peak RSS by process, MB: " + " ".join(str(kb // 1024) for kb in self.memory.peak_split))


def main(argv=None) -> int:
    args = parse_args(argv)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    try:
        env = host.fit_host(ROOT, WORK)
        sys.path.insert(0, ROOT)
        global checks
        import checks  # imports the package: fails outside a full checkout

        memory = host.TreeMemory().start()
        bench = Bench(args, env, memory)
        cpu0 = host.cpu_times()
        try:
            bench.run()
        finally:
            memory.stop()
            memory.wait_descendants()
        spent = [b - a for a, b in zip(cpu0, host.cpu_times())]
        bench.notes.append(
            f"host CPU during the run: {100 * spent[7] / max(1, sum(spent)):.1f}% steal, "
            f"{100 * spent[3] / max(1, sum(spent)):.1f}% idle"
        )
        report(bench)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    return 0


END_TO_END = {  # name -> unit, in print order
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "build_docs_per_s": "docs/s",
    "build_sql_docs_per_s": "docs/s",
    "index_bytes_per_text_byte": "ratio",
    "search_p50_ms": "ms",
    "batch_wand_qps": "queries/s",
    "batch_naive_qps": "queries/s",
    "append_p50_s": "s",
    "delete_p50_s": "s",
}
PHASES = ("build_arrow", "build_sql", "search_single", "search_batch", "ingest")


def layer_values(bench: Bench) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a traced run: name -> (value, unit)."""
    import eventlog

    tr = bench.tracer
    out: dict[str, tuple[float, str]] = {"session.start_s": (bench.start_s, "s")}
    for engine in ("arrow", "sql"):
        ph = f"build_{engine}"
        wall = tr.total_s(ph, f"build.{engine}")
        docs_end = max((s["t1"] for s in tr.select(ph, "catalog.write.docs")), default=0.0)
        stats_end = max((s["t1"] for s in tr.select(ph, "index_build.write_stats_global")), default=docs_end)
        parts = {
            "catalog.write_s.docs": tr.total_s(ph, "catalog.write.docs"),
            "index_build.global_stats_s": stats_end - docs_end,
            "index_build.write_bucket_s": tr.total_s(ph, "index_build.write_bucket"),
            "catalog.append_row_s": tr.total_s(ph, "catalog.append_row"),
        }
        for name, v in parts.items():
            out[f"{name}.{engine}"] = (v, "s")
        out[f"index_build.unattributed_s.{engine}"] = (wall - sum(parts.values()), "s")
        out[f"build.wall_s.{engine}"] = (wall, "s")
        for name, span in (
            ("index_build.postings_write_s", "index_build.postings_write"),
            ("index_build.doclens_write_s", "index_build.doclens_write"),
            ("blooms.bloom_write_s", "blooms.bloom_write"),
        ):
            out[f"{name}.{engine}"] = (tr.total_s(ph, span), "s")
        for table in TABLES:
            nbytes, nfiles = bench.table_sizes[(engine, table)]
            out[f"catalog.bytes.{table}.{engine}"] = (nbytes, "bytes")
            out[f"catalog.files.{table}.{engine}"] = (nfiles, "count")

    dfs = tr.select("search_single", "catalog.term_dfs")
    out["catalog.term_dfs_s"] = (tr.total_s("search_single", "catalog.term_dfs"), "s")
    out["catalog.term_dfs_calls"] = (len(dfs), "count")
    out["catalog.term_dfs_jobs"] = (sum(s["jobs"] for s in dfs), "count")
    out["catalog.index_version_s"] = (tr.total_s("search_single", "catalog.index_version"), "s")
    out["catalog.index_version_calls"] = (len(tr.select("search_single", "catalog.index_version")), "count")
    searches = tr.select("search_single", "search")
    out["bm25.plan_s"] = (_median([s["plan"] for s in searches]), "s")
    out["bm25.exec_s"] = (_median([s["t1"] - s["t0"] - s["plan"] for s in searches]), "s")
    for key in ("jobs", "stages", "tasks"):
        out[f"bm25.{key}_per_query"] = (_median([s[key] for s in searches]), "count")
    for engine in ("wand", "naive"):
        batches = tr.select("search_batch", f"bm25.{engine}.batch")
        out[f"bm25.{engine}.plan_s"] = (_median([s["plan"] for s in batches]), "s")
        out[f"bm25.{engine}.exec_s"] = (_median([s["t1"] - s["t0"] - s["plan"] for s in batches]), "s")
        out[f"bm25.{engine}.jobs_per_batch"] = (_median([s["jobs"] for s in batches]), "count")

    out["incremental.append_bucket_s"] = (tr.median_s("ingest", "incremental.append_bucket"), "s")
    deletes = tr.select("ingest", "maintenance.delete_docs")
    out["maintenance.delete_docs_s"] = (tr.median_s("ingest", "maintenance.delete_docs"), "s")
    out["maintenance.buckets_rewritten"] = (sum(s["buckets"] for s in deletes), "count")
    out["blooms.candidate_ratio"] = (_mean([s["ratio"] for s in tr.select("ingest", "blooms.candidate_buckets")]), "ratio")
    out["ingest.index_build.write_bucket_s"] = (tr.total_s("ingest", "index_build.write_bucket"), "s")
    out["ingest.catalog.append_row_s"] = (tr.total_s("ingest", "catalog.append_row"), "s")

    spark = eventlog.phase_metrics(os.path.join(WORK, "eventlog"), tr.windows)
    for ph in PHASES:
        for name in eventlog.METRICS:
            unit = "count" if name in ("jobs", "tasks") else "s" if name.endswith("_s") else "bytes"
            out[f"spark.{ph}.{name}"] = (spark[ph][name], unit)
    return out


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def _mean(values) -> float:
    return statistics.fmean(values) if values else 0.0


def report(bench: Bench) -> None:
    """Human-readable lines, then the one-line JSON result (last line)."""
    env = " ".join(f"{k}={v}" for k, v in bench.env.items())
    print(f"perfbench workload={bench.args.workload} seed={bench.args.seed} seconds={bench.args.seconds} trace={bench.args.trace} {env}")
    for note in bench.notes:
        print(f"  {note}")
    print(f"  {'end-to-end metric':<28} {'value':>12}  {'unit':<10} samples")
    for name, unit in END_TO_END.items():
        v = bench.values.get(name, math.nan)
        print(f"  {name:<28} {v:>12.4f}  {unit:<10} {bench.samples.get(name, 0)}")
    attempted, raised, wrong = bench.ops.totals()
    print(f"  op_fail_ratio {(raised + wrong) / max(1, attempted):.4f} = ({raised} raised + {wrong} wrong) / {attempted} attempted")
    for kind in sorted(bench.ops.attempted):
        print(f"    {kind:<14} attempted {bench.ops.attempted[kind]:>5}  raised {bench.ops.raised[kind]:>4}  wrong {bench.ops.wrong[kind]:>4}")
    for (kind, _), (n, message) in sorted(bench.ops.examples.items()):
        print(f"    {kind} x{n}: {message}")

    if bench.tracer:
        layers = layer_values(bench)
        print(f"  {'per-layer metric':<40} {'value':>14}  unit")
        for name, (v, unit) in layers.items():
            print(f"  {name:<40} {v:>14.4f}  {unit}")
        metrics = {name: {"value": v, "unit": unit} for name, (v, unit) in layers.items()}
    else:
        metrics = {name: {"value": bench.values[name], "unit": unit} for name, unit in END_TO_END.items()}
    result = {"correct": wrong == 0, "attempted": attempted, "failed": raised + wrong, "metrics": metrics}
    print(json.dumps(result), flush=True)


def _page_dicts(pdf) -> list[dict]:
    return [{"url": u, "html": h, "lang": lang} for u, h, lang in zip(pdf.url, pdf.html, pdf.lang)]


if __name__ == "__main__":
    sys.exit(main())
