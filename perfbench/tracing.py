"""The traced run's per-layer numbers, gathered from the benchmark's own
files: wrappers around each layer's entry points (patched where the
caller looks the name up), a page_fn that times render and tokenize
through Spark accumulators, and Spark's status store read after the
timed region."""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import re
import statistics
import threading
import time
from collections import Counter, defaultdict

from crawl_bench import TABLES, _commit_dirs, table_bytes
from query_bench import FAMILIES, QUERY_NAMES, STORES

# name -> unit, in the order they are printed. Every traced run prints
# all of them; a layer a workload does not reach reads 0.
PER_LAYER: dict[str, str] = {
    "crawl.rounds": "count",
    "crawl.round_s_p50": "s",
    "crawl.round_s_max": "s",
    "crawl.start_s": "s",
    "crawl.outside_rounds_s": "s",
    "claims.new_per_link": "ratio",
    "politeness.schedule_calls": "count",
    "politeness.deferred_rows": "count",
    "politeness.fetch_share": "ratio",
    "bloom.build_s": "s",
    "bloom.build_calls": "count",
    "bloom.insert_s": "s",
    "bloom.applied_rounds": "count",
    "parse.pages": "count",
    "parse.tokenize_us_per_page": "us",
    "parse.html_bytes_per_page": "bytes",
    "parse.spans_per_page": "count",
    "fetch.render_us_per_page": "us",
    "warehouse.append_calls": "count",
    "warehouse.append_s": "s",
    "warehouse.append_rows_s": "s",
    "warehouse.read_calls": "count",
    "warehouse.read_s": "s",
    "warehouse.merge_s": "s",
    "warehouse.compact_s": "s",
    "warehouse.remove_commits_s": "s",
    "warehouse.files": "count",
    **{f"warehouse.bytes.{t}": "bytes" for t in TABLES},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.jobs_per_round": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.python_worker_s": "s",
    "spark.python_bytes_sent": "bytes",
    "spark.python_bytes_returned": "bytes",
    **{f"family.{f}_s": "s" for f in FAMILIES},
    **{k: v for q in QUERY_NAMES for k, v in ((f"query.{q}_s", "s"), (f"query.{q}.rows", "count"))},
    **{f"setup.store_build_s.{s}": "s" for s in STORES},
}

_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}


def _sql_metric_value(text: str) -> float:
    """A formatted SQL metric ('2.9 s', '82.3 KiB', or 'total (min, med,
    max ...)\\n2.9 s (...)') as seconds or bytes."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 0.0)


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[tuple] = []  # (id, name, start, end, parent, thread)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.values: dict[str, float] = defaultdict(float)
        self.round_s: list[float] = []
        self.n_ops = 0
        self._acc: dict = {}
        self._mark = (-1, -1)
        self.start_s = 0.0

    # ------------------------------------------------------------- spans
    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    (sid, name, t0, t1, parent, threading.current_thread().name)
                )

    def _wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` with a timed twin. Only the outermost
        call of a name on a thread is timed, so a wrapped method that
        calls its wrapped twin is not counted twice."""
        inner = getattr(owner, attr)
        tracer = self

        def timed(*args, **kwargs):
            active = tracer._local.__dict__.setdefault("active", set())
            if name in active:
                return inner(*args, **kwargs)
            active.add(name)
            t0 = time.perf_counter()
            try:
                with tracer.span(name):
                    return inner(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                active.discard(name)
                with tracer._lock:
                    tracer.values[name + "_s"] += dt
                    tracer.values[name + "_calls"] += 1
                    if on_call is not None:
                        on_call(tracer.values, dt, args, kwargs)

        timed.__wrapped__ = inner
        setattr(owner, attr, timed)

    def install(self) -> None:
        """Patch every layer entry point the workloads reach."""
        from isidorus_web_scraper_spark.operators import bloom
        from isidorus_web_scraper_spark.plans import crawl
        from isidorus_web_scraper_spark.sources.warehouse import Warehouse

        eng = crawl.CrawlEngine
        self._wrap(eng, "start", "crawl.start")
        self._wrap(eng, "run", "crawl.run")
        self._wrap(eng, "resume", "crawl.resume")
        self._wrap(eng, "run_round", "crawl.round",
                   lambda v, dt, a, k: self.round_s.append(dt))
        self._wrap(eng, "_rollback_partial", "crawl.rollback")
        self._wrap(eng, "_finalize", "crawl.finalize")
        # plans.crawl imported these by name: patch its namespace
        self._wrap(crawl, "build_bloom", "bloom.build")
        self._wrap(crawl, "build_bucketed_bloom", "bloom.build")
        self._wrap(crawl, "schedule_round", "politeness.schedule")

        def applied(v, dt, args, kwargs):
            sketch = args[4] if len(args) > 4 else kwargs.get("bloom")
            v["bloom.applied"] += sketch is not None

        self._wrap(crawl, "prefiltered_anti_join", "bloom.anti_join", applied)
        self._wrap(bloom.BloomFilter, "insert_vec", "bloom.insert")
        self._wrap(bloom.BucketedBloom, "insert_vec", "bloom.insert")
        for m in ("append", "append_rows", "read", "merge", "compact", "remove_commits"):
            self._wrap(Warehouse, m, f"warehouse.{m}")

    # --------------------------------------------------------- page_fn
    def page_fn(self, n_hosts: int, base: int):
        """``corpus.make_page_fn(mode='html')``'s fetch+parse with the
        render and tokenize times summed through accumulators."""
        import sys

        import pandas as pd
        from pyspark import cloudpickle

        from isidorus_web_scraper_spark.corpus import page_html
        from isidorus_web_scraper_spark.functions.html_tokenize import tokenize_html

        # the workers cannot import this file: ship fn by value
        cloudpickle.register_pickle_by_value(sys.modules[__name__])
        sc = self.spark.sparkContext
        acc = {k: sc.accumulator(0.0) for k in ("pages", "render_s", "tokenize_s", "bytes", "spans")}
        self._acc = acc

        def fn(urls: pd.Series) -> pd.Series:
            out = []
            n = render = tok = nbytes = nspans = 0.0
            for u in urls:
                t0 = time.perf_counter()
                html = page_html(u, n_hosts=n_hosts, base=base)
                t1 = time.perf_counter()
                render += t1 - t0
                if html is None:
                    out.append(None)
                    continue
                spans = tokenize_html(html)
                tok += time.perf_counter() - t1
                out.append(
                    [{"kind": k, "text": t, "media_ref": m, "offset": o} for (k, t, m, o) in spans]
                )
                n += 1
                nbytes += len(html)
                nspans += len(spans)
            for k, v in (("pages", n), ("render_s", render), ("tokenize_s", tok),
                         ("bytes", nbytes), ("spans", nspans)):
                acc[k].add(v)
            return pd.Series(out, index=urls.index, dtype=object)

        return fn

    # ----------------------------------------------------- timed region
    def _status(self):
        sc = self.spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        return sc.statusStore(), self.spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> None:
        """Start of the timed region: layer totals restart here."""
        jobs, sql = self._status()
        j = jobs.jobsList(None)
        e = sql.executionsList()
        self._mark = (
            max((j.apply(i).jobId() for i in range(j.size())), default=-1),
            max((e.apply(i).executionId() for i in range(e.size())), default=-1),
        )
        # the crawl's start() ran in set-up, before the timed region
        self.start_s = self.values.get("crawl.start_s", 0.0)
        self.values.clear()
        self.round_s.clear()
        self.n_ops = 0
        for a in self._acc.values():
            a.value = 0.0  # driver-side reset of the accumulated total

    def crawl_stats(self, stats) -> None:
        self.n_ops += 1
        v = self.values
        v["crawl.rounds"] += len(stats)
        for s in stats:
            v["stats.urls_in"] += s.urls_in
            v["stats.fetched"] += s.fetched
            v["stats.deferred"] += s.deferred
            v["stats.new"] += s.new_urls
            v["stats.links"] += s.links_extracted

    def warehouse_bytes(self, root: str) -> None:
        for t in TABLES:
            self.values[f"wh.bytes.{t}"] = table_bytes(root, t)
        self.values["wh.files"] = sum(
            len(files)
            for t in sorted(os.listdir(root))
            for d in _commit_dirs(root, t)
            for _p, _d, files in os.walk(d)
        )

    def query_pass(self, per_query: dict[str, float], answers: dict) -> None:
        self.n_ops += 1
        for q, s in per_query.items():
            self.values[f"query.{q}_s"] += s
            self.values[f"query.{q}.rows"] += len(answers[q][1])

    def _spark_totals(self) -> dict[str, float]:
        jobs, sql = self._status()
        j0, e0 = self._mark
        out: dict[str, float] = Counter()
        stage_ids = set()
        jl = jobs.jobsList(None)
        for i in range(jl.size()):
            job = jl.apply(i)
            if job.jobId() > j0:
                out["jobs"] += 1
                ids = job.stageIds()
                stage_ids.update(ids.apply(k) for k in range(ids.size()))
        for sid in stage_ids:
            st = jobs.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["run_s"] += st.executorRunTime() / 1e3
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_read"] += st.shuffleReadBytes()
            out["shuffle_write"] += st.shuffleWriteBytes()
            out["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        wanted = {
            "time to run Python workers": "py_s",
            "data sent to Python workers": "py_sent",
            "data returned from Python workers": "py_returned",
        }
        el = sql.executionsList()
        for i in range(el.size()):
            ex = el.apply(i)
            if ex.executionId() <= e0:
                continue
            values = sql.executionMetrics(ex.executionId())
            ms = ex.metrics()
            seen_acc = set()
            for k in range(ms.size()):
                m = ms.apply(k)
                key = wanted.get(m.name())
                acc = m.accumulatorId()
                if key is None or acc in seen_acc or not values.contains(acc):
                    continue
                seen_acc.add(acc)
                out[key] += _sql_metric_value(values.apply(acc))
        return out

    # ------------------------------------------------------------ result
    def metrics(self, store_build_s: dict[str, float] | None = None) -> dict:
        n = max(self.n_ops, 1)
        v = self.values
        sp = self._spark_totals()
        acc = {k: a.value for k, a in self._acc.items()}
        pages = acc.get("pages", 0.0)
        rounds = v["crawl.rounds"]

        def ratio(a, b):
            return a / b if b else 0.0

        m = {
            "crawl.rounds": rounds / n,
            "crawl.round_s_p50": statistics.median(self.round_s) if self.round_s else 0.0,
            "crawl.round_s_max": max(self.round_s, default=0.0),
            "crawl.start_s": self.start_s,
            "crawl.outside_rounds_s": (v["crawl.run_s"] - v["crawl.round_s"]) / n,
            "claims.new_per_link": ratio(v["stats.new"], v["stats.links"]),
            "politeness.schedule_calls": v["politeness.schedule_calls"] / n,
            "politeness.deferred_rows": v["stats.deferred"] / n,
            "politeness.fetch_share": ratio(v["stats.fetched"], v["stats.urls_in"]),
            "bloom.build_s": v["bloom.build_s"] / n,
            "bloom.build_calls": v["bloom.build_calls"] / n,
            "bloom.insert_s": v["bloom.insert_s"] / n,
            "bloom.applied_rounds": v["bloom.applied"] / n,
            "parse.pages": pages / n,
            "parse.tokenize_us_per_page": 1e6 * ratio(acc.get("tokenize_s", 0.0), pages),
            "parse.html_bytes_per_page": ratio(acc.get("bytes", 0.0), pages),
            "parse.spans_per_page": ratio(acc.get("spans", 0.0), pages),
            "fetch.render_us_per_page": 1e6 * ratio(acc.get("render_s", 0.0), pages),
            "warehouse.append_calls": v["warehouse.append_calls"] / n,
            "warehouse.read_calls": v["warehouse.read_calls"] / n,
            "warehouse.files": v["wh.files"],
            "spark.jobs": sp["jobs"] / n,
            "spark.stages": sp["stages"] / n,
            "spark.tasks": sp["tasks"] / n,
            "spark.jobs_per_round": ratio(sp["jobs"], rounds),
            "spark.executor_run_s": sp["run_s"] / n,
            "spark.executor_cpu_s": sp["cpu_s"] / n,
            "spark.jvm_gc_s": sp["gc_s"] / n,
            "spark.shuffle_read_bytes": sp["shuffle_read"] / n,
            "spark.shuffle_write_bytes": sp["shuffle_write"] / n,
            "spark.spill_bytes": sp["spill"] / n,
            "spark.python_worker_s": sp["py_s"] / n,
            "spark.python_bytes_sent": sp["py_sent"] / n,
            "spark.python_bytes_returned": sp["py_returned"] / n,
        }
        for name in ("append", "append_rows", "read", "merge", "compact", "remove_commits"):
            m[f"warehouse.{name}_s"] = v[f"warehouse.{name}_s"] / n
        for t in TABLES:
            m[f"warehouse.bytes.{t}"] = v[f"wh.bytes.{t}"]
        for f, qs in FAMILIES.items():
            m[f"family.{f}_s"] = sum(v[f"query.{q}_s"] for q in qs) / n
        for q in QUERY_NAMES:
            m[f"query.{q}_s"] = v[f"query.{q}_s"] / n
            m[f"query.{q}.rows"] = v[f"query.{q}.rows"] / n
        for s in STORES:
            m[f"setup.store_build_s.{s}"] = (store_build_s or {}).get(s, 0.0)
        return {k: {"value": m.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sid, name, t0, t1, parent, thread in sorted(self.spans, key=lambda s: s[2]):
                f.write(json.dumps({"id": sid, "name": name, "start": t0, "end": t1,
                                    "parent": parent, "thread": thread}) + "\n")
