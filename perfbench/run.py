#!/usr/bin/env python3
"""The crawl engine's benchmark: one workload per process, on
``local[nproc]``.

    python3 perfbench/run.py --workload crawl_resume --seed 1 --seconds 5 --trace 0

Runs from the repository root. The last line printed is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). Everything the run writes lives under
``.perfbench/`` and is removed at the end, except the traced run's
span file in ``.perfbench/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "isidorus_web_scraper_spark"
WORKLOADS = ("crawl_resume", "corpus_queries")
# session.py defaults the driver heap to 48g; the benchmark host has
# 15 GB shared with other tenants. The heap is committed and touched at
# start (-Xms = -Xmx, AlwaysPreTouch): otherwise the JVM's resident
# size follows when G1 chooses to grow the heap, and peak RSS swings
# by a third between identical runs.
DRIVER_MEM = "3g"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _spark(work: str):
    from host import nproc

    from isidorus_web_scraper_spark.session import get_spark

    n = nproc()
    return get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
            ),
            # the traced run reads every job of the timed region back
            # from the status store; both kinds of run keep the same
            # settings so they differ only by the tracing itself
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (whose exit ends the Python
    workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _workload(name: str, spark, work: str, seed: int, tracer):
    if name == "corpus_queries":
        from query_bench import CorpusQueries

        return CorpusQueries(spark, work, seed, tracer)
    from crawl_bench import CrawlResume

    return CrawlResume(spark, work, seed, tracer)


def measure(args, work: str) -> dict:
    from host import PeakRss, process_start_seconds_ago, tree_cpu_seconds

    rss = PeakRss()
    rss.start()
    spark = _spark(work)
    try:
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install()
        wl = _workload(args.workload, spark, work, args.seed, tracer)
        # untimed ops of set-up; their outputs are checked all the same
        warm = [wl.op() for _ in range(wl.WARM_UP_OPS)]
        setup_s = process_start_seconds_ago()
        if tracer is not None:
            tracer.mark()
        results = []
        deadline = time.perf_counter() + args.seconds
        # whole operations until the run length is used up
        while not results or time.perf_counter() < deadline:
            cpu0 = tree_cpu_seconds(os.getpid())
            rss.sampling.set()
            try:
                results.append(wl.op())
            finally:
                rss.sampling.clear()
            print(f"perfbench: op {len(results)}: {results[-1].seconds:.3f} s, "
                  f"{results[-1].items} items, "
                  f"{tree_cpu_seconds(os.getpid()) - cpu0:.1f} CPU s", file=sys.stderr)
        fails = [f for r in warm + results for f in r.failures]
        for f in fails:
            print(f"perfbench: CHECK FAILED: {f}", file=sys.stderr)
        if tracer is not None:
            metrics = tracer.metrics(getattr(wl, "store_build_s", None))
            tracer.write(
                os.path.join(
                    ROOT, ".perfbench", "traces",
                    f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl",
                )
            )
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "items_per_s": {
                    "value": statistics.median(r.items / r.seconds for r in results),
                    "unit": "1/s",
                },
                "disk_bytes_per_item": {
                    "value": statistics.median(r.disk_bytes / r.items for r in results),
                    "unit": "bytes",
                },
                "peak_rss_mb": {"value": rss.peak / 2**20, "unit": "MB"},
            }
        return {
            "correct": not fails,
            "attempted": sum(r.ops for r in results),
            "failed": 0,
            "metrics": metrics,
        }
    finally:
        _stop(spark)
        rss.close()


def package_present() -> bool:
    if os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        sys.path[:0] = [HERE, ROOT]
        return True
    print(f"perfbench: no {PACKAGE} package beside perfbench/ under {ROOT}", file=sys.stderr)
    return False


@contextlib.contextmanager
def workdir(label: str):
    """A work dir inside the checkout for one process, removed on exit.
    The package's derived stores and shipped zip go to the temp dir,
    and Spark spills to its local dirs: both point inside it."""
    work = os.path.join(ROOT, ".perfbench", "work", f"{label}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # both JVMs (Spark's launcher and the driver) would otherwise write
    # their perf counters to /tmp/hsperfdata_<user>, outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = _args(argv)
    if not package_present():
        return 2
    with workdir(args.workload) as work:
        result = measure(args, work)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
