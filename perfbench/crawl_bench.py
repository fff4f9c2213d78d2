"""Crawl workloads: seeded inputs, an independent reference BFS, a
pyarrow reader for the engine's warehouse, and the end-state checks.

Nothing here calls the engine's own readers or its HTML tokenizer: the
reference walks ``corpus.page_spans`` (the span generator the renderer
draws from), and the end state is read straight from the committed
manifests' parquet files.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

from host import nproc

# The synthetic web the bench crawls (bench.py's shape): 65,536 hosts
# whose sizes follow zipf(1.2) from 65,536 pages on h0.test down.
N_HOSTS = 65536
BASE = 65536
# bloom sizing: seen sets here stay far below 2^18 URLs
EXPECTED_URLS = 1 << 18

# Wide seeds: one per host, drawn from hosts 1..WIDE_HEAD-1. No budget
# binds on those hosts, so these scrapings give large rounds whose time
# goes to fetch+parse. Every WIDE_404_EVERY-th seed points one page past
# its host's last page, so the fetch-error path always runs. Depth 2
# over many seeds keeps the crawl's size steady across workload seeds
# (a depth-3 BFS branches too unevenly).
WIDE_SEEDS = 1024
WIDE_HEAD = 2048
WIDE_DEPTH = 2
WIDE_404_EVERY = 64
UNBOUNDED = 10**9

# Hot seeds: all on h0.test. Their round-1 children outnumber the
# per-round budget (about 330 rows for 192 slots), so rows defer, and
# the deferred rows drain in round 2, the wide scrapings' last round:
# every seed gives the same three rounds.
HOT_HOST = "h0.test"
HOT_SEEDS = 128
HOT_DEPTH = 1
HOT_BUDGET = 192

# set-up crawls this many rounds and stops; the op resumes from there
CHECKPOINT_ROUNDS = 1


def _pages(h: int) -> int:
    from isidorus_web_scraper_spark.corpus import pages_per_host

    return pages_per_host(h, BASE)


def _url(h: int, p: int) -> str:
    from isidorus_web_scraper_spark.corpus import page_url

    return page_url(h, p)


def crawl_seeds(seed: int) -> list[tuple[int, int, str, int]]:
    """(scraping_id, user_id, url, depth): the wide seeds, then the hot
    ones; hosts and pages are drawn from ``seed``."""
    rng = random.Random(seed)
    out = []
    for i, h in enumerate(rng.sample(range(1, WIDE_HEAD), WIDE_SEEDS)):
        p = _pages(h) if i % WIDE_404_EVERY == 0 else rng.randrange(_pages(h))
        out.append((i, 1, _url(h, p), WIDE_DEPTH))
    for i, p in enumerate(rng.sample(range(_pages(0)), HOT_SEEDS)):
        out.append((WIDE_SEEDS + i, 1, _url(0, p), HOT_DEPTH))
    return out


# ---------------------------------------------------------------- reference
class PageLinks:
    """url -> hrefs of its link spans in document order (None = 404),
    memoized: scrapings on one host share most of their pages."""

    def __init__(self) -> None:
        self._memo: dict[str, list[str] | None] = {}

    def __call__(self, url: str) -> list[str] | None:
        if url not in self._memo:
            from isidorus_web_scraper_spark.corpus import page_spans

            spans = page_spans(url, n_hosts=N_HOSTS, base=BASE)
            self._memo[url] = (
                None
                if spans is None
                else [s["media_ref"] for s in spans if s["kind"] == "link"]
            )
        return self._memo[url]


@dataclass
class Reference:
    seen: dict[int, dict[str, int]] = field(default_factory=dict)
    fetched: dict[int, dict[str, int]] = field(default_factory=dict)
    errors: dict[int, set[str]] = field(default_factory=dict)
    links_count: dict[int, int] = field(default_factory=dict)


def reference_bfs(seeds, links: PageLinks) -> Reference:
    """The unconstrained crawl, level by level, per scraping: every
    fetched page with remaining depth d > 0 claims its not-yet-seen
    ``http`` links at depth d - 1; every link span counts toward the
    scraping's links_count."""
    ref = Reference()
    for sid, _user, url, depth in seeds:
        seen = {url: depth}
        fetched: dict[str, int] = {}
        errors: set[str] = set()
        n_links = 0
        level = [url]
        while level:
            nxt = []
            for u in level:
                d = seen[u]
                hrefs = links(u)
                if hrefs is None:
                    errors.add(u)
                    continue
                fetched[u] = d
                n_links += len(hrefs)
                if d > 0:
                    for v in hrefs:
                        if v.startswith("http") and v not in seen:
                            seen[v] = d - 1
                            nxt.append(v)
            level = nxt
        ref.seen[sid] = seen
        ref.fetched[sid] = fetched
        ref.errors[sid] = errors
        ref.links_count[sid] = n_links
    return ref


# --------------------------------------------------------------- end state
def _commit_dirs(root: str, table: str) -> list[str]:
    path = os.path.join(root, table, "_manifest.json")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        commits = json.load(f)["commits"]
    return [os.path.join(root, table, c["dir"]) for c in commits]


def read_table(root: str, table: str, columns: list[str]) -> list[tuple]:
    """Every committed row of ``table`` (the manifest's commit list),
    read with pyarrow."""
    import pyarrow.parquet as pq

    rows: list[tuple] = []
    for d in _commit_dirs(root, table):
        for name in sorted(os.listdir(d)):
            if name.endswith(".parquet"):
                t = pq.read_table(os.path.join(d, name), columns=columns)
                rows.extend(zip(*(t.column(c).to_pylist() for c in columns)))
    return rows


TABLES = ("pages", "links", "images", "index_docs", "fetch_log", "seen", "frontier")


def table_bytes(root: str, table: str) -> int:
    total = 0
    for d in _commit_dirs(root, table):
        for dirpath, _dirs, files in os.walk(d):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def warehouse_bytes(root: str) -> int:
    """Bytes of every file referenced by a committed manifest."""
    if not os.path.isdir(root):
        return 0
    return sum(table_bytes(root, t) for t in sorted(os.listdir(root)))


@dataclass
class EndState:
    seen: list[tuple]       # (scraping_id, url, first_depth)
    fetch_log: list[tuple]  # (scraping_id, url, round, status)
    frontier: list[tuple]   # (scraping_id, url, depth, round)
    links: Counter          # scraping_id -> links rows
    jobs: list[tuple]       # (scraping_id, status, links_count)
    metrics: list[tuple]    # (round, urls_in, fetched, fetch_errors, new_urls, deferred)


def read_end_state(root: str) -> EndState:
    return EndState(
        seen=read_table(root, "seen", ["scraping_id", "url", "first_depth"]),
        fetch_log=read_table(
            root, "fetch_log", ["scraping_id", "url", "round", "status"]
        ),
        frontier=read_table(root, "frontier", ["scraping_id", "url", "depth", "round"]),
        links=Counter(r[0] for r in read_table(root, "links", ["scraping_id"])),
        jobs=read_table(root, "jobs", ["scraping_id", "status", "links_count"]),
        metrics=read_table(
            root,
            "metrics",
            ["round", "urls_in", "fetched", "fetch_errors", "new_urls", "deferred"],
        ),
    )


# ------------------------------------------------------------------ checks
def _unique(rows, what: str, fails: list[str]) -> None:
    dup = [k for k, n in Counter(rows).items() if n > 1]
    if dup:
        fails.append(f"{what}: {len(dup)} duplicated, e.g. {min(dup)}")


def check_crawl(
    st: EndState, seeds, ref: Reference, links: PageLinks, budgets: dict[str, int]
) -> list[str]:
    """Failures of a finished crawl's end state (empty = correct).

    A scraping none of whose rows was ever deferred crawled exactly as
    if no budget existed, so it must equal the reference BFS: seen set
    with first depths, fetched URLs with their depths, and fetch
    errors. A deferred scraping's end state depends on the scheduling
    order, so it is held to what every correct order has: its seen set
    lies inside the unconstrained BFS and holds every crawlable link of
    every page it fetched with remaining depth > 0. Both kinds share
    the global checks: per-(host, round) budgets, each claimed URL
    fetched exactly once, a drained frontier, round bookkeeping that
    balances, |seen| = seeds + new, and every job COMPLETED with a
    links_count equal to its fetched pages' link spans."""
    fails: list[str] = []
    sids = {s for s, *_ in seeds}
    _unique([(s, u) for s, u, _d in st.seen], "seen (scraping_id, url)", fails)
    _unique([(s, u) for s, u, _r, _st in st.fetch_log], "fetches", fails)
    _unique([m[0] for m in st.metrics], "metrics rounds", fails)

    per_host = Counter((u.split("/")[2], r) for _s, u, r, _st in st.fetch_log)
    over = sorted(k for k, n in per_host.items() if n > budgets.get(k[0], UNBOUNDED))
    if over:
        fails.append(f"{len(over)} (host, round) over budget, e.g. {over[0]}")

    seen = {(s, u): d for s, u, d in st.seen}
    fetched = {(s, u) for s, u, _r, _st in st.fetch_log}
    if set(seen) != fetched:
        fails.append(
            f"claimed but not fetched {len(set(seen) - fetched)}, "
            f"fetched but not claimed {len(fetched - set(seen))}"
        )
    last = max((m[0] for m in st.metrics), default=-1)
    tail = [m for m in st.metrics if m[0] == last]
    left = [f for f in st.frontier if f[3] > last]
    if not tail or tail[0][4] + tail[0][5] != 0 or left:
        fails.append(f"frontier not drained: {len(left)} rows after round {last}")
    sums = [sum(m[i] for m in st.metrics) for i in range(6)]
    if sums[1] != sums[2] + sums[3] + sums[5]:
        fails.append(
            f"urls_in {sums[1]} != fetched {sums[2]} + errors {sums[3]} + deferred {sums[5]}"
        )
    if len(st.seen) != len(seeds) + sums[4]:
        fails.append(f"|seen| {len(st.seen)} != seeds {len(seeds)} + new {sums[4]}")

    # links_count recomputed from the span generator over the pages
    # the engine fetched
    page_links = Counter()
    for s, u, _r, status in st.fetch_log:
        if status == 200:
            page_links[s] += len(links(u) or ())
    jobs = {s: (status, lc) for s, status, lc in st.jobs}
    if len(jobs) != len(st.jobs) or set(jobs) != sids:
        fails.append(f"jobs: {len(st.jobs)} rows for {len(sids)} scrapings")
    bad = [
        (s, status, lc, st.links[s], page_links[s])
        for s, (status, lc) in sorted(jobs.items())
        if status != "COMPLETED" or not lc == st.links[s] == page_links[s]
    ]
    if bad:
        fails.append(
            f"{len(bad)} jobs wrong, e.g. (scraping, status, links_count, "
            f"links rows, pages' link spans) = {bad[0]}"
        )

    rounds_of = defaultdict(set)
    depth = {}
    for s, u, d, r in st.frontier:
        rounds_of[(s, u)].add(r)
        depth[(s, u, r)] = d
    deferred = {s for (s, _u), rs in rounds_of.items() if len(rs) > 1}
    for s in sorted(sids - deferred):
        got_seen = {u: d for (t, u), d in seen.items() if t == s}
        got_ok = {
            u: depth.get((t, u, r))
            for t, u, r, status in st.fetch_log
            if t == s and status == 200
        }
        got_err = {u for t, u, _r, status in st.fetch_log if t == s and status != 200}
        if (got_seen, got_ok, got_err) != (ref.seen[s], ref.fetched[s], ref.errors[s]):
            fails.append(f"scraping {s} differs from the reference BFS")
            break
    for s in sorted(deferred):
        outside = [u for (t, u) in seen if t == s and u not in ref.seen[s]]
        if outside:
            fails.append(f"scraping {s}: {len(outside)} seen URLs outside the BFS, e.g. {outside[0]}")
            break
    missing = []
    for s, u, r, status in st.fetch_log:
        if s in deferred and status == 200 and depth.get((s, u, r), 0) > 0:
            missing += [(s, v) for v in links(u) if v.startswith("http") and (s, v) not in seen]
    if missing:
        fails.append(f"{len(missing)} crawlable links of fetched pages not claimed, e.g. {missing[0]}")
    if not deferred or deferred == sids:
        fails.append(f"{len(deferred)} of {len(sids)} scrapings deferred: one check kind ran on none")
    return fails


# --------------------------------------------------------------- workload
@dataclass
class OpResult:
    seconds: float
    items: int
    disk_bytes: int
    failures: list[str]
    ops: int = 1


class CrawlResume:
    """Set-up crawls the first CHECKPOINT_ROUNDS rounds and stops; each
    op copies that checkpoint and resumes it to the end with a new
    engine. The timed region is resume(): rollback, the Bloom rebuild
    from ``seen`` and every remaining round. Set-up also resumes one
    copy untimed: the first resume in a JVM runs about a fifth slower
    than the ones after it, while its code paths compile."""

    WARM_UP_OPS = 1

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        from isidorus_web_scraper_spark.corpus import make_page_fn
        from isidorus_web_scraper_spark.plans.crawl import CrawlConfig, CrawlEngine

        self.work, self.tracer = work, tracer
        page_fn = (
            tracer.page_fn(N_HOSTS, BASE)
            if tracer is not None
            else make_page_fn(n_hosts=N_HOSTS, base=BASE, mode="html")
        )
        politeness = spark.createDataFrame(
            [(HOT_HOST, HOT_BUDGET, [], 0)],
            "host string, max_fetches_per_round int, "
            "robots_disallow array<string>, crawl_delay_rounds int",
        )

        def engine(root: str, **config) -> CrawlEngine:
            return CrawlEngine(
                spark,
                root,
                page_fn=page_fn,
                politeness=politeness,
                config=CrawlConfig(
                    default_budget=UNBOUNDED,
                    bloom_expected_urls=EXPECTED_URLS,
                    max_parallelism=nproc(),
                    **config,
                ),
            )

        self.engine = engine
        self.seeds = crawl_seeds(seed)
        self.checkpoint = os.path.join(work, "checkpoint")
        eng = engine(self.checkpoint, max_rounds=CHECKPOINT_ROUNDS)
        eng.start(self.seeds)
        eng.run()
        self.links = PageLinks()
        self.ref = reference_bfs(self.seeds, self.links)
        self.n = 0

    def resume_copy(self, wh: str):
        """Resume a fresh copy of the checkpoint at ``wh``: (seconds
        resume() took, its RoundStats)."""
        shutil.copytree(self.checkpoint, wh)
        eng = self.engine(wh)
        t0 = time.perf_counter()
        stats = eng.resume()
        return time.perf_counter() - t0, stats

    def check(self, st: EndState) -> list[str]:
        return check_crawl(st, self.seeds, self.ref, self.links, {HOT_HOST: HOT_BUDGET})

    def op(self) -> OpResult:
        wh = os.path.join(self.work, f"wh-{self.n}")
        self.n += 1
        dt, stats = self.resume_copy(wh)
        fails = self.check(read_end_state(wh))
        if self.tracer is not None:
            self.tracer.crawl_stats(stats)
            self.tracer.warehouse_bytes(wh)
        res = OpResult(dt, sum(s.fetched for s in stats), warehouse_bytes(wh), fails)
        shutil.rmtree(wh, ignore_errors=True)
        return res
