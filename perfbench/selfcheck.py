#!/usr/bin/env python3
"""Checks of the benchmark's own checkers: a real end state passes, and
each tampered copy of it fails.

    python3 perfbench/selfcheck.py

Crawl cases (one small crawl_resume-shaped crawl, tampered in memory):
one ``seen`` row dropped, one page fetched twice, one host over budget
in a round. Query case: one row of one query's answer altered. Prints
one line per case and exits 1 if any checker missed its case.
"""

from __future__ import annotations

import dataclasses
import os
import sys
from collections import Counter

import run


def crawl_cases(st, host: str, budget: int) -> dict:
    """name -> a tampered copy of end state ``st``."""
    cases = {"seen row dropped": dataclasses.replace(st, seen=st.seen[:-1])}
    s, u, r, status = next(f for f in st.fetch_log if f[3] == 200)
    cases["page fetched twice"] = dataclasses.replace(
        st, fetch_log=st.fetch_log + [(s, u, r + 1, status)]
    )
    per_round = Counter(f[2] for f in st.fetch_log if f[1].split("/")[2] == host)
    full = min(r for r, n in per_round.items() if n == budget)
    i = next(i for i, f in enumerate(st.fetch_log) if f[1].split("/")[2] == host and f[2] != full)
    log = list(st.fetch_log)
    log[i] = (*log[i][:2], full, log[i][3])
    cases["host over budget in a round"] = dataclasses.replace(st, fetch_log=log)
    return cases


def altered(answers: dict) -> dict:
    """A copy of ``answers`` with one value of one row changed."""
    out = dict(answers)
    name = next(q for q, (_c, rows) in answers.items() if rows)
    cols, rows = answers[name]
    first = rows[0]
    v = first[0]
    bumped = v + 1 if isinstance(v, (int, float)) else f"{v}~"
    out[name] = (cols, sorted([(bumped, *first[1:])] + rows[1:], key=repr))
    return out


def main() -> int:
    if not run.package_present():
        return 2
    import crawl_bench as cb
    import query_bench as qb

    # a small crawl: the budget still binds on h0.test, so both kinds
    # of scraping check run
    cb.WIDE_SEEDS, cb.HOT_SEEDS, cb.HOT_BUDGET = 32, 32, 32
    results = []
    with run.workdir("selfcheck") as work:
        spark = run._spark(work)
        try:
            wl = cb.CrawlResume(spark, work, seed=7, tracer=None)
            wh = os.path.join(work, "wh")
            wl.resume_copy(wh)
            st = cb.read_end_state(wh)
        finally:
            run._stop(spark)
        results.append(("crawl end state passes", wl.check(st) == []))
        for name, bad in crawl_cases(st, cb.HOT_HOST, cb.HOT_BUDGET).items():
            results.append((f"crawl: {name} fails", wl.check(bad) != []))
        sf = os.path.join(work, "corpus")
        qb.write_corpus(sf, seed=7)
        want = qb.oracle(sf)
        results.append(("query answers pass", qb.check_answers(want, want) == []))
        results.append(("query: one row altered fails", qb.check_answers(altered(want), want) != []))
    for name, ok in results:
        print(f"{'ok  ' if ok else 'MISS'} {name}")
    return 0 if all(ok for _n, ok in results) else 1


if __name__ == "__main__":
    sys.exit(main())
