"""Workload definitions, seeded corpora, crawl seeding and the round timer."""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

from fraudcrawler_spark.config import CrawlConfig


@dataclass(frozen=True)
class Workload:
    name: str
    n_pages: int          # corpus size at seed 42
    rounds: int           # run_crawl(max_rounds=...)
    config: CrawlConfig
    seed_all: bool        # every page url seeded into frontier_0
    simulate: bool        # check rounds against tests/ref_sim.simulate_crawl


WORKLOADS = {
    w.name: w
    for w in (
        # politeness-bounded, cuckoo backend with TTL recrawl: from round 1
        # on every round retires and re-claims urls
        Workload(
            name="recrawl_ttl",
            n_pages=10_000,
            rounds=3,
            config=CrawlConfig(host_budget=4, max_depth=50,
                               seen_filter_kind="cuckoo",
                               recrawl_after_rounds=1),
            seed_all=False,
            simulate=True,
        ),
        # data-bound: the whole corpus is seeded into frontier_0 (as
        # bench.py's crawl_throughput_worker does) under an unbounded budget
        Workload(
            name="bulk_crawl",
            n_pages=20_000,
            rounds=2,
            config=CrawlConfig(host_budget=1 << 30, max_depth=1,
                               seen_partitions=64),
            seed_all=True,
            simulate=False,
        ),
    )
}

KEEP_CORPORA = 6


def corpus_params(base_pages: int, seed: int) -> tuple[int, int | None]:
    """(n_pages, n_hosts) for ``seed``. Seed 42 is datagen's own corpus. Any
    other seed shifts n_pages by up to ±0.5%, which rewires the link graph
    (link targets are taken modulo n_pages), and pins n_hosts to seed 42's
    default so the host layout, and with it the politeness-bounded work per
    round, stays comparable between seeds."""
    if seed == 42:
        return base_pages, None
    rng = random.Random(seed)
    n_pages = base_pages + rng.randint(-base_pages // 200, base_pages // 200)
    return n_pages, max(8, base_pages // 50)


def ensure_corpus(cache: Path, wl: Workload, seed: int) -> tuple[str, float]:
    """Path of the seeded corpus (generated on a cache miss) and the seconds
    spent generating it. Cached by seed, size and datagen revision."""
    from fraudcrawler_spark.datagen import (
        DATAGEN_REV,
        corpus_is_current,
        write_corpus,
    )

    n_pages, n_hosts = corpus_params(wl.n_pages, seed)
    d = cache / f"s{seed}-p{n_pages}-h{n_hosts or 'auto'}-rev{DATAGEN_REV}"
    t = time.perf_counter()
    if not corpus_is_current(str(d)):
        shutil.rmtree(d, ignore_errors=True)
        write_corpus(str(d), n_pages, n_hosts)
    os.utime(d)
    gen_s = time.perf_counter() - t
    # bounded cache: drop the least recently used corpora
    olds = sorted((p for p in cache.iterdir() if p.is_dir()),
                  key=lambda p: p.stat().st_mtime, reverse=True)
    for p in olds[KEEP_CORPORA:]:
        shutil.rmtree(p, ignore_errors=True)
    return str(d), gen_s


def seed_crawl(spark, wl: Workload, corpus: str, tables: dict, root: str):
    """Write frontier_0 and commit round -1: ``init_crawl`` discovery, or
    (seed_all) every page url, through CrawlState.write and commit."""
    from pyspark.sql import functions as F

    from fraudcrawler_spark.frontier.checkpoint import CrawlState
    from fraudcrawler_spark.frontier.crawl import init_crawl
    from fraudcrawler_spark.functions.urls import canonical_host_expr

    if not wl.seed_all:
        return init_crawl(spark, corpus, root, wl.config, tables=tables)
    state = CrawlState(spark, root)
    frontier0 = tables["pages"].select(
        "url",
        canonical_host_expr(F.col("url")).alias("host"),
        F.lit(0).alias("priority"),
        F.lit(0).alias("crawl_depth"),
    )
    state.write("frontier", 0, frontier0,
                sort_cols=["priority", "host", "crawl_depth"])
    state.commit(-1, {"corpus_dir": corpus})
    return state


class RoundTimer:
    """Timing wrapper over ``frontier.crawl.run_round``.

    ``run_crawl`` looks ``run_round`` up as a module global on every call, so
    replacing that global yields per-round wall times without touching the
    package. Rounds that raise are recorded with their error."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.rounds: list[dict] = []
        self._orig = None

    def __enter__(self):
        from fraudcrawler_spark.frontier import crawl as fcrawl

        from perfbench.tracing import span

        self._orig = orig = fcrawl.run_round

        def timed_run_round(spark, state, round_no, config, tables, store):
            rec = {"round": round_no, "start": time.time(), "error": None}
            t = time.perf_counter()
            try:
                with span(self.tracer, "crawl.run_round", round=round_no):
                    ran = orig(spark, state, round_no, config, tables, store)
            except Exception as e:
                rec["wall"] = time.perf_counter() - t
                rec["error"] = f"{type(e).__name__}: {e}"
                self.rounds.append(rec)
                raise
            rec["wall"] = time.perf_counter() - t
            if ran:  # False: the frontier was empty and nothing ran
                self.rounds.append(rec)
            return ran

        fcrawl.run_round = timed_run_round
        return self

    def __exit__(self, *exc):
        from fraudcrawler_spark.frontier import crawl as fcrawl

        fcrawl.run_round = self._orig
        return False
