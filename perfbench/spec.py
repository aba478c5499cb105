"""Workload settings shared by the launcher, the worker and the self-test.

A size is chosen so that one run fits the benchmark's time budget on a
4-core box: a crawl round of the real pipeline costs 10-20 s there even on
a small frontier (fixed per-job, per-commit and Python-worker start cost),
so a crawl unit is two rounds on a 10k-URL frontier.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

# Driver JVM heap, identical for every run and every commit compared.
DRIVER_HEAP = "2g"
# Set-up (load inputs, cache images, init_state) repeats this many times per
# run; setup_s reports the session start, the Python worker pool's start and
# the median repetition.
SETUP_REPS = 3
# Seconds one unit of work takes on a 4-core box: a crawl of two rounds
# from a fresh driver, a SERP batch.
UNIT_NOMINAL_S = {"recrawl": 30.0, "serp_extract": 6.0}


def units_for(workload: str, seconds: float) -> int:
    """Units a run does for ``--seconds``: a fixed count, never a deadline,
    so the work measured does not depend on the speed measured."""
    return max(1, round(seconds / UNIT_NOMINAL_S[workload]))


def images_entry(c: "Crawl") -> str:
    return f"images-m{c.n_images}"


def pool_entry(c: "Crawl") -> str:
    return f"recapture-pool-n{2 * c.n_frontier}-m{c.n_images}"


def cache_entries(workload: str, size: str) -> list[str]:
    """The seed-independent input tables a workload reads from the cache."""
    if workload != "recrawl":
        return []
    c = SIZES[size]["recrawl"]
    return [images_entry(c), pool_entry(c)]


def cores() -> int:
    return len(os.sched_getaffinity(0))


# A crawl has two rounds. Before round 1 a batch is appended to the
# frontier: re-captures of RECAPTURE_SHARE of the frontier's status-200 rows
# on the hosts round 0 drains, and NEW_SHARE of the pool's other half as new
# URLs.
RECAPTURE_SHARE = 0.4
NEW_SHARE = 0.05
# maintain() after every round; compact_over_dirs=2 compacts every
# append-log table (frontier, fetches, seen_keys, metrics) once it has two
# data dirs, i.e. in the maintain() after round 1: four compactions a crawl
MAINTAIN = {"keep_last": 2, "compact_over_dirs": 2, "orphan_age_s": 0.0}


@dataclass(frozen=True)
class Crawl:
    n_frontier: int
    n_images: int
    budget_waves: int


@dataclass(frozen=True)
class Serp:
    n_serps: int


SIZES = {
    "full": {
        "recrawl": Crawl(n_frontier=10_000, n_images=1_000, budget_waves=1_000),
        "serp_extract": Serp(n_serps=1_000),
    },
    "tiny": {
        "recrawl": Crawl(n_frontier=1_000, n_images=100, budget_waves=100),
        "serp_extract": Serp(n_serps=200),
    },
}
WORKLOADS = tuple(SIZES["full"])
