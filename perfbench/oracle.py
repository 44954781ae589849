"""Round-by-round twin of ``tests/oracle_crawl.oracle_crawl`` with retraction.

``oracle_crawl`` runs a whole crawl in one call, so it cannot model a
``FrontierCrawler.retract()`` between rounds. ``StepOracle`` keeps the same
state (frontier rows, seen set) on an object, advances one round per
``step()`` with the same dedupe order, seen policy, prefix robots gate,
crawl-delay budget, per-host admission and retry rule, and accepts
``retract(surts)`` between rounds. Each step returns the counts
``RoundMetrics`` carries, so the benchmark compares them field by field.

Without retractions the twin must reproduce ``oracle_crawl`` exactly;
``selfcheck.py`` asserts that on every run of the self-check.
"""

from __future__ import annotations

import math
from dataclasses import replace

from tests.oracle_crawl import Row, canon_rows

# RoundMetrics fields the oracle predicts exactly
COUNT_FIELDS = (
    "candidates", "unseen", "blocked", "admitted", "deferred",
    "fetched", "missing", "results", "new_links", "next_frontier",
)


class StepOracle:
    def __init__(
        self,
        seeds: list[tuple[int, str]],
        page_urls: set[str],
        links: dict[str, list[str]],
        robots: dict[str, tuple[list[str], float | None]],
        result_urls: set[str],
        budget: int,
        max_attempts: int,
        round_duration_s: float = 30.0,
    ):
        self.frontier: list[Row] = canon_rows([(u, -sid) for sid, u in seeds], 0)
        self.seen: set[str] = set()
        self.url_of: dict[str, str] = {}  # surt → url of the row that sealed it
        self.page_urls, self.links, self.robots = page_urls, links, robots
        self.result_urls = result_urls
        self.budget, self.max_attempts = budget, max_attempts
        self.round_duration_s = round_duration_s
        self.round = 0
        self.schedules: list[list[Row]] = []

    def step(self) -> dict:
        """Run the next round; returns its RoundMetrics counts (plus
        ``max_host_load``, which the program observes only unsalted)."""
        self.round += 1
        r = self.round
        best: dict[str, Row] = {}
        for row in sorted(self.frontier, key=lambda x: (-x.priority, -x.failure_count, x.url)):
            best.setdefault(row.surt, row)
        unseen = [c for c in best.values() if c.surt not in self.seen]
        allowed, budgets = [], {}
        for c in unseen:
            rules, delay = self.robots.get(c.host, ([], None))
            if any(c.path.startswith(p) for p in rules):
                continue
            allowed.append(c)
            if delay is not None and delay > 0:
                budgets[c.host] = max(1, math.floor(self.round_duration_s / delay))
            else:
                budgets[c.host] = self.budget
        by_host: dict[str, list[Row]] = {}
        for c in allowed:
            by_host.setdefault(c.host, []).append(c)
        admitted, deferred = [], []
        for h, items in by_host.items():
            items.sort(key=lambda x: (-x.priority, x.surt))
            admitted += items[: budgets[h]]
            deferred += items[budgets[h]:]
        self.schedules.append(sorted(admitted, key=lambda x: (-x.priority, x.host, x.surt)))
        fetched = [c for c in admitted if c.url in self.page_urls]
        retry = [
            replace(c, failure_count=c.failure_count + 1)
            for c in admitted
            if c.url not in self.page_urls and c.failure_count + 1 < self.max_attempts
        ]
        retry_surts = {c.surt for c in retry}
        for c in admitted:
            if c.surt not in retry_surts:
                self.seen.add(c.surt)
                self.url_of[c.surt] = c.url
        dsts = sorted({d for c in fetched for d in self.links.get(c.url, [])})
        new_rows = canon_rows([(d, -1000.0 * (r + 1)) for d in dsts], r + 1)
        self.frontier = deferred + retry + new_rows
        return {
            "candidates": len(best),
            "unseen": len(unseen),
            "blocked": len(unseen) - len(allowed),
            "admitted": len(admitted),
            "deferred": len(deferred),
            "fetched": len(fetched),
            "missing": len(admitted) - len(fetched),
            "results": sum(1 for c in fetched if c.url in self.result_urls),
            "new_links": len(new_rows),
            "next_frontier": len(self.frontier),
            "max_host_load": max((len(v) for v in by_host.values()), default=0),
        }

    def retract(self, surts: set[str]) -> int:
        """Drop keys from the seen set (``set.discard``); returns how many
        were present — ``FrontierCrawler.retract``'s return value."""
        present = surts & self.seen
        self.seen -= present
        for s in present:
            self.url_of.pop(s, None)
        return len(present)
