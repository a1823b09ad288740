"""Single-threaded reference-faithful crawl simulator (test oracle).

SURVEY §7 R1: the matchable contract for "crawl ordering and URL-seen
set match the reference bit-for-bit" is the reference's deterministic
behavior at prefetch_size=1 — a sequential loop with:

- unify_url_id canonical ids (helpers.py:39-59, golden-tested);
- the seen-set gate with add-AFTER-success
  (middleware/synchronized.py:30-41);
- per-host politeness budgets + priority order (north_rule), keyed
  on ``urlsplit(url).hostname``; a URL with no hostname is skipped.

This module is that loop, in plain Python over plain lists — no Spark.
tests/test_rounds.py asserts the distributed rounds reproduce its
fetch lists and seen set EXACTLY, round by round.
"""

from __future__ import annotations

from dataclasses import dataclass
from urllib.parse import urlsplit

from cmoncrawl_spark.functions.urls import unify_url_id_py


@dataclass(frozen=True)
class Candidate:
    url: str
    depth: int
    priority: float


def _host(url: str) -> str | None:
    return urlsplit(url).hostname


def simulate_round(
    frontier: list[Candidate],
    seen: set[str],
    budgets: dict[str, int],
    disallowed: set[str],
) -> list[tuple]:
    """One scheduling round. Returns fetch tuples
    (url, url_id, host, depth, priority, budget, fetch_rank)."""
    # canonicalize + intra-batch dedup (best per id by depth, -prio, url)
    by_id: dict[str, Candidate] = {}
    for c in frontier:
        cid = unify_url_id_py(c.url)
        prev = by_id.get(cid)
        if prev is None or (c.depth, -c.priority, c.url) < (
            prev.depth,
            -prev.priority,
            prev.url,
        ):
            by_id[cid] = c
    # seen gate + robots
    per_host: dict[str, list[tuple[str, Candidate]]] = {}
    for cid, c in by_id.items():
        if cid in seen:
            continue
        h = _host(c.url)
        if h in disallowed or h not in budgets:
            continue
        per_host.setdefault(h, []).append((cid, c))
    # politeness top-k per host under the total order
    out = []
    for h, items in per_host.items():
        items.sort(key=lambda t: (t[1].depth, -t[1].priority, t[0]))
        budget = budgets[h]
        for rank, (cid, c) in enumerate(items[:budget], start=1):
            out.append((c.url, cid, h, c.depth, c.priority, budget, rank))
    return out


def expand_links(fetches: list[tuple], fanout: int = 2) -> list[Candidate]:
    children = []
    for url, _cid, _h, depth, priority, _b, _r in fetches:
        for i in range(1, fanout + 1):
            children.append(
                Candidate(f"{url}/child{i}x", depth + 1, priority / 2)
            )
    return children


def simulate_crawl(
    seeds: list[Candidate],
    budgets: dict[str, int],
    disallowed: set[str],
    rounds: int,
    fanout: int = 2,
) -> tuple[list[list[tuple]], set[str]]:
    """Full crawl: per-round fetch lists + final seen set.

    All fetches succeed (the distributed test uses the same
    assumption); ids enter `seen` only after their round's fetch."""
    seen: set[str] = set()
    frontier = list(seeds)
    all_rounds = []
    for _ in range(rounds):
        fetches = simulate_round(frontier, seen, budgets, disallowed)
        seen.update(cid for _u, cid, *_ in fetches)
        all_rounds.append(fetches)
        frontier = expand_links(fetches, fanout)
    return all_rounds, seen
