"""Output checks, run after the timed window and never timed.

Each ``check_*`` returns a list of problems; an op passes when its list
is empty. They work on plain Python and pandas data, so they can be
tested without a Spark session.
"""

from __future__ import annotations

import json
from collections import Counter
from collections.abc import Iterable, Mapping, Sequence

import pandas as pd

from cmoncrawl_spark.datagen import GARBAGE_MOD


def check_frontier(digest: tuple, exact: tuple) -> list[str]:
    """The fetch list's (count, hash sum) equals the exact path's."""
    return [] if tuple(digest) == tuple(exact) else [f"fetch-list digest {digest} != exact {exact}"]


def check_crawl(
    markers: Sequence[Mapping],
    fetch: pd.DataFrame,
    budgets: Mapping[str, int],
    rounds: int,
    reference_scheduled: Sequence[int] | None,
) -> list[str]:
    """One crawl op: every round committed, no url_id scheduled twice,
    per-round per-host counts within the host's budget, and per-round
    ``scheduled`` equal to the reference op's.

    ``fetch`` holds the op's fetch lists: round_id, url_id, host."""
    problems = []
    got = sorted(int(m["round_id"]) for m in markers)
    if got != list(range(rounds)):
        problems.append(f"committed rounds {got} != 0..{rounds - 1}")
    dups = int(fetch["url_id"].duplicated().sum())
    if dups:
        problems.append(f"{dups} url_ids scheduled more than once")
    per_host = fetch.groupby(["round_id", "host"]).size()
    over = [
        (r, h, n) for (r, h), n in per_host.items() if n > budgets.get(h, 0)
    ]
    if over:
        problems.append(f"{len(over)} (round, host) groups over budget, e.g. {over[0]}")
    scheduled = [int(m["scheduled"]) for m in sorted(markers, key=lambda m: m["round_id"])]
    per_round = fetch.groupby("round_id").size().reindex(range(rounds), fill_value=0)
    if scheduled != [int(n) for n in per_round]:
        problems.append(f"markers say {scheduled} scheduled, fetch lists hold {list(per_round)}")
    if reference_scheduled is not None and scheduled != list(reference_scheduled):
        problems.append(f"scheduled per round {scheduled} != reference {list(reference_scheduled)}")
    return problems


def check_extract(lines: Iterable[str], doc_ids: Iterable[int]) -> list[str]:
    """JSONL output of one extract op: one line per input page, each
    page once, and every non-garbage page titled ``Doc {doc_id}``
    (``datagen.synthesize_html_bytes``); garbage pages have no title."""
    expected = set(doc_ids)
    rows = [json.loads(line) for line in lines if line.strip()]
    problems = []
    if len(rows) != len(expected):
        problems.append(f"{len(rows)} lines for {len(expected)} pages")
    seen = Counter(int(r["doc_id"]) for r in rows)
    if set(seen) != expected or max(seen.values(), default=1) > 1:
        problems.append("doc_ids differ from the input pages or repeat")
    bad = [
        r["doc_id"]
        for r in rows
        if r.get("title") != (None if int(r["doc_id"]) % GARBAGE_MOD == 0 else f"Doc {r['doc_id']}")
    ]
    if bad:
        problems.append(f"{len(bad)} wrong titles, e.g. doc {bad[0]}")
    return problems


def components(pairs: Iterable[tuple[int, int]]) -> dict[int, int]:
    """Reference labelling: node -> minimum id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_dedup(pairs: Sequence[tuple[int, int]], labels: Mapping[int, int]) -> list[str]:
    """Every verified pair's endpoints share a component, and each
    component's label is its minimum id."""
    problems = []
    split = [(a, b) for a, b in pairs if labels.get(a) is None or labels.get(a) != labels.get(b)]
    if split:
        problems.append(f"{len(split)} pairs split across components, e.g. {split[0]}")
    expected = components(pairs)
    if dict(labels) != expected:
        wrong = [x for x in set(expected) | set(labels) if labels.get(x) != expected.get(x)]
        problems.append(f"{len(wrong)} nodes not labelled with their component's min id")
    return problems
