"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

Input digests and verifiers run without Spark. The last test runs one
short benchmark and checks the results line against BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, verify  # noqa: E402
from perfbench.run import END_TO_END  # noqa: E402
from perfbench.tracing import LAYER_METRICS  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", sorted(inputs.GENERATORS))
def test_same_seed_same_digest_other_seed_other_digest(tmp_path, workload):
    gen = inputs.GENERATORS[workload]
    digests = []
    for i, seed in enumerate((7, 7, 8)):
        out = tmp_path / str(i)
        gen(seed, str(out))
        digests.append(inputs.digest_dir(str(out)))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_frontier_check_rejects_a_dropped_row():
    exact = (5000, 123456789)
    assert verify.check_frontier((5000, 123456789), exact) == []
    assert verify.check_frontier((4999, 123456789 - 42), exact)


def _crawl_ok():
    fetch = pd.DataFrame(
        {
            "round_id": [0, 0, 0, 1, 1],
            "url_id": ["a/1", "a/2", "b/1", "a/3", "b/2"],
            "host": ["a", "a", "b", "a", "b"],
        }
    )
    markers = [{"round_id": 0, "scheduled": 3}, {"round_id": 1, "scheduled": 2}]
    return markers, fetch, {"a": 2, "b": 1}


def test_crawl_check_accepts_a_good_crawl():
    markers, fetch, budgets = _crawl_ok()
    assert verify.check_crawl(markers, fetch, budgets, 2, [3, 2]) == []


def test_crawl_check_rejects_a_duplicated_url_id():
    markers, fetch, budgets = _crawl_ok()
    fetch.loc[4, "url_id"] = "b/1"
    assert any("more than once" in p for p in verify.check_crawl(markers, fetch, budgets, 2, [3, 2]))


def test_crawl_check_rejects_over_budget_uncommitted_and_drift():
    markers, fetch, budgets = _crawl_ok()
    assert verify.check_crawl(markers, fetch, {"a": 1, "b": 1}, 2, [3, 2])
    assert verify.check_crawl(markers[:1], fetch, budgets, 2, [3, 2])
    assert verify.check_crawl(markers, fetch, budgets, 2, [3, 3])


def _page_lines(doc_ids):
    for d in doc_ids:
        row = {"doc_id": d, "url": f"https://x/p{d}x", "route": "page"}
        if d % 101:
            row["title"] = f"Doc {d}"
        yield json.dumps(row)


def test_extract_check():
    ids = [100, 101, 202, 303, 404]
    lines = list(_page_lines(ids))
    assert verify.check_extract(lines, ids) == []
    assert verify.check_extract(lines[:-1], ids)  # dropped row
    assert verify.check_extract(lines + lines[:1], ids)  # duplicated row
    wrong = json.loads(lines[0]) | {"title": "Doc 1"}
    assert verify.check_extract([json.dumps(wrong)] + lines[1:], ids)


def test_dedup_check():
    pairs = [(1, 2), (2, 5), (7, 9)]
    good = {1: 1, 2: 1, 5: 1, 7: 7, 9: 7}
    assert verify.check_dedup(pairs, good) == []
    assert verify.check_dedup(pairs, good | {5: 2})  # label is not the min id
    assert verify.check_dedup(pairs, good | {9: 9})  # pair split
    assert verify.check_dedup(pairs, {k: v for k, v in good.items() if k != 9})  # dropped row


def test_benchmark_json_names_every_metric():
    spec = _spec()
    assert [m["name"] for m in spec["end_to_end"]] == [n for n, _u, _b in END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == LAYER_METRICS
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(inputs.GENERATORS)


@pytest.mark.parametrize("workload", sorted(inputs.GENERATORS))
def test_results_line_has_every_end_to_end_metric(workload):
    """One short run per workload: the last stdout line names all four
    end-to-end metrics with their units, and every op verified."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "0"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=180,
        check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    units = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    assert all(v["value"] > 0 for v in result["metrics"].values())
