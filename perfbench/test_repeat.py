"""The per-layer counts repeat exactly: two traced runs with the same seed
give identical Spark jobs and tasks per layer, identical index bytes,
identical cache hit/miss counts and identical ``PRUNE_STATS`` path counts.
Another seed changes the corpus and the query draw.

Each workload runs three times: twice with one seed, once with another
(about six minutes in all):

    python3 -m pytest perfbench/test_repeat.py -q
"""

from __future__ import annotations

import functools
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# counters the program computes from its inputs alone; times and shuffle
# byte totals (compressed sizes of blocks fetched in arrival order) are not
# among them
EXACT = (
    ".jobs", ".tasks", "_hits", "_misses", ".evictions",
    ".pass1", ".pass2", ".fallback", ".cutover", ".segments",
    "index.build.docmap_bytes", "index.build.postings_bytes",
    "index.build.termstats_bytes", "append_jobs", "append_bytes_written",
    "compact_bytes_rewritten",
)


@functools.lru_cache(maxsize=None)
def traced(workload: str, seed: int, rep: int = 0) -> tuple[dict, dict]:
    """One traced run; ``rep`` tells repeated runs of one seed apart."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    *_, detail, result = p.stdout.strip().splitlines()
    return json.loads(detail)["detail"], json.loads(result)


def exact_counts(result: dict) -> dict:
    return {
        k: v["value"] for k, v in result["metrics"].items()
        if k.endswith(EXACT)
    }


@pytest.mark.parametrize("workload", ["search", "ingest"])
def test_same_seed_repeats_counts(workload):
    (_, a), (_, b) = traced(workload, 7), traced(workload, 7, rep=1)
    assert a["correct"] and b["correct"]
    counts = exact_counts(a)
    assert counts == exact_counts(b)
    # the counters are live: the layers each workload exercises did work
    assert counts["index.build.jobs"] > 0
    assert counts["index.search.jobs"] > 0 and counts["index.wand.jobs"] > 0


@pytest.mark.parametrize("workload", ["search", "ingest"])
def test_other_seed_changes_corpus_and_queries(workload):
    (a, _), (c, _) = traced(workload, 7), traced(workload, 8)
    pa, pc = a["provenance"], c["provenance"]
    assert pa["offset"] != pc["offset"]
    assert pa["queries"] != pc["queries"]
