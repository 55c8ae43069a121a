"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The last test runs two traced ``serve`` runs with one seed (a few minutes
on 4 cores) and asserts that every exact counter repeats.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from perfbench import querygen
from perfbench.check import topk_ok
from perfbench.harness import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_topk_ok_accepts_a_tie_swap_at_the_boundary():
    full = [(1, 3.0), (2, 2.0), (3, 1.0), (4, 1.0)]
    assert topk_ok([(1, 3.0), (2, 2.0), (3, 1.0)], full, 3)
    assert topk_ok([(1, 3.0), (2, 2.0), (4, 1.0)], full, 3)


def test_topk_ok_rejects_wrong_results():
    full = [(1, 3.0), (2, 2.0), (3, 1.0)]
    assert not topk_ok([(1, 3.0), (3, 1.0)], full, 2)       # below k-th
    assert not topk_ok([(1, 3.0)], full, 2)                 # too short
    assert not topk_ok([(1, 3.0), (1, 3.0)], full, 2)       # duplicate
    assert not topk_ok([(1, 3.0), (9, 2.0)], full, 2)       # not a match
    assert not topk_ok([(1, 3.0), (2, 2.5)], full, 2)       # wrong score
    assert topk_ok([], [], 10)


TERMS = {
    "rare": [f"rare{i:04d}" for i in range(50)],
    "mid": [f"topic{i:02d}" for i in range(20)],
    "common": ["fox", "dog", "crawl", "index", "search", "title"],
    "stop": ["the", "of", "to", "a", "in", "is"],
}


def test_generate_is_seeded_and_distinct():
    a = querygen.generate(TERMS, querygen.SERVE_SHAPES, 8, seed=3)
    b = querygen.generate(TERMS, querygen.SERVE_SHAPES, 8, seed=3)
    c = querygen.generate(TERMS, querygen.SERVE_SHAPES, 8, seed=4)
    assert a == b
    assert a != c
    assert len({(q.text, q.scorer) for q in a}) == 8
    assert [q.shape for q in a[:5]] == list(querygen.SERVE_SHAPES)


def test_generate_never_repeats_a_term_within_a_query():
    for q in querygen.generate(TERMS, querygen.HEAVY_SHAPES, 12, seed=1):
        words = q.text.replace("-", " ").split()
        assert len(words) == len(set(words))


def test_band_shares_count_slots():
    qs = querygen.generate(TERMS, querygen.SERVE_SHAPES, 4, seed=0)
    shares = querygen.band_shares(qs, querygen.SERVE_SHAPES)
    assert abs(sum(shares.values()) - 1.0) < 1e-3
    assert shares["stop"] == 0.0


def test_tracer_spans_nest_and_filter_by_attribute():
    tr = Tracer(None, counting=False)
    with tr.span("query", state="serving") as q:
        with tr.span("query.executor.plan"):
            pass
        with tr.jobs() as counts:  # not counting: runs the body only
            with tr.span("query.executor.exec"):
                pass
    with tr.span("query", state="warmup"):
        pass
    assert counts == {}
    assert tr.named("query", state="serving") == [q]
    assert len(tr.named("query")) == 2
    parts = tr.children(q)
    assert set(parts) == {"query.executor.plan", "query.executor.exec"}
    assert all(q["start"] <= r["start"] <= r["end"] <= q["end"]
               for r in parts.values())


# counters that must repeat exactly for one seed
EXACT = [
    "index.build.jobs",
    "index.build.postings_per_doc",
    "query.executor.gens_at_query",
    "query.executor.jobs_per_query",
    "query.executor.tasks_per_query",
    "querygen.distinct_queries",
]


def _traced_run(seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve",
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_same_seed_gives_identical_counts():
    first, second = _traced_run(11), _traced_run(11)
    for run in (first, second):
        assert run["correct"] and run["failed"] == 0
    assert first["attempted"] == second["attempted"]
    for name in EXACT:
        assert first["metrics"][name] == second["metrics"][name], name
