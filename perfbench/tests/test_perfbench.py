"""Tests of the benchmark itself (not of the package):

    python3 -m pytest perfbench/tests -q

With PERFBENCH_RUN=1 the last test also starts Spark for one short
ingest run per ``--trace`` value; the others are pure Python.
"""

from __future__ import annotations

import json
import math
import os
import random
import statistics
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import quantiles  # noqa: E402


def _inputs(seed: int):
    rng = random.Random(seed)
    posts = gen.posts(rng, gen.subreddit_names(3), 60, days=3)
    return (
        posts,
        gen.comments(rng, posts, 24),
        gen.documents(rng, 200),
        gen.embeddings(rng, 100),
    )


def test_generators_are_deterministic():
    assert _inputs(7) == _inputs(7)
    assert _inputs(7) != _inputs(8)


def test_generated_batches_are_full_size():
    posts, comments, _, _ = _inputs(3)
    per_sub = {}
    for p in posts:
        per_sub[p["subreddit"]] = per_sub.get(p["subreddit"], 0) + 1
    assert min(per_sub.values()) >= 50
    per_post = {}
    for c in comments:
        per_post[c["post_id"]] = per_post.get(c["post_id"], 0) + 1
    assert min(per_post.values()) >= 20
    assert len({p["id"] for p in posts}) == len(posts)
    assert len({c["id"] for c in comments}) == len(comments)


def test_documents_hold_near_and_exact_duplicates():
    docs = gen.documents(random.Random(5), 500)
    norm = [" ".join(d["text"].lower().split()) for d in docs]
    assert len(set(norm)) < len(norm)  # exact copies up to case/space

    def shingles(t):
        w = t.split()
        return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}

    near = 0
    seen = {}
    for t in norm:
        s = shingles(t)
        for other in seen.values():
            j = len(s & other) / len(s | other)
            if 0.5 <= j < 1.0:
                assert j >= 0.75  # never near the 0.5 threshold
                near += 1
        seen[t] = s
    assert near > 0


def _rank_p90(xs):
    """p90 by linear interpolation between closest ranks."""
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def test_percentile_on_known_distributions():
    grid = [i / 100 for i in range(101)]
    assert quantiles.percentile(grid, 50) == pytest.approx(0.5)
    assert quantiles.percentile(grid, 90) == pytest.approx(0.9, abs=0.01)
    rng = random.Random(3)
    expo = [rng.expovariate(1.0) for _ in range(4000)]
    assert quantiles.percentile(expo, 90) == pytest.approx(math.log(10), rel=0.05)
    assert quantiles.percentile(expo, 50) == pytest.approx(math.log(2), rel=0.05)
    assert quantiles.percentile([5.0], 90) == 5.0
    assert quantiles.percentile(expo[:7], 90) == quantiles.percentile(
        sorted(expo[:7], reverse=True), 90
    )
    assert min(expo[:7]) < quantiles.percentile(expo[:7], 90) < max(expo[:7])


def test_beta_cdf():
    # I_x(1, 1) = x; I_x(0.5, 0.5) = 2/pi asin(sqrt x); symmetry
    assert quantiles.beta_cdf(0.3, 1, 1) == pytest.approx(0.3)
    assert quantiles.beta_cdf(0.2, 0.5, 0.5) == pytest.approx(
        2 / math.pi * math.asin(math.sqrt(0.2))
    )
    assert quantiles.beta_cdf(0.7, 45.9, 5.1) == pytest.approx(
        1 - quantiles.beta_cdf(0.3, 5.1, 45.9)
    )


def test_two_cluster_p90_is_steady():
    """Passes of eight cheap operations and one expensive one: the
    expensive share (11%) puts p90 on the gap between the clusters, the
    mix that made a time-budgeted benchmark's p90 jump with its sample
    count. Closest-rank interpolation moves by several times as the pass
    count changes; the estimator used here does not."""

    def run(seed, passes, est):
        rng = random.Random(seed)
        xs = []
        for _ in range(passes):
            xs += [rng.gauss(100, 3) for _ in range(8)]
            xs.append(rng.gauss(700, 20))
        return est(xs)

    def p90(xs):
        return quantiles.percentile(xs, 90)

    counts = [1, 2, 4, 10]
    ranked = [run(seed, n, _rank_p90) for seed, n in enumerate(counts)]
    assert max(ranked) / min(ranked) > 2
    fixed = [run(seed, 4, p90) for seed in range(20)]
    assert max(fixed) / min(fixed) < 1.1
    varying = [run(seed, n, p90) for seed, n in enumerate(counts)]
    assert max(varying) / min(varying) < 1.1


def test_p90_over_close_operation_costs():
    """Two operations of close cost straddle p90 in every pass, as
    dedup_minhash_lsh and data_quality do in the query workload: the
    weighted estimate spreads less over repeated runs than closest-rank
    interpolation."""

    def run(seed, est):
        rng = random.Random(seed)
        xs = []
        for _ in range(2):
            xs += [rng.gauss(200, 10) for _ in range(21)]
            xs += [rng.gauss(900, 60), rng.gauss(850, 60)]
            xs += [rng.gauss(1300, 40), rng.gauss(1300, 40)]
        return est(xs)

    hd = [run(s, lambda xs: quantiles.percentile(xs, 90)) for s in range(200)]
    ranked = [run(s, _rank_p90) for s in range(200)]
    assert quantiles.iqr_share(hd) < 0.7 * quantiles.iqr_share(ranked)


def test_iqr_share():
    assert quantiles.iqr_share([10.0] * 10) == 0.0
    vals = [9, 10, 10, 10, 11]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert quantiles.iqr_share(vals) == (q3 - q1) / q2


def test_benchmark_json_names_match_the_runner():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == {"ingest", "query"}


@pytest.mark.skipif(
    not os.environ.get("PERFBENCH_RUN"),
    reason="starts Spark for about a minute; set PERFBENCH_RUN=1",
)
@pytest.mark.parametrize("trace", [0, 1])
def test_last_line_reports_every_metric_with_its_unit(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = spec["per_layer"] if trace else spec["end_to_end"]
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "ingest",
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True, timeout=300,
    )
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    assert result["metrics"] == {
        m["name"]: {"value": result["metrics"][m["name"]]["value"],
                    "unit": m["unit"]}
        for m in want
    }
