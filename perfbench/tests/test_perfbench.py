"""Self-tests of the benchmark: reporting rules, span arithmetic, seed
plumbing, and a tiny-size smoke run of each workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from harness import tail_percentile  # noqa: E402
from spans import self_times, union_seconds  # noqa: E402


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(list(range(10))) is None
    assert tail_percentile(list(range(19))) is None      # p47 < median
    assert tail_percentile(list(range(1, 21))) == (50, 10)
    assert tail_percentile(list(range(1, 101))) == (90, 90)
    for n in range(20, 400):
        p, v = tail_percentile(list(range(1, n + 1)))
        assert n - v >= 10                                # ≥10 beyond it
        if p < 99:                                        # p+1 leaves fewer
            assert n - math.ceil((p + 1) * n / 100) < 10


def test_union_and_self_time():
    assert union_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_seconds([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert union_seconds([], 0, 1) == 0
    spans = [
        {"id": "r", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "a", "parent": "r", "start": 1.0, "end": 4.0},
        {"id": "b", "parent": "r", "start": 3.0, "end": 6.0},   # overlaps a
        {"id": "c", "parent": "b", "start": 4.0, "end": 5.0},
    ]
    got = self_times(spans)
    assert got == {"r": 5.0, "a": 3.0, "b": 2.0, "c": 1.0}


def _run(*args, timeout=600):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *args],
        cwd="/", capture_output=True, text=True, timeout=timeout)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


@pytest.fixture(scope="module")
def spark():
    sys.path.insert(0, ROOT)
    from anofox_forecast_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=2, shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "1g"})
    yield s
    s.stop()


def _input_fingerprints(spark, seed):
    from anofox_forecast_spark.sources.pages import synthesize_pages
    from anofox_forecast_spark.sources.webtext_synth import (
        synthesize_documents,
        synthesize_embeddings,
    )
    from harness import force

    return [
        force(synthesize_pages(spark, n_pages=500, n_hosts=20, weeks=1, seed=seed)),
        force(synthesize_documents(spark, n_docs=200, seed=seed)),
        force(synthesize_embeddings(spark, n_vecs=200, n_clusters=4, seed=seed)),
    ]


def test_seed_fixes_inputs(spark):
    a = _input_fingerprints(spark, 3)
    assert a == _input_fingerprints(spark, 3)
    b = _input_fingerprints(spark, 4)
    assert all(x.checksum != y.checksum for x, y in zip(a, b))


@pytest.mark.parametrize("workload", ["engine", "webtext"])
def test_smoke_run_from_another_cwd(workload):
    """A tiny run passes every output check, run from outside the tree
    (Python workers must still find the package), and reports every
    result metric; the same seed reproduces the same fingerprints."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    args = ("--workload", workload, "--seed", "5", "--seconds", "1",
            "--scale", "0.1")
    report, result = _run(*args, "--trace", "0")
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert set(result["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())

    report2, traced = _run(*args, "--trace", "1")
    assert traced["correct"]
    assert set(traced["metrics"]) == {m["name"] for m in spec["per_layer"]}
    assert traced["metrics"]["jobs"]["value"] > 0
    assert report2["fingerprints"] == report["fingerprints"]
    ledger = os.path.join(ROOT, report2["ledger"])
    with open(ledger) as f:
        spans = json.load(f)["spans"]
    assert spans and all({"id", "name", "parent", "run", "start", "end"} <= set(s)
                         for s in spans)
