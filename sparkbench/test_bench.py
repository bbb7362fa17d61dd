"""Benchmark self-tests: each workload's output check must fail an
operation whose output has one corrupted row, and BENCHMARK.json must list
exactly the metrics the benchmark prints.

    python3 -m pytest sparkbench/test_bench.py -q
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkbench import harness  # noqa: E402
from sparkbench.metrics import END_TO_END, HIGHER_IS_BETTER, PER_LAYER  # noqa: E402
from sparkbench.run import WARMUP_OPS, Runner, _workload  # noqa: E402


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(harness.CHECKOUT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(WARMUP_OPS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    for m in bench["per_layer"]:
        assert m["better"] == ("higher" if m["name"] in HIGHER_IS_BETTER else "lower")
    assert len(bench["per_layer"]) <= 128


@pytest.fixture(scope="module")
def spark():
    harness.scrub_env()
    s = harness.start_spark("test-corrupt")
    yield s
    harness.stop_spark(s)


def _corrupt_crawl(out):
    fetch = list(out.fetch)
    r = fetch[len(fetch) // 2]
    fetch[len(fetch) // 2] = r[:4] + (r[4] + 1,) + r[5:]  # one row's depth
    return dataclasses.replace(out, fetch=fetch)


def _corrupt_neardup(out):
    rows = dict(out.rows)
    q = "embedding_neardup_pairs"
    first = rows[q][0]
    # columns sort by name, so a pair row is (cos_sim, id_a, id_b)
    rows[q] = [("0.99999",) + first[1:]] + rows[q][1:]
    return dataclasses.replace(out, rows=rows)


@pytest.mark.parametrize("name, corrupt", [("crawl", _corrupt_crawl), ("neardup", _corrupt_neardup)])
def test_corrupted_row_counts_as_failed(spark, name, corrupt):
    workdir = os.path.join(harness.WORK, f"test-{name}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    w = _workload(name)(spark, 7, workdir)
    w.prepare()
    w.keep = harness.persistent_rdd_ids(spark)
    sampler = harness.PssSampler()
    runner = Runner(w, spark, sampler)

    runner.run(lambda: w.op(warm=True))
    assert (runner.attempted, runner.failed) == (1, 0)

    runner.run(lambda: corrupt(w.op(warm=True)))
    assert (runner.attempted, runner.failed) == (2, 1)
    shutil.rmtree(workdir, ignore_errors=True)
