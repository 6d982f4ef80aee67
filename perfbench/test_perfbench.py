"""Self-tests of the benchmark.

    python3 -m pytest perfbench/ -q

The first tests are fast checks of the tracer's arithmetic.  The
exact-count test runs the traced benchmark twice with one seed and
requires that the counts later changes may cite (plans.eager_jobs, jobs
per operation, sinks.requests, packing.units, packing.rounds) repeat
exactly, and the first runs must reach every layer but ``cli``; they start
Spark four times and take several minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import tail, unit_of  # noqa: E402
from perfbench.trace import (LAYERS, Span, _clip_children,  # noqa: E402
                             _union, layer_of)


def test_tail_has_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]       # 100 samples
    value, label, n = tail(xs)
    assert (label, n) == ("p90", 100) and value == 90.0
    assert tail(xs[:44])[1] == "p75"
    assert tail(xs[:6]) == (6.0, "max", 6)


def test_self_times_sum_to_wall_with_overlapping_children():
    op = Span("op", 0.0, 10.0)
    ph = Span("plans.build", 1.0, 6.0)
    ph.children = [Span("job 1", 2.0, 4.0), Span("job 2", 3.0, 7.0)]
    op.children = [ph, Span("action", 6.5, 9.0)]
    _clip_children(op)

    def total(s):
        return s.attrs["self_s"] + sum(total(c) for c in s.children)

    assert abs(total(op) - op.wall) < 1e-12
    assert ph.children[1].start == 4.0 and ph.children[1].end == 6.0
    assert _union([(0, 2), (1, 3), (5, 6)]) == 4


def test_layer_of():
    pkg = "/x/databox_adls_loader_spark"
    assert layer_of(f"{pkg}/operators/windows.py") == "operators"
    assert layer_of(f"{pkg}/session.py") == "session"
    assert layer_of(f"{pkg}/fixtures.py") == "other"
    assert layer_of("/x/perfbench/workloads.py") == "benchmark"
    assert layer_of("/usr/lib/python3/site-packages/pyspark/sql/x.py") == "other"


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def test_units_match_benchmark_json():
    spec = _declared()
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert unit_of(m["name"]) == m["unit"], m["name"]


def _traced(workload: str, seed: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in _declared()["per_layer"]}
    path = os.path.join(ROOT, ".perfbench", "out",
                        f"trace-{workload}-seed{seed}.json")
    with open(path, encoding="utf-8") as f:
        tree = json.load(f)
    return {k: v["value"] for k, v in result["metrics"].items()}, tree


EXACT = ("plans.eager_jobs", "sinks.requests", "packing.units",
         "packing.rounds", "spark.jobs")
_FIRST: dict[str, tuple[dict, dict]] = {}


def _first_traced(workload: str) -> tuple[dict, dict]:
    """The first traced run of ``workload`` at seed 3, shared by the tests."""
    if workload not in _FIRST:
        _FIRST[workload] = _traced(workload, seed=3)
    return _FIRST[workload]


@pytest.mark.parametrize("workload", ["migrate", "query_floor"])
def test_counts_repeat_exactly(workload):
    m1, t1 = _first_traced(workload)
    m2, t2 = _traced(workload, seed=3)
    assert {k: m1[k] for k in EXACT} == {k: m2[k] for k in EXACT}
    assert t1["jobs_per_op"] == t2["jobs_per_op"]
    assert [o["name"] for o in t1["children"]] == [o["name"] for o in t2["children"]]
    if workload == "migrate":
        assert m1["sinks.requests"] > 0 and m1["packing.rounds"] >= 2
        assert m1["packing.units"] > 0
    else:
        assert m1["plans.eager_jobs"] > 0


def test_every_layer_is_reached():
    """Every layer but ``cli`` has driver self time or Spark jobs on some
    workload (``query_mix`` runs the same list as ``query_floor``)."""
    runs = [_first_traced(w)[0] for w in ("migrate", "query_floor")]
    missed = [layer for layer in LAYERS
              if not any(m[f"driver.py_self_s.{layer}"] > 0
                         or m[f"jobs_by_site.{layer}"] > 0 for m in runs)]
    assert not missed
