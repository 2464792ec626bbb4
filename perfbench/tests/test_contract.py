from __future__ import annotations

import importlib.util
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _runner():
    spec = importlib.util.spec_from_file_location("perfbench_run", os.path.join(ROOT, "perfbench", "run.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_benchmark_json_names_what_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    run = _runner()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOAD_NAMES)
    traced = run.per_layer_metrics({})
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        n: m["unit"] for n, m in traced.items()
    }
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END


class _InstantWorkload:
    warm_passes = 0
    timed_passes = 3

    def run_pass(self, ctx):
        return None

    def observe(self, ctx, result):
        return {}

    def check(self, observed, ctx):
        return {}


def test_median_covers_the_same_pass_positions_however_fast_a_pass_is():
    run = _runner()
    passes = run.Passes(_InstantWorkload(), ctx=None)
    passes.run("cold")
    positions = run.timed(passes, seconds=0.05, trace=False)
    # instant passes fill the 0.05 s with many more than three passes,
    # but only the first three timed ones count
    assert len(passes.records) > 1 + 3
    assert positions == range(1, 4)
    assert len(passes.untraced_seconds(positions)) == 3
