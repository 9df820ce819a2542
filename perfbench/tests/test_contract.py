"""The metrics ``run.py`` emits are exactly the ones BENCHMARK.json
declares, with the same units.

    python3 -m pytest perfbench/tests -q
"""

import json
from pathlib import Path

from perfbench import run

BENCHMARK = json.loads(
    (Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text()
)


def test_end_to_end_metrics_match_benchmark_json():
    declared = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert declared == run.END_TO_END
    assert declared["setup_s"] == "s"


def test_per_layer_metrics_match_benchmark_json():
    declared = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert declared == run.PER_LAYER_UNITS


def test_declared_workloads_are_cli_choices():
    # wal_tail runs from the command line but is not declared: see README
    from perfbench import workloads

    names = [w["name"] for w in BENCHMARK["workloads"]]
    for name in names:
        args = run._args(["--workload", name, "--seed", "1", "--seconds", "1"])
        assert args.workload == name
    assert set(names) < set(workloads.WORKLOADS)
