"""Smoke test of the benchmark itself, at sf0.001 with ``--seconds 0``
(each workload's minimum number of passes).

    python3 -m pytest perfbench/test_smoke.py -q -m "not slow"   # ~4 min
    python3 -m pytest perfbench/test_smoke.py -q                  # with the sweep, ~8 min

The traced runs also cover the untraced path: ``--trace 1`` runs the
untraced passes first and stores their metrics with the spans.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SEED = 7


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(SEED),
           "--seconds", "0", "--trace", str(trace), "--sf", "sf0.001"]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True,
                         timeout=1200).stdout
    info, result = (json.loads(line) for line in out.strip().splitlines()[-2:])
    return info, result


def _assert_metrics(metrics: dict, names: dict[str, str]) -> None:
    assert {k: m["unit"] for k, m in metrics.items()} == names
    assert all(isinstance(m["value"], float) for m in metrics.values())


def _assert_result(result: dict, names: dict[str, str]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    _assert_metrics(result["metrics"], names)


def test_per_layer_names_match_benchmark_json():
    from perfbench import tracing

    assert [m["name"] for m in SPEC["per_layer"]] == list(tracing.LAYER_UNITS)
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == tracing.LAYER_UNITS


@pytest.mark.parametrize("workload", ["headline", "refresh"])
def test_traced_run_joins_and_covers(workload):
    info, traced = _run(workload, trace=1)
    dump = json.loads((ROOT / ".perfbench_out" / f"trace-{workload}-{SEED}.json").read_text())
    _assert_metrics(dump["untraced"], {m["name"]: m["unit"] for m in SPEC["end_to_end"]})
    _assert_result(traced, {m["name"]: m["unit"] for m in SPEC["per_layer"]})
    assert traced["correct"] and traced["failed"] == 0
    assert info["cpus"] >= 1 and info["seed"] == SEED

    ops = dump["ops"]
    assert ops
    # Every job the event log holds was started inside an op, and the
    # interval join puts it in the op that tagged it, within the op's span.
    assert dump["info"]["trace_untagged_jobs"] == 0
    for op in ops:
        assert op["jobs_by_time"] == op["jobs_by_tag"], op
        assert op["overrun_s"] <= 0.005, op
    # A query op's gap_s is the rest of its sink, so its layers sum to
    # its build and sink spans; those, or the refresh's lifecycle spans,
    # cover the op.
    for op in ops:
        assert op["spans_s"] >= 0.9 * op["wall_s"], op
    layers = traced["metrics"]
    if workload == "headline":
        assert all(op["exec.jobs"] >= 1 for op in ops)
        assert layers["queries.build_s"]["value"] > 0
        assert layers["catalyst.plan_s"]["value"] > 0
        # the Python-worker metrics are read, for each entry that runs workers
        from perfbench.workloads import UDF

        assert all(op.get("python.run_s", 0) > 0 for op in ops if op["op"] in UDF)
        assert layers["python.sent_mb"]["value"] > 0
    else:
        assert layers["versioning.files_written"]["value"] > 0
        assert layers["versioning.files_deleted"]["value"] > 0


@pytest.mark.slow
def test_sweep_counts_failures_and_prints_every_metric():
    info, result = _run("sweep", trace=0)
    _assert_result(result, {m["name"]: m["unit"] for m in SPEC["end_to_end"]})
    # Both aux_nyc entries raise until their reference inputs are in the
    # repo; every other entry, the Python-worker ones included, succeeds.
    failing = {name for name, _ in info["failures"]}
    assert failing == {"aux_econ_by_nta", "inspections_by_nta"}
    assert result["failed"] == 2 * (info["passes"] + 1)  # timed passes + checked warm-up
