"""The benchmark's own tests.

    python -m pytest perfbench -q

The smoke tests run each workload for one timed pass (one stream drain) at
the committed sf0.01 fixtures and the full stream backlog, in both modes,
and check that every metric named in BENCHMARK.json is printed with its
unit and that every output check, the late-event count among them,
passed.  Together they take several minutes.
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

from perfbench import run, stream  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int, seconds: int = 1) -> dict:
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "3",
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_spec_matches_harness():
    assert {w["name"] for w in SPEC["workloads"]} <= set(run.WORKLOADS)
    assert [m["name"] for m in SPEC["end_to_end"]] == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.UNITS
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.per_layer_names()
    assert any(m["name"] == "setup_s" for m in SPEC["end_to_end"])
    assert all(m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    for m in SPEC["per_layer"]:
        assert any(m["name"].startswith(p) for p in run.MOVES), m["name"]


def test_stream_generator_agrees_with_oracle(tmp_path):
    """Without Spark: the generator's late count is what the watermark rule
    drops, and the oracles cover every generated event."""
    backlog = stream.generate(str(tmp_path), seed=5, n_files=3, per_file=400)
    want = stream.oracle(backlog)
    assert backlog["late"] == want["dropped"] > 0
    assert len(want["keyed"]) == backlog["events"]
    purchases = backlog["join_events"] // 3
    assert len(want["rjoin"]) == purchases
    assert want["rjoin"]["v_id"].isna().any() and want["rjoin"]["v_id"].notna().any()
    again = str(tmp_path / "again")
    assert stream.generate(again, seed=5, n_files=3, per_file=400)["late"] == backlog["late"]
    for name in ("events", "views", "purchases"):
        a = open(os.path.join(backlog["root"], name, "part-00002.parquet"), "rb").read()
        b = open(os.path.join(again, name, "part-00002.parquet"), "rb").read()
        assert a == b, f"{name}: same seed, different input"


@pytest.mark.parametrize("workload", ["batch_relational", "llm_pipeline", "stream_stateful"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload, trace):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {n: m["unit"] for n, m in res["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_jobs_repeat_exactly_across_passes():
    """The job, stage and task counts of two llm_pipeline passes are
    equal, so a change in them is a change in the program, not noise."""
    res = _run("llm_pipeline", 1, seconds=10)
    assert res["correct"]
    with open(os.path.join(HERE, "out", "trace-llm_pipeline-3.json")) as f:
        ledger = json.load(f)["ledger"]
    assert len(ledger) >= 2
    for key in ("jobs", "stages", "tasks"):
        assert len({p[key] for p in ledger}) == 1 and ledger[0][key] > 0, key
