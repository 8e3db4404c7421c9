"""Tests of the benchmark's own parts.

    python3 -m pytest -q -p no:cacheprovider erbench/test_erbench.py

The last test runs the traced benchmark twice (about three minutes).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen  # noqa: E402
from run import delta_oracle, tail  # noqa: E402


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw}) + "\n"


def _task(stage, cpu_ns, read=0, written=0, spill=0):
    return _ev(
        "SparkListenerTaskEnd",
        **{
            "Stage ID": stage,
            "Task Metrics": {
                "Executor CPU Time": cpu_ns,
                "Disk Bytes Spilled": spill,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
            },
        },
    )


def test_eventlog_sums_rolling_files_per_group(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    props = {"spark.jobGroup.id": "weights", "spark.job.description": "weights/batch01"}
    # events_10 must be read after events_2 (numeric, not lexical, order)
    (d / "events_2_local-1").write_text(
        _ev("SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0, 1], "Properties": props})
        + _task(0, 2_000_000_000, written=3_000_000)
    )
    (d / "events_10_local-1").write_text(
        _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0}})
        + _ev("SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [1, 2], "Properties": {}})
        + _task(2, 500_000_000, read=1_000_000, spill=2_000_000)
        + _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 2}})
    )
    (d / "appstatus_local-1").write_text("")
    s = eventlog.summarize(str(tmp_path))
    w = s["groups"]["weights"]
    assert (w["jobs"], w["stages"], w["tasks"]) == (1, 1, 1)
    assert w["task_cpu_s"] == pytest.approx(2.0)
    assert w["shuffle_mb"] == pytest.approx(3.0)
    # stage 1 is claimed by the first job that lists it; stage 2 by job 1
    u = s["groups"][""]
    assert (u["jobs"], u["stages"], u["tasks"]) == (1, 1, 1)
    assert (u["shuffle_mb"], u["spill_mb"]) == (pytest.approx(1.0), pytest.approx(2.0))
    assert s["descriptions"]["weights/batch01"]["jobs"] == 1


def test_generator_is_byte_identical_per_seed(tmp_path):
    def files(out, seed):
        gen.generate("dirty", seed, 200, str(out), batches=4)
        return {f: (out / f).read_bytes() for f in sorted(os.listdir(out))}

    a = files(tmp_path / "a", 7)
    assert a == files(tmp_path / "b", 7)
    assert a != files(tmp_path / "c", 8)
    m = json.loads(a["manifest.json"])
    assert len(m["batch_ids"]) == 4 and m["gt_rows"] > 0


def test_clean_sources_have_different_schemas(tmp_path):
    import pyarrow.parquet as pq

    gen.generate("clean", 3, 100, str(tmp_path))
    a = pq.read_schema(tmp_path / "a.parquet").names
    b = pq.read_schema(tmp_path / "b.parquet").names
    assert set(a) & set(b) == {"id"}


def test_delta_oracle_counts_shared_keys_once():
    old = {"x": {1, 2}, "y": {1}, "hot": {1, 2, 3, 4}}  # hot exceeds the cap
    new = [{"profile_id": 9, "key": k} for k in ("x", "y", "hot")] + [
        {"profile_id": 8, "key": "x"}
    ]
    got = delta_oracle(old, new, cap=4)
    assert got == {(1, 9): 2, (2, 9): 1, (1, 8): 1, (2, 8): 1, (8, 9): 1}


def test_tail_has_ten_samples_beyond():
    samples = list(range(1, 41))
    value, pct = tail(samples)
    assert sum(1 for s in samples if s > value) == 10
    assert pct == 75.0
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def _traced(workload):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "1"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_two_traced_runs_report_identical_counts():
    a, b = _traced("clean_blast_gsmb"), _traced("clean_blast_gsmb")
    assert a["correct"] and b["correct"]
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        declared = {m["name"] for m in json.load(f)["per_layer"]}
    assert set(a["metrics"]) == declared
    counts = [k for k in a["metrics"] if k.endswith((".jobs", ".stages", ".tasks"))]
    assert any(a["metrics"][k]["value"] for k in counts)
    for k in counts:
        assert a["metrics"][k]["value"] == b["metrics"][k]["value"], k
