"""Smoke test of the benchmark: each workload at a tiny size, timed and
traced, prints every metric named in BENCHMARK.json with its unit.

    python3 -m pytest perfbench/test_smoke.py -q

Takes about four minutes (four Spark sessions, two of them streaming).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

TINY = {
    "sql_ward": {"patients": 2, "ticks": 480, "warmup_runs": 1, "min_samples": 1},
    "stream_live": {"patients": 2, "backfill_s": 200},
}


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def sizes(tmp_path_factory):
    path = tmp_path_factory.mktemp("sizes") / "tiny.json"
    path.write_text(json.dumps(TINY))
    return str(path)


def _run(workload: str, trace: int, sizes: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "3", "--trace", str(trace), "--sizes", sizes],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["sql_ward", "stream_live"])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed_with_unit(spec, sizes, workload, trace):
    result = _run(workload, trace, sizes)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    names = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in names}
    for m in names:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    if trace:
        # every layer the workload runs reports a nonzero value
        module = __import__("stream" if workload == "stream_live" else "sql_ward")
        for name in module.LAYER_METRICS:
            assert result["metrics"][name]["value"] != 0, name
    else:
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in names)


def test_numpy_reference_equals_dataframe_pipeline(tmp_path):
    """The reference both workloads check against is the batch
    DataFrame pipeline's alert set."""
    from health_monitor_cc_flink_spark.fixtures import health_events_df
    from health_monitor_cc_flink_spark.plans.health_pipeline import run_pipeline
    from health_monitor_cc_flink_spark.session import build_session
    from health_monitor_cc_flink_spark.sources.memory import patients_df
    from reference import alert_keys, events_alerts
    from run import stop_session

    spark = build_session(
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.sql.warehouse.dir": str(tmp_path / "warehouse")},
    )
    try:
        events = health_events_df(spark, n_ticks=900, seed=11, patient_ids=(1, 2, 3))
        expected = alert_keys(run_pipeline(events, patients_df(spark))["heartbeat_alerts"])
        assert expected and events_alerts(events) == expected
    finally:
        stop_session(spark)
