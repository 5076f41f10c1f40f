"""Benchmark of the health pipeline in its batch, SQL and streaming forms.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Workload sizes come from
``perfbench/workloads.json``; metric names and units from
``BENCHMARK.json``.  The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).  The
line before it is the run record: sizes, sample counts, host stamp and
the output check in detail.  Spark's warehouse, local dirs, checkpoints
and sinks live under ``.perfbench/work`` and are removed at exit; span
traces are kept under ``.perfbench/traces``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

WORKLOADS = ("sql_ward", "stream_live")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _loadavg() -> float:
    return os.getloadavg()[0]


def _steal_s() -> float | None:
    """CPU time the hypervisor gave to other guests so far, summed over
    all CPUs (Linux ``/proc/stat``); None where there is no such file."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return None
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def start_session(work: str):
    """local[nproc] session whose every scratch file lands in ``work``."""
    tempfile.tempdir = work
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    from health_monitor_cc_flink_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        master=f"local[{_nproc()}]",
        shuffle_partitions=_nproc(),
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work} -Dderby.system.home={work}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM, which exits once its stdin is
    closed; the JVM's Python workers exit with it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def run(args, spec: dict, size: dict, work: str) -> tuple[dict, dict]:
    """Set up and measure one workload; returns (metrics, record)."""
    from tracer import Tracer

    t0 = time.perf_counter()
    spark = start_session(work)
    try:
        tracer = Tracer(enabled=bool(args.trace))
        if args.workload == "stream_live":
            from stream import LAYER_METRICS, StreamWorkload

            wl = StreamWorkload(spark, size, args.seed, work, args.seconds, tracer)
        else:
            from sql_ward import LAYER_METRICS, SqlWardWorkload

            wl = SqlWardWorkload(spark, size, args.seed, args.seconds, tracer)
        wl.setup()
        setup_s = time.perf_counter() - t0
        if args.trace:
            result = wl.trace()
            missing = set(LAYER_METRICS) - set(result["metrics"])
            if missing:
                raise RuntimeError(f"per-layer metrics not measured: {sorted(missing)}")
            trace_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_path = os.path.join(
                trace_dir, f"{args.workload}-{args.seed}-{tracer.run_id}.json"
            )
            tracer.write(trace_path)
            result["record"]["trace_file"] = os.path.relpath(trace_path, ROOT)
            # a layer the workload does not run reports 0
            values = {m["name"]: result["metrics"].get(m["name"], 0.0) for m in spec["per_layer"]}
            names = spec["per_layer"]
        else:
            result = wl.measure()
            values = dict(result["metrics"], setup_s=setup_s)
            names = spec["end_to_end"]
    finally:
        stop_session(spark)
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in names}
    return metrics, dict(result["record"], check=result["check"], setup_s=setup_s)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--sizes",
        default=os.path.join(HERE, "workloads.json"),
        help="workload sizes (the smoke test passes tiny ones)",
    )
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(args.sizes) as f:
        size = json.load(f)[args.workload]

    load_start, steal_start = _loadavg(), _steal_s()
    base = os.path.join(ROOT, ".perfbench", "work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        metrics, record = run(args, spec, size, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    check = record.pop("check")
    ref = check["reference_rows"]
    failed = check["missing"] + check["extra"]
    record.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        size=size,
        nproc=_nproc(),
        loadavg_start=load_start,
        loadavg_end=_loadavg(),
        steal_s=None if steal_start is None else _steal_s() - steal_start,
        alert_error_share=failed / ref if ref else float(failed),
        check={k: v for k, v in check.items() if not k.endswith("_keys")},
        wrong_alert_keys={"missing": check["missing_keys"][:20], "extra": check["extra_keys"][:20]},
    )
    print(json.dumps(record, default=str))
    print(
        json.dumps(
            {
                "correct": check["correct"],
                "attempted": ref + check["extra"],
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
