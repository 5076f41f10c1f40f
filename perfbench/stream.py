"""``stream_live``: the chained streaming pipeline fed by an open-loop
file publisher.

The generator writes a warm-up file, a backfill file (together more
event time than the 512-point ring buffer of ``streaming.stateful``
holds) and one file per second of event time after them.  Files appear
in the source directory by atomic rename: the warm-up file during
set-up, the backfill at once, then one file every second at real-time
speed, each stamped with the time it was due.  The publisher
never waits for the pipeline, so a stall shows as latency.

Timing comes from the pipeline's own records: a row's commit time is
the modification time of the ``_spark_metadata`` log entry that first
lists its data file; a source file's pickup time is the modification
time of the file-source log entry that first lists it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from health_monitor_cc_flink_spark.fixtures import generate_health_events_pdf
from health_monitor_cc_flink_spark.schemas import HEALTH_EVENT_SCHEMA
from health_monitor_cc_flink_spark.sources.memory import patients_df
from health_monitor_cc_flink_spark.streaming.pipeline import run_streaming_pipeline
from health_monitor_cc_flink_spark.streaming.watermark import DEFAULT_WATERMARK_DELAY

from reference import compare, numpy_alerts
from sparkstats import group_stats, jvm_gc_s

QUERIES = (
    "enriched_events",
    "windowed_vitals",
    "enriched_events_flagged",
    "filtered_enriched_events",
    "heartbeat_alerts",
)
#: each stage's upstream sink, for the per-hop commit delay
UPSTREAM = {
    "windowed_vitals": None,
    "enriched_events_flagged": "windowed_vitals",
    "filtered_enriched_events": "enriched_events_flagged",
    "heartbeat_alerts": "filtered_enriched_events",
}
STATEFUL = ("enriched_events_flagged", "heartbeat_alerts")
#: the watermark delay every stage of run_streaming_pipeline applies
WATERMARK_DELAY_S = int(DEFAULT_WATERMARK_DELAY.removesuffix(" seconds"))
#: the fixture's tick: two events a second per patient
INTERVAL_S = 0.5
#: event time generated past the live phase, for the wait until the
#: alert sink has caught up with it
TAIL_MAX_S = 60
#: how long the warm-up or the backfill replay may take before the run
#: gives up
REPLAY_MAX_S = 120
#: event time published before the timed replay, to warm the pipeline
WARMUP_S = 60

LAYER_METRICS = tuple(
    [f"{q}.{m}" for q in QUERIES
     for m in ("batches", "rows_in", "trigger_ms_p50", "add_batch_ms_p50", "hop_s_p50")]
    + [f"{q}.{m}" for q in STATEFUL for m in ("state_rows", "state_bytes")]
    + ["source.lag_s", "generator.late_s_max", "spark.jobs", "spark.gc_s", "trace.overhead_s"]
)

US = 1_000_000


def _events_table(pdf) -> pa.Table:
    """The fixture frame as an Arrow table with HEALTH_EVENT_SCHEMA's
    nesting (timestamps as UTC microseconds)."""
    i32 = lambda c: pa.array(pdf[c].to_numpy(np.int32))  # noqa: E731
    t = pdf["event_time"].to_numpy("datetime64[us]")
    return pa.table(
        {
            "event_time": pa.array(t, pa.timestamp("us", tz="UTC")),
            "event_id": pa.array(pdf["event_id"]),
            "patient_id": i32("patient_id"),
            "device_metadata": pa.StructArray.from_arrays(
                [pa.array(pdf["device_type"]), i32("battery_level"), pa.array(pdf["sensor_status"])],
                ["device_type", "battery_level", "sensor_status"],
            ),
            "vitals": pa.StructArray.from_arrays(
                [
                    i32("heart_rate"),
                    i32("blood_oxygen_spO2"),
                    pa.StructArray.from_arrays(
                        [i32("systolic"), i32("diastolic")], ["systolic", "diastolic"]
                    ),
                    pa.array(pdf["body_temperature_c"].to_numpy(np.float32)),
                ],
                ["heart_rate", "blood_oxygen_spO2", "blood_pressure", "body_temperature_c"],
            ),
        }
    )


def _log_entries(log_dir: str) -> list[tuple[int, float, dict]]:
    """(batch id, file mtime, entry) for every entry of a Spark metadata
    log (file-sink ``_spark_metadata`` or file-source ``sources/0``)."""
    out = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        name = os.path.basename(path)
        stem = name.split(".")[0]
        if not stem.isdigit() or name.endswith(".tmp") or name.startswith("."):
            continue
        mtime = os.stat(path).st_mtime
        with open(path) as f:
            lines = f.read().splitlines()[1:]  # first line is the log version
        out.extend((int(stem), mtime, json.loads(line)) for line in lines if line)
    return out


def _committed_rows(sink: str, key_col: str, ts_col: str) -> dict[tuple[int, int], float]:
    """{(key, ts µs): commit time} over every committed file of a sink."""
    first: dict[str, tuple[int, float]] = {}
    for batch, mtime, entry in _log_entries(os.path.join(sink, "_spark_metadata")):
        path = entry["path"].removeprefix("file://")
        if path not in first or batch < first[path][0]:
            first[path] = (batch, mtime)
    rows = {}
    for path, (_, commit) in first.items():
        t = pq.read_table(path, columns=[key_col, ts_col])
        keys = t.column(key_col).to_numpy()
        ts = pc.cast(pc.cast(t.column(ts_col), pa.timestamp("us")), pa.int64()).to_numpy()
        for k, v in zip(keys.tolist(), ts.tolist()):
            key = (int(k), int(v))
            rows[key] = min(rows.get(key, commit), commit)
    return rows


def _closed_end_us(max_event_us: int) -> int:
    """End of the last window the windowed stage closes once it has read
    event time ``max_event_us``: its watermark (max event time - delay)
    has passed that end."""
    return (max_event_us - WATERMARK_DELAY_S * US) // US * US


def _max_event_us(progress) -> int:
    """Largest event time a batch read, in µs (-1 for a batch without
    rows); progress reports it as ``2026-01-01T00:08:28.999Z``."""
    mx = (progress.get("eventTime") or {}).get("max")
    if not mx:
        return -1
    dt = datetime.strptime(mx, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return int(round(dt.timestamp() * US))


class StreamWorkload:
    def __init__(self, spark, size: dict, seed: int, work: str, seconds: float, tracer):
        self.spark = spark
        self.tracer = tracer
        self.live_s = int(np.ceil(seconds))  # the live phase measured
        self.size = size
        self.seed = seed
        self.staging = os.path.join(work, "staging")
        self.source = os.path.join(work, "source")
        self.out = os.path.join(work, "pipeline")

    # --- generator ----------------------------------------------------------

    def _generate(self) -> pa.Table:
        """Write the warm-up file (the first WARMUP_S seconds), the
        backfill file (the rest of the first ``backfill_s`` seconds) and
        the per-second live files to the staging dir.  Every patient
        carries the fixture's bradycardia fault (one alert per second
        each once it has set in)."""
        import pandas as pd

        span_s = self.size["backfill_s"] + self.live_s + TAIL_MAX_S
        n_ticks = int(round(span_s / INTERVAL_S))
        frames = []
        for pid in range(1, self.size["patients"] + 1):
            pdf = generate_health_events_pdf(
                n_ticks=n_ticks,
                interval_s=INTERVAL_S,
                seed=self.seed * 1000 + pid,
                patient_ids=(1,),
                fault=True,
            )
            frames.append(pdf.assign(patient_id=pid))
        table = _events_table(pd.concat(frames, ignore_index=True))
        t_us = pc.cast(table.column("event_time"), pa.int64()).to_numpy()
        self.t0_us = int(t_us.min()) // US * US
        second = (t_us - self.t0_us) // US
        os.makedirs(self.staging)
        os.makedirs(self.source)
        backfill = self.size["backfill_s"]
        in_backfill = (second >= WARMUP_S) & (second < backfill)
        self.live_files = [(f"live-{sec:06d}.parquet", sec) for sec in range(backfill, span_s)]
        parts = [("warmup.parquet", second < WARMUP_S), ("backfill.parquet", in_backfill)]
        for name, mask in parts + [(n, second == sec) for n, sec in self.live_files]:
            pq.write_table(table.filter(pa.array(mask)), os.path.join(self.staging, name))
        self.n_backfill = int(in_backfill.sum())
        self.warm_end_us = _closed_end_us(int(t_us[second < WARMUP_S].max()))
        self.replay_end_us = _closed_end_us(int(t_us[in_backfill].max()))
        return table

    def setup(self) -> None:
        """Generate the files, compute the reference over all of them (an
        alert depends only on its own and earlier windows, so restricting
        it to the compared windows later is exact), start the pipeline and
        warm it up."""
        table = self._generate()
        self.expected_all = numpy_alerts(
            table.column("patient_id").to_numpy().astype(np.int64),
            pc.cast(table.column("event_time"), pa.int64()).to_numpy(),
            pc.struct_field(table.column("vitals"), "heart_rate").to_numpy(),
        )
        with self.tracer.span("run_streaming_pipeline"):
            self.run = run_streaming_pipeline(
                self.spark, self.source, HEALTH_EVENT_SCHEMA, patients_df(self.spark),
                out_dir=self.out, available_now=False,
            )
        # publish the first WARMUP_S seconds and wait until the alert
        # stage has read their closed windows, so the timed replay runs on
        # queries that have each run a batch (codegen, JIT, the stateful
        # stages' Python workers)
        with self.tracer.span("warm_up"):
            self._publish("warmup.parquet")
            self._wait_past(self.warm_end_us, "warm-up")
        self.warm_batches = {
            name: max((p["batchId"] for p in q.recentProgress), default=-1)
            for name, q in self.run.queries.items()
        }

    # --- run ------------------------------------------------------------------

    def _publish(self, name: str) -> float:
        os.rename(os.path.join(self.staging, name), os.path.join(self.source, name))
        return time.time()

    def _wait_past(self, window_end_us: int, what: str) -> int:
        """Wait until the alert stage has read the window ending at
        ``window_end_us`` (its rows are stamped 1 ms before the end);
        returns the id of the alert-sink batch that read it."""
        deadline = time.time() + REPLAY_MAX_S
        alerts_q = self.run.queries["heartbeat_alerts"]
        while (batch := self._first_batch_past(alerts_q, window_end_us - 1000)) is None:
            if time.time() > deadline:
                raise RuntimeError(f"{what} did not reach the alert sink in time")
            time.sleep(0.1)
        return batch

    @staticmethod
    def _first_batch_past(query, target_us: int) -> int | None:
        """Id of the first batch of ``query`` that read event time
        ``target_us`` or later; None while there is none."""
        ids = [p["batchId"] for p in query.recentProgress if _max_event_us(p) >= target_us]
        return min(ids) if ids else None

    def _run(self) -> dict:
        backfill = self.size["backfill_s"]
        tracer, run = self.tracer, self.run
        gc0 = jvm_gc_s(self.spark)
        queries = run.queries
        alerts_q = queries["heartbeat_alerts"]
        pub_times: dict[str, float] = {}
        due: dict[str, float] = {}
        try:
            with tracer.span("replay"):
                due["backfill.parquet"] = time.time()
                pub_times["backfill.parquet"] = self._publish("backfill.parquet")
                replay_batch = self._wait_past(self.replay_end_us, "backfill replay")
            replay_commit = os.stat(
                os.path.join(run["heartbeat_alerts"], "_spark_metadata", str(replay_batch))
            ).st_mtime
            # live phase: file for event second s is due when that second
            # has passed, on a clock anchored after the replay
            anchor = time.time()
            cutoff_us = self.t0_us + (backfill + self.live_s) * US
            drained = False
            with tracer.span("live"):
                for name, sec in self.live_files:
                    due[name] = anchor + (sec - backfill + 1)
                    while time.time() < due[name]:
                        time.sleep(min(0.05, max(0.0, due[name] - time.time())))
                    pub_times[name] = self._publish(name)
                    if (sec - backfill + 1 >= self.live_s
                            and self._first_batch_past(alerts_q, cutoff_us - 1000) is not None):
                        drained = True
                        break
        finally:
            with tracer.span("stop"):
                for q in queries.values():
                    q.stop()
                for q in queries.values():
                    q.awaitTermination(60)
        gc_s = jvm_gc_s(self.spark) - gc0
        progress = {
            name: [p for p in q.recentProgress if p["batchId"] > self.warm_batches[name]]
            for name, q in queries.items()
        }
        return {
            "run": run, "progress": progress, "pub_times": pub_times, "due": due,
            "replay_s": replay_commit - pub_times["backfill.parquet"],
            "cutoff_us": cutoff_us, "drained": drained, "gc_s": gc_s,
            "run_ids": {name: str(q.runId) for name, q in queries.items()},
        }

    # --- analysis ---------------------------------------------------------------

    def _analyse(self, r: dict) -> dict:
        backfill = self.size["backfill_s"]
        cutoff_us = r["cutoff_us"]
        live_lo_us = self.t0_us + backfill * US
        run = r["run"]

        def file_due(ts_us: int) -> float:
            """Due time of the live file holding event (or window) time ts."""
            sec = (ts_us - self.t0_us) // US
            return r["due"][f"live-{sec:06d}.parquet"]

        def live(ts_us: int) -> bool:
            return live_lo_us <= ts_us < cutoff_us

        commits = {
            "windowed_vitals": _committed_rows(run["windowed_vitals"], "patient_id", "event_timestamp"),
            "enriched_events_flagged": _committed_rows(run["enriched_events_flagged"], "key", "event_timestamp"),
            "filtered_enriched_events": _committed_rows(run["filtered_enriched_events"], "key", "event_timestamp"),
            "heartbeat_alerts": _committed_rows(run["heartbeat_alerts"], "patient_id", "event_timestamp"),
            "enriched_events": _committed_rows(run["enriched_events"], "patient_id", "event_time"),
        }
        got = {k for k in commits["heartbeat_alerts"] if k[1] < cutoff_us}
        expected = {k for k in self.expected_all if k[1] < cutoff_us}
        check = compare(expected, got)
        # the replay scores every window the backfill closes over its
        # whole history, so those windows must equal the batch pipeline
        # exactly; later windows are scored in live micro-batches over the
        # last 512 windows of state (README semantic delta #4), where a
        # wrong row counts as failed but is not an error of the run
        wrong = check["missing_keys"] + check["extra_keys"]
        in_replay = [k for k in wrong if k[1] < self.replay_end_us]
        check["wrong_in_replay"] = len(in_replay)
        check["correct"] = bool(expected) and not in_replay and r["drained"]
        check["drained"] = r["drained"]

        latency = [
            commit - file_due(ts)
            for (_, ts), commit in commits["heartbeat_alerts"].items()
            if live(ts)
        ]
        hops = {}
        for q, up in UPSTREAM.items():
            d = []
            for (k, ts), commit in commits[q].items():
                if not live(ts):
                    continue
                start = file_due(ts) if up is None else commits[up].get((k, ts))
                if start is not None:
                    d.append(commit - start)
            hops[q] = d
        hops["enriched_events"] = [
            commit - file_due(ts) for (_, ts), commit in commits["enriched_events"].items() if live(ts)
        ]
        layer = {}
        for q in QUERIES:
            ps = r["progress"][q]
            busy = [p for p in ps if p["numInputRows"] > 0]
            layer[f"{q}.batches"] = float(len(ps))
            layer[f"{q}.rows_in"] = float(sum(p["numInputRows"] for p in ps))
            layer[f"{q}.trigger_ms_p50"] = statistics.median(
                p["durationMs"].get("triggerExecution", 0) for p in busy)
            layer[f"{q}.add_batch_ms_p50"] = statistics.median(
                p["durationMs"].get("addBatch", 0) for p in busy)
            layer[f"{q}.hop_s_p50"] = statistics.median(hops[q])
        for q in STATEFUL:
            ops = r["progress"][q][-1]["stateOperators"]
            layer[f"{q}.state_rows"] = float(sum(o["numRowsTotal"] for o in ops))
            layer[f"{q}.state_bytes"] = float(sum(o["memoryUsedBytes"] for o in ops))
        # file pickup by the windowed stage: the time its source log first
        # lists the file (the log is written when a trigger discovers it)
        picked: dict[str, float] = {}
        src_log = os.path.join(self.out, "_ckpt_windowed_vitals", "sources", "0")
        for _, mtime, entry in _log_entries(src_log):
            name = os.path.basename(entry["path"])
            picked[name] = min(picked.get(name, mtime), mtime)
        lag = [t - r["pub_times"][name] for name, t in picked.items() if name.startswith("live-")]
        layer["source.lag_s"] = statistics.median(lag)
        late = [r["pub_times"][n] - r["due"][n] for n in r["pub_times"] if n.startswith("live-")]
        layer["generator.late_s_max"] = max(late)
        return {
            "check": check,
            "latency": latency,
            "layer": layer,
            "late_s_max": max(late),
        }

    # --- entry points -------------------------------------------------------------

    def _result(self, r: dict, a: dict) -> dict:
        lat = a["latency"]
        if len(lat) < 2:
            raise RuntimeError(f"only {len(lat)} live alerts committed; no latency percentiles")
        replay_s = r["replay_s"]
        metrics = {
            "pipeline_s": replay_s,
            "replay_events_per_s": self.n_backfill / replay_s,
            "alert_latency_p50_s": statistics.median(lat),
            "alert_latency_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[-1],
            "alert_match_share": a["check"]["match_share"],
        }
        record = {
            "backfill_events": self.n_backfill,
            "live_alerts": len(lat),
            "generator_late_s_max": a["late_s_max"],
            "drained": r["drained"],
        }
        return {"metrics": metrics, "check": a["check"], "record": record}

    def measure(self) -> dict:
        r = self._run()
        return self._result(r, self._analyse(r))

    def trace(self) -> dict:
        tracer = self.tracer
        r = self._run()
        with tracer.span("analyse"):
            a = self._analyse(r)
            a["layer"]["spark.jobs"] = sum(
                group_stats(self.spark, run_id)["jobs"] for run_id in r["run_ids"].values()
            )
            a["layer"]["spark.gc_s"] = r["gc_s"]
        a["layer"]["trace.overhead_s"] = tracer.overhead_s()
        out = self._result(r, a)
        out["metrics"] = a["layer"]
        return out
