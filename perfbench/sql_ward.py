"""``sql_ward``: closed-loop runs of the SQL form of the pipeline, one
run at a time.

It times ``plans.health_pipeline_sql.run_pipeline_sql`` (row-at-a-time
Python UDTFs for S4 and S6) on one ward and checks its alerts against
the NumPy reference on the same input.  A full run forces S3
and S6 with a noop write, as the reference's two sinks would.
"""

from __future__ import annotations

import statistics
import time

from health_monitor_cc_flink_spark.fixtures import health_events_df
from health_monitor_cc_flink_spark.plans.health_pipeline import windowed_vitals
from health_monitor_cc_flink_spark.plans.health_pipeline_sql import run_pipeline_sql
from health_monitor_cc_flink_spark.sources.memory import patients_df

from reference import alert_keys, compare, events_alerts
from sparkstats import group_stats, job_group, jvm_gc_s

LAYER_METRICS = (
    "s3_enrich.wall_s", "s3_enrich.cpu_s",
    "s4_window.wall_s", "s4_window.cpu_s", "s4_window.shuffle_bytes", "s4_window.tasks",
    "s4_detect.wall_s", "s4_detect.cpu_s", "s4_detect.run_s",
    "s4_detect.shuffle_bytes", "s4_detect.tasks", "s4_detect.rows_out",
    "s5_filter.wall_s", "s5_filter.rows_out",
    "s6_forecast.wall_s", "s6_forecast.cpu_s", "s6_forecast.run_s",
    "s6_forecast.shuffle_bytes", "s6_forecast.tasks", "s6_forecast.rows_out",
    "spark.jobs", "spark.gc_s", "trace.overhead_s",
)


#: the fixture's tick, as in the reference's simulator
INTERVAL_S = 0.5


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _sql_stages(spark, events):
    return run_pipeline_sql(spark, events, patients_df(spark))


class SqlWardWorkload:
    def __init__(self, spark, size: dict, seed: int, seconds: float, tracer):
        self.spark = spark
        self.tracer = tracer
        self.size = size
        self.seconds = seconds
        self.events = health_events_df(
            spark,
            n_ticks=size["ticks"],
            interval_s=INTERVAL_S,
            seed=seed,
            patient_ids=tuple(range(1, size["patients"] + 1)),
        ).cache()
        self.n_events = self.events.count()

    def full_run(self, check: bool = False) -> float:
        """One run with S3 and S6 forced; with ``check`` the S6 rows are
        collected instead and compared with the reference."""
        t0 = time.perf_counter()
        stages = _sql_stages(self.spark, self.events)
        force(stages["enriched_events"])
        if check:
            self.output_check = compare(self.expected, alert_keys(stages["heartbeat_alerts"]))
        else:
            force(stages["heartbeat_alerts"])
        return time.perf_counter() - t0

    def setup(self) -> None:
        """Reference first, then warm-up runs; the last warm-up run's
        alerts are the checked output."""
        self.expected = events_alerts(self.events)
        for i in range(self.size["warmup_runs"]):
            self.full_run(check=i == self.size["warmup_runs"] - 1)

    def measure(self) -> dict:
        samples = []
        t_end = time.perf_counter() + self.seconds
        while time.perf_counter() < t_end or len(samples) < self.size["min_samples"]:
            samples.append(self.full_run())
        check = self.output_check
        pipeline_s = statistics.median(samples)
        return {
            "record": {"samples": samples, "events": self.n_events},
            "check": check,
            "metrics": {
                "alert_match_share": check["match_share"],
                "pipeline_s": pipeline_s,
                # every alert of a batch run is ready when the run ends, so
                # the input-to-alert latency samples are the run times
                "alert_latency_p50_s": pipeline_s,
                "alert_latency_p90_s": statistics.quantiles(samples, n=10, method="inclusive")[-1],
                "replay_events_per_s": self.n_events / pipeline_s,
            },
        }

    # --- traced run -------------------------------------------------------

    def _prefixes(self):
        """(stage, upstream stage, builder) for each forced prefix.  The
        SQL form keeps its window view private, so the S4 window prefix
        is the same aggregation built by ``windowed_vitals``."""
        spark, events = self.spark, self.events
        holder = {}

        def s3():
            holder["stages"] = _sql_stages(spark, events)
            return holder["stages"]["enriched_events"]

        def stage(name):
            return lambda: holder["stages"][name]

        return [
            ("s3_enrich", None, s3),
            ("s4_window", None, lambda: windowed_vitals(events)),
            ("s4_detect", "s4_window", stage("enriched_events_flagged")),
            ("s5_filter", "s4_detect", stage("filtered_enriched_events")),
            ("s6_forecast", "s5_filter", stage("heartbeat_alerts")),
        ]

    def trace(self) -> dict:
        from tracer import self_times

        spark, tracer = self.spark, self.tracer
        wall: dict[str, list] = {}
        stats: dict[str, list] = {}
        traced, full_stats = [], []
        gc0 = jvm_gc_s(spark)
        t_end = time.perf_counter() + self.seconds
        rep = 0
        while time.perf_counter() < t_end or rep < 1:
            group = f"{tracer.run_id}:full:{rep}"
            with job_group(spark, group), tracer.span("pipeline"):
                t0 = time.perf_counter()
                with tracer.span("run_pipeline_sql"):
                    stages = _sql_stages(spark, self.events)
                with tracer.span("force.enriched_events"):
                    force(stages["enriched_events"])
                with tracer.span("force.heartbeat_alerts"):
                    force(stages["heartbeat_alerts"])
                traced.append(time.perf_counter() - t0)
            full_stats.append(group_stats(spark, group))
            ids, groups = {}, {}
            prefixes = self._prefixes()
            with tracer.span("prefixes"):
                for stage, upstream, build in prefixes:
                    group = f"{tracer.run_id}:{stage}:{rep}"
                    with job_group(spark, group), tracer.span(
                        stage, upstream=ids.get(upstream)
                    ) as sid:
                        force(build())
                    ids[stage], groups[stage] = sid, group
            own = self_times(tracer.spans)
            rep_stats = {s: group_stats(spark, g) for s, g in groups.items()}
            for stage, upstream, _ in prefixes:
                wall.setdefault(stage, []).append(own[ids[stage]])
                st = dict(rep_stats[stage])
                if upstream:
                    for k in st:
                        st[k] -= rep_stats[upstream][k]
                stats.setdefault(stage, []).append(st)
            rep += 1

        def med(stage, field):
            return statistics.median(s[field] for s in stats[stage])

        out = {f"{s}.wall_s": statistics.median(v) for s, v in wall.items()}
        for stage in ("s3_enrich", "s4_window", "s4_detect", "s6_forecast"):
            out[f"{stage}.cpu_s"] = med(stage, "cpu_s")
        for stage in ("s4_window", "s4_detect", "s6_forecast"):
            out[f"{stage}.shuffle_bytes"] = med(stage, "shuffle_bytes")
            out[f"{stage}.tasks"] = med(stage, "tasks")
        for stage in ("s4_detect", "s6_forecast"):
            out[f"{stage}.run_s"] = med(stage, "run_s")
        stages = _sql_stages(spark, self.events)
        for stage, name in (
            ("s4_detect", "enriched_events_flagged"),
            ("s5_filter", "filtered_enriched_events"),
            ("s6_forecast", "heartbeat_alerts"),
        ):
            out[f"{stage}.rows_out"] = float(stages[name].count())
        out["spark.jobs"] = statistics.median(s["jobs"] for s in full_stats)
        out["spark.gc_s"] = jvm_gc_s(spark) - gc0
        out["trace.overhead_s"] = tracer.overhead_s()
        return {
            "metrics": out,
            "check": self.output_check,
            "record": {"traced_s": traced, "events": self.n_events},
        }
