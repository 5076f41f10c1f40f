"""Alert reference and the alert-row comparison behind the output checks.

An alert row is keyed by (patient_id, event_timestamp in µs); a wrong
row is one missing from, or extra to, the reference's alert rows.
``numpy_alerts`` recomputes the S4..S6 alert path from the raw events
with NumPy and the package's ``expanding_ar1`` kernel.  It runs none of
the Spark plans, so it checks every form of the pipeline, and it costs
well under a second where the first run of a Spark form costs several.
The smoke test holds it equal to the batch DataFrame pipeline.
"""

from __future__ import annotations

import numpy as np

from health_monitor_cc_flink_spark.functions.timeseries import _zcrit, expanding_ar1
from health_monitor_cc_flink_spark.plans.health_pipeline import ALERT_THRESHOLD

MIN_TRAINING_SIZE = 30  # ML_DETECT_ANOMALIES minTrainingSize
CONFIDENCE = 95.0


def numpy_alerts(patient_id: np.ndarray, t_us: np.ndarray, heart_rate: np.ndarray) -> set:
    """Alert keys of the four-stage pipeline over raw events: 1 s tumble
    average, expanding AR(1) anomaly screen, drop anomalies, expanding
    AR(1) one-step forecast below the threshold."""
    z = _zcrit(CONFIDENCE)
    win = t_us // 1_000_000
    order = np.lexsort((win, patient_id))
    pid, win, hr = patient_id[order], win[order], heart_rate[order].astype(np.float64)
    cut = np.flatnonzero((np.diff(pid) != 0) | (np.diff(win) != 0)) + 1
    starts = np.concatenate([[0], cut])
    counts = np.diff(np.concatenate([starts, [len(hr)]]))
    w_pid, w_win, w_val = pid[starts], win[starts], np.add.reduceat(hr, starts) / counts
    alerts = set()
    bounds = np.flatnonzero(np.diff(w_pid) != 0) + 1
    for lo, hi in zip(np.concatenate([[0], bounds]), np.concatenate([bounds, [len(w_pid)]])):
        # window_time = window end - 1 ms
        y, ts = w_val[lo:hi], (w_win[lo:hi] + 1) * 1_000_000 - 1_000
        n = len(y)
        f = expanding_ar1(y)
        prev = np.maximum(np.arange(n) - 1, 0)
        y_prev = np.concatenate([[y[0]], y[:-1]])
        expected = f["a"][prev] + f["b"][prev] * y_prev
        s = f["sigma"][prev]
        anomaly = (
            (np.arange(n) >= MIN_TRAINING_SIZE)
            & np.isfinite(s)
            & ((y < expected - z * s) | (y > expected + z * s))
        )
        yk, tk = y[~anomaly], ts[~anomaly]
        g = expanding_ar1(yk)
        ok = (np.arange(len(yk)) >= 1) & np.isfinite(g["sigma"])
        hit = ok & (g["a"] + g["b"] * yk < ALERT_THRESHOLD)
        alerts.update((int(w_pid[lo]), int(t)) for t in tk[hit])
    return alerts


def events_alerts(events) -> set:
    """``numpy_alerts`` over a Spark frame of health events."""
    from pyspark.sql import functions as F

    pdf = events.select(
        "patient_id", F.unix_micros("event_time").alias("t"), "vitals.heart_rate"
    ).toPandas()
    return numpy_alerts(
        pdf["patient_id"].to_numpy(np.int64), pdf["t"].to_numpy(np.int64), pdf["heart_rate"].to_numpy()
    )


def alert_keys(df) -> set:
    """Alert keys of a Spark alert frame (any of the pipeline forms)."""
    from pyspark.sql import functions as F

    rows = df.select(
        F.col("patient_id").cast("long"), F.unix_micros("event_timestamp")
    ).collect()
    return {(int(p), int(t)) for p, t in rows}


def compare(expected: set, got: set) -> dict:
    """Missing and extra alert rows against the reference.  A check
    against a reference with no alerts proves nothing, so it fails."""
    missing, extra = expected - got, got - expected
    return {
        "correct": bool(expected) and not missing and not extra,
        "match_share": len(expected & got) / len(expected | got) if expected | got else 0.0,
        "reference_rows": len(expected),
        "rows": len(got),
        "missing": len(missing),
        "extra": len(extra),
        "missing_keys": sorted(missing),
        "extra_keys": sorted(extra),
    }
