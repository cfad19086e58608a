#!/usr/bin/env python3
"""Hybrid-serving smoke at real volume: 10M points / 1k series / 48h.

The sf0.1 bench's hybrid KPI is fixed-overhead-bound (a single series'
8h raw scan is a few hundred points — two scans necessarily cost more
than one).  This smoke builds the shape the hybrid exists for: a dense
store where the default dashboard window (now−8h..now) covers millions
of raw points but only the last 2h are past the rollup's finality
watermark.  Measured: the watermark-crossing stats query served hybrid
(rollup prefix + pruned open tail) vs the same query forced raw.

Usage: python tools/hybrid_scale_smoke.py [n_points] [n_series] [span_hours]
Prints one JSON line with the timings.

Density matters: compacted slices are sorted by (metric, ts), so
row-group pruning makes a sparse single-series raw scan nearly free and
fixed overhead dominates.  The hybrid's win appears when the queried
window covers a large share of a dense store (default: 20M points over
12h, so the 8h dashboard window spans 2/3 of every file).
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import pyspark.sql.functions as F  # noqa: E402

from rhq_metrics_spark.model import Buckets  # noqa: E402
from rhq_metrics_spark.service import MetricsService  # noqa: E402
from rhq_metrics_spark.session import get_spark  # noqa: E402
from rhq_metrics_spark.sources.store import MetricsStore  # noqa: E402


def main() -> None:
    n_points = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    n_series = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000
    span_h = int(sys.argv[3]) if len(sys.argv) > 3 else 12
    spark = get_spark(app_name="hybrid-scale-smoke")

    import tempfile

    span_ms = span_h * 3_600_000
    t0_ms = 1_700_000_000_000 - (1_700_000_000_000 % 7_200_000)
    now = t0_ms + span_ms
    win = 600_000
    out: dict = {"n_points": n_points, "n_series": n_series}

    workdir = tempfile.mkdtemp(prefix="hybrid_smoke_")
    try:
        pts = spark.range(n_points).select(
            F.lit("t").alias("tenant_id"),
            F.concat(F.lit("m"), (F.col("id") % n_series)).alias("metric"),
            (F.lit(t0_ms) + (F.col("id") * (span_ms // (n_points // n_series)))
             % span_ms).alias("ts"),
            (F.col("id") % 997).cast("double").alias("value"),
            F.lit(None).cast("map<string,string>").alias("tags"),
        )
        store = MetricsStore(spark, workdir)
        t = time.time()
        store.add_data_points("gauge", pts)
        store.compact("gauge", closed_before_ms=2**62)
        out["build_sec"] = round(time.time() - t, 1)
        svc = MetricsService(spark, store)

        # rollup finalized through now−2h (the streaming sink's lag)
        wm = now - 2 * 3_600_000
        rollup_dir = f"{workdir}/rollup"
        t = time.time()
        (
            store.points("gauge").filter(F.col("ts") < wm)
            .groupBy(
                "tenant_id", "metric",
                F.window(
                    F.timestamp_millis(F.col("ts")), f"{win // 1000} seconds"
                ).alias("w"),
            )
            .agg(
                F.min("value").alias("min"), F.avg("value").alias("avg"),
                F.max("value").alias("max"), F.sum("value").alias("sum"),
                F.count("value").alias("samples"),
            )
            .select(
                "tenant_id", "metric",
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "min", "avg", "max", "sum", "samples",
            )
            .write.mode("overwrite").parquet(rollup_dir)
        )
        out["rollup_build_sec"] = round(time.time() - t, 1)
        svc.attach_rollup("gauge", rollup_dir, win)

        # the default dashboard shape: one series, now−8h..now, 30m buckets
        bks = Buckets.from_step(now - 8 * 3_600_000, now, 1_800_000)
        probe = svc.try_routed_stats("gauge", "t", "m0", bks)
        assert probe is not None, "hybrid routing inactive"

        def measure(fn, n=7):
            lat = []
            fn()  # warm
            for _ in range(n):
                s = time.time()
                fn()
                lat.append(time.time() - s)
            lat.sort()
            return round(lat[len(lat) // 2] * 1000, 1)

        out["hybrid_p50_ms"] = measure(lambda: svc.gauge_stats(
            "t", "m0", bks, include_median=False).collect())
        out["raw_p50_ms"] = measure(lambda: svc.gauge_stats(
            "t", "m0", bks, include_median=False, use_rollup=False).collect())

        # the 100-series dashboard, same range
        metrics = [f"m{i}" for i in range(100)]
        t = time.time()
        svc.stats_query("t", bks, {"gauge": metrics}, include_median=False)
        out["hybrid_100m_sec"] = round(time.time() - t, 2)
        saved = svc._attached.pop(("stats", "gauge"))
        t = time.time()
        svc.stats_query("t", bks, {"gauge": metrics}, include_median=False)
        out["raw_100m_sec"] = round(time.time() - t, 2)
        svc._attached["stats", "gauge"] = saved

        # correctness spot-check at this volume
        import math

        got = {r["start"]: r for r in svc.gauge_stats(
            "t", "m1", bks, include_median=False).collect()}
        exp = {r["start"]: r for r in svc.gauge_stats(
            "t", "m1", bks, include_median=False, use_rollup=False).collect()}
        assert set(got) == set(exp)
        for k in exp:
            assert got[k]["samples"] == exp[k]["samples"]
            if exp[k]["samples"]:
                for c in ("min", "avg", "max", "sum"):
                    assert math.isclose(got[k][c], exp[k][c], rel_tol=1e-9)
        out["hybrid_equals_raw"] = True
    finally:
        import shutil

        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
