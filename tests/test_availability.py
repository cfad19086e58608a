"""A2 availability bucket stats — duration state machine semantics.

Oracle derived point-by-point from AvailabilityDataPointCollector.java:
first point back-fills to bucket start, last extends to bucket end,
uptime_ratio = up_duration/step, not_up_count counts UP→notUP
transitions (or a not-UP first point), last_not_uptime per :67,77-100.
"""

import pytest

from rhq_metrics_spark.model import Buckets
from rhq_metrics_spark.operators import availability_stats

T0 = 1_700_000_000_000
STEP = 60_000


def _stats(factory, rows, count=2):
    buckets = Buckets.from_step(T0, T0 + count * STEP, STEP)
    return (
        availability_stats(factory(rows), buckets)
        .orderBy("start")
        .collect()
    )


def test_single_bucket_mixed_states(availability_points_factory):
    rows = [
        ("t1", "a", T0 + 10_000, "up"),      # covers [T0, T0+40s) via backfill
        ("t1", "a", T0 + 40_000, "down"),    # covers [40s, 50s)
        ("t1", "a", T0 + 50_000, "up"),      # covers [50s, 60s)
    ]
    out = _stats(availability_points_factory, rows, count=1)
    r = out[0]
    assert r["up_duration"] == 40_000 + 10_000
    assert r["down_duration"] == 10_000
    assert r["uptime_ratio"] == pytest.approx(50_000 / STEP)
    assert r["not_up_count"] == 1
    # final state is UP → last_not_uptime = ts of the recovery point
    assert r["last_not_uptime"] == T0 + 50_000
    assert r["samples"] == 3


def test_ends_not_up_extends_to_bucket_end(availability_points_factory):
    rows = [
        ("t1", "a", T0 + 30_000, "down"),
    ]
    r = _stats(availability_points_factory, rows, count=1)[0]
    # first point backfills its own state to bucket start AND extends to end
    assert r["down_duration"] == STEP
    assert r["up_duration"] == 0
    assert r["uptime_ratio"] == 0.0
    assert r["not_up_count"] == 1
    assert r["last_not_uptime"] == T0 + STEP  # bucket end
    assert r["samples"] == 1


def test_all_up_bucket(availability_points_factory):
    rows = [("t1", "a", T0 + 10_000, "up"), ("t1", "a", T0 + 30_000, "up")]
    r = _stats(availability_points_factory, rows, count=1)[0]
    assert r["up_duration"] == STEP
    assert r["uptime_ratio"] == pytest.approx(1.0)
    assert r["not_up_count"] == 0
    assert r["last_not_uptime"] == 0  # never not-up


def test_buckets_are_independent(availability_points_factory):
    rows = [
        ("t1", "a", T0 + 50_000, "down"),           # bucket 0 ends down
        ("t1", "a", T0 + STEP + 10_000, "up"),      # bucket 1: up backfilled
    ]
    out = _stats(availability_points_factory, rows, count=2)
    b0, b1 = out
    assert b0["down_duration"] == STEP - 50_000 + 50_000  # backfill + extend
    assert b0["last_not_uptime"] == T0 + STEP
    # bucket 1 has no carry-in of 'down' from bucket 0 (per-bucket collector)
    assert b1["up_duration"] == STEP
    assert b1["not_up_count"] == 0


def test_empty_bucket_filled(availability_points_factory):
    rows = [("t1", "a", T0 + 10_000, "up")]
    out = _stats(availability_points_factory, rows, count=2)
    assert len(out) == 2
    assert out[1]["samples"] == 0
    assert out[1]["uptime_ratio"] is None


def test_unknown_and_admin_states(availability_points_factory):
    rows = [
        ("t1", "a", T0 + 20_000, "unknown"),
        ("t1", "a", T0 + 40_000, "admin"),
    ]
    r = _stats(availability_points_factory, rows, count=1)[0]
    assert r["unknown_duration"] == 40_000
    assert r["admin_duration"] == 20_000
    assert r["not_up_count"] == 1  # only the first transition into not-up
    assert r["last_not_uptime"] == T0 + STEP


def test_availability_rollup_matches_batch_exactly(spark):
    """Mergeable availability partials reconstruct the batch state
    machine bit-for-bit: back-fill, boundary holds between slices,
    bucket-end extension, transition counts, last_not_uptime, empty
    buckets."""
    import random

    from rhq_metrics_spark.model import Buckets
    from rhq_metrics_spark.operators.availability import (
        availability_from_rollup,
        availability_rollup,
        availability_stats,
    )

    rng = random.Random(31)
    states = ["up", "down", "unknown", "admin"]
    rows = []
    for m in ("svc-a", "svc-b"):
        t = 0
        used = set()
        for _ in range(400):
            t += rng.choice([20_000, 70_000, 500_000, 2_500_000])
            if t in used:
                continue
            used.add(t)
            # runs of up with occasional excursions
            s = "up" if rng.random() < 0.7 else rng.choice(states)
            rows.append((m, t, s))
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "metric string, ts long, value string") \
        .repartition(6)

    slice_ms = 600_000
    hi = max(r[1] for r in rows)
    b = Buckets.from_step(0, ((hi // 3_600_000) + 1) * 3_600_000, 3_600_000)
    partials = availability_rollup(df, slice_ms, group_cols=["metric"])
    merged = availability_from_rollup(
        partials, b, slice_ms, group_cols=["metric"]
    )
    batch = availability_stats(df, b, group_cols=["metric"])
    cols = batch.columns
    assert merged.columns == cols
    got = {(r["metric"], r["start"]): tuple(r[c] for c in cols)
           for r in merged.collect()}
    exp = {(r["metric"], r["start"]): tuple(r[c] for c in cols)
           for r in batch.collect()}
    assert set(got) == set(exp)
    diffs = [(k, got[k], exp[k]) for k in exp if got[k] != exp[k]]
    assert not diffs, diffs[:3]

    with pytest.raises(ValueError, match="tile"):
        availability_from_rollup(
            partials, Buckets.from_step(0, 1_800_000, 900_000), slice_ms
        )


def test_availability_hybrid_across_watermark(spark, tmp_path):
    """r6: availability_stats across the partials' finality watermark —
    finalized per-slice partials + on-the-fly tail pseudo-partials
    reconstruct the state machine bit-identically to the raw path,
    including the boundary hold bridging the watermark."""
    import pyspark.sql.functions as F

    from rhq_metrics_spark.model import Buckets
    from rhq_metrics_spark.operators.availability import availability_rollup
    from rhq_metrics_spark.service import MetricsService
    from rhq_metrics_spark.sources.store import MetricsStore

    store = MetricsStore(spark, str(tmp_path / "store"), slice_ms=600_000)
    svc = MetricsService(spark, store)
    slice_ms = 600_000
    states = ["up", "up", "down", "up", "unknown", "up", "down", "admin"]
    rows = [("t", "svc1", i * 25_000, states[i % len(states)], None)
            for i in range(220)]
    store.add_data_points("availability", spark.createDataFrame(
        rows, "tenant_id string, metric string, ts long, value string, "
              "tags map<string,string>"))

    wm = 3_000_000  # slices 0-4 finalized; the rest open
    availability_rollup(
        store.points("availability").filter(F.col("ts") < wm), slice_ms,
        group_cols=["tenant_id", "metric"],
    ).write.parquet(str(tmp_path / "avail"))
    svc.attach_availability_rollup(str(tmp_path / "avail"), slice_ms)
    assert svc._attached["avail", "availability"].watermark == wm

    b = Buckets.from_step(0, 5_400_000, 1_800_000)  # bucket 1 straddles wm
    hybrid = svc.availability_stats("t", "svc1", b)
    assert any("points" in f for f in hybrid.inputFiles())
    saved = svc._attached.pop(("avail", "availability"))
    raw = svc.availability_stats("t", "svc1", b)
    svc._attached["avail", "availability"] = saved
    assert hybrid.columns == raw.columns
    got = [r.asDict() for r in hybrid.orderBy("start").collect()]
    exp = [r.asDict() for r in raw.orderBy("start").collect()]
    assert got == exp and len(got) == 3

    # range fully inside the open tail -> raw path
    b_tail = Buckets.from_step(3_000_000, 5_400_000, 600_000)
    tail_only = svc.availability_stats("t", "svc1", b_tail)
    assert not any("/avail/" in f for f in tail_only.inputFiles())


def test_slo_burn_rate_multiwindow(spark):
    """A16: burn = bad_fraction/budget over fast+slow windows; the alert
    needs BOTH windows hot; unknown/admin time burns nothing."""
    import pyspark.sql.functions as F

    from rhq_metrics_spark.model import Buckets
    from rhq_metrics_spark.operators.availability import (
        availability_stats,
        slo_burn_rate,
    )

    T, step = 1_700_000_000_000, 60_000
    # 8 buckets: healthy, healthy, one fully-down bucket (fast spike),
    # then healthy again — slow window (3) dilutes the spike
    states = ["up", "up", "down", "up", "up", "up", "up", "up"]
    rows = [("t", "web", T + i * step, s, None) for i, s in enumerate(states)]
    df = spark.createDataFrame(
        rows, "tenant_id string, metric string, ts long, value string, "
              "tags map<string,string>")
    stats = availability_stats(df, Buckets(T, step, 8), group_cols=["metric"])
    # 99% SLO -> budget 1%: a fully-down bucket burns 100x fast
    out = {r["start"]: r for r in slo_burn_rate(
        stats, slo_ppm=990_000, fast_n=1, slow_n=3, burn_threshold=50.0,
    ).collect()}
    spike = out[T + 2 * step]
    assert spike["burn_fast"] == 100.0          # 1.0 / 0.01
    assert abs(spike["burn_slow"] - 100 / 3) < 1e-6  # 1 of 3 buckets down
    assert not spike["alert"]                   # slow window not hot
    healthy = out[T + 5 * step]
    assert healthy["burn_fast"] == 0.0 and not healthy["alert"]

    # sustained outage: both windows hot -> alert
    states2 = ["down"] * 6
    rows2 = [("t", "db", T + i * step, s, None) for i, s in enumerate(states2)]
    df2 = spark.createDataFrame(
        rows2, "tenant_id string, metric string, ts long, value string, "
               "tags map<string,string>")
    stats2 = availability_stats(df2, Buckets(T, step, 6), group_cols=["metric"])
    out2 = slo_burn_rate(stats2, slo_ppm=990_000, fast_n=1, slow_n=3,
                         burn_threshold=50.0).collect()
    assert all(r["alert"] for r in out2 if r["start"] >= T + 2 * step)

    # unknown time burns nothing (excluded from observed)
    states3 = ["unknown"] * 4
    rows3 = [("t", "x", T + i * step, s, None) for i, s in enumerate(states3)]
    df3 = spark.createDataFrame(
        rows3, "tenant_id string, metric string, ts long, value string, "
               "tags map<string,string>")
    stats3 = availability_stats(df3, Buckets(T, step, 4), group_cols=["metric"])
    out3 = slo_burn_rate(stats3, slo_ppm=990_000).collect()
    assert all(r["burn_fast"] is None and not r["alert"] for r in out3)


def test_slo_burn_routed_through_availability_rollup(spark, tmp_path):
    """A16 serving path (r9 brief item 6): a finalized range's burn-rate
    is answered entirely from the attached availability partials — zero
    raw-point files in the plan — and equals the raw-path operator."""
    import pyspark.sql.functions as F

    from rhq_metrics_spark.model import Buckets
    from rhq_metrics_spark.operators.availability import availability_rollup
    from rhq_metrics_spark.service import MetricsService
    from rhq_metrics_spark.sources.store import MetricsStore

    store = MetricsStore(spark, str(tmp_path / "store"), slice_ms=600_000)
    svc = MetricsService(spark, store)
    slice_ms = 600_000
    states = ["up", "down", "up", "up", "down", "up", "up", "up"]
    rows = [("t", "web", i * 25_000, states[i % len(states)], None)
            for i in range(200)]
    store.add_data_points("availability", spark.createDataFrame(
        rows, "tenant_id string, metric string, ts long, value string, "
              "tags map<string,string>"))

    wm = 5_400_000  # slices 0-8 finalized
    availability_rollup(
        store.points("availability").filter(F.col("ts") < wm), slice_ms,
        group_cols=["tenant_id", "metric"],
    ).write.parquet(str(tmp_path / "avail"))
    svc.attach_availability_rollup(str(tmp_path / "avail"), slice_ms)

    b = Buckets.from_step(0, 4_800_000, 600_000)  # fully finalized range
    routed = svc.slo_burn("t", "web", b, slo_ppm=990_000, fast_n=1, slow_n=3)
    assert not any("points" in f for f in routed.inputFiles())
    assert any("/avail" in f for f in routed.inputFiles())

    saved = svc._attached.pop(("avail", "availability"))
    raw = svc.slo_burn("t", "web", b, slo_ppm=990_000, fast_n=1, slow_n=3)
    svc._attached["avail", "availability"] = saved
    assert routed.columns == raw.columns
    got = [r.asDict() for r in routed.orderBy("start").collect()]
    exp = [r.asDict() for r in raw.orderBy("start").collect()]
    assert got == exp and len(got) == 8
    assert any(r["burn_fast"] and r["burn_fast"] > 0 for r in got)
