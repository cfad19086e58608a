from __future__ import annotations

from rhq_metrics_spark.operators.rollup import DAY_MS, HOUR_MS, time_rollup


def test_grains_consistent(spark):
    # two hours within one day, plus a point the next day
    rows = [
        ("m1", 10 * HOUR_MS + 5, 1.0),
        ("m1", 10 * HOUR_MS + 9, 3.0),
        ("m1", 11 * HOUR_MS + 1, 5.0),
        ("m1", DAY_MS + 2, 7.0),
        ("m2", 30, 10.0),
    ]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    out = {
        (r["metric"], r["grain"], r["bucket_start"]): r
        for r in time_rollup(df).collect()
    }

    assert out[("m1", "hour", 10 * HOUR_MS)]["n"] == 2
    assert out[("m1", "hour", 10 * HOUR_MS)]["sum"] == 4.0
    assert out[("m1", "hour", 11 * HOUR_MS)]["avg"] == 5.0
    assert out[("m1", "day", 0)]["n"] == 3
    assert out[("m1", "day", DAY_MS)]["n"] == 1
    assert out[("m1", "total", None)]["n"] == 4
    assert out[("m1", "total", None)]["sum"] == 16.0
    assert out[("m2", "total", None)]["max"] == 10.0

    # grain invariants: hours of a day sum to the day; days to the total
    m1_hours = [r for k, r in out.items() if k[0] == "m1" and k[1] == "hour"]
    m1_days = [r for k, r in out.items() if k[0] == "m1" and k[1] == "day"]
    assert sum(r["n"] for r in m1_hours) == out[("m1", "total", None)]["n"]
    assert sum(r["sum"] for r in m1_days) == out[("m1", "total", None)]["sum"]


def test_single_shuffle_plan(spark):
    df = spark.createDataFrame(
        [("m", 1, 1.0)], "metric string, ts long, value double"
    )
    plan = time_rollup(df)._jdf.queryExecution().executedPlan().toString()
    # one Expand feeding one aggregation — not a union of three scans
    assert plan.count("Expand") == 1
    assert "Union" not in plan


def _fake_rollup(spark, T, n_windows, win_ms=600_000):
    """Batch-built twin of the start_rollup_stream sink."""
    import pyspark.sql.functions as F

    rows = []
    for w in range(n_windows):
        for i in range(4):
            rows.append(("t", "m", T + w * win_ms + i * 60_000, float(w * 10 + i)))
    pts = spark.createDataFrame(rows, "tenant_id string, metric string, ts long, value double")
    roll = (
        pts.groupBy(
            "tenant_id", "metric",
            F.window(F.timestamp_millis(F.col("ts")), f"{win_ms // 1000} seconds").alias("win"),
        )
        .agg(
            F.min("value").alias("min"), F.avg("value").alias("avg"),
            F.max("value").alias("max"), F.sum("value").alias("sum"),
            F.count("value").alias("samples"),
        )
        .select("tenant_id", "metric",
                F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "min", "avg", "max", "sum", "samples")
    )
    return pts, roll


def test_stats_from_rollup_matches_raw(spark):
    import pyspark.sql.functions as F

    from rhq_metrics_spark.model import Buckets
    from rhq_metrics_spark.operators.rollup import stats_from_rollup

    T = 1_700_000_000_000  # on a 10-minute boundary? ensure via floor
    T -= T % 1_200_000
    pts, roll = _fake_rollup(spark, T, n_windows=8)
    b = Buckets.from_step(T, T + 8 * 600_000, 1_200_000)  # 2 windows/bucket
    got = {r["bucket"]: r for r in stats_from_rollup(roll, b, "t", "m").collect()}
    exp = {
        r["bucket"]: r
        for r in pts.withColumn("bucket", F.floor((F.col("ts") - T) / 1_200_000))
        .groupBy("bucket")
        .agg(F.min("value").alias("min"), F.avg("value").alias("avg"),
             F.max("value").alias("max"), F.sum("value").alias("sum"),
             F.count("value").alias("samples"))
        .collect()
    }
    assert set(got) == set(exp) == {0, 1, 2, 3}
    for k in exp:
        for c in ("min", "avg", "max", "sum", "samples"):
            assert got[k][c] == exp[k][c], (k, c)
        assert got[k]["bucket_start"] == T + k * 1_200_000


def test_stats_from_rollup_rejects_misaligned(spark):
    import pytest

    from rhq_metrics_spark.model import Buckets
    from rhq_metrics_spark.operators.rollup import stats_from_rollup

    T = 1_700_000_000_000
    T -= T % 1_200_000
    _, roll = _fake_rollup(spark, T, n_windows=4)
    # step not a multiple of the window length
    with pytest.raises(ValueError):
        stats_from_rollup(roll, Buckets.from_step(T, T + 2_400_000, 900_000)).collect()
    # origin off the window grid
    with pytest.raises(ValueError):
        stats_from_rollup(
            roll, Buckets.from_step(T + 60_000, T + 2_460_000, 1_200_000)
        ).collect()


def test_stats_from_rollup_filters_out_of_range(spark):
    from rhq_metrics_spark.model import Buckets
    from rhq_metrics_spark.operators.rollup import stats_from_rollup

    T = 1_700_000_000_000
    T -= T % 1_200_000
    _, roll = _fake_rollup(spark, T, n_windows=8)
    # grid covers only the middle: outside windows are filtered, not errors
    b = Buckets.from_step(T + 1_200_000, T + 3_600_000, 1_200_000)
    out = stats_from_rollup(roll, b, "t", "m").collect()
    assert {r["bucket"] for r in out} == {0, 1}


def test_service_routes_aligned_stats_to_rollup(spark, tmp_path):
    """Facade routing: with a rollup attached, an aligned finalized-range
    gauge_stats call is served FROM the rollup parquet (plan-asserted:
    no raw-points scan) and equals the raw path; misaligned or
    not-yet-final ranges fall back to raw."""
    import math

    import pyspark.sql.functions as F

    from rhq_metrics_spark.model import GAUGE_SCHEMA, Buckets
    from rhq_metrics_spark.service import MetricsService
    from rhq_metrics_spark.sources.store import MetricsStore

    win_ms = 600_000
    T = 1_700_000_000_000 - (1_700_000_000_000 % 1_200_000)
    rows = []
    for w in range(8):
        for i in range(4):
            rows.append(("t", "m", T + w * win_ms + i * 60_000, float(w * 10 + i), None))
    store = MetricsStore(spark, str(tmp_path / "store"))
    store.add_data_points(
        "gauge", spark.createDataFrame(rows, GAUGE_SCHEMA)
    )
    svc = MetricsService(spark, store)

    rollup_path = str(tmp_path / "rollup")
    (
        store.points("gauge")
        .groupBy(
            "tenant_id", "metric",
            F.window(F.timestamp_millis(F.col("ts")), f"{win_ms // 1000} seconds").alias("win"),
        )
        .agg(
            F.min("value").alias("min"), F.avg("value").alias("avg"),
            F.max("value").alias("max"), F.sum("value").alias("sum"),
            F.count("value").alias("samples"),
        )
        .select("tenant_id", "metric",
                F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "min", "avg", "max", "sum", "samples")
        .write.parquet(rollup_path)
    )
    svc.attach_rollup("gauge", rollup_path, win_ms)

    b = Buckets.from_step(T, T + 8 * win_ms, 1_200_000)
    routed = svc.gauge_stats("t", "m", b, include_median=False)
    raw = svc.gauge_stats("t", "m", b, include_median=False, use_rollup=False)

    files = routed.inputFiles()
    assert files and all("rollup" in f for f in files), files
    assert not any("points" in f for f in files), files
    raw_files = raw.inputFiles()
    assert any("points" in f for f in raw_files), raw_files

    assert routed.columns == raw.columns
    got = {r["start"]: r for r in routed.collect()}
    exp = {r["start"]: r for r in raw.collect()}
    assert set(got) == set(exp) and len(got) == 4
    for k in exp:
        assert got[k]["samples"] == exp[k]["samples"]
        for c in ("min", "avg", "max", "sum"):
            assert math.isclose(got[k][c], exp[k][c], rel_tol=1e-9), (k, c)

    # fallbacks: misaligned origin; range past the newest final window;
    # median requested — each must read raw points
    for bad in (
        Buckets.from_step(T + 60_000, T + 60_000 + 2_400_000, 1_200_000),
        Buckets.from_step(T, T + 10 * win_ms, 1_200_000),
    ):
        fb = svc.gauge_stats("t", "m", bad, include_median=False).inputFiles()
        assert any("points" in f for f in fb), fb
    fb = svc.gauge_stats("t", "m", b).inputFiles()
    assert any("points" in f for f in fb), fb


def test_hist_rollup_percentile_serving(spark, tmp_path):
    """percentile_impl='hist': rank statistics served from attached
    histogram partials (bin-width-bounded error), with the mergeable
    base columns from the stats rollup — zero raw-point reads when both
    rollups route, exact fallback when the histogram can't."""
    import math

    import pyspark.sql.functions as F

    from rhq_metrics_spark.model import Buckets
    from rhq_metrics_spark.service import MetricsService
    from rhq_metrics_spark.sources.store import MetricsStore

    GAUGE_SCHEMA = (
        "tenant_id string, metric string, ts long, value double, "
        "tags map<string,string>"
    )
    win = 60_000
    # 8 windows x 30 points spanning values [0, 120)
    rows = [("t", "m", w * win + i * 2_000, float((w * 7 + i * 4) % 120), None)
            for w in range(8) for i in range(30)]
    store = MetricsStore(spark, str(tmp_path / "store"))
    store.add_data_points("gauge", spark.createDataFrame(rows, GAUGE_SCHEMA))
    svc = MetricsService(spark, store)

    lo_v, hi_v, n_bins = 0.0, 120.0, 60  # bin width 2.0
    hist_dir = str(tmp_path / "hists")
    svc.build_histogram_rollup("gauge", win, lo_v, hi_v, n_bins) \
        .write.parquet(hist_dir)
    svc.attach_histogram_rollup("gauge", hist_dir, win, lo_v, hi_v, n_bins)

    b = Buckets.from_step(0, 8 * win, 2 * win)
    exact = svc.gauge_stats("t", "m", b, percentiles=(90, 99))
    approx = svc.gauge_stats("t", "m", b, percentiles=(90, 99),
                             percentile_impl="hist")
    assert approx.columns == exact.columns
    got = {r["start"]: r for r in approx.collect()}
    exp = {r["start"]: r for r in exact.collect()}
    assert set(got) == set(exp) and len(got) == 4
    for k in exp:
        # base columns exact, rank columns within one bin width
        for c in ("min", "avg", "max", "sum", "samples"):
            assert math.isclose(got[k][c], exp[k][c], rel_tol=1e-9), (k, c)
        for c in ("median", "p90", "p99"):
            assert abs(got[k][c] - exp[k][c]) <= 2.0 + 1e-9, (k, c, got[k][c], exp[k][c])

    # with the stats rollup ALSO attached, the hist path reads zero raw
    # point files
    rollup_dir = str(tmp_path / "rollup")
    (
        store.points("gauge")
        .groupBy("tenant_id", "metric",
                 F.window(F.timestamp_millis(F.col("ts")), "60 seconds").alias("w"))
        .agg(F.min("value").alias("min"), F.avg("value").alias("avg"),
             F.max("value").alias("max"), F.sum("value").alias("sum"),
             F.count("value").alias("samples"))
        .select("tenant_id", "metric",
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "min", "avg", "max", "sum", "samples")
        .write.parquet(rollup_dir)
    )
    svc.attach_rollup("gauge", rollup_dir, win)
    routed = svc.gauge_stats("t", "m", b, percentiles=(90,),
                             percentile_impl="hist")
    files = routed.inputFiles()
    assert files and not any("points" in f for f in files), files
    assert {r["start"]: round(r["p90"], 6) for r in routed.collect()} == \
        {k: round(v["p90"], 6) for k, v in got.items()}
    # ... and via the FUSED single-agg assembly (r7): base columns and
    # histogram quantiles merge in one hash-agg — no join, no window
    # sort anywhere in the served plan
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan

    # misaligned buckets -> exact fallback (raw scan, exact values)
    b_off = Buckets.from_step(10_000, 10_000 + 4 * win, win)
    fb = svc.gauge_stats("t", "m", b_off, percentiles=(90,),
                         percentile_impl="hist")
    fb_exact = svc.gauge_stats("t", "m", b_off, percentiles=(90,))
    assert [r.asDict() for r in fb.collect()] == \
        [r.asDict() for r in fb_exact.collect()]


def test_refresh_histogram_watermark(spark, tmp_path):
    """An appending partials sink advances finality: a range past the
    attach-time watermark falls back until refresh picks it up."""
    import pyspark.sql.functions as F

    from rhq_metrics_spark.model import Buckets
    from rhq_metrics_spark.service import MetricsService
    from rhq_metrics_spark.sources.store import MetricsStore

    win = 60_000
    store = MetricsStore(spark, str(tmp_path / "store"))
    svc = MetricsService(spark, store)
    sink = str(tmp_path / "hists")
    part1 = spark.createDataFrame(
        [("t", "m", w * win, b, 5) for w in range(2) for b in range(3)],
        "tenant_id string, metric string, slice_start long, bin int, count long",
    )
    part1.write.mode("append").parquet(sink)
    svc.attach_histogram_rollup("gauge", sink, win, 0.0, 30.0, 10)

    # r6: a range past the watermark no longer refuses — it routes
    # HYBRID (finalized partials + raw open tail).  The store is empty
    # here, so buckets past the watermark have no percentile values
    # until the appending sink finalizes them and refresh picks it up.
    b_late = Buckets.from_step(0, 4 * win, win)
    before = svc.percentiles_from_rollup("gauge", "t", "m", b_late, (90,))
    assert before is not None
    vals = {r["start"]: r["p90"] for r in before.collect()}
    assert vals[0] is not None and vals[win] is not None
    assert vals[2 * win] is None and vals[3 * win] is None

    part2 = spark.createDataFrame(
        [("t", "m", w * win, b, 5) for w in (2, 3) for b in range(3)],
        "tenant_id string, metric string, slice_start long, bin int, count long",
    )
    part2.write.mode("append").parquet(sink)
    assert svc.refresh_histogram_watermark("gauge") == 4 * win
    routed = svc.percentiles_from_rollup("gauge", "t", "m", b_late, (90,))
    assert routed is not None
    vals = {r["start"]: r["p90"] for r in routed.collect()}
    assert len(vals) == 4 and all(v is not None for v in vals.values())

    # a range STARTING past the watermark still refuses (nothing routable)
    b_past = Buckets.from_step(4 * win, 6 * win, win)
    assert svc.percentiles_from_rollup("gauge", "t", "m", b_past, (90,)) is None
    # off-step grid origin refuses (epoch-aligned quantile grouping)
    b_off = Buckets.from_step(win, 5 * win, 2 * win)
    assert svc.percentiles_from_rollup("gauge", "t", "m", b_off, (90,)) is None


def test_stats_query_multi_metric_routed(spark, tmp_path):
    """The 100-series dashboard shape: stats_query(include_median=False)
    serves per-metric AND stacked results from the attached rollup —
    matching raw bit-for-bit on the mergeable columns, zero raw reads."""
    import math

    import pyspark.sql.functions as F

    from rhq_metrics_spark.model import Buckets
    from rhq_metrics_spark.service import MetricsService
    from rhq_metrics_spark.sources.store import MetricsStore

    win = 60_000
    rows = [("t", f"m{j}", w * win + i * 10_000, float(w * 10 + i + j), None)
            for j in range(5) for w in range(8) for i in range(4)]
    store = MetricsStore(spark, str(tmp_path / "store"))
    store.add_data_points("gauge", spark.createDataFrame(
        rows, "tenant_id string, metric string, ts long, value double, "
              "tags map<string,string>"))
    svc = MetricsService(spark, store)

    rollup_dir = str(tmp_path / "rollup")
    (
        store.points("gauge")
        .groupBy("tenant_id", "metric",
                 F.window(F.timestamp_millis(F.col("ts")), "60 seconds").alias("w"))
        .agg(F.min("value").alias("min"), F.avg("value").alias("avg"),
             F.max("value").alias("max"), F.sum("value").alias("sum"),
             F.count("value").alias("samples"))
        .select("tenant_id", "metric",
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "min", "avg", "max", "sum", "samples")
        .write.parquet(rollup_dir)
    )
    svc.attach_rollup("gauge", rollup_dir, win)

    metrics = [f"m{j}" for j in range(5)]
    b = Buckets.from_step(0, 8 * win, 2 * win)

    routed_df = svc._rollup_routed_multi("gauge", "t", metrics, b)
    assert routed_df is not None
    assert not any("points" in f for f in routed_df.inputFiles())

    for stacked in (False, True):
        routed = svc.stats_query("t", b, {"gauge": metrics}, stacked=stacked,
                                 include_median=False)
        saved = svc._attached.pop(("stats", "gauge"))
        raw = svc.stats_query("t", b, {"gauge": metrics}, stacked=stacked,
                              include_median=False)
        svc._attached["stats", "gauge"] = saved
        assert routed["gauge"].keys() == raw["gauge"].keys()
        for m in raw["gauge"]:
            assert len(routed["gauge"][m]) == len(raw["gauge"][m])
            for rb, xb in zip(routed["gauge"][m], raw["gauge"][m]):
                assert rb.keys() == xb.keys(), (m, rb, xb)
                for k in xb:
                    if isinstance(xb[k], float):
                        assert math.isclose(rb[k], xb[k], rel_tol=1e-9), (m, k)
                    else:
                        assert rb[k] == xb[k], (m, k, rb, xb)

    # median requested (default) -> raw path, median present
    full = svc.stats_query("t", b, {"gauge": metrics})
    assert "median" in full["gauge"]["m0"][0]


def _build_rollup(pts, win_ms):
    import pyspark.sql.functions as F

    return (
        pts.groupBy(
            "tenant_id", "metric",
            F.window(
                F.timestamp_millis(F.col("ts")), f"{win_ms // 1000} seconds"
            ).alias("w"),
        )
        .agg(F.min("value").alias("min"), F.avg("value").alias("avg"),
             F.max("value").alias("max"), F.sum("value").alias("sum"),
             F.count("value").alias("samples"))
        .select("tenant_id", "metric",
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "min", "avg", "max", "sum", "samples")
    )


def test_hybrid_rollup_open_tail_serving(spark, tmp_path):
    """The reference's DEFAULT query shape (now-8h..now,
    TimeRange.java:32,43-44) crosses the finality watermark: the routed
    path must serve the finalized prefix from rollup partials and ONLY
    raw-scan the open-slice tail — equal to the pure-raw path, including
    the bucket that straddles the watermark."""
    import math

    import pyspark.sql.functions as F

    from rhq_metrics_spark.model import GAUGE_SCHEMA, Buckets
    from rhq_metrics_spark.service import MetricsService
    from rhq_metrics_spark.sources.store import MetricsStore

    win = 600_000
    slice_ms = 1_200_000  # 2 windows per slice -> 3 slices of data
    T = 1_700_000_000_000 - (1_700_000_000_000 % slice_ms)
    rows = []
    for w in range(6):
        for i in range(4):
            rows.append(("t", "m", T + w * win + i * 60_000,
                         float(w * 10 + i), None))
    store = MetricsStore(spark, str(tmp_path / "store"), slice_ms=slice_ms)
    store.add_data_points("gauge", spark.createDataFrame(rows, GAUGE_SCHEMA))
    svc = MetricsService(spark, store)

    # finality watermark mid-slice-2, mid-bucket-1: windows 0-2 rolled up
    hi = T + 3 * win
    rollup_path = str(tmp_path / "rollup")
    _build_rollup(
        store.points("gauge").filter(F.col("ts") < hi), win
    ).write.parquet(rollup_path)
    svc.attach_rollup("gauge", rollup_path, win)

    b = Buckets.from_step(T, T + 6 * win, 2 * win)  # 3 buckets; b1 straddles hi
    routed = svc.gauge_stats("t", "m", b, include_median=False)
    raw = svc.gauge_stats("t", "m", b, include_median=False, use_rollup=False)

    files = routed.inputFiles()
    # match against the rollup DIRECTORY, not the bare substring
    # "rollup" — the pytest tmpdir name contains "rollup" too, so the
    # raw store's files would satisfy the weaker check
    assert any(rollup_path in f for f in files), files
    # the raw tail reads ONLY slices covering [hi, end): the store's
    # slice pruning must reach the points scan as a date_slice lower
    # bound at slice_floor(hi), so slice 1 (finalized history) is never
    # listed.  (inputFiles() is pre-pruning for Hive-partitioned cold
    # dirs — assert on the executed plan instead.)
    import re

    first_open = hi // slice_ms * slice_ms
    plan = routed._jdf.queryExecution().executedPlan().toString()
    bounds = [
        int(m) for m in re.findall(r"date_slice#\d+L? >= (\d+)", plan)
    ]
    assert bounds, plan
    assert all(x == first_open for x in bounds), (first_open, bounds)

    assert routed.columns == raw.columns
    got = {r["start"]: r for r in routed.collect()}
    exp = {r["start"]: r for r in raw.collect()}
    assert set(got) == set(exp) and len(got) == 3
    for k in exp:
        assert got[k]["samples"] == exp[k]["samples"], k
        for c in ("min", "avg", "max", "sum"):
            assert math.isclose(got[k][c], exp[k][c], rel_tol=1e-9), (k, c)

    # range entirely inside the open tail: nothing routable -> None
    b_tail = Buckets.from_step(T + 4 * win, T + 6 * win, win)
    assert svc.try_routed_stats("gauge", "t", "m", b_tail) is None

    # hybrid with an EMPTY tail (grid past the newest data): equals raw
    b_past = Buckets.from_step(T, T + 8 * win, 2 * win)
    got2 = {r["start"]: r for r in
            svc.gauge_stats("t", "m", b_past, include_median=False).collect()}
    exp2 = {r["start"]: r for r in
            svc.gauge_stats("t", "m", b_past, include_median=False,
                            use_rollup=False).collect()}
    assert set(got2) == set(exp2) and len(got2) == 4
    for k in exp2:
        assert got2[k]["samples"] == exp2[k]["samples"], k


def test_hybrid_rollup_multi_metric(spark, tmp_path):
    """stats_query (per-metric and stacked) across the finality
    watermark: hybrid-routed results equal the raw path."""
    import math

    import pyspark.sql.functions as F

    from rhq_metrics_spark.model import GAUGE_SCHEMA, Buckets
    from rhq_metrics_spark.service import MetricsService
    from rhq_metrics_spark.sources.store import MetricsStore

    win = 600_000
    T = 1_700_000_000_000 - (1_700_000_000_000 % 1_200_000)
    rows = [("t", f"m{j}", T + w * win + i * 60_000, float(w * 10 + i + j), None)
            for j in range(3) for w in range(6) for i in range(4)]
    store = MetricsStore(spark, str(tmp_path / "store"), slice_ms=1_200_000)
    store.add_data_points("gauge", spark.createDataFrame(rows, GAUGE_SCHEMA))
    svc = MetricsService(spark, store)
    hi = T + 3 * win
    rollup_path = str(tmp_path / "rollup")
    _build_rollup(
        store.points("gauge").filter(F.col("ts") < hi), win
    ).write.parquet(rollup_path)
    svc.attach_rollup("gauge", rollup_path, win)

    metrics = [f"m{j}" for j in range(3)]
    b = Buckets.from_step(T, T + 6 * win, 2 * win)
    for stacked in (False, True):
        routed = svc.stats_query("t", b, {"gauge": metrics}, stacked=stacked,
                                 include_median=False)
        saved = svc._attached.pop(("stats", "gauge"))
        raw = svc.stats_query("t", b, {"gauge": metrics}, stacked=stacked,
                              include_median=False)
        svc._attached["stats", "gauge"] = saved
        assert routed["gauge"].keys() == raw["gauge"].keys()
        for m in raw["gauge"]:
            assert len(routed["gauge"][m]) == len(raw["gauge"][m]), m
            for rb, xb in zip(routed["gauge"][m], raw["gauge"][m]):
                for k in xb:
                    if isinstance(xb[k], float):
                        assert math.isclose(rb[k], xb[k], rel_tol=1e-9), (m, k)
                    else:
                        assert rb[k] == xb[k], (m, k, rb, xb)


def test_hybrid_hist_percentile_serving(spark, tmp_path):
    """percentile_impl='hist' across the finality watermark: finalized
    histogram partials + the open tail binned on the fly — rank columns
    stay within one bin width of exact, base columns exact."""
    import math

    from rhq_metrics_spark.model import GAUGE_SCHEMA, Buckets
    from rhq_metrics_spark.service import MetricsService
    from rhq_metrics_spark.sources.store import MetricsStore

    win = 60_000
    rows = [("t", "m", w * win + i * 2_000, float((w * 7 + i * 4) % 120), None)
            for w in range(8) for i in range(30)]
    store = MetricsStore(spark, str(tmp_path / "store"), slice_ms=win)
    store.add_data_points("gauge", spark.createDataFrame(rows, GAUGE_SCHEMA))
    svc = MetricsService(spark, store)

    lo_v, hi_v, n_bins = 0.0, 120.0, 60
    watermark = 6 * win  # slices 0-5 finalized, 6-7 open
    import pyspark.sql.functions as F

    hists = svc.build_histogram_rollup("gauge", win, lo_v, hi_v, n_bins) \
        .filter(F.col("slice_start") < watermark)
    svc.attach_histogram_rollup("gauge", hists, win, lo_v, hi_v, n_bins)
    assert svc._attached["hist", "gauge"].watermark == watermark

    b = Buckets.from_step(0, 8 * win, 2 * win)  # bucket 3 fully open
    exact = svc.gauge_stats("t", "m", b, percentiles=(90, 99))
    approx = svc.gauge_stats("t", "m", b, percentiles=(90, 99),
                             percentile_impl="hist", use_rollup=False)
    assert approx is not None and approx.columns == exact.columns
    got = {r["start"]: r for r in approx.collect()}
    exp = {r["start"]: r for r in exact.collect()}
    assert set(got) == set(exp) and len(got) == 4
    for k in exp:
        for c in ("min", "avg", "max", "sum", "samples"):
            assert math.isclose(got[k][c], exp[k][c], rel_tol=1e-9), (k, c)
        for c in ("median", "p90", "p99"):
            assert abs(got[k][c] - exp[k][c]) <= 2.0 + 1e-9, (k, c)

    # range entirely in the open tail -> unroutable -> exact fallback
    b_tail = Buckets.from_step(6 * win, 8 * win, win)
    assert svc.percentiles_from_rollup("gauge", "t", "m", b_tail, (90,)) is None


def test_hybrid_hist_fused_single_agg(spark, tmp_path):
    """r8: the FUSED single-hash-agg hist assembly also serves
    watermark-crossing ranges — finalized prefix from both rollups,
    open tail from one raw scan contributing degenerate base partials
    AND (bin, 1) histogram entries; plan stays Join- and Window-free
    and reads BOTH the rollup parquet and raw point files."""
    import math

    import pyspark.sql.functions as F

    from rhq_metrics_spark.model import GAUGE_SCHEMA, Buckets
    from rhq_metrics_spark.service import MetricsService
    from rhq_metrics_spark.sources.store import MetricsStore

    win = 60_000
    rows = [("t", "m", w * win + i * 2_000, float((w * 7 + i * 4) % 120), None)
            for w in range(8) for i in range(30)]
    store = MetricsStore(spark, str(tmp_path / "store"), slice_ms=win)
    store.add_data_points("gauge", spark.createDataFrame(rows, GAUGE_SCHEMA))
    svc = MetricsService(spark, store)

    lo_v, hi_v, n_bins = 0.0, 120.0, 60
    watermark = 6 * win  # slices/windows 0-5 finalized, 6-7 open
    hists = svc.build_histogram_rollup("gauge", win, lo_v, hi_v, n_bins) \
        .filter(F.col("slice_start") < watermark)
    hist_dir = str(tmp_path / "hists")
    hists.write.parquet(hist_dir)
    svc.attach_histogram_rollup("gauge", hist_dir, win, lo_v, hi_v, n_bins)
    rollup_dir = str(tmp_path / "rollup")
    (
        store.points("gauge")
        .groupBy("tenant_id", "metric",
                 F.window(F.timestamp_millis(F.col("ts")), "60 seconds").alias("w"))
        .agg(F.min("value").alias("min"), F.avg("value").alias("avg"),
             F.max("value").alias("max"), F.sum("value").alias("sum"),
             F.count("value").alias("samples"))
        .select("tenant_id", "metric",
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "min", "avg", "max", "sum", "samples")
        .filter(F.unix_millis(F.col("window_end")) <= watermark)
        .write.parquet(rollup_dir)
    )
    svc.attach_rollup("gauge", rollup_dir, win)

    b = Buckets.from_step(0, 8 * win, 2 * win)  # bucket 3 fully open
    exact = svc.gauge_stats("t", "m", b, percentiles=(90, 99))
    fused = svc._hist_fused_stats("t", "m", b, (90.0, 99.0), True)
    assert fused is not None
    served = svc.gauge_stats("t", "m", b, percentiles=(90, 99),
                             percentile_impl="hist")
    assert served.columns == exact.columns
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    # the store's LWW dedup on the raw tail is a row_number window over
    # _layer_seq (+ its WindowGroupLimit pushdown) — required merge
    # semantics.  What must NOT appear is any OTHER window: a windowed
    # quantile/rank assembly would show up as a Window node without the
    # LWW key.
    for line in plan.splitlines():
        if "Window" in line:
            assert "_layer_seq" in line, line
    files = served.inputFiles()
    assert any(f"{tmp_path}/rollup" in f for f in files), files
    assert any("points" in f for f in files), files

    got = {r["start"]: r for r in served.collect()}
    exp = {r["start"]: r for r in exact.collect()}
    assert set(got) == set(exp) and len(got) == 4
    for k in exp:
        for c in ("min", "avg", "max", "sum", "samples"):
            assert math.isclose(got[k][c], exp[k][c], rel_tol=1e-9), (k, c)
        for c in ("median", "p90", "p99"):
            assert abs(got[k][c] - exp[k][c]) <= 2.0 + 1e-9, (k, c)


def test_hybrid_route_reads_prefix_and_tail(spark, tmp_path):
    """Every watermark-CROSSING stats query routes hybrid — the
    reference's unconditional compressed∪temp-table merge
    (MetricsServiceImpl.java:662-693): it reads the rollup prefix AND
    the raw open tail and answers like the raw path, on the single- and
    the multi-metric route; a pure-prefix query reads no store files."""
    import math

    import pyspark.sql.functions as F

    from rhq_metrics_spark.model import GAUGE_SCHEMA, Buckets
    from rhq_metrics_spark.service import MetricsService
    from rhq_metrics_spark.sources.store import MetricsStore

    win = 600_000
    slice_ms = 1_200_000
    T = 1_700_000_000_000 - (1_700_000_000_000 % slice_ms)
    rows = [("t", "m", T + w * win + i * 60_000, float(w * 10 + i), None)
            for w in range(6) for i in range(4)]
    store = MetricsStore(spark, str(tmp_path / "store"), slice_ms=slice_ms)
    store.add_data_points("gauge", spark.createDataFrame(rows, GAUGE_SCHEMA))
    svc = MetricsService(spark, store)

    hi = T + 3 * win
    rollup_path = str(tmp_path / "rollup")
    _build_rollup(
        store.points("gauge").filter(F.col("ts") < hi), win
    ).write.parquet(rollup_path)
    svc.attach_rollup("gauge", rollup_path, win)

    crossing = Buckets.from_step(T, T + 6 * win, 2 * win)
    routed = svc.try_routed_stats("gauge", "t", "m", crossing)
    assert routed is not None
    assert any(rollup_path in f for f in routed.inputFiles())
    assert any("/store/" in f for f in routed.inputFiles())
    raw = svc.gauge_stats("t", "m", crossing, include_median=False,
                          use_rollup=False)
    got = {r["start"]: r for r in routed.collect()}
    exp = {r["start"]: r for r in raw.collect()}
    assert set(got) == set(exp) and len(got) == 3
    for k in exp:
        assert got[k]["samples"] == exp[k]["samples"]
        for c in ("min", "avg", "max", "sum"):
            assert math.isclose(got[k][c], exp[k][c], rel_tol=1e-9), (k, c)

    prefix_only = Buckets.from_step(T, T + 2 * win, win)
    routed = svc.try_routed_stats("gauge", "t", "m", prefix_only)
    assert routed is not None
    assert not any("/store/" in f for f in routed.inputFiles())

    assert svc._rollup_routed_multi("gauge", "t", ["m"], crossing) is not None


def test_stats_query_hist_percentiles_multi(spark, tmp_path):
    """r8: the multi-metric dashboard WITH median/percentiles served
    from partials (percentile_impl='hist'): base columns bit-equal to
    the exact path, rank columns within one bin width, zero raw-point
    reads inside the finalized range, and the hybrid tail binned on the
    fly when the range crosses the watermark.  Stacked sums match the
    exact stacked path within metrics x bin-width."""
    import math

    import pyspark.sql.functions as F

    from rhq_metrics_spark.model import Buckets
    from rhq_metrics_spark.service import MetricsService
    from rhq_metrics_spark.sources.store import MetricsStore

    win = 60_000
    rows = [("t", f"m{j}", w * win + i * 2_000, float((w * 9 + i * 5 + j * 13) % 120), None)
            for j in range(3) for w in range(8) for i in range(30)]
    store = MetricsStore(spark, str(tmp_path / "store"), slice_ms=win)
    store.add_data_points("gauge", spark.createDataFrame(
        rows, "tenant_id string, metric string, ts long, value double, "
              "tags map<string,string>"))
    svc = MetricsService(spark, store)

    rollup_dir = str(tmp_path / "rollup")
    (
        store.points("gauge")
        .groupBy("tenant_id", "metric",
                 F.window(F.timestamp_millis(F.col("ts")), "60 seconds").alias("w"))
        .agg(F.min("value").alias("min"), F.avg("value").alias("avg"),
             F.max("value").alias("max"), F.sum("value").alias("sum"),
             F.count("value").alias("samples"))
        .select("tenant_id", "metric",
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "min", "avg", "max", "sum", "samples")
        .write.parquet(rollup_dir)
    )
    svc.attach_rollup("gauge", rollup_dir, win)
    lo_v, hi_v, n_bins = 0.0, 120.0, 60  # bin width 2.0
    hist_dir = str(tmp_path / "hists")
    svc.build_histogram_rollup("gauge", win, lo_v, hi_v, n_bins) \
        .write.parquet(hist_dir)
    svc.attach_histogram_rollup("gauge", hist_dir, win, lo_v, hi_v, n_bins)

    metrics = [f"m{j}" for j in range(3)]
    b = Buckets.from_step(0, 8 * win, 2 * win)

    routed_df = svc._hist_routed_multi("gauge", "t", metrics, b, (90.0,), True)
    assert routed_df is not None
    assert not any("points" in f for f in routed_df.inputFiles())

    def _compare(routed, raw, tol):
        assert routed["gauge"].keys() == raw["gauge"].keys()
        for m in raw["gauge"]:
            assert len(routed["gauge"][m]) == len(raw["gauge"][m])
            for rb, xb in zip(routed["gauge"][m], raw["gauge"][m]):
                assert rb.keys() == xb.keys(), (m, rb, xb)
                for k in xb:
                    if xb[k] is None or rb[k] is None:
                        assert rb[k] == xb[k], (m, k, rb, xb)
                    elif k in ("median", "p90"):
                        assert abs(rb[k] - xb[k]) <= tol + 1e-9, (m, k, rb, xb)
                    elif isinstance(xb[k], float):
                        assert math.isclose(rb[k], xb[k], rel_tol=1e-9), (m, k)
                    else:
                        assert rb[k] == xb[k], (m, k, rb, xb)

    saved = svc._attached
    for stacked, tol in ((False, 2.0), (True, 3 * 2.0)):
        routed = svc.stats_query("t", b, {"gauge": metrics}, percentiles=(90,),
                                 stacked=stacked, percentile_impl="hist")
        svc._attached = {}
        raw = svc.stats_query("t", b, {"gauge": metrics}, percentiles=(90,),
                              stacked=stacked)
        svc._attached = saved
        _compare(routed, raw, tol)

    # watermark-crossing: truncate both rollups to 6/8 windows; the
    # same call must still serve (tail binned on the fly) and match
    cut = 6 * win
    truncated = spark.read.parquet(rollup_dir).filter(
        F.unix_millis(F.col("window_end")) <= cut)
    svc.attach_rollup("gauge", truncated, win)
    hists_t = spark.read.parquet(hist_dir).filter(F.col("slice_start") < cut)
    svc.attach_histogram_rollup("gauge", hists_t, win, lo_v, hi_v, n_bins)
    saved = svc._attached
    probe = svc._hist_routed_multi("gauge", "t", metrics, b, (90.0,), True)
    assert probe is not None
    assert any("points" in f for f in probe.inputFiles())
    routed = svc.stats_query("t", b, {"gauge": metrics}, percentiles=(90,),
                             percentile_impl="hist")
    svc._attached = {}
    raw = svc.stats_query("t", b, {"gauge": metrics}, percentiles=(90,))
    svc._attached = saved
    _compare(routed, raw, 2.0)


def test_stacked_hist_route_grid_fills_empty_range(spark, tmp_path):
    """ADVICE r8: a stacked hist-percentile query over metrics with NO
    data in range must return the same full samples=0 grid as the exact
    path — response shape must not depend on rollups being attached."""
    import pyspark.sql.functions as F

    from rhq_metrics_spark.model import Buckets
    from rhq_metrics_spark.service import MetricsService
    from rhq_metrics_spark.sources.store import MetricsStore

    win = 60_000
    rows = [("t", "m0", w * win + i * 2_000, float(i % 50), None)
            for w in range(8) for i in range(30)]
    store = MetricsStore(spark, str(tmp_path / "store"), slice_ms=win)
    store.add_data_points("gauge", spark.createDataFrame(
        rows, "tenant_id string, metric string, ts long, value double, "
              "tags map<string,string>"))
    svc = MetricsService(spark, store)
    rollup_dir = str(tmp_path / "rollup")
    (
        store.points("gauge")
        .groupBy("tenant_id", "metric",
                 F.window(F.timestamp_millis(F.col("ts")), "60 seconds").alias("w"))
        .agg(F.min("value").alias("min"), F.avg("value").alias("avg"),
             F.max("value").alias("max"), F.sum("value").alias("sum"),
             F.count("value").alias("samples"))
        .select("tenant_id", "metric",
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "min", "avg", "max", "sum", "samples")
        .write.parquet(rollup_dir)
    )
    svc.attach_rollup("gauge", rollup_dir, win)
    hist_dir = str(tmp_path / "hists")
    svc.build_histogram_rollup("gauge", win, 0.0, 50.0, 25) \
        .write.parquet(hist_dir)
    svc.attach_histogram_rollup("gauge", hist_dir, win, 0.0, 50.0, 25)

    b = Buckets.from_step(0, 8 * win, 2 * win)
    # metrics that exist nowhere: routed (attached) vs exact (detached)
    routed = svc.stats_query("t", b, {"gauge": ["ghost1", "ghost2"]},
                             percentiles=(90,), stacked=True,
                             percentile_impl="hist")
    saved = svc._attached
    svc._attached = {}
    exact = svc.stats_query("t", b, {"gauge": ["ghost1", "ghost2"]},
                            percentiles=(90,), stacked=True)
    svc._attached = saved

    rbuckets = routed["gauge"]["*stacked*"]
    xbuckets = exact["gauge"]["*stacked*"]
    assert len(rbuckets) == len(xbuckets) == b.count
    for rb, xb in zip(rbuckets, xbuckets):
        assert rb == xb, (rb, xb)


def test_hybrid_tail_base_cache_invalidates_on_ingest(spark, tmp_path):
    """The pinned open-tail base (r9) must self-invalidate when the
    store changes: points ingested into the open slice AFTER a hybrid
    query must appear in the next hybrid query's tail — a stale cache
    here is silent data loss, not a perf bug."""
    import pyspark.sql.functions as F

    from rhq_metrics_spark.model import Buckets
    from rhq_metrics_spark.service import MetricsService
    from rhq_metrics_spark.sources.store import MetricsStore

    win = 60_000
    rows = [("t", "m", w * win + i * 6_000, 10.0, None)
            for w in range(8) for i in range(10)]
    store = MetricsStore(spark, str(tmp_path / "store"), slice_ms=win)
    store.add_data_points("gauge", spark.createDataFrame(
        rows, "tenant_id string, metric string, ts long, value double, "
              "tags map<string,string>"))
    svc = MetricsService(spark, store)
    rollup_dir = str(tmp_path / "rollup")
    (
        store.points("gauge")
        .filter(F.col("ts") < 4 * win)  # finalized prefix = first 4 windows
        .groupBy("tenant_id", "metric",
                 F.window(F.timestamp_millis(F.col("ts")), "60 seconds").alias("w"))
        .agg(F.min("value").alias("min"), F.avg("value").alias("avg"),
             F.max("value").alias("max"), F.sum("value").alias("sum"),
             F.count("value").alias("samples"))
        .select("tenant_id", "metric",
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "min", "avg", "max", "sum", "samples")
        .write.parquet(rollup_dir)
    )
    svc.attach_rollup("gauge", rollup_dir, win)
    b = Buckets.from_step(0, 8 * win, win)

    first = {r["start"]: r["samples"] for r in
             svc.gauge_stats("t", "m", b, include_median=False).collect()}
    assert first[4 * win] == 10  # tail bucket served from raw scan

    # ingest 5 more points into the open tail (bucket 4) at timestamps
    # that don't collide with the original 6s grid (LWW would dedupe)
    more = [("t", "m", 4 * win + 31_000 + i, 99.0, None) for i in range(5)]
    store.add_data_points("gauge", spark.createDataFrame(
        more, "tenant_id string, metric string, ts long, value double, "
              "tags map<string,string>"))
    second = {r["start"]: r["samples"] for r in
              svc.gauge_stats("t", "m", b, include_median=False).collect()}
    assert second[4 * win] == 15, "stale tail cache: ingest not visible"
    # finalized prefix unchanged
    assert second[0] == first[0] == 10
