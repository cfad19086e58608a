"""W1 rate derivation — gauge and counter (reset) semantics.

Oracle: per adjacent pair 60000*(v2-v1)/(t2-t1) stamped at t2; counter
pairs with v2 < v1 dropped (MetricsServiceImpl.java:857-883).
"""

import pytest

from rhq_metrics_spark.model import Buckets
from rhq_metrics_spark.operators import rate, rate_stats

T0 = 1_700_000_000_000


def test_gauge_rate(gauge_points_factory):
    rows = [
        ("t1", "m", T0, 10.0),
        ("t1", "m", T0 + 30_000, 25.0),
        ("t1", "m", T0 + 90_000, 10.0),
    ]
    out = rate(gauge_points_factory(rows)).orderBy("ts").collect()
    assert len(out) == 2
    assert out[0]["ts"] == T0 + 30_000
    assert out[0]["rate"] == pytest.approx(60_000 * 15.0 / 30_000)  # 30/min
    assert out[1]["rate"] == pytest.approx(60_000 * -15.0 / 60_000)  # -15/min


def test_counter_reset_pairs_dropped(counter_points_factory):
    rows = [
        ("t1", "c", T0, 100),
        ("t1", "c", T0 + 60_000, 160),   # +60/min
        ("t1", "c", T0 + 120_000, 20),   # reset → pair dropped
        ("t1", "c", T0 + 180_000, 80),   # +60/min
    ]
    out = rate(counter_points_factory(rows), metric_type="counter").orderBy("ts").collect()
    assert [r["ts"] for r in out] == [T0 + 60_000, T0 + 180_000]
    for r in out:
        assert r["rate"] == pytest.approx(60.0)


def test_equal_values_not_a_reset(counter_points_factory):
    rows = [("t1", "c", T0, 5), ("t1", "c", T0 + 60_000, 5)]
    out = rate(counter_points_factory(rows), metric_type="counter").collect()
    assert len(out) == 1 and out[0]["rate"] == 0.0


def test_desc_order_same_values_limit_from_end(gauge_points_factory):
    rows = [("t1", "m", T0 + i * 60_000, float(i * i)) for i in range(5)]
    asc = rate(gauge_points_factory(rows)).orderBy("ts").collect()
    desc = rate(gauge_points_factory(rows), order="desc", limit=2).collect()
    # DESC pairs are normalized back to ascending before the rate is
    # computed — values identical, limit takes from the late end
    assert [r["rate"] for r in desc] == [asc[-1]["rate"], asc[-2]["rate"]]


def test_rate_is_per_series(gauge_points_factory):
    rows = [
        ("t1", "a", T0, 0.0),
        ("t1", "a", T0 + 60_000, 60.0),
        ("t1", "b", T0 + 30_000, 100.0),
        ("t1", "b", T0 + 90_000, 40.0),
    ]
    out = {
        (r["metric"]): r["rate"]
        for r in rate(gauge_points_factory(rows)).collect()
    }
    assert out["a"] == pytest.approx(60.0)
    assert out["b"] == pytest.approx(-60.0)


def test_rate_stats_composition(counter_points_factory):
    rows = [("t1", "c", T0 + i * 10_000, 100 * i) for i in range(12)]
    buckets = Buckets.from_step(T0, T0 + 120_000, 60_000)
    out = (
        rate_stats(counter_points_factory(rows), buckets, metric_type="counter")
        .orderBy("start")
        .collect()
    )
    # constant slope: 100 per 10s = 600/min everywhere
    assert len(out) == 2
    for r in out:
        assert r["avg"] == pytest.approx(600.0)
        assert r["min"] == pytest.approx(600.0)


def test_bucket_increase_counter_and_delta(spark):
    """W7: adjacent-pair increase per bucket — counter resets contribute
    the restarted value; delta mode keeps them negative."""
    from rhq_metrics_spark.operators.rate import bucket_increase

    HOUR = 3_600_000
    rows = [
        ("c", 0, 10.0), ("c", 1000, 15.0),        # +5 in bucket 0
        ("c", HOUR + 1, 3.0),                      # reset: contributes 3
        ("c", HOUR + 2000, 9.0),                   # +6
    ]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    out = {
        r["bucket_start"]: (r["n_pairs"], r["increase"])
        for r in bucket_increase(df, HOUR).collect()
    }
    assert out[0] == (1, 5.0)
    assert out[HOUR] == (2, 9.0)  # reset 3 + rise 6
    plain = {
        r["bucket_start"]: r["increase"]
        for r in bucket_increase(df, HOUR, counter=False).collect()
    }
    assert plain[HOUR] == pytest.approx(-6.0)  # reset -12, then +6


def test_bucket_increase_pair_straddles_bucket_boundary(spark):
    """A pair spanning two buckets lands in the LATER point's bucket
    (the rate stamping convention)."""
    from rhq_metrics_spark.operators.rate import bucket_increase

    HOUR = 3_600_000
    rows = [("m", HOUR - 1, 1.0), ("m", HOUR + 1, 4.0)]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    out = bucket_increase(df, HOUR).collect()
    assert len(out) == 1
    assert out[0]["bucket_start"] == HOUR
    assert out[0]["increase"] == 3.0


def test_time_weighted_avg_known_answer(spark):
    """A12: value held for its duration — irregular bursts don't skew
    the mean; max_gap drops silent-period smears."""
    from rhq_metrics_spark.operators.rate import time_weighted_avg

    HOUR = 3_600_000
    # value 10 held 900s, then a burst of 3 points at 30 within 2s,
    # then back to 10 for the rest: plain avg of points = (10+30*3+10)/5
    # = 18; time-weighted is dominated by the held 10s
    rows = [
        ("m", 0, 10.0),
        ("m", 900_000, 30.0),     # 10 held 900s
        ("m", 901_000, 30.0),     # 30 held 1s
        ("m", 902_000, 30.0),     # 30 held 1s
        ("m", 1_800_000, 10.0),   # 30 held 898s
    ]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    out = time_weighted_avg(df, HOUR).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_pairs"] == 4 and r["held_ms"] == 1_800_000
    want = (10.0 * 900_000 + 30.0 * 1_000 + 30.0 * 1_000 + 30.0 * 898_000) / 1_800_000
    assert r["twa"] == pytest.approx(want)
    # with a max gap of 10s the long holds drop; only the burst remains
    g = time_weighted_avg(df, HOUR, max_gap_ms=10_000).collect()[0]
    assert g["n_pairs"] == 2 and g["held_ms"] == 2_000
    assert g["twa"] == pytest.approx(30.0)


def test_increase_rollup_matches_batch_exactly(spark):
    """Mergeable increase partials: increase_from_rollup over per-slice
    partials is bit-identical to bucket_increase over raw points —
    resets, single-point slices, gaps, out-of-order arrivals, equal-ts
    ties, and both counter/delta modes."""
    import random

    from rhq_metrics_spark.operators.rate import (
        bucket_increase,
        increase_from_rollup,
        increase_rollup,
    )

    rng = random.Random(11)
    rows = []
    for m in ("a", "b", "c"):
        v = 0.0
        t = 0
        for _ in range(300):
            t += rng.choice([30_000, 90_000, 400_000, 3_700_000])
            if rng.random() < 0.08:
                v = rng.uniform(0, 5)  # counter reset
            else:
                v += rng.uniform(0, 9)
            rows.append((m, t, round(v, 2)))
    # equal-ts tie + duplicates
    rows += [("a", rows[3][1], 1.23), ("b", rows[400][1], rows[400][2])]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "metric string, ts long, value double") \
        .repartition(7)

    slice_ms, bucket_ms = 600_000, 3_600_000
    for counter in (True, False):
        partials = increase_rollup(df, slice_ms, counter=counter)
        merged = increase_from_rollup(
            partials, bucket_ms, slice_ms, counter=counter
        )
        batch = bucket_increase(df, bucket_ms, counter=counter)
        got = {(r["metric"], r["bucket_start"]): (r["n_pairs"], r["increase"])
               for r in merged.collect()}
        exp = {(r["metric"], r["bucket_start"]): (r["n_pairs"], r["increase"])
               for r in batch.collect()}
        assert got == exp, f"counter={counter}"

    with pytest.raises(ValueError, match="multiple"):
        increase_from_rollup(
            increase_rollup(df, 600_000), bucket_ms=900_000, slice_ms=600_000
        )


def test_service_increase_routed_from_partials(spark, tmp_path):
    """service.increase serves exactly from attached increase partials
    (zero raw-point reads) and matches the raw path bit-for-bit;
    misaligned requests fall back to raw."""
    import pyspark.sql.functions as F

    from rhq_metrics_spark.operators.rate import increase_rollup
    from rhq_metrics_spark.service import MetricsService
    from rhq_metrics_spark.sources.store import MetricsStore

    store = MetricsStore(spark, str(tmp_path / "store"))
    svc = MetricsService(spark, store)
    slice_ms = 600_000
    rows, v = [], 0
    for i in range(200):
        v = 2 if i % 37 == 36 else v + (i % 5)
        rows.append(("t", "reqs", i * 30_000, v, None))
    store.add_data_points("counter", spark.createDataFrame(
        rows, "tenant_id string, metric string, ts long, value long, "
              "tags map<string,string>"))

    partials_dir = str(tmp_path / "inc")
    increase_rollup(
        store.points("counter"), slice_ms,
        group_cols=["tenant_id", "metric"],
    ).write.parquet(partials_dir)
    svc.attach_increase_rollup("counter", partials_dir, slice_ms)

    end = 6_000_000  # 10 slices, aligned
    routed = svc.increase("t", "reqs", 0, end, 1_200_000)
    files = routed.inputFiles()
    assert files and not any("points" in f for f in files), files
    raw = svc.increase("t", "reqs", 0, end, 1_200_000)  # same call routes...
    # force raw by detaching
    svc._attached.pop(("increase", "counter"))
    raw = svc.increase("t", "reqs", 0, end, 1_200_000)
    assert any("points" in f for f in raw.inputFiles())
    got = {r["bucket_start"]: (r["n_pairs"], r["increase"]) for r in routed.collect()}
    exp = {r["bucket_start"]: (r["n_pairs"], r["increase"]) for r in raw.collect()}
    assert got == exp and len(got) == 5

    # misaligned end -> raw fallback even when attached
    svc.attach_increase_rollup("counter", partials_dir, slice_ms)
    fb = svc.increase("t", "reqs", 0, end - 1, 1_200_000)
    assert any("points" in f for f in fb.inputFiles())


def test_twa_rollup_matches_batch_exactly(spark):
    """Mergeable time-weighted-average partials == batch operator,
    including max_gap_ms dropping boundary holds across silent gaps."""
    import random

    from rhq_metrics_spark.operators.rate import (
        time_weighted_avg,
        twa_from_rollup,
        twa_rollup,
    )

    rng = random.Random(23)
    rows = []
    for m in ("x", "y"):
        t = 0
        for _ in range(250):
            t += rng.choice([10_000, 45_000, 250_000, 2_000_000])
            rows.append((m, t, round(rng.uniform(-10, 50), 2)))
    rows += [("x", rows[5][1], 3.14)]  # equal-ts tie
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "metric string, ts long, value double") \
        .repartition(5)

    slice_ms, bucket_ms = 600_000, 3_600_000
    for gap in (None, 300_000):
        partials = twa_rollup(df, slice_ms, max_gap_ms=gap)
        merged = twa_from_rollup(partials, bucket_ms, slice_ms, max_gap_ms=gap)
        batch = time_weighted_avg(df, bucket_ms, max_gap_ms=gap)
        got = {(r["metric"], r["bucket_start"]):
               (r["n_pairs"], r["held_ms"], r["twa"]) for r in merged.collect()}
        exp = {(r["metric"], r["bucket_start"]):
               (r["n_pairs"], r["held_ms"], r["twa"]) for r in batch.collect()}
        assert got == exp, f"gap={gap}"


def test_increase_hybrid_across_watermark(spark, tmp_path):
    """r6: increase() over a range ending past the partials' finality
    watermark merges finalized partials with on-the-fly tail
    pseudo-partials — bit-identical to the raw path, including the
    watermark-bridging pair (and a counter reset in the tail)."""
    from rhq_metrics_spark.operators.rate import increase_rollup
    from rhq_metrics_spark.service import MetricsService
    from rhq_metrics_spark.sources.store import MetricsStore

    import pyspark.sql.functions as F

    store = MetricsStore(spark, str(tmp_path / "store"), slice_ms=600_000)
    svc = MetricsService(spark, store)
    slice_ms = 600_000
    rows, v = [], 0
    for i in range(200):
        v = 2 if i % 37 == 36 else v + (i % 5)  # resets land in the tail too
        rows.append(("t", "reqs", i * 30_000, v, None))
    store.add_data_points("counter", spark.createDataFrame(
        rows, "tenant_id string, metric string, ts long, value long, "
              "tags map<string,string>"))

    wm = 3_600_000  # slices 0-5 finalized; 6-9 open
    increase_rollup(
        store.points("counter").filter(F.col("ts") < wm), slice_ms,
        group_cols=["tenant_id", "metric"],
    ).write.parquet(str(tmp_path / "inc"))
    svc.attach_increase_rollup("counter", str(tmp_path / "inc"), slice_ms)
    assert svc._attached["increase", "counter"].watermark == wm

    end = 6_000_000
    hybrid = svc.increase("t", "reqs", 0, end, 1_200_000)
    assert any("points" in f for f in hybrid.inputFiles())  # tail scan
    assert any("inc" in f for f in hybrid.inputFiles())     # partials too
    saved = svc._attached.pop(("increase", "counter"))
    raw = svc.increase("t", "reqs", 0, end, 1_200_000)
    svc._attached["increase", "counter"] = saved
    got = {r["bucket_start"]: (r["n_pairs"], r["increase"]) for r in hybrid.collect()}
    exp = {r["bucket_start"]: (r["n_pairs"], r["increase"]) for r in raw.collect()}
    assert got == exp and len(got) == 5

    # range entirely past the watermark -> raw fallback (no partials read)
    tail_only = svc.increase("t", "reqs", wm, end, 1_200_000)
    assert not any("/inc/" in f for f in tail_only.inputFiles())


def test_twa_hybrid_across_watermark(spark, tmp_path):
    """r6: time_weighted_avg across the finality watermark ==
    raw path bit-for-bit (boundary hold bridging the watermark)."""
    import random

    import pyspark.sql.functions as F

    from rhq_metrics_spark.operators.rate import twa_rollup
    from rhq_metrics_spark.service import MetricsService
    from rhq_metrics_spark.sources.store import MetricsStore

    store = MetricsStore(spark, str(tmp_path / "store"), slice_ms=600_000)
    svc = MetricsService(spark, store)
    slice_ms = 600_000
    rng = random.Random(5)
    rows = [("t", "load", i * 20_000 + rng.randrange(5_000),
             round(rng.uniform(0, 50), 2), None) for i in range(300)]
    store.add_data_points("gauge", spark.createDataFrame(
        rows, "tenant_id string, metric string, ts long, value double, "
              "tags map<string,string>"))

    wm = 3_600_000
    twa_rollup(
        store.points("gauge").filter(F.col("ts") < wm), slice_ms,
        group_cols=["tenant_id", "metric"],
    ).write.parquet(str(tmp_path / "twa"))
    svc.attach_twa_rollup("gauge", str(tmp_path / "twa"), slice_ms)

    end = 6_000_000
    hybrid = svc.time_weighted_avg("t", "load", 0, end, 1_200_000)
    assert any("points" in f for f in hybrid.inputFiles())
    saved = svc._attached.pop(("twa", "gauge"))
    raw = svc.time_weighted_avg("t", "load", 0, end, 1_200_000)
    svc._attached["twa", "gauge"] = saved
    got = {r["bucket_start"]: (r["n_pairs"], r["held_ms"], r["twa"])
           for r in hybrid.collect()}
    exp = {r["bucket_start"]: (r["n_pairs"], r["held_ms"], r["twa"])
           for r in raw.collect()}
    assert got == exp and len(got) == 5
