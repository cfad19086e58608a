"""Structured Streaming ingest (B1/B4) — file-source stream into the hot
layer via the shared batched write path, plus windowed streaming stats.
"""

import json
import time

import pyspark.sql.functions as F
import pytest

from rhq_metrics_spark.model import GAUGE_SCHEMA, TWO_HOURS_MS
from rhq_metrics_spark.sources.store import MetricsStore
from rhq_metrics_spark.streaming import start_ingest_stream
from rhq_metrics_spark.streaming.ingest import windowed_stream_stats

T0 = 1_700_000_400_000


def test_stream_ingest_to_hot_layer(spark, tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    # two micro-files; the second contains an LWW overwrite and a late row
    batch1 = [
        {"tenant_id": "t1", "metric": "m", "ts": T0, "value": 1.0},
        {"tenant_id": "t1", "metric": "m", "ts": T0 + 1000, "value": 2.0},
    ]
    late_ts = T0 - 5 * TWO_HOURS_MS  # out-of-order: lands in an old slice
    batch2 = [
        {"tenant_id": "t1", "metric": "m", "ts": T0, "value": 10.0},
        {"tenant_id": "t1", "metric": "m", "ts": late_ts, "value": 7.0},
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in batch1))

    store = MetricsStore(spark, str(tmp_path / "store"))
    stream = spark.readStream.schema(GAUGE_SCHEMA).json(str(src))
    q = start_ingest_stream(
        stream, store, "gauge", str(tmp_path / "ckpt"),
        trigger={"processingTime": "1 second"},
    )
    try:
        deadline = time.time() + 60
        while store.points("gauge").count() < 2 and time.time() < deadline:
            time.sleep(0.5)
        (src / "b2.json").write_text("\n".join(json.dumps(r) for r in batch2))
        while store.points("gauge").count() < 3 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()

    out = {r["ts"]: r["value"] for r in store.points("gauge").collect()}
    assert out[T0] == 10.0  # later micro-batch wins (LWW)
    assert out[T0 + 1000] == 2.0
    assert out[late_ts] == 7.0  # late row routed to its (old) slice, still visible
    # the late row landed in a separate date_slice partition
    assert len(store.hot_slices("gauge")) == 2


def test_windowed_stream_stats_schema(spark):
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "10").load()
        .selectExpr(
            "'t1' as tenant_id",
            "concat('m', cast(value % 2 as string)) as metric",
            "timestamp as event_time",
            "cast(value as double) as value",
        )
    )
    agg = windowed_stream_stats(stream, "1 minute", "10 seconds")
    assert set(agg.columns) == {
        "tenant_id", "metric", "window_start", "window_end",
        "min", "avg", "max", "sum", "samples",
    }
    assert agg.isStreaming


def test_streaming_distinct_adjacent_across_batches(spark, tmp_path):
    """Custom stateful operator: state carries the last value across
    micro-batches so a run spanning batches collapses correctly."""
    import pyspark.sql.functions as F

    from rhq_metrics_spark.streaming.stateful import streaming_distinct_adjacent

    src = tmp_path / "in"
    src.mkdir()
    # batch 1 ends with 'up'; batch 2 starts with 'up' (must be dropped)
    b1 = [
        {"tenant_id": "t1", "metric": "a", "ts": T0, "value": "up"},
        {"tenant_id": "t1", "metric": "a", "ts": T0 + 1000, "value": "up"},
        {"tenant_id": "t1", "metric": "a", "ts": T0 + 2000, "value": "down"},
        {"tenant_id": "t1", "metric": "a", "ts": T0 + 3000, "value": "up"},
    ]
    b2 = [
        {"tenant_id": "t1", "metric": "a", "ts": T0 + 4000, "value": "up"},
        {"tenant_id": "t1", "metric": "a", "ts": T0 + 5000, "value": "down"},
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))

    schema = "tenant_id string, metric string, ts long, value string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    out = streaming_distinct_adjacent(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 60
        while spark.sql("select * from dedup_out").count() < 3 and time.time() < deadline:
            time.sleep(0.5)
        (src / "b2.json").write_text("\n".join(json.dumps(r) for r in b2))
        while spark.sql("select * from dedup_out").count() < 4 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()

    rows = spark.sql("select * from dedup_out order by ts").collect()
    assert [(r["ts"] - T0) // 1000 for r in rows] == [0, 2, 3, 5]
    assert [r["value"] for r in rows] == ["up", "down", "up", "down"]


def test_windowed_stream_stats_end_to_end(spark, tmp_path):
    """B1 streaming semantics: file-source stream → watermarked tumbling
    windows → append sink; closed windows must match batch aggregation."""
    import pyspark.sql.functions as F

    src = tmp_path / "win_in"
    src.mkdir()
    base = 1_700_000_000
    rows1 = [
        {"tenant_id": "t1", "metric": "m", "sec": base + 10, "value": 1.0},
        {"tenant_id": "t1", "metric": "m", "sec": base + 50, "value": 3.0},
        {"tenant_id": "t1", "metric": "m", "sec": base + 70, "value": 5.0},
    ]
    # advancing watermark far beyond the first windows closes them
    rows2 = [{"tenant_id": "t1", "metric": "m", "sec": base + 10_000, "value": 9.0}]
    (src / "w1.json").write_text("\n".join(json.dumps(r) for r in rows1))

    stream = (
        spark.readStream.schema("tenant_id string, metric string, sec long, value double")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
        .withColumn("event_time", F.col("sec").cast("timestamp"))
    )
    from rhq_metrics_spark.streaming.ingest import windowed_stream_stats

    agg = windowed_stream_stats(stream, "1 minute", "10 seconds")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "win_ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 90
        # both early windows close only after the watermark (advanced by
        # the w2 file) is applied in a subsequent micro-batch
        while spark.sql("select * from win_out").count() < 2 and time.time() < deadline:
            time.sleep(0.5)
            if not (src / "w2.json").exists():
                (src / "w2.json").write_text("\n".join(json.dumps(r) for r in rows2))
    finally:
        q.stop()

    out = {
        r["window_start"].timestamp(): r
        for r in spark.sql("select * from win_out").collect()
    }
    # windows are epoch-aligned: [..980, ..040) holds base+10 only;
    # [..040, ..100) holds base+50 and base+70
    w0 = out[(base // 60) * 60]
    assert w0["samples"] == 1 and w0["sum"] == 1.0
    w1 = out[(base // 60) * 60 + 60]
    assert w1["samples"] == 2
    assert w1["sum"] == 8.0 and w1["min"] == 3.0 and w1["max"] == 5.0


def test_session_stream_stats_end_to_end(spark, tmp_path):
    """W4 streaming twin: session_window with watermark — a session
    closes (and is emitted in append mode) once the watermark passes its
    end + gap; bounds are [first_event, last_event + gap)."""
    import pyspark.sql.functions as F

    from rhq_metrics_spark.streaming.ingest import session_stream_stats

    src = tmp_path / "sess_in"
    src.mkdir()
    base = 1_700_000_000
    rows1 = [  # one session: events at +0, +5, +8 (gap 10s keeps them together)
        {"tenant_id": "t1", "metric": "m", "sec": base, "value": 1.0},
        {"tenant_id": "t1", "metric": "m", "sec": base + 5, "value": 2.0},
        {"tenant_id": "t1", "metric": "m", "sec": base + 8, "value": 3.0},
    ]
    # far-future event advances the watermark past session 1's end
    rows2 = [{"tenant_id": "t1", "metric": "m", "sec": base + 300, "value": 9.0}]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows1))

    schema = "tenant_id string, metric string, sec long, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
        .withColumn("event_time", F.timestamp_seconds("sec"))
    )
    out = session_stream_stats(stream, gap="10 seconds", watermark_delay="5 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 90
        time.sleep(3)
        (src / "b2.json").write_text("\n".join(json.dumps(r) for r in rows2))
        while spark.sql("select * from sess_out").count() < 1 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()

    rows = spark.sql("select * from sess_out").collect()
    assert len(rows) == 1
    s = rows[0]
    assert s["n_events"] == 3
    assert int(s["session_start"].timestamp()) == base
    assert int(s["session_end"].timestamp()) == base + 8 + 10


def test_rollup_stream_persists_closed_windows(spark, tmp_path):
    """Continuous aggregate: finalized windows land in the parquet
    rollup table exactly once and match batch aggregation."""
    import pyspark.sql.functions as F

    from rhq_metrics_spark.streaming.ingest import start_rollup_stream

    src = tmp_path / "roll_in"
    src.mkdir()
    base = 1_699_999_980  # aligned to a minute boundary for '1 minute' windows
    rows1 = [
        {"tenant_id": "t1", "metric": "m", "sec": base + 5, "value": 1.0},
        {"tenant_id": "t1", "metric": "m", "sec": base + 20, "value": 3.0},
    ]
    rows2 = [{"tenant_id": "t1", "metric": "m", "sec": base + 600, "value": 9.0}]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows1))

    schema = "tenant_id string, metric string, sec long, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
        .withColumn("event_time", F.timestamp_seconds("sec"))
    )
    rollup_dir = tmp_path / "rollup"
    q = start_rollup_stream(
        stream,
        str(rollup_dir),
        str(tmp_path / "roll_ckpt"),
        window_duration="1 minute",
        watermark_delay="5 seconds",
        trigger={"processingTime": "1 second"},
    )
    try:
        deadline = time.time() + 90
        time.sleep(3)
        (src / "b2.json").write_text("\n".join(json.dumps(r) for r in rows2))

        def rolled():
            try:
                return spark.read.parquet(str(rollup_dir)).count()
            except Exception:
                return 0

        while rolled() < 1 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()

    out = spark.read.parquet(str(rollup_dir)).collect()
    closed = [r for r in out if int(r["window_start"].timestamp()) == base]
    assert len(closed) == 1  # the base..base+60 window, exactly once
    r = closed[0]
    assert (r["min"], r["max"], r["sum"], r["samples"]) == (1.0, 3.0, 4.0, 2)
    assert r["avg"] == 2.0


def test_streaming_exact_dedup_across_batches(spark, tmp_path):
    """First-seen-wins content dedup across micro-batches: a duplicate
    arriving in a LATER batch is dropped; normalization matches the
    batch exact_dedup fingerprint."""
    from rhq_metrics_spark.streaming.dedup import streaming_exact_dedup

    src = tmp_path / "docs_in"
    src.mkdir()
    out_dir = tmp_path / "docs_out"
    b1 = [
        {"doc_id": 1, "text": "Hello   World"},
        {"doc_id": 2, "text": "something else"},
    ]
    b2 = [
        {"doc_id": 3, "text": "hello world"},   # dup of 1 after normalization
        {"doc_id": 4, "text": "fresh content"},
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))

    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", "1"
    ).json(str(src))
    deduped = streaming_exact_dedup(stream)
    q = (
        deduped.writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 90
        def rows():
            try:
                return spark.read.parquet(str(out_dir)).count()
            except Exception:
                return 0
        while rows() < 2 and time.time() < deadline:
            time.sleep(0.5)
        (src / "b2.json").write_text("\n".join(json.dumps(r) for r in b2))
        while rows() < 3 and time.time() < deadline:
            time.sleep(0.5)
        time.sleep(2)  # allow a further trigger: doc 3 must NOT appear
    finally:
        q.stop()

    ids = sorted(r["doc_id"] for r in spark.read.parquet(str(out_dir)).collect())
    assert ids == [1, 2, 4]


def test_streaming_dedup_watermark_bounds_state(spark):
    """The event-time form must compile to dropDuplicatesWithinWatermark
    (watermark-pruned state), not a global dedup."""
    from rhq_metrics_spark.streaming.dedup import streaming_exact_dedup

    rate = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
    docs = rate.select(
        F.col("timestamp"), F.concat(F.lit("doc "), F.col("value")).alias("text")
    )
    out = streaming_exact_dedup(docs, event_time_col="timestamp", within="10 minutes")
    assert out.isStreaming
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "DeduplicateWithinWatermark" in plan
    assert "EventTimeWatermark" in plan


def test_streaming_rate_matches_batch(spark, tmp_path):
    """Streaming rate across micro-batches must equal the batch rate()
    over the same points — including the cross-batch pair and counter
    resets (the reset is dropped but becomes the new baseline)."""
    from rhq_metrics_spark.operators import rate
    from rhq_metrics_spark.streaming.rate import streaming_rate

    src = tmp_path / "rate_in"
    src.mkdir()
    out_dir = tmp_path / "rate_out"
    T = 1_700_000_000_000
    b1 = [
        {"tenant_id": "t", "metric": "c", "ts": T, "value": 10.0},
        {"tenant_id": "t", "metric": "c", "ts": T + 30_000, "value": 40.0},
    ]
    b2 = [
        {"tenant_id": "t", "metric": "c", "ts": T + 60_000, "value": 70.0},  # cross-batch pair
        {"tenant_id": "t", "metric": "c", "ts": T + 90_000, "value": 5.0},   # reset: dropped
        {"tenant_id": "t", "metric": "c", "ts": T + 120_000, "value": 65.0}, # vs reset baseline
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))

    schema = "tenant_id string, metric string, ts long, value double"
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(str(src))
    q = (
        streaming_rate(stream, metric_type="counter")
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(tmp_path / "rate_ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 90
        def rows():
            try:
                return spark.read.parquet(str(out_dir)).count()
            except Exception:
                return 0
        while rows() < 1 and time.time() < deadline:
            time.sleep(0.5)
        (src / "b2.json").write_text("\n".join(json.dumps(r) for r in b2))
        while rows() < 3 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()

    got = {
        r["ts"]: r["rate"]
        for r in spark.read.parquet(str(out_dir)).collect()
    }
    batch_df = spark.createDataFrame(
        [tuple(r.values()) for r in b1 + b2], schema
    )
    want = {
        r["ts"]: r["rate"]
        for r in rate(batch_df, metric_type="counter").collect()
    }
    assert got == want
    assert T + 90_000 not in got          # the reset pair is dropped
    assert got[T + 120_000] == pytest.approx(60_000.0 * 60.0 / 30_000.0)


def test_hybrid_serving_against_live_rollup_sink(spark, tmp_path):
    """End-to-end r6 integration: a LIVE start_rollup_stream sink feeds
    the serving fast path while the same points sit in the store — a
    dashboard query crossing the sink's finality watermark serves
    hybrid (finalized windows from the sink's parquet + raw open tail)
    and equals the raw path; as the sink finalizes more windows,
    refresh_rollup_watermark advances the split."""
    import math

    import pyspark.sql.functions as F

    from rhq_metrics_spark.model import GAUGE_SCHEMA, Buckets
    from rhq_metrics_spark.service import MetricsService
    from rhq_metrics_spark.sources.store import MetricsStore
    from rhq_metrics_spark.streaming.ingest import start_rollup_stream

    base = 1_700_000_040  # minute-aligned seconds
    win_ms = 60_000
    # 4 one-minute windows, 3 points each
    pts = [("t1", "m", (base + w * 60 + i * 15) * 1000, float(w * 10 + i), None)
           for w in range(4) for i in range(3)]
    store = MetricsStore(spark, str(tmp_path / "store"), slice_ms=120_000)
    store.add_data_points("gauge", spark.createDataFrame(pts, GAUGE_SCHEMA))
    svc = MetricsService(spark, store)

    src = tmp_path / "in"
    src.mkdir()
    rows1 = [{"tenant_id": "t1", "metric": "m", "sec": base + w * 60 + i * 15,
              "value": float(w * 10 + i)} for w in range(2) for i in range(3)]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows1))
    stream = (
        spark.readStream.schema(
            "tenant_id string, metric string, sec long, value double")
        .option("maxFilesPerTrigger", "1").json(str(src))
        .withColumn("event_time", F.timestamp_seconds("sec"))
    )
    rollup_dir = str(tmp_path / "rollup")
    q = start_rollup_stream(
        stream, rollup_dir, str(tmp_path / "ckpt"),
        window_duration="1 minute", watermark_delay="5 seconds",
        trigger={"processingTime": "1 second"},
    )
    try:
        def rolled():
            try:
                return spark.read.parquet(rollup_dir).count()
            except Exception:
                return 0

        # push the watermark past window 0 with window-1 data
        deadline = time.time() + 90
        while rolled() < 1 and time.time() < deadline:
            time.sleep(0.5)
        assert rolled() >= 1, "sink never finalized a window"

        svc.attach_rollup("gauge", rollup_dir, win_ms)
        hi1 = svc._attached["stats", "gauge"].watermark
        assert hi1 is not None and hi1 < (base + 240) * 1000

        b = Buckets.from_step(base * 1000, (base + 240) * 1000, win_ms)
        routed = svc.gauge_stats("t1", "m", b, include_median=False)
        raw = svc.gauge_stats("t1", "m", b, include_median=False,
                              use_rollup=False)
        got = {r["start"]: r for r in routed.collect()}
        exp = {r["start"]: r for r in raw.collect()}
        assert set(got) == set(exp) and len(got) == 4
        for k in exp:
            assert got[k]["samples"] == exp[k]["samples"], k
            if exp[k]["samples"]:
                for c in ("min", "avg", "max", "sum"):
                    assert math.isclose(got[k][c], exp[k][c], rel_tol=1e-9)

        # the sink finalizes more windows -> refresh advances the split
        rows2 = [{"tenant_id": "t1", "metric": "m",
                  "sec": base + 3 * 60 + i * 15, "value": float(30 + i)}
                 for i in range(3)]
        (src / "b2.json").write_text("\n".join(json.dumps(r) for r in rows2))
        n1 = rolled()
        while rolled() <= n1 and time.time() < deadline:
            time.sleep(0.5)
        hi2 = svc.refresh_rollup_watermark("gauge")
        assert hi2 is not None and hi2 > hi1
        routed2 = svc.gauge_stats("t1", "m", b, include_median=False)
        got2 = {r["start"]: r for r in routed2.collect()}
        for k in exp:
            assert got2[k]["samples"] == exp[k]["samples"], k
    finally:
        q.stop()


def test_streaming_incremental_neardup_matches_batch_loop(spark, tmp_path):
    """The foreachBatch incremental near-dup stream == a sequential
    batch loop of dedup_against_index + index_append: two micro-batches
    where batch 2 contains a near-copy of a batch-1 unique AND a copy of
    a corpus doc; decisions and final index must match the batch twin
    exactly."""
    from rhq_metrics_spark.pipelines.dedup import (
        dedup_against_index,
        index_append,
        minhash_index,
    )
    from rhq_metrics_spark.streaming.dedup import (
        start_incremental_neardup_stream,
    )

    corpus_rows = [
        (1, "the standing corpus document about database engines today"),
        (2, "a second corpus document concerning stream processing"),
    ]
    b1 = [
        {"doc_id": 10, "text": "entirely novel first batch document body"},
        {"doc_id": 11, "text": "the standing corpus document about database engines today"},
    ]
    b2 = [
        {"doc_id": 20, "text": "entirely novel first batch document body"},  # dup of 10
        {"doc_id": 21, "text": "another brand new piece of content here"},
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    index_dir = tmp_path / "sig_index"
    minhash_index(corpus).write.parquet(str(index_dir))

    src = tmp_path / "inc_in"
    src.mkdir()
    out_dir = tmp_path / "inc_out"
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))

    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", "1"
    ).json(str(src))
    q = start_incremental_neardup_stream(
        stream, str(index_dir), str(out_dir), str(tmp_path / "inc_ckpt"),
        trigger={"processingTime": "1 second"},
    )
    try:
        deadline = time.time() + 90

        def rows():
            try:
                return spark.read.parquet(str(out_dir)).count()
            except Exception:
                return 0

        while rows() < 2 and time.time() < deadline:
            time.sleep(0.5)
        (src / "b2.json").write_text("\n".join(json.dumps(r) for r in b2))
        while rows() < 4 and time.time() < deadline:
            time.sleep(0.5)
        # decisions land BEFORE the index append inside foreachBatch —
        # wait for the final batch's _SUCCESS, or stop() races the
        # append and the final-index assertion reads half a batch
        # (the substr twin's fix, same layout)
        while (
            not (index_dir / "batch-1" / "_SUCCESS").exists()
            and time.time() < deadline
        ):
            time.sleep(0.2)
    finally:
        q.stop()

    got = {r["doc_id"]: r for r in spark.read.parquet(str(out_dir)).collect()}
    assert len(got) == 4

    # batch twin: sequential loop over the same two batches
    idx = minhash_index(corpus)
    exp = {}
    for batch in (b1, b2):
        bdf = spark.createDataFrame(
            [(r["doc_id"], r["text"]) for r in batch],
            "doc_id long, text string",
        )
        dec = dedup_against_index(bdf, idx)
        for r in dec.collect():
            exp[r["doc_id"]] = r
        idx = index_append(idx, minhash_index(bdf), dec)

    for k, e in exp.items():
        g = got[k]
        assert (g["is_new"], g["matched_id"]) == (e["is_new"], e["matched_id"]), k
        assert g["est_jaccard"] == e["est_jaccard"], k
    # 10 unique; 11 matched corpus 1; 20 matched 10 (appended by batch 1);
    # 21 unique
    assert got[10]["is_new"] and not got[11]["is_new"]
    assert got[11]["matched_id"] == 1
    assert not got[20]["is_new"] and got[20]["matched_id"] == 10
    assert got[21]["is_new"]
    # final index contents match the batch loop's
    # streamed appends live in per-batch subdirectories (idempotent
    # replay layout) — the index reader contract is a recursive read
    streamed_idx = {r["doc_id"] for r in
                    spark.read.option("recursiveFileLookup", "true")
                    .parquet(str(index_dir)).collect()}
    assert streamed_idx == {r["doc_id"] for r in idx.collect()}


def test_incremental_neardup_batch_replay_idempotent(spark, tmp_path):
    """ADVICE r8: foreachBatch is at-least-once — re-running a batch
    whose index append already landed must (a) not self-match the batch
    against its own signatures, (b) not append duplicate decision rows,
    (c) not double-grow the index."""
    from rhq_metrics_spark.pipelines.dedup import minhash_index
    from rhq_metrics_spark.streaming.dedup import process_incremental_batch

    corpus = spark.createDataFrame(
        [(1, "the standing corpus document about database engines today")],
        "doc_id long, text string",
    )
    index_dir, out_dir = str(tmp_path / "idx"), str(tmp_path / "out")
    minhash_index(corpus).write.parquet(index_dir)
    batch = spark.createDataFrame(
        [(10, "a completely novel batch document body entirely"),
         (11, "the standing corpus document about database engines today")],
        "doc_id long, text string",
    )

    process_incremental_batch(spark, batch, 0, index_dir, out_dir)

    def snapshot():
        rows = sorted(
            (r["doc_id"], r["is_new"], r["matched_id"])
            for r in spark.read.parquet(out_dir).collect()
        )
        idx = spark.read.option("recursiveFileLookup", "true").parquet(
            index_dir
        ).count()
        return rows, idx

    first_rows, first_idx = snapshot()
    assert len(first_rows) == 2
    # worst-case replay: decisions AND index append both already landed
    process_incremental_batch(spark, batch, 0, index_dir, out_dir)
    again_rows, again_idx = snapshot()
    assert again_rows == first_rows
    assert again_idx == first_idx
    # the replayed doc 10 must stay NEW (no self-match at est=1.0
    # against the signatures its first run appended)
    by_id = {r[0]: r for r in again_rows}
    assert by_id[10][1] is True and by_id[10][2] is None
    assert by_id[11][1] is False and by_id[11][2] == 1

    # a LATER batch does see batch 0's appended signatures
    b1 = spark.createDataFrame(
        [(20, "a completely novel batch document body entirely")],
        "doc_id long, text string",
    )
    process_incremental_batch(spark, b1, 1, index_dir, out_dir)
    rows, _ = snapshot()
    assert (20, False, 10) in rows


def test_incremental_neardup_stream_kmv_verify(spark, tmp_path):
    """verify='kmv' in the streaming loop: decisions carry kmv_jaccard,
    an exact copy of an indexed doc scores exactly 1.0, and the
    per-batch index directories carry _kmv so batch 1 verifies against
    batch 0's appended docs."""
    from rhq_metrics_spark.pipelines.dedup import minhash_index
    from rhq_metrics_spark.streaming.dedup import process_incremental_batch

    corpus = spark.createDataFrame(
        [(1, "the standing corpus document about database engines today")],
        "doc_id long, text string",
    )
    index_dir, out_dir = str(tmp_path / "idx"), str(tmp_path / "out")
    minhash_index(corpus, kmv_k=64).write.parquet(index_dir)

    b0 = spark.createDataFrame(
        [(10, "a completely novel batch document body entirely"),
         (11, "the standing corpus document about database engines today")],
        "doc_id long, text string",
    )
    process_incremental_batch(spark, b0, 0, index_dir, out_dir,
                              verify="kmv", kmv_k=64)
    b1 = spark.createDataFrame(
        [(20, "a completely novel batch document body entirely")],
        "doc_id long, text string",
    )
    process_incremental_batch(spark, b1, 1, index_dir, out_dir,
                              verify="kmv", kmv_k=64)
    got = {r["doc_id"]: r for r in spark.read.parquet(out_dir).collect()}
    assert got[11]["kmv_jaccard"] == 1.0 and got[11]["matched_id"] == 1
    assert got[10]["is_new"]
    assert not got[20]["is_new"] and got[20]["matched_id"] == 10
    assert got[20]["kmv_jaccard"] == 1.0


def test_streaming_decontaminate_matches_batch(spark, tmp_path):
    """Streaming span decontamination == the batch operator per batch:
    contaminated passages are scrubbed from streamed docs, clean docs
    pass through, output is _batch_id-partitioned (idempotent replay
    layout)."""
    from rhq_metrics_spark.pipelines.text import decontaminate_spans
    from rhq_metrics_spark.streaming.decontaminate import (
        start_decontaminate_stream,
    )

    passage = " ".join(f"e{i}" for i in range(10))
    eval_df = spark.createDataFrame(
        [(100, "benchmark intro " + passage + " benchmark outro")],
        "doc_id long, text string",
    )
    b1 = [{"doc_id": 1, "text": "lead tokens " + passage + " tail tokens"},
          {"doc_id": 2, "text": "clean words " + " ".join(f"c{i}" for i in range(12))}]
    src = tmp_path / "dc_in"
    src.mkdir()
    out_dir = tmp_path / "dc_out"
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))

    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    q = start_decontaminate_stream(
        stream, eval_df, str(out_dir), str(tmp_path / "dc_ckpt"),
        window=10, trigger={"processingTime": "1 second"},
    )
    try:
        deadline = time.time() + 60

        def rows():
            try:
                return spark.read.parquet(str(out_dir)).count()
            except Exception:
                return 0

        while rows() < 2 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()

    got = {r["doc_id"]: r for r in spark.read.parquet(str(out_dir)).collect()}
    exp = {r["doc_id"]: r for r in decontaminate_spans(
        spark.createDataFrame([(r["doc_id"], r["text"]) for r in b1],
                              "doc_id long, text string"),
        eval_df, window=10,
    ).collect()}
    assert got.keys() == exp.keys()
    for k in exp:
        for c in ("n_tokens", "n_removed_tokens", "clean_text"):
            assert got[k][c] == exp[k][c], (k, c)
    assert got[1]["n_removed_tokens"] == 10
    assert got[1]["clean_text"] == "lead tokens tail tokens"
    assert got[2]["n_removed_tokens"] == 0


def test_streaming_substr_matches_batch_loop(spark, tmp_path):
    """EXACTSUBSTR streaming twin == sequential batch loop of
    substring_dups_against_index + substring_index_append: batch 2
    contains a full copy of a batch-1 doc AND a span from the bootstrap
    corpus; decisions and the final merged index must match exactly."""
    from rhq_metrics_spark.pipelines.text import (
        substring_dups_against_index,
        substring_index,
        substring_index_append,
    )
    from rhq_metrics_spark.streaming.substr import (
        start_incremental_substr_stream,
    )

    W = 4
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "one two three four five six")],
        "doc_id long, text string",
    )
    b1 = [
        {"doc_id": 10, "text": "zzz alpha beta gamma delta yyy"},
        {"doc_id": 11, "text": "totally novel first batch span content"},
    ]
    b2 = [
        {"doc_id": 20, "text": "totally novel first batch span content"},
        {"doc_id": 21, "text": "fresh and unrelated second batch words"},
    ]
    index_dir = tmp_path / "ss_index"
    substring_index(corpus, window=W).write.parquet(str(index_dir))

    src = tmp_path / "ss_in"
    src.mkdir()
    out_dir = tmp_path / "ss_out"
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))

    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", "1"
    ).json(str(src))
    q = start_incremental_substr_stream(
        stream, str(index_dir), str(out_dir), str(tmp_path / "ss_ckpt"),
        window=W, trigger={"processingTime": "1 second"},
    )
    try:
        # 180 s: the 90 s budget the sibling stream tests use was
        # exhausted once when this ran inside a loaded full-suite pass
        deadline = time.time() + 180

        def rows():
            try:
                return spark.read.parquet(str(out_dir)).count()
            except Exception:
                return 0

        while rows() < 2 and time.time() < deadline:
            time.sleep(0.5)
        (src / "b2.json").write_text("\n".join(json.dumps(r) for r in b2))
        while rows() < 4 and time.time() < deadline:
            time.sleep(0.5)
        # decisions land BEFORE the batch's index partial inside the
        # same foreachBatch — wait for the final batch's _SUCCESS, or
        # stop() races the index append and the merged-index assertion
        # below reads half a batch (an at-least-once replay would
        # repair it on restart; this test has no restart)
        while (
            not (index_dir / "batch-1" / "_SUCCESS").exists()
            and time.time() < deadline
        ):
            time.sleep(0.2)
    finally:
        q.stop()

    got = {r["doc_id"]: r for r in spark.read.parquet(str(out_dir)).collect()}
    assert len(got) == 4

    idx = substring_index(corpus, window=W)
    exp = {}
    for batch in (b1, b2):
        bdf = spark.createDataFrame(
            [(r["doc_id"], r["text"]) for r in batch],
            "doc_id long, text string",
        )
        for r in substring_dups_against_index(bdf, idx, window=W).collect():
            exp[r["doc_id"]] = r
        idx = substring_index_append(idx, bdf, window=W)

    cols = ("n_windows", "n_dup_windows", "dup_bp", "max_share")
    for k, e in exp.items():
        assert tuple(got[k][c] for c in cols) == tuple(e[c] for c in cols), k
    # spans: 10 overlaps corpus; 11 novel; 20 fully dup of 11; 21 novel
    assert got[10]["n_dup_windows"] == 1 and got[10]["n_windows"] == 3
    assert got[11]["n_dup_windows"] == 0
    assert got[20]["n_dup_windows"] == got[20]["n_windows"] > 0
    assert got[21]["n_dup_windows"] == 0
    # final merged index (sum n_docs per hash across batch dirs) == the
    # batch loop's
    merged = {
        (r["h"], r["n_docs"])
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(str(index_dir))
        .groupBy("h").agg(F.sum("n_docs").alias("n_docs")).collect()
    }
    assert merged == {(r["h"], r["n_docs"]) for r in idx.collect()}


def test_substr_batch_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running a substr batch whose
    index partial already landed must not score the batch against its
    own window counts (every span would read as a dup), not append
    duplicate decisions, and not double-count the index."""
    from rhq_metrics_spark.pipelines.text import substring_index
    from rhq_metrics_spark.streaming.substr import process_substr_batch

    W = 4
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string",
    )
    index_dir, out_dir = str(tmp_path / "idx"), str(tmp_path / "out")
    substring_index(corpus, window=W).write.parquet(index_dir)
    batch = spark.createDataFrame(
        [(10, "a brand new batch document span here"),
         (11, "zzz alpha beta gamma delta yyy")],
        "doc_id long, text string",
    )

    process_substr_batch(spark, batch, 0, index_dir, out_dir, window=W)

    def snapshot():
        rows = sorted(
            (r["doc_id"], r["n_windows"], r["n_dup_windows"], r["max_share"])
            for r in spark.read.parquet(out_dir).collect()
        )
        idx_sum = (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(index_dir).agg(F.sum("n_docs")).collect()[0][0]
        )
        return rows, idx_sum

    first_rows, first_idx = snapshot()
    assert len(first_rows) == 2
    # worst-case replay: decisions AND index partial both already landed
    process_substr_batch(spark, batch, 0, index_dir, out_dir, window=W)
    again_rows, again_idx = snapshot()
    assert again_rows == first_rows
    assert again_idx == first_idx
    by_id = {r[0]: r for r in again_rows}
    assert by_id[10][2] == 0  # novel doc did NOT self-match on replay
    assert by_id[11][2] == 1  # the corpus-span overlap, counted once

    # a LATER batch sees batch 0's appended window counts
    b1 = spark.createDataFrame(
        [(20, "a brand new batch document span here")],
        "doc_id long, text string",
    )
    process_substr_batch(spark, b1, 1, index_dir, out_dir, window=W)
    got = {r["doc_id"]: r for r in spark.read.parquet(out_dir).collect()}
    assert got[20]["n_dup_windows"] == got[20]["n_windows"] > 0
    assert got[20]["max_share"] == 2


def test_streaming_fuzzy_er_matches_full_repair(spark, tmp_path):
    """Cumulative incremental fuzzy-ER output over three folded
    micro-batches == one fuzzy_blocked_pairs over everything seen, and
    a replay of the last batch converges instead of duplicating."""
    from rhq_metrics_spark.pipelines.dedup import fuzzy_blocked_pairs
    from rhq_metrics_spark.streaming.dedup import process_fuzzy_batch

    schema = "doc_id long, lang string, text string"
    batches = [
        [
            (1, "en", "alpha quick brown fox jumps over the lazy dog"),
            (2, "en", "alpha quick brown fox jumps ovre the lazy dog"),
            (3, "de", "beta ein zwei drei vier funf sechs sieben acht"),
        ],
        [
            (10, "en", "alpha quick brown fox jumps over the lazy dot"),
            (11, "de", "beta ein zwei drei vier funf sechs sieben acgt"),
        ],
        [
            (20, "en", "alpha quick brown fox jumps over the lazy dos"),
            (21, "en", "alpha nothing like the others at all zz yy xx"),
        ],
    ]
    index_dir = str(tmp_path / "fuzzy_ix")
    out_dir = str(tmp_path / "fuzzy_out")
    for i, rows in enumerate(batches):
        process_fuzzy_batch(
            spark, spark.createDataFrame(rows, schema), i,
            index_dir, out_dir, min_sim=0.6,
        )
    got = {
        tuple(sorted((r["id_new"], r["id_old"]))): (r["lev"], r["sim_r"])
        for r in spark.read.parquet(out_dir).collect()
    }
    every = spark.createDataFrame([r for b in batches for r in b], schema)
    want = {
        (r["id_a"], r["id_b"]): (r["lev"], r["sim_r"])
        for r in fuzzy_blocked_pairs(every, min_sim=0.6).collect()
    }
    assert got == want
    # at-least-once replay of the last batch: same cumulative output
    process_fuzzy_batch(
        spark, spark.createDataFrame(batches[-1], schema),
        len(batches) - 1, index_dir, out_dir, min_sim=0.6,
    )
    replayed = {
        tuple(sorted((r["id_new"], r["id_old"]))): (r["lev"], r["sim_r"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert replayed == got


def test_streaming_bm25_index_serves_exact_and_replays(spark, tmp_path):
    """r15: the streaming BM25 index loop — a corpus landing stream
    folds into per-batch index pieces (foreachBatch, the near-dup
    twin's layout); the merged serve is BIT-IDENTICAL to bm25_topk
    over the concatenated corpus; a replayed batch overwrites its own
    piece and changes nothing; consolidation folds the pieces into the
    root and the same queries keep serving exactly."""
    from rhq_metrics_spark.pipelines.retrieval import (
        bm25_against_index,
        bm25_index,
        bm25_topk,
    )
    from rhq_metrics_spark.streaming.retrieval import (
        bm25_consolidate,
        bm25_query_merged,
        process_bm25_batch,
        start_bm25_index_stream,
    )

    corpus_rows = [
        (1, "spark engine tuning guide"),
        (2, "cooking with fresh basil"),
    ]
    b1 = [
        {"doc_id": 10, "text": "spark query engine deep dive"},
        {"doc_id": 11, "text": "gardening tools and sheds"},
    ]
    b2 = [
        {"doc_id": 20, "text": "engine maintenance for spark clusters"},
        {"doc_id": 21, "text": "unrelated poetry about rivers and basil"},
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    index_dir = tmp_path / "bm25_stream_idx"
    bm25_index(corpus, str(index_dir), n_buckets=8)

    src = tmp_path / "bm25_in"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))
    (src / "b2.json").write_text("\n".join(json.dumps(r) for r in b2))
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", "1"
    ).json(str(src))
    q = start_bm25_index_stream(
        spark, stream, str(index_dir), str(tmp_path / "bm25_ckpt"),
        n_buckets=8, trigger_once=True,
    )
    assert q.awaitTermination(120)

    qdf = spark.createDataFrame(
        [(0, "spark engine"), (1, "basil rivers")],
        "query_id long, query string",
    )
    every = corpus.unionByName(
        spark.createDataFrame(
            [(r["doc_id"], r["text"]) for r in b1 + b2],
            "doc_id long, text string",
        )
    )

    def rows(df):
        return [tuple(r) for r in df.orderBy("query_id", "rank").collect()]

    direct = rows(bm25_topk(every, qdf, k=5))
    assert rows(bm25_query_merged(spark, str(index_dir), qdf, k=5)) == direct

    # at-least-once replay: re-process each batch under its own id with
    # its own content (identified from the piece's doc set) — the piece
    # overwrites itself and the served ranking cannot move
    by_first_doc = {10: b1, 20: b2}
    for bid in (0, 1):
        ids = {
            r["doc_id"]
            for r in spark.read.parquet(
                str(index_dir / f"batch-{bid}" / "postings")
            ).select("doc_id").distinct().collect()
        }
        batch = by_first_doc[min(ids)]
        assert ids == {r["doc_id"] for r in batch}
        bdf = spark.createDataFrame(
            [(r["doc_id"], r["text"]) for r in batch],
            "doc_id long, text string",
        )
        process_bm25_batch(spark, bdf, bid, str(index_dir), n_buckets=8)
    assert rows(bm25_query_merged(spark, str(index_dir), qdf, k=5)) == direct

    # maintenance consolidation (r16 protocol): the fold writes ONE
    # fold-piece + a CAS manifest commit — the root is never rewritten,
    # so a reader that resolved the piece set BEFORE the fold and reads
    # AFTER it still sees every batch exactly once (the r15
    # double-count window, closed).  The in-flight reader here is the
    # lazy DataFrame built pre-fold.
    inflight = bm25_query_merged(spark, str(index_dir), qdf, k=5)
    rep = bm25_consolidate(spark, str(index_dir))
    assert rep["folded_pieces"] == 2 and rep["n_docs"] == 6
    assert rows(inflight) == direct  # pre-fold resolution, post-fold read
    assert rows(bm25_query_merged(spark, str(index_dir), qdf, k=5)) == direct
    assert (
        rows(bm25_against_index(spark, str(index_dir), qdf, k=5)) == direct
    )
    # folded batch dirs are vacuumed once outside the manifest
    # retention window — i.e. after the NEXT fold cycle, never under an
    # in-flight reader
    assert (index_dir / "batch-0").exists()
    more = spark.createDataFrame(
        [(30, "late spark batch about engines")], "doc_id long, text string"
    )
    process_bm25_batch(spark, more, 9, str(index_dir), n_buckets=8)
    rep2 = bm25_consolidate(spark, str(index_dir))
    assert rep2["folded_pieces"] == 2  # fold-1 + batch-9
    assert sorted(rep2["vacuumed"]) == ["batch-0", "batch-1"]
    assert not (index_dir / "batch-0").exists()
    direct2 = rows(bm25_topk(every.unionByName(more), qdf, k=5))
    assert rows(bm25_query_merged(spark, str(index_dir), qdf, k=5)) == direct2
