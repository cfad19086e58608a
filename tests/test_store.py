"""Layered store: LWW dedup, partition-pruned scans, compaction, retention.

Mirrors the reference's storage semantics: CQL upserts are
last-write-wins per (metric, ts) (DataAccessImpl.java:215-221); queries
merge temp + compressed layers with dedup (MetricsServiceImpl.java:680-693);
the compression job finalizes closed 2h blocks (TempDataCompressor.java).
"""

import pytest

from rhq_metrics_spark.model import GAUGE_SCHEMA, TWO_HOURS_MS
from rhq_metrics_spark.sources.store import MetricsStore

T0 = 1_700_000_400_000  # NOT slice-aligned on purpose
SLICE0 = (T0 // TWO_HOURS_MS) * TWO_HOURS_MS


@pytest.fixture(params=["rename", "manifest"])
def store(spark, tmp_path, request):
    """Every store test runs under BOTH publish protocols — semantics
    must be identical (commit_protocol only changes visibility rules)."""
    return MetricsStore(
        spark, str(tmp_path / "store"), commit_protocol=request.param
    )


def _gauge(spark, rows):
    return spark.createDataFrame(
        [tuple(r) + (None,) * (5 - len(r)) for r in rows], GAUGE_SCHEMA
    )


def test_write_read_roundtrip(spark, store):
    store.add_data_points("gauge", _gauge(spark, [("t1", "m", T0, 1.5)]))
    out = store.points("gauge").collect()
    assert len(out) == 1 and out[0]["value"] == 1.5


def test_last_write_wins_across_batches(spark, store):
    store.add_data_points("gauge", _gauge(spark, [("t1", "m", T0, 1.0)]))
    store.add_data_points("gauge", _gauge(spark, [("t1", "m", T0, 2.0)]))
    out = store.points("gauge").collect()
    assert len(out) == 1 and out[0]["value"] == 2.0


def test_scan_prunes_and_orders(spark, store):
    rows = [("t1", "m", T0 + i * 60_000, float(i)) for i in range(10)]
    rows += [("t2", "m", T0, 99.0), ("t1", "other", T0, 98.0)]
    store.add_data_points("gauge", _gauge(spark, rows))
    out = store.find_data_points(
        "gauge", "t1", "m", T0 + 60_000, T0 + 5 * 60_000, order="desc"
    ).collect()
    assert [r["value"] for r in out] == [4.0, 3.0, 2.0, 1.0]
    limited = store.find_data_points(
        "gauge", "t1", "m", T0, T0 + 10 * 60_000, limit=3
    ).collect()
    assert [r["value"] for r in limited] == [0.0, 1.0, 2.0]


def test_multi_metric_scan(spark, store):
    store.add_data_points(
        "gauge",
        _gauge(spark, [("t1", "a", T0, 1.0), ("t1", "b", T0 + 1, 2.0), ("t1", "c", T0 + 2, 3.0)]),
    )
    out = store.find_data_points("gauge", "t1", ["a", "c"], T0, T0 + 10).collect()
    assert sorted(r["metric"] for r in out) == ["a", "c"]


def test_compaction_moves_closed_slices_and_keeps_lww(spark, store):
    late_slice_ts = SLICE0 + 3 * TWO_HOURS_MS
    store.add_data_points(
        "gauge",
        _gauge(spark, [("t1", "m", T0, 1.0), ("t1", "m", late_slice_ts, 5.0)]),
    )
    store.add_data_points("gauge", _gauge(spark, [("t1", "m", T0, 2.0)]))  # overwrite
    done = store.compact("gauge", closed_before_ms=SLICE0 + TWO_HOURS_MS)
    assert done == [SLICE0]
    assert store.hot_slices("gauge") == [late_slice_ts // TWO_HOURS_MS * TWO_HOURS_MS]
    out = {r["ts"]: r["value"] for r in store.points("gauge").collect()}
    assert out == {T0: 2.0, late_slice_ts: 5.0}
    # re-ingest into a compacted slice: hot beats cold on read and re-compaction
    store.add_data_points("gauge", _gauge(spark, [("t1", "m", T0, 3.0)]))
    out = {r["ts"]: r["value"] for r in store.points("gauge").collect()}
    assert out[T0] == 3.0
    store.compact("gauge", closed_before_ms=SLICE0 + TWO_HOURS_MS)
    out = {r["ts"]: r["value"] for r in store.points("gauge").collect()}
    assert out[T0] == 3.0


def test_retention_drops_old_slices(spark, store):
    old_ts = SLICE0 - 10 * TWO_HOURS_MS
    store.add_data_points(
        "gauge", _gauge(spark, [("t1", "m", old_ts, 1.0), ("t1", "m", T0, 2.0)])
    )
    dropped = store.apply_retention("gauge", cutoff_ms=SLICE0)
    assert len(dropped) == 1
    out = store.points("gauge").collect()
    assert len(out) == 1 and out[0]["ts"] == T0


def test_delete_tenant(spark, store):
    store.add_data_points(
        "gauge", _gauge(spark, [("t1", "m", T0, 1.0), ("t2", "m", T0, 2.0)])
    )
    store.delete_tenant("t1")
    out = store.points("gauge").collect()
    assert len(out) == 1 and out[0]["tenant_id"] == "t2"


def test_expiration_index(spark, store):
    store.add_data_points(
        "gauge",
        _gauge(spark, [("t1", "m", T0, 1.0), ("t1", "m", T0 + 999, 1.0)]),
    )
    row = store.expiration_index("gauge").collect()[0]
    assert row["last_write_ts"] == T0 + 999


def test_row_level_retention_per_series(spark, store):
    day = 86_400_000
    now = T0 + 100 * day
    rows = [
        ("t1", "keep_long", now - 50 * day, 1.0),   # 90d retention → kept
        ("t1", "keep_long", now - 95 * day, 2.0),   # older than 90d → dropped
        ("t1", "short", now - 50 * day, 3.0),       # 7d default → dropped
        ("t1", "short", now - 1 * day, 4.0),        # recent → kept
    ]
    store.add_data_points("gauge", _gauge(spark, rows))
    cutoffs = spark.createDataFrame(
        [("t1", "keep_long", now - 90 * day)],
        "tenant_id string, metric string, cutoff_ms long",
    )
    store.apply_row_retention("gauge", cutoffs, default_cutoff_ms=now - 7 * day)
    out = {(r["metric"], r["value"]) for r in store.points("gauge").collect()}
    assert out == {("keep_long", 1.0), ("short", 4.0)}


def test_lww_survives_store_reopen(spark, tmp_path):
    """ingest_seq is a wall-clock write timestamp (Cassandra client-ts
    semantics): a fresh store instance over an existing base_path — a
    process restart or a second writer — keeps winning LWW with no state
    recovered from disk."""
    path = str(tmp_path / "store")
    first = MetricsStore(spark, path)
    for v in (1.0, 2.0, 3.0):  # push the old instance's seq well along
        first.add_data_points("gauge", _gauge(spark, [("t1", "m", T0, v)]))
    reopened = MetricsStore(spark, path)
    reopened.add_data_points("gauge", _gauge(spark, [("t1", "m", T0, 42.0)]))
    out = reopened.points("gauge").collect()
    assert len(out) == 1 and out[0]["value"] == 42.0
    # and the original instance keeps working after the interleave
    first.add_data_points("gauge", _gauge(spark, [("t1", "m", T0, 43.0)]))
    assert first.points("gauge").collect()[0]["value"] == 43.0


def test_lww_across_two_concurrent_writers(spark, tmp_path):
    """Two writer instances (two processes in production) interleave
    writes to the same key; wall-clock seqs give wall-clock LWW."""
    path = str(tmp_path / "store")
    a, b = MetricsStore(spark, path), MetricsStore(spark, path)
    a.add_data_points("gauge", _gauge(spark, [("t1", "m", T0, 1.0)]))
    b.add_data_points("gauge", _gauge(spark, [("t1", "m", T0, 2.0)]))
    a.add_data_points("gauge", _gauge(spark, [("t1", "m", T0, 3.0)]))
    out = a.points("gauge").collect()
    assert len(out) == 1 and out[0]["value"] == 3.0


def test_same_batch_duplicate_key_is_deterministic(spark, store):
    """Duplicate (tenant, metric, ts) within ONE batch share a seq; the
    tie breaks by larger value — Cassandra's cell tie-break."""
    store.add_data_points(
        "gauge",
        _gauge(spark, [("t1", "m", T0, 5.0), ("t1", "m", T0, 9.0), ("t1", "m", T0, 7.0)]),
    )
    out = store.points("gauge").collect()
    assert len(out) == 1 and out[0]["value"] == 9.0


def test_negative_timestamp_slice_routing(spark, store):
    """Write-path date_slice uses floor division: pre-epoch timestamps
    land in the slice the read path computes (truncation would be off by
    one slice and pruned scans would miss the rows)."""
    store.add_data_points("gauge", _gauge(spark, [("t1", "m", -1, 1.0)]))
    out = store.find_data_points("gauge", "t1", "m", -10, 10).collect()
    assert len(out) == 1 and out[0]["ts"] == -1


def test_tenant_bucket_of_matches_stamp(spark, store):
    """Driver-side xxhash64 twin must agree with the Spark expression the
    write path stamps — otherwise pruned scans read the wrong bucket."""
    import pyspark.sql.functions as F

    tenants = ["t1", "acme-corp", "Ω-tenant", "x" * 40]
    df = spark.createDataFrame([(t,) for t in tenants], "tenant_id string").select(
        "tenant_id",
        F.pmod(F.xxhash64("tenant_id"), F.lit(store.tenant_buckets)).cast("int").alias("b"),
    )
    want = {r["tenant_id"]: r["b"] for r in df.collect()}
    for t in tenants:
        assert store._tenant_bucket_of(t) == want[t]


def test_delete_tenant_removes_tenant_row(spark, store):
    """DeleteTenant.java:53,103-104: the tenant row (and its retention
    policies) must go too, or a re-created tenant inherits stale policy."""
    from rhq_metrics_spark.service import MetricsService

    svc = MetricsService(spark, store)
    svc.create_tenant("t1", {"gauge": 30})
    svc.create_tenant("t2", {"gauge": 7})
    store.add_data_points("gauge", _gauge(spark, [("t1", "m", T0, 1.0)]))
    store.delete_tenant("t1")
    remaining = [r["id"] for r in store.tenants().collect()]
    assert remaining == ["t2"]
    assert store.points("gauge").filter("tenant_id = 't1'").count() == 0


def test_hot_read_relists_when_segment_compacted_away(spark, tmp_path, monkeypatch):
    """r14: rename-mode compaction can retire a hot segment between a
    reader's directory listing and Spark's plan-time path resolution —
    the read must re-list instead of surfacing PATH_NOT_FOUND (the
    retired rows are LWW-identical in cold).  Simulated by injecting a
    vanished segment into the first listing."""
    store = MetricsStore(spark, str(tmp_path / "store"))
    store.add_data_points("gauge", _gauge(spark, [("t1", "m", T0, 1.0)]))
    store.add_data_points("gauge", _gauge(spark, [("t1", "m", T0 + 1, 2.0)]))
    real = store._hot_segments("gauge")
    assert len(real) == 2
    ghost = tmp_path / "store" / "points" / "gauge" / "hot" / "seg-ghost"
    calls = {"n": 0}

    def fake(metric_type):
        calls["n"] += 1
        if calls["n"] == 1:
            return real + [ghost]
        return real

    monkeypatch.setattr(store, "_hot_segments", fake)
    assert store.points("gauge").count() == 2
    assert calls["n"] >= 2  # first listing raced, second served


def test_hot_sliced_read_relists_when_segment_compacted_away(
    spark, tmp_path, monkeypatch
):
    """ADVICE r14: for SLICE-FILTERED hot reads, the retired-segment
    race can surface one step earlier — inside ``_seg_meta`` (missing
    sidecar → fallback parquet scan of the vanished dir).  That
    PATH_NOT_FOUND must also trigger a re-list, not escape the retry
    loop."""
    store = MetricsStore(spark, str(tmp_path / "store"))
    store.add_data_points("gauge", _gauge(spark, [("t1", "m", T0, 1.0)]))
    store.add_data_points("gauge", _gauge(spark, [("t1", "m", T0 + 1, 2.0)]))
    real = store._hot_segments("gauge")
    assert len(real) == 2
    ghost = tmp_path / "store" / "points" / "gauge" / "hot" / "seg-ghost"
    calls = {"n": 0}

    def fake(metric_type):
        calls["n"] += 1
        if calls["n"] == 1:
            return real + [ghost]
        return real

    monkeypatch.setattr(store, "_hot_segments", fake)
    # the wide half-open range matches every slice, so the ghost's
    # sidecar is consulted during listing — before any segment read
    df = store._read_layer("gauge", "hot", slices=(0, 2**62))
    assert df.count() == 2
    assert calls["n"] >= 2  # first listing raced inside _seg_meta


def test_hot_read_raises_after_persistent_path_loss(spark, tmp_path, monkeypatch):
    """The retry is bounded: a listing that keeps returning vanished
    segments (a genuinely broken store, not a compaction race) must
    still fail loudly, not loop or silently serve nothing."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import AnalysisException

    store = MetricsStore(spark, str(tmp_path / "store"))
    store.add_data_points("gauge", _gauge(spark, [("t1", "m", T0, 1.0)]))
    real = store._hot_segments("gauge")
    ghost = tmp_path / "store" / "points" / "gauge" / "hot" / "seg-ghost"
    monkeypatch.setattr(store, "_hot_segments", lambda mt: real + [ghost])
    with _pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        store.points("gauge").count()


# -- the two L0 segment writers (Spark DataFrame / driver-side Arrow) ---------

_TWIN_BATCH1 = [
    ("t1", "m", T0, 1.0, {"dc": "us"}),
    ("t1", "m", T0 + 60_000, None),                      # null value kept
    ("t1", "m", T0 + 120_000, 5.0),                      # same-batch duplicate:
    ("t1", "m", T0 + 120_000, 9.0),                      # larger value wins
    ("t1", "n", SLICE0 + 3 * TWO_HOURS_MS + 5, 2.5),     # a later slice
    ("acme-corp", "m", T0, -3.0, {"k": "v", "q": "r"}),  # another bucket
    ("Ω-tenant", "é", -1, 0.5),                          # pre-epoch slice
]
# overrides half of batch 1's keys and adds one new key
_TWIN_BATCH2 = [
    ("t1", "m", T0, 11.0),
    ("t1", "m", T0 + 120_000, 4.0),
    ("acme-corp", "m", T0, 13.0, {"k": "w"}),
    ("t1", "m", T0 + 180_000, 7.0),
]


def _arrow_gauge(rows):
    import pyarrow as pa

    from rhq_metrics_spark.model import arrow_point_schema

    full = [tuple(r) + (None,) * (5 - len(r)) for r in rows]
    schema = arrow_point_schema("gauge")
    return pa.Table.from_arrays(
        [pa.array(list(col), f.type) for col, f in zip(zip(*full), schema)],
        schema=schema,
    )


def _point_rows(df):
    return sorted(
        (r["tenant_id"], r["metric"], r["ts"], r["value"],
         None if r["tags"] is None else sorted(r["tags"].items()))
        for r in df.collect()
    )


@pytest.mark.parametrize("protocol", ["rename", "manifest"])
def test_arrow_and_spark_segment_writers_are_twins(spark, tmp_path, protocol):
    """``add_data_points`` writes a pyarrow Table (a REST body decoded on
    the driver) with pyarrow and a DataFrame with Spark.  Both writers
    must produce segments the store cannot tell apart: the same rows,
    the same ``_slices.json`` sidecar, last-write-wins across segments
    of either writer, and the same cold rows after compaction."""
    import json

    # the DDL keeps value nullable, as parse_wire's output does
    ddl = "tenant_id string, metric string, ts long, value double, tags map<string,string>"
    writers = {
        "df": lambda rows: spark.createDataFrame(
            [tuple(r) + (None,) * (5 - len(r)) for r in rows], ddl
        ),
        "arrow": _arrow_gauge,
    }
    orders = {"spark": ("df", "df"), "arrow": ("arrow", "arrow"),
              "spark_then_arrow": ("df", "arrow"),
              "arrow_then_spark": ("arrow", "df")}
    stores = {
        name: MetricsStore(spark, str(tmp_path / name), commit_protocol=protocol)
        for name in orders
    }
    for name, (first, _) in orders.items():
        stores[name].add_data_points("gauge", writers[first](_TWIN_BATCH1))

    def sidecars(store):
        return [json.loads((seg / "_slices.json").read_text())
                for seg in store._hot_segments("gauge")]

    s, a = stores["spark"], stores["arrow"]
    assert _point_rows(a.points("gauge")) == _point_rows(s.points("gauge"))
    assert len(_point_rows(s.points("gauge"))) == 6
    scan = lambda st: st.find_data_points("gauge", "t1", "m", T0, T0 + 10**6)  # noqa: E731
    assert _point_rows(scan(a)) == _point_rows(scan(s))
    assert sidecars(a) == sidecars(s)
    (seg,) = a._hot_segments("gauge")
    assert [p.name.endswith(".parquet") for p in seg.iterdir()
            if not p.name.startswith("_")] == [True]  # one file, no _SUCCESS

    for name, (_, second) in orders.items():
        stores[name].add_data_points("gauge", writers[second](_TWIN_BATCH2))
    want = dict(((t, m, ts), v) for t, m, ts, v, *_ in _TWIN_BATCH1)
    want[("t1", "m", T0 + 120_000)] = 9.0
    want.update(((t, m, ts), v) for t, m, ts, v, *_ in _TWIN_BATCH2)
    expected = _point_rows(s.points("gauge"))
    assert {(t, m, ts): v for t, m, ts, v, _ in expected} == want
    for name, store in stores.items():
        assert _point_rows(store.points("gauge")) == expected, name

    cold_cols = ["tenant_id", "metric", "ts", "value", "date_slice", "tenant_bucket"]
    cold = {}
    for name, store in stores.items():
        assert store.compact("gauge", closed_before_ms=SLICE0 + TWO_HOURS_MS) == [
            -TWO_HOURS_MS, SLICE0
        ]
        cold[name] = sorted(
            tuple(r) for r in store._read_layer("gauge", "cold")
            .select(*cold_cols).collect()
        )
        assert _point_rows(store.points("gauge")) == expected, name
    assert len(cold["spark"]) == 6
    assert all(rows == cold["spark"] for rows in cold.values())
