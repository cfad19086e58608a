"""REST surface tests — the wire behaviors the reference's REST suite
pins (rest-tests-jaxrs ErrorsITest.groovy and the handler contracts),
exercised through the WSGI app both in-process and over a real socket.
"""

from __future__ import annotations

import io
import json
import threading
import urllib.error
import urllib.request
from wsgiref.simple_server import WSGIRequestHandler, make_server

import pytest

from rhq_metrics_spark.http import MISSING_TENANT_MSG, MetricsApp
from rhq_metrics_spark.service import MetricsService
from rhq_metrics_spark.sources.store import MetricsStore


@pytest.fixture(scope="module")
def app(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("http_store")
    svc = MetricsService(spark, MetricsStore(spark, str(base)))
    return MetricsApp(svc, base_path="/hawkular/metrics")


def call(app, method, path, body=None, tenant="t1", headers=None):
    """In-process WSGI request; returns (status_code, parsed_json|None)."""
    payload = b"" if body is None else json.dumps(body).encode()
    environ = {
        "REQUEST_METHOD": method,
        "PATH_INFO": path.split("?")[0],
        "QUERY_STRING": path.split("?", 1)[1] if "?" in path else "",
        "CONTENT_TYPE": "application/json",
        "CONTENT_LENGTH": str(len(payload)),
        "wsgi.input": io.BytesIO(payload),
    }
    if tenant is not None:
        environ["HTTP_HAWKULAR_TENANT"] = tenant
    for k, v in (headers or {}).items():
        environ["HTTP_" + k.upper().replace("-", "_")] = v
    out = {}

    def start_response(status, response_headers):
        out["status"] = int(status.split()[0])

    chunks = app(environ, start_response)
    raw = b"".join(chunks)
    return out["status"], (json.loads(raw) if raw else None)


P = "/hawkular/metrics"


def test_base_and_status_need_no_tenant(app):
    assert call(app, "GET", f"{P}/status", tenant=None) == (
        200, {"MetricsService": "STARTED"},
    )
    code, body = call(app, "GET", f"{P}/", tenant=None)
    assert code == 200 and "name" in body


def test_missing_tenant_is_400_with_reference_message(app):
    code, body = call(app, "GET", f"{P}/gauges", tenant=None)
    assert code == 400
    assert body == {"errorMsg": MISSING_TENANT_MSG}


def test_unknown_type_segment_is_404(app):
    # ErrorsITest.testNotFoundException: GET /gaugesssss/...
    code, body = call(app, "GET", f"{P}/gaugesssss/m1/raw")
    assert code == 404 and "errorMsg" in body


def test_method_not_allowed_is_405(app):
    code, body = call(app, "DELETE", f"{P}/status", tenant=None)
    assert code == 405 and "errorMsg" in body


def test_not_acceptable_is_406(app):
    code, body = call(
        app, "GET", f"{P}/gauges", headers={"Accept": "text/xml"}
    )
    assert code == 406


def test_wrong_content_type_is_415(app):
    payload = json.dumps([{"id": "m", "data": [{"timestamp": 1, "value": 1.0}]}])
    environ = {
        "REQUEST_METHOD": "POST",
        "PATH_INFO": f"{P}/gauges/raw",
        "QUERY_STRING": "",
        "CONTENT_TYPE": "application/xml",
        "CONTENT_LENGTH": str(len(payload)),
        "wsgi.input": io.BytesIO(payload.encode()),
        "HTTP_HAWKULAR_TENANT": "t1",
    }
    out = {}
    app(environ, lambda s, h: out.update(status=int(s.split()[0])))
    assert out["status"] == 415


def test_empty_payload_is_400(app):
    code, body = call(app, "POST", f"{P}/gauges/raw", body=[])
    assert (code, body) == (400, {"errorMsg": "Payload is empty"})


def test_create_metric_type_mismatch_400_and_created_201(app):
    code, body = call(
        app, "POST", f"{P}/gauges", body={"id": "g1", "type": "counter"}
    )
    assert code == 400 and "does not match" in body["errorMsg"]
    code, _ = call(
        app, "POST", f"{P}/gauges",
        body={"id": "g1", "tags": {"dc": "us"}, "dataRetention": 7},
    )
    assert code == 201
    code, body = call(app, "GET", f"{P}/gauges/g1")
    assert code == 200
    assert body == {
        "id": "g1", "type": "gauge", "tenantId": "t1",
        "tags": {"dc": "us"}, "dataRetention": 7,
    }


def test_get_unknown_metric_is_404(app):
    code, body = call(app, "GET", f"{P}/gauges/never-created")
    assert code == 404


def test_ingest_read_roundtrip_and_204_on_empty(app):
    data = [
        {"id": "m-rt", "data": [
            {"timestamp": 1000, "value": 1.5},
            {"timestamp": 2000, "value": 2.5, "tags": {"q": "a"}},
        ]},
    ]
    code, _ = call(app, "POST", f"{P}/gauges/raw", body=data)
    assert code == 200
    code, pts = call(
        app, "GET", f"{P}/gauges/m-rt/raw?start=0&end=10000&order=asc"
    )
    assert code == 200
    assert pts == [
        {"timestamp": 1000, "value": 1.5},
        {"timestamp": 2000, "value": 2.5, "tags": {"q": "a"}},
    ]
    # no data in range -> 204 (ApiUtils.collectionToResponse)
    code, body = call(
        app, "GET", f"{P}/gauges/m-rt/raw?start=50000&end=60000"
    )
    assert (code, body) == (204, None)


def test_single_metric_post_and_desc_limit(app):
    pts = [{"timestamp": t, "value": float(t)} for t in (1, 2, 3)]
    code, _ = call(app, "POST", f"{P}/gauges/m-one/raw", body=pts)
    assert code == 200
    code, got = call(
        app, "GET", f"{P}/gauges/m-one/raw?start=0&end=10&limit=2&order=desc"
    )
    assert code == 200
    assert [p["timestamp"] for p in got] == [3, 2]


def test_malformed_ingest_payload_is_400(app):
    code, body = call(app, "POST", f"{P}/gauges/raw", body=[{"noid": True}])
    assert code == 400 and "Invalid metric payload" in body["errorMsg"]


def test_string_over_max_size_is_400(app):
    # F7 size guard (MetricsServiceImpl.java:330-334) through REST
    body = [{"id": "s-big", "data": [{"timestamp": 1, "value": "x" * 2049}]}]
    code, out = call(app, "POST", f"{P}/strings/raw", body=body)
    assert code == 400
    assert out == {
        "errorMsg": "string metric value exceeds max size 2048: metric='s-big'"
    }
    assert call(app, "GET", f"{P}/strings/s-big/raw?start=0&end=10")[0] == 204
    body[0]["data"][0]["value"] = "x" * 2048
    assert call(app, "POST", f"{P}/strings/raw", body=body)[0] == 200


TS = 1_700_000_000_000


def _pt(ts, value, **kw):
    return {"timestamp": ts, "value": value, **kw}


def _payload_error(reason, record):
    return {"errorMsg": f"Invalid metric payload ({reason}): {json.dumps(record)}"}


# (path segment, metric type, per-id route metric id, body, response) —
# response None marks a canonical body that must decode on the driver
_INGEST_PARITY = [
    pytest.param("gauges", "gauge", None,
                 [{"id": "a", "data": [_pt(TS, 1.5), _pt(TS + 1, 2.5)]}],
                 None, id="default_tenant"),
    pytest.param("gauges", "gauge", None,
                 [{"id": "a", "tenantId": "t2", "dataRetention": 7, "extra": 1,
                   "data": [_pt(TS, 1.5, extra=2)]},
                  {"id": "a", "data": [_pt(TS, 3.5)]}],
                 None, id="explicit_tenant_and_unknown_fields"),
    pytest.param("gauges", "gauge", None,
                 [{"id": "a", "tags": {"dc": "us"},
                   "data": [_pt(TS, 1.0), _pt(TS + 1, 2.0, tags={"dc": "eu"}),
                            _pt(TS + 2, 3.0, tags={})]}],
                 None, id="metric_vs_point_tags"),
    pytest.param("gauges", "gauge", None,
                 [{"id": "a", "data": [_pt(None, 1.0), {"value": 2.0},
                                       _pt(TS, 3.0)]}],
                 None, id="null_timestamp_dropped"),
    pytest.param("gauges", "gauge", None,
                 [{"id": "a", "data": [_pt(TS, None), {"timestamp": TS + 1}]}],
                 None, id="null_value_kept"),
    pytest.param("gauges", "gauge", None,
                 [{"id": "a", "data": [_pt(TS, 3), _pt(TS + 1, -2**53)]}],
                 None, id="int_gauge_value"),
    pytest.param("gauges", "gauge", "g1", [_pt(TS, 1.0), _pt(TS + 1, 2.0)],
                 None, id="per_id_route"),
    pytest.param("counters", "counter", None,
                 [{"id": "c", "data": [_pt(TS, 5), _pt(TS + 1, 2**62)]}],
                 None, id="counter"),
    pytest.param("availability", "availability", None,
                 [{"id": "av", "data": [_pt(TS, "up"), _pt(TS + 1, "down")]}],
                 None, id="availability"),
    pytest.param("strings", "string", None,
                 [{"id": "s", "data": [_pt(TS, "hello"), _pt(TS + 1, "Ω")]}],
                 None, id="string"),
    # non-canonical: the Spark parse answers, as it always has
    pytest.param("gauges", "gauge", None, [{"id": 5, "data": [_pt(TS, 1.0)]}],
                 (200, None), id="numeric_id"),
    pytest.param("gauges", "gauge", None,
                 [{"id": "g", "tags": {"k": 1}, "data": [_pt(TS, 1.0)]}],
                 (200, None), id="non_string_tag"),
    pytest.param("gauges", "gauge", None, [{"id": "g", "data": [_pt(TS, "1.5")]}],
                 (400, _payload_error("malformed_json",
                                      {"id": "g", "data": [_pt(TS, "1.5")]})),
                 id="string_gauge_value"),
    pytest.param("gauges", "gauge", None, [{"id": "g", "data": [_pt(1.5, 1.0)]}],
                 (400, _payload_error("malformed_json",
                                      {"id": "g", "data": [_pt(1.5, 1.0)]})),
                 id="float_timestamp"),
    pytest.param("gauges", "gauge", None, [{"id": "g", "data": [_pt(TS, True)]}],
                 (400, _payload_error("malformed_json",
                                      {"id": "g", "data": [_pt(TS, True)]})),
                 id="bool_value"),
    pytest.param("counters", "counter", None, [{"id": "c", "data": [_pt(TS, 1.5)]}],
                 (400, _payload_error("malformed_json",
                                      {"id": "c", "data": [_pt(TS, 1.5)]})),
                 id="float_counter_value"),
    pytest.param("gauges", "gauge", None, [{"data": [_pt(TS, 1.0)]}],
                 (400, _payload_error("missing_id", {"data": [_pt(TS, 1.0)]})),
                 id="missing_id"),
    pytest.param("gauges", "gauge", None, [{"id": "g"}],
                 (400, _payload_error("missing_data", {"id": "g"})),
                 id="missing_data"),
    pytest.param("gauges", "gauge", None, [{"id": "g", "data": []}, 7],
                 (400, _payload_error("malformed_json", 7)),
                 id="non_object_record"),
]


@pytest.mark.parametrize("seg,metric_type,metric_id,body,response", _INGEST_PARITY)
def test_ingest_decode_matches_parse_wire(
    spark, tmp_path, seg, metric_type, metric_id, body, response
):
    """A canonical POST body is decoded on the driver and stored with no
    Spark job; it must store exactly the rows ``parse_wire`` yields.  Any
    other body takes ``parse_wire`` itself, so its response (status and
    ``errorMsg``) and stored rows stay what the Spark parse makes of it."""
    from rhq_metrics_spark.localrel import local_df
    from rhq_metrics_spark.sources.wire import decode_wire_body, parse_wire

    svc = MetricsService(spark, MetricsStore(spark, str(tmp_path)))
    path = f"{P}/{seg}/{metric_id}/raw" if metric_id else f"{P}/{seg}/raw"
    records = [{"id": metric_id, "data": body}] if metric_id else body
    decoded = decode_wire_body(records, metric_type, default_tenant="t1")
    assert (decoded is not None) == (response is None)
    code, out = call(MetricsApp(svc, base_path=P), "POST", path, body=body)
    assert (code, out) == (response or (200, None))
    if code != 200:
        assert not svc.store._hot_segments(metric_type)
        return

    def rows(df):
        return sorted(
            (r["tenant_id"], r["metric"], r["ts"], r["value"],
             None if r["tags"] is None else sorted(r["tags"].items()))
            for r in df.collect()
        )

    lines = local_df(spark, [(json.dumps(m),) for m in records], "value string")
    want, _ = parse_wire(lines, metric_type, default_tenant="t1")
    assert rows(svc.store.points(metric_type)) == rows(want)


def test_stats_param_validation_and_results(app):
    data = [{"id": "m-st", "data": [
        {"timestamp": t, "value": float(v)}
        for t, v in ((0, 1), (500, 3), (1500, 5))
    ]}]
    assert call(app, "POST", f"{P}/gauges/raw", body=data)[0] == 200

    # buckets XOR bucketDuration (BucketConfig.java:36-72)
    code, body = call(
        app, "GET",
        f"{P}/gauges/m-st/stats?start=0&end=2000&buckets=2&bucketDuration=1s",
    )
    assert code == 400
    code, body = call(app, "GET", f"{P}/gauges/m-st/stats?start=0&end=2000")
    assert code == 400
    # unparseable count (ErrorsITest.testNumberFormatException)
    code, body = call(
        app, "GET", f"{P}/gauges/m-st/stats?start=0&end=2000&buckets=x"
    )
    assert code == 400
    # inverted range
    code, body = call(
        app, "GET", f"{P}/gauges/m-st/stats?start=2000&end=0&buckets=2"
    )
    assert code == 400

    code, got = call(
        app, "GET", f"{P}/gauges/m-st/stats?start=0&end=2000&buckets=2"
    )
    assert code == 200 and len(got) == 2
    b0, b1 = got
    assert (b0["start"], b0["end"], b0["empty"]) == (0, 1000, False)
    assert b0["min"] == 1.0 and b0["max"] == 3.0 and b0["samples"] == 2
    assert b1["avg"] == 5.0
    # fromEarliest + explicit range is 400 (GaugeHandler.java:~450)
    code, _ = call(
        app, "GET",
        f"{P}/gauges/m-st/stats?fromEarliest=true&start=0&buckets=2",
    )
    assert code == 400


def test_tags_crud_and_tag_value_query(app):
    assert call(
        app, "POST", f"{P}/counters", body={"id": "c1", "tags": {"env": "prod"}}
    )[0] == 201
    assert call(
        app, "PUT", f"{P}/counters/c1/tags", body={"team": "infra"}
    )[0] == 200
    code, tags = call(app, "GET", f"{P}/counters/c1/tags")
    assert code == 200 and tags == {"env": "prod", "team": "infra"}
    code, vals = call(app, "GET", f"{P}/metrics/tags/env:*")
    assert code == 200 and vals == {"env": ["prod"]}
    assert call(app, "DELETE", f"{P}/counters/c1/tags/team")[0] == 200
    code, tags = call(app, "GET", f"{P}/counters/c1/tags")
    assert tags == {"env": "prod"}


def test_metric_listing_and_cross_type_query(app):
    code, defs = call(app, "GET", f"{P}/metrics?type=counter")
    assert code == 200 and any(d["id"] == "c1" for d in defs)
    code, _ = call(app, "GET", f"{P}/metrics?type=nope")
    assert code == 400
    code, defs = call(app, "GET", f"{P}/gauges?tags=dc=us")
    assert code == 200 and [d["id"] for d in defs] == ["g1"]


def test_tenants_endpoints(app):
    assert call(
        app, "POST", f"{P}/tenants", tenant=None,
        body={"id": "t-new", "retentions": {"gauge": 14}},
    )[0] == 201
    code, tenants = call(app, "GET", f"{P}/tenants", tenant=None)
    assert code == 200 and {"id": "t-new"} in tenants


def test_rate_and_periods(app):
    # counters carry integer values on the wire (LongType; a float here
    # is a 400, which test_malformed_ingest_payload_is_400 covers)
    data = [{"id": "m-rate", "data": [
        {"timestamp": 0, "value": 0},
        {"timestamp": 60_000, "value": 60},
        {"timestamp": 120_000, "value": 180},
    ]}]
    assert call(app, "POST", f"{P}/counters/raw", body=data)[0] == 200
    code, pts = call(
        app, "GET", f"{P}/counters/m-rate/rate?start=0&end=200000"
    )
    assert code == 200
    # per-minute rate stamped at the later point (W1)
    assert [p["value"] for p in pts] == [60.0, 120.0]

    gdata = [{"id": "m-per", "data": [
        {"timestamp": t * 1000, "value": v}
        for t, v in ((0, 1.0), (1, 9.0), (2, 9.0), (3, 1.0))
    ]}]
    assert call(app, "POST", f"{P}/gauges/raw", body=gdata)[0] == 200
    code, per = call(
        app, "GET",
        f"{P}/gauges/m-per/periods?op=gt&threshold=5&start=0&end=10000",
    )
    assert code == 200 and per == [[1000, 2000]]
    code, _ = call(app, "GET", f"{P}/gauges/m-per/periods?start=0&end=1")
    assert code == 400


def test_delete_metric(app):
    assert call(app, "POST", f"{P}/gauges", body={"id": "g-del"})[0] == 201
    assert call(app, "DELETE", f"{P}/gauges/g-del")[0] == 200
    assert call(app, "GET", f"{P}/gauges/g-del")[0] == 404


class _Quiet(WSGIRequestHandler):
    def log_message(self, *args):  # keep pytest output clean
        pass


def test_real_http_server_end_to_end(app):
    """The same app over an actual socket: urllib client, real headers,
    real status lines — the full transport path."""
    srv = make_server("127.0.0.1", 0, app, handler_class=_Quiet)
    port = srv.server_port
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{port}{P}"
        with urllib.request.urlopen(f"{base}/status") as r:
            assert r.status == 200
            assert json.load(r) == {"MetricsService": "STARTED"}

        body = json.dumps(
            [{"id": "m-http", "data": [{"timestamp": 7, "value": 7.0}]}]
        ).encode()
        req = urllib.request.Request(
            f"{base}/gauges/raw", data=body, method="POST",
            headers={"Content-Type": "application/json",
                     "Hawkular-Tenant": "t-http"},
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 200

        req = urllib.request.Request(
            f"{base}/gauges/m-http/raw?start=0&end=100",
            headers={"Hawkular-Tenant": "t-http"},
        )
        with urllib.request.urlopen(req) as r:
            assert json.load(r) == [{"timestamp": 7, "value": 7.0}]

        # tenant isolation over the wire: other tenant sees no data (204)
        req = urllib.request.Request(
            f"{base}/gauges/m-http/raw?start=0&end=100",
            headers={"Hawkular-Tenant": "someone-else"},
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 204

        with pytest.raises(urllib.error.HTTPError) as err:
            urllib.request.urlopen(f"{base}/gauges")  # no tenant header
        assert err.value.code == 400
        assert json.load(err.value) == {"errorMsg": MISSING_TENANT_MSG}
    finally:
        srv.shutdown()
        t.join(timeout=5)


def test_stats_routed_through_rollup_reads_no_raw_points(spark, tmp_path_factory):
    """VERDICT r4 item 8: the REST stats handler serves single-metric,
    no-percentile gauge stats from an attached rollup — plan-asserted
    zero raw-point file reads — and falls back to the raw path when the
    request can't be routed."""
    import pyspark.sql.functions as F

    base = tmp_path_factory.mktemp("http_rollup_store")
    store = MetricsStore(spark, str(base / "store"))
    svc = MetricsService(spark, store)
    app2 = MetricsApp(svc, base_path="/hawkular/metrics")

    win = 60_000
    rows = [("t1", "cpu", w * win + i * 10_000, float(w * 10 + i), None)
            for w in range(10) for i in range(3)]
    store.add_data_points("gauge", spark.createDataFrame(
        rows, "tenant_id string, metric string, ts long, value double, "
              "tags map<string,string>"))

    rollup_dir = str(base / "rollup")
    (
        store.points("gauge")
        .groupBy("tenant_id", "metric",
                 F.window(F.timestamp_millis(F.col("ts")), "60 seconds").alias("win"))
        .agg(F.min("value").alias("min"), F.avg("value").alias("avg"),
             F.max("value").alias("max"), F.sum("value").alias("sum"),
             F.count("value").alias("samples"))
        .select("tenant_id", "metric",
                F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "min", "avg", "max", "sum", "samples")
        .write.parquet(rollup_dir)
    )
    svc.attach_rollup("gauge", rollup_dir, win)

    raw_calls = []
    orig_numeric = svc.numeric_stats
    svc.numeric_stats = lambda *a, **k: (raw_calls.append(a), orig_numeric(*a, **k))[1]
    routed_frames = []
    orig_routed = svc.try_routed_stats
    svc.try_routed_stats = lambda *a, **k: (
        routed_frames.append(orig_routed(*a, **k)), routed_frames[-1])[1]

    # aligned request inside the finalized range -> routed
    code, got = call(
        app2, "GET",
        f"{P}/gauges/cpu/stats?start=0&end={8 * win}&bucketDuration=120s",
    )
    assert code == 200 and len(got) == 4
    assert raw_calls == []
    assert routed_frames and routed_frames[-1] is not None
    files = routed_frames[-1].inputFiles()
    assert files and all("rollup" in f for f in files), files
    assert not any("points" in f for f in files), files
    # values match the raw path exactly on the mergeable columns
    b0 = got[0]
    assert b0["samples"] == 6 and b0["min"] == 0.0 and b0["max"] == 12.0
    # shape stability: median stays in the field set but is null on the
    # routed path (rank statistics don't merge across windows)
    assert "median" in b0 and b0["median"] is None

    # explicit percentileImpl=exact opts out of routing (median from raw)
    code, ex = call(
        app2, "GET",
        f"{P}/gauges/cpu/stats?start=0&end={8 * win}&bucketDuration=120s"
        f"&percentileImpl=exact",
    )
    assert code == 200 and isinstance(ex[0]["median"], float)
    assert len(raw_calls) == 1  # raw numeric_stats path, rollup bypassed

    # percentiles can't be served from the rollup -> raw fallback
    code, _ = call(
        app2, "GET",
        f"{P}/gauges/cpu/stats?start=0&end={8 * win}&bucketDuration=120s"
        f"&percentiles=90",
    )
    assert code == 200 and len(raw_calls) == 2

    # misaligned bucket duration -> raw fallback
    code, _ = call(
        app2, "GET",
        f"{P}/gauges/cpu/stats?start=0&end={8 * win}&bucketDuration=90s",
    )
    assert code == 200 and len(raw_calls) == 3


def test_stats_percentile_impl_param(spark, tmp_path_factory):
    """Extension param percentileImpl: p2/approx/hist select the
    percentile engine on gauge stats; invalid values are 400; hist with
    attached partials serves rank columns from them."""
    import pyspark.sql.functions as F

    base = tmp_path_factory.mktemp("http_pct_store")
    store = MetricsStore(spark, str(base / "store"))
    svc = MetricsService(spark, store)
    app2 = MetricsApp(svc, base_path="/hawkular/metrics")
    win = 60_000
    rows = [("t1", "cpu", w * win + i * 2_000, float((w * 7 + i * 4) % 120), None)
            for w in range(4) for i in range(30)]
    store.add_data_points("gauge", spark.createDataFrame(
        rows, "tenant_id string, metric string, ts long, value double, "
              "tags map<string,string>"))

    code, _ = call(
        app2, "GET",
        f"{P}/gauges/cpu/stats?start=0&end={4 * win}&bucketDuration=60s"
        f"&percentiles=90&percentileImpl=bogus",
    )
    assert code == 400

    code, exact = call(
        app2, "GET",
        f"{P}/gauges/cpu/stats?start=0&end={4 * win}&bucketDuration=60s"
        f"&percentiles=90",
    )
    assert code == 200 and "p90" in exact[0]

    code, p2 = call(
        app2, "GET",
        f"{P}/gauges/cpu/stats?start=0&end={4 * win}&bucketDuration=60s"
        f"&percentiles=90&percentileImpl=p2",
    )
    assert code == 200 and "p90" in p2[0]

    hist_dir = str(base / "hists")
    svc.build_histogram_rollup("gauge", win, 0.0, 120.0, 60).write.parquet(hist_dir)
    svc.attach_histogram_rollup("gauge", hist_dir, win, 0.0, 120.0, 60)
    code, hist = call(
        app2, "GET",
        f"{P}/gauges/cpu/stats?start=0&end={4 * win}&bucketDuration=60s"
        f"&percentiles=90&percentileImpl=hist",
    )
    assert code == 200
    for e, h in zip(exact, hist):
        assert abs(h["p90"] - e["p90"]) <= 2.0 + 1e-9  # one bin width


# -- multi-metric query surface (round 6) ----------------------------------


@pytest.fixture(scope="module")
def mm_app(spark, tmp_path_factory):
    """Store with two tagged gauges, a counter, and an availability
    series — the fixture for the multi-metric endpoints."""
    base = tmp_path_factory.mktemp("http_mm_store")
    svc = MetricsService(spark, MetricsStore(spark, str(base)))
    app = MetricsApp(svc, base_path="/hawkular/metrics")
    win = 60_000
    for m in ("m1", "m2"):
        call(app, "POST", f"{P}/gauges",
             {"id": m, "tags": {"dc": "east", "kind": "load"}})
        pts = [{"timestamp": i * win // 2, "value": float(i + (m == "m2"))}
               for i in range(8)]
        assert call(app, "POST", f"{P}/gauges/{m}/raw", pts)[0] == 200
    call(app, "POST", f"{P}/gauges",
         {"id": "m3", "tags": {"dc": "west"}})
    assert call(app, "POST", f"{P}/counters/c1/raw",
                [{"timestamp": i * win // 2, "value": i * 10}
                 for i in range(8)])[0] == 200
    assert call(app, "POST", f"{P}/availability/a1/raw",
                [{"timestamp": i * win // 2,
                  "value": "up" if i % 3 else "down"} for i in range(8)])[0] == 200
    # tagged points for /stats/tags/{tags}
    assert call(app, "POST", f"{P}/gauges/mt/raw",
                [{"timestamp": i * 1000, "value": float(i),
                  "tags": {"host": "a" if i % 2 else "b"}}
                 for i in range(6)])[0] == 200
    return app


def test_cross_type_stats_query(mm_app):
    # MetricHandler.java:305-319 — metrics-mode across types
    code, body = call(mm_app, "POST", f"{P}/metrics/stats/query", {
        "metrics": {"gauge": ["m1", "m2"], "counter": ["c1"],
                    "availability": ["a1"]},
        "start": 0, "end": 240_000, "buckets": 2,
    })
    assert code == 200
    assert set(body) == {"gauge", "counter", "availability"}
    assert set(body["gauge"]) == {"m1", "m2"}
    assert len(body["gauge"]["m1"]) == 2
    b0 = body["gauge"]["m1"][0]
    assert b0["start"] == 0 and b0["end"] == 120_000 and not b0["empty"]
    # 4 points (ts 0,30k,60k,90k) values 0..3 -> avg 1.5
    assert b0["avg"] == 1.5 and b0["samples"] == 4
    assert "uptimeRatio" in body["availability"]["a1"][0]


def test_cross_type_stats_query_rate_types(mm_app):
    code, body = call(mm_app, "POST", f"{P}/metrics/stats/query", {
        "metrics": {"gauge": ["m1"], "counter": ["c1"]},
        "types": ["gauge", "gauge_rate", "counter_rate"],
        "start": 0, "end": 240_000, "buckets": 1,
    })
    assert code == 200
    assert set(body) == {"gauge", "gauge_rate", "counter_rate"}
    # counter rises 10/30s -> 20/minute
    assert abs(body["counter_rate"]["c1"][0]["avg"] - 20.0) < 1e-9


def test_cross_type_stats_query_tags_mode(mm_app):
    code, body = call(mm_app, "POST", f"{P}/metrics/stats/query", {
        "tags": "dc:east", "start": 0, "end": 240_000, "buckets": 1,
    })
    assert code == 200
    assert set(body["gauge"]) == {"m1", "m2"}


def test_cross_type_stats_query_param_errors(mm_app):
    code, body = call(mm_app, "POST", f"{P}/metrics/stats/query",
                      {"start": 0, "end": 1, "buckets": 1})
    assert code == 400
    assert "metrics or the tags property" in body["errorMsg"]
    code, body = call(mm_app, "POST", f"{P}/metrics/stats/query",
                      {"metrics": {"gauge": ["m1"]}})
    assert code == 400
    assert "buckets or bucketDuration property" in body["errorMsg"]


def test_cross_type_stats_batch_query(mm_app):
    code, body = call(mm_app, "POST", f"{P}/metrics/stats/batch/query", {
        "q1": {"metrics": {"gauge": ["m1"]}, "start": 0, "end": 240_000,
               "buckets": 1},
        "q2": {"metrics": {"counter": ["c1"]}, "start": 0, "end": 240_000,
               "buckets": 1},
    })
    assert code == 200 and set(body) == {"q1", "q2"}
    assert "m1" in body["q1"]["gauge"] and "c1" in body["q2"]["counter"]


def test_multi_metric_stats_get(mm_app):
    # GET /gauges/stats — pooled by default, stacked opt-in
    q = f"start=0&end=240000&buckets=1&metrics=m1&metrics=m2"
    code, pooled = call(mm_app, "GET", f"{P}/gauges/stats?{q}")
    assert code == 200 and len(pooled) == 1
    # pooled: all 16 points of both metrics together
    assert pooled[0]["samples"] == 16
    code, stacked = call(mm_app, "GET", f"{P}/gauges/stats?{q}&stacked=true")
    assert code == 200
    # stacked avg = sum of the two series' avgs (3.5 + 4.5)
    assert abs(stacked[0]["avg"] - (pooled[0]["avg"] * 2)) < 1e-9
    # tag resolution + comma form
    code, via_tags = call(
        mm_app, "GET", f"{P}/gauges/stats?start=0&end=240000&buckets=1"
        f"&tags=dc:east")
    assert code == 200 and via_tags[0]["samples"] == 16
    # errors: neither / both
    code, body = call(mm_app, "GET",
                      f"{P}/gauges/stats?start=0&end=240000&buckets=1")
    assert code == 400 and "metrics or tags" in body["errorMsg"]
    code, body = call(mm_app, "GET",
                      f"{P}/gauges/stats?start=0&end=240000&buckets=1"
                      f"&metrics=m1&tags=dc:east")
    assert code == 400 and "Cannot use both" in body["errorMsg"]


def test_multi_metric_stats_post(mm_app):
    code, got = call(mm_app, "POST", f"{P}/gauges/stats/query", {
        "metrics": ["m1", "m2"], "start": 0, "end": 240_000,
        "buckets": 1, "stacked": True, "percentiles": "90",
    })
    assert code == 200 and len(got) == 1
    # stacked samples = contributing-metric count (SumNumericBucket
    # PointCollector), and percentiles are summed across the stack
    assert "p90" in got[0] and got[0]["samples"] == 2
    assert got[0]["avg"] == 8.0


def test_raw_query_multi_metric(mm_app):
    code, groups = call(mm_app, "POST", f"{P}/gauges/raw/query", {
        "ids": ["m1", "m2"], "start": 0, "end": 240_000,
    })
    assert code == 200
    by_id = {g["id"]: g["data"] for g in groups}
    assert set(by_id) == {"m1", "m2"} and len(by_id["m1"]) == 8
    assert by_id["m1"][0] == {"timestamp": 0, "value": 0.0}
    # limit defaults the order to desc (TimeAndSortParams)
    code, lim = call(mm_app, "POST", f"{P}/gauges/raw/query", {
        "ids": ["m1"], "start": 0, "end": 240_000, "limit": 3,
    })
    assert code == 200
    stamps = [p["timestamp"] for p in lim[0]["data"]]
    assert stamps == sorted(stamps, reverse=True) and len(stamps) == 3
    # tags-mode + error contract
    code, via_tags = call(mm_app, "POST", f"{P}/gauges/raw/query",
                          {"tags": "dc:east", "start": 0, "end": 240_000})
    assert code == 200 and {g["id"] for g in via_tags} == {"m1", "m2"}
    code, body = call(mm_app, "POST", f"{P}/gauges/raw/query",
                      {"start": 0, "end": 240_000})
    assert code == 400 and "metrics or tags" in body["errorMsg"]
    # counter + availability typed variants ride the same route
    code, cg = call(mm_app, "POST", f"{P}/counters/raw/query",
                    {"ids": ["c1"], "start": 0, "end": 240_000})
    assert code == 200 and cg[0]["data"][0]["value"] == 0
    code, ag = call(mm_app, "POST", f"{P}/availability/raw/query",
                    {"ids": ["a1"], "start": 0, "end": 240_000})
    assert code == 200 and ag[0]["data"][0]["value"] in ("up", "down")


def test_rate_query_multi_metric(mm_app):
    code, groups = call(mm_app, "POST", f"{P}/counters/rate/query", {
        "ids": ["c1"], "start": 0, "end": 240_000,
    })
    assert code == 200
    assert abs(groups[0]["data"][0]["value"] - 20.0) < 1e-9
    code, _ = call(mm_app, "POST", f"{P}/availability/rate/query",
                   {"ids": ["a1"], "start": 0, "end": 240_000})
    assert code == 400


def test_tags_raw_endpoint(mm_app):
    code, groups = call(mm_app, "GET",
                        f"{P}/gauges/tags/dc:east/raw?start=0&end=240000")
    assert code == 200 and {g["id"] for g in groups} == {"m1", "m2"}
    # no matches -> 204
    code, body = call(mm_app, "GET",
                      f"{P}/gauges/tags/dc:nowhere/raw?start=0&end=240000")
    assert code == 204 and body is None


def test_tagged_bucket_stats_endpoint(mm_app):
    code, body = call(mm_app, "GET",
                      f"{P}/gauges/mt/stats/tags/host:*?start=0&end=10000")
    assert code == 200
    assert set(body) == {"host:a", "host:b"}
    a = body["host:a"]
    assert a["tags"] == {"host": "a"} and a["samples"] == 3
    # values 1,3,5 -> avg 3
    assert a["avg"] == 3.0
    code, body = call(mm_app, "GET",
                      f"{P}/gauges/mt/stats/tags/host:zzz?start=0&end=10000")
    assert code == 204


def test_multi_metric_rate_stats_get(mm_app):
    # GET /counters/rate/stats (CounterHandler.getRateStats) and the
    # deprecated /rate alias: counter rises 10 per 30s -> 20/min
    for path in ("rate/stats", "rate"):
        code, body = call(
            mm_app, "GET",
            f"{P}/counters/{path}?start=0&end=240000&buckets=1&metrics=c1")
        assert code == 200 and len(body) == 1, (path, code)
        assert abs(body[0]["avg"] - 20.0) < 1e-9
    code, body = call(mm_app, "GET",
                      f"{P}/counters/rate/stats?start=0&end=240000&buckets=1")
    assert code == 400 and "metrics or tags" in body["errorMsg"]


def test_typed_tag_values_query(mm_app):
    code, body = call(mm_app, "GET", f"{P}/gauges/tags/dc:*")
    assert code == 200 and sorted(body["dc"]) == ["east", "west"]
    # counter defs carry no dc tag -> 204
    code, body = call(mm_app, "GET", f"{P}/counters/tags/dc:*")
    assert code == 204


def test_delete_tenant_endpoint(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("http_del_tenant")
    svc = MetricsService(spark, MetricsStore(spark, str(base)))
    app = MetricsApp(svc, base_path=P)
    call(app, "POST", f"{P}/tenants", {"id": "doomed"}, tenant=None)
    assert call(app, "POST", f"{P}/gauges/g/raw",
                [{"timestamp": 1, "value": 1.0}], tenant="doomed")[0] == 200
    code, _ = call(app, "DELETE", f"{P}/tenants/doomed", tenant=None)
    assert code == 200
    code, body = call(app, "GET", f"{P}/gauges/g/raw?start=0&end=10",
                      tenant="doomed")
    assert code == 204
    # wrong method on the id resource
    assert call(app, "GET", f"{P}/tenants/doomed", tenant=None)[0] == 405


def test_ping_and_admin_status(app):
    code, body = call(app, "GET", f"{P}/ping", tenant=None)
    assert code == 200 and "value" in body
    code, body = call(app, "GET", f"{P}/admin/status", tenant=None)
    assert code == 200 and body["MetricsService"] == "STARTED"


def test_multi_stats_from_earliest(mm_app):
    # fromEarliest resolves the range from retention (8h default window
    # replaced by retention-derived start); start/end are rejected with it
    code, body = call(
        mm_app, "GET",
        f"{P}/gauges/stats?metrics=m1&buckets=1&fromEarliest=true&start=0")
    assert code == 400 and "fromEarliest" in body["errorMsg"]
    # the epoch-0 fixture points are outside now-7d..now, so the single
    # retention-window bucket is empty and the reference's skipWhile
    # drops it -> 204 (leading empty buckets vanish under fromEarliest)
    code, body = call(
        mm_app, "GET",
        f"{P}/gauges/stats?metrics=m1&buckets=1&fromEarliest=true")
    assert code == 204 and body is None


def test_metrics_listing_with_timestamps(mm_app):
    # ?timestamps=true enriches definitions with data min/max
    code, defs = call(mm_app, "GET", f"{P}/metrics?timestamps=true")
    assert code == 200
    by_id = {d["id"]: d for d in defs}
    assert by_id["m1"]["minTimestamp"] == 0
    assert by_id["m1"]["maxTimestamp"] == 210_000
    # typed listing too
    code, defs = call(mm_app, "GET", f"{P}/gauges?timestamps=true")
    assert code == 200 and any("minTimestamp" in d for d in defs)
    # a definition with no data carries no timestamp fields
    assert "minTimestamp" not in by_id.get("m3", {})
    code, defs = call(mm_app, "GET", f"{P}/metrics")
    assert code == 200 and "minTimestamp" not in defs[0]


# -- CORS (CorsRequestFilter/CorsResponseFilter, CORSITest.groovy) ----------


def call_h(app, method, path, tenant="t1", headers=None):
    """Like call() but also returns the response headers as a dict."""
    environ = {
        "REQUEST_METHOD": method,
        "PATH_INFO": path.split("?")[0],
        "QUERY_STRING": path.split("?", 1)[1] if "?" in path else "",
        "CONTENT_TYPE": "application/json",
        "CONTENT_LENGTH": "0",
        "wsgi.input": io.BytesIO(b""),
    }
    if tenant is not None:
        environ["HTTP_HAWKULAR_TENANT"] = tenant
    for k, v in (headers or {}).items():
        environ["HTTP_" + k.upper().replace("-", "_")] = v
    out = {}

    def start_response(status, response_headers):
        out["status"] = int(status.split()[0])
        out["headers"] = dict(response_headers)

    raw = b"".join(app(environ, start_response))
    return out["status"], (json.loads(raw) if raw else None), out["headers"]


ORIGIN = "http://test.hawkular.org"


@pytest.fixture(scope="module")
def cors_app(spark, tmp_path_factory):
    from rhq_metrics_spark.http import MetricsApp

    base = tmp_path_factory.mktemp("cors_store")
    svc = MetricsService(spark, MetricsStore(spark, str(base)))
    # rest-tests-jaxrs pom.xml:216-217 run configuration
    return MetricsApp(
        svc, base_path="/hawkular/metrics",
        allowed_cors_origins=(
            "http://test.hawkular.org,https://secure.hawkular.io"
        ),
        extra_cors_allow_headers="random-header1,random-header2",
    )


def test_cors_preflight_allowed_origin(cors_app):
    # CORSITest.testOptionsWithOrigin: 200, empty body, full header set,
    # never reaches the router (no tenant header needed).
    code, body, h = call_h(
        cors_app, "OPTIONS", f"{P}/ping", tenant=None,
        headers={
            "Origin": ORIGIN,
            "Access-Control-Request-Method": "POST",
            # ignored by the server, per the reference test
            "Access-Control-Allow-Headers": "test-header",
        })
    assert (code, body) == (200, None)
    assert h["Access-Control-Allow-Origin"] == ORIGIN
    assert h["Access-Control-Allow-Credentials"] == "true"
    assert h["Access-Control-Allow-Methods"] == (
        "GET, POST, PUT, DELETE, OPTIONS, HEAD")
    assert h["Access-Control-Max-Age"] == str(72 * 60 * 60)
    assert h["Access-Control-Allow-Headers"] == (
        "origin,accept,content-type,hawkular-tenant,"
        "random-header1,random-header2")


def test_cors_preflight_bad_origin(cors_app):
    # CORSITest.testOptionsWithBadOrigin: literal "*" origin and a
    # scheme mismatch both die as bare 400s before routing.
    for bad in ("*", "https://test.hawkular.org"):
        code, body, h = call_h(
            cors_app, "OPTIONS", f"{P}/gauges/test/raw", tenant=None,
            headers={"Origin": bad,
                     "Access-Control-Request-Method": "GET"})
        assert (code, body) == (400, None)
        assert "Access-Control-Allow-Origin" not in h


def test_cors_subdomain_origin(cors_app):
    # CORSITest.testOptionsWithSubdomainOrigin
    sub = "http://tester.test.hawkular.org"
    code, body, h = call_h(
        cors_app, "OPTIONS", f"{P}/gauges/test/raw", tenant=None,
        headers={"Origin": sub, "Access-Control-Request-Method": "GET"})
    assert (code, body) == (200, None)
    assert h["Access-Control-Allow-Origin"] == sub


def test_cors_headers_on_normal_response(cors_app):
    # CorsResponseFilter decorates non-preflight responses too
    code, body, h = call_h(cors_app, "GET", f"{P}/status", tenant=None,
                           headers={"Origin": ORIGIN})
    assert code == 200 and body == {"MetricsService": "STARTED"}
    assert h["Access-Control-Allow-Origin"] == ORIGIN
    # ...and a disallowed origin 400s even a normal GET
    code, body, h = call_h(cors_app, "GET", f"{P}/status", tenant=None,
                           headers={"Origin": "http://evil.example.com"})
    assert (code, body) == (400, None)


def test_cors_absent_origin_and_default_config(cors_app, app):
    # No Origin header → no CORS headers (filter inert)
    code, _, h = call_h(cors_app, "GET", f"{P}/status", tenant=None)
    assert code == 200
    assert not any(k.startswith("Access-Control") for k in h)
    # Default config is "*": any syntactically-valid origin is echoed
    code, _, h = call_h(app, "GET", f"{P}/status", tenant=None,
                        headers={"Origin": "http://anything.example"})
    assert code == 200
    assert h["Access-Control-Allow-Origin"] == "http://anything.example"


def test_cache_control_filter(spark, tmp_path_factory):
    # CacheControlFilter: configured value + Vary on every response
    from rhq_metrics_spark.http import MetricsApp

    base = tmp_path_factory.mktemp("cc_store")
    svc = MetricsService(spark, MetricsStore(spark, str(base)))
    app = MetricsApp(svc, cache_control="no-cache")
    code, _, h = call_h(app, "GET", "/hawkular/metrics/status", tenant=None)
    assert code == 200
    assert h["Cache-Control"] == "no-cache"
    assert h["Vary"] == "Origin,Accept-Encoding"


def test_cross_type_stats_query_percentile_impl(mm_app):
    """r8 extension: percentileImpl=hist on the cross-type dashboard
    query — with no rollups attached it falls back to exact (identical
    body); an unknown impl is a 400."""
    req = {
        "metrics": {"gauge": ["m1"]},
        "start": 0, "end": 240_000, "buckets": 2, "percentiles": "90",
    }
    code, exact = call(mm_app, "POST", f"{P}/metrics/stats/query", req)
    assert code == 200
    code, hist = call(mm_app, "POST", f"{P}/metrics/stats/query",
                      {**req, "percentileImpl": "hist"})
    assert code == 200
    assert hist == exact
    assert "percentile90th" in exact["gauge"]["m1"][0] or \
        any("90" in k for k in exact["gauge"]["m1"][0])
    code, body = call(mm_app, "POST", f"{P}/metrics/stats/query",
                      {**req, "percentileImpl": "nope"})
    assert code == 400
    assert "percentileImpl" in body["errorMsg"]


# -- analytics views: anomalies / burn / forecast (round 11) ------------------


def test_anomalies_endpoint_ranks_series(mm_app):
    code, body = call(
        mm_app, "GET",
        f"{P}/gauges/anomalies?start=0&end=240000"
        "&windowN=4&minN=2&threshold=1.0&topK=5",
    )
    assert code == 200
    assert 1 <= len(body) <= 5
    metrics = [r["metric"] for r in body]
    assert set(metrics) <= {"m1", "m2", "m3", "mt"}
    assert [r["rank"] for r in body] == list(range(1, len(body) + 1))
    for r in body:
        assert set(r) == {"metric", "rank", "samples", "flagged", "maxAbsZ"}
        assert r["samples"] > 0 and r["maxAbsZ"] >= 0.0
    # method + param validation
    assert call(mm_app, "POST", f"{P}/gauges/anomalies", [])[0] == 405
    code, err = call(
        mm_app, "GET", f"{P}/gauges/anomalies?start=0&end=1&threshold=abc"
    )
    assert code == 400 and "threshold" in err["errorMsg"]


def test_burn_endpoint_availability_only(mm_app):
    code, body = call(
        mm_app, "GET",
        f"{P}/availability/a1/burn?start=0&end=240000&buckets=4"
        "&sloPpm=900000&fastN=1&slowN=2",
    )
    assert code == 200 and len(body) == 4
    assert [r["start"] for r in body] == sorted(r["start"] for r in body)
    for r in body:
        assert set(r) == {
            "start", "end", "burnFast", "burnSlow", "downFastMs",
            "obsFastMs", "downSlowMs", "obsSlowMs", "alert",
        }
        assert isinstance(r["alert"], bool)
    # the fixture has down slices (i % 3 == 0) — some budget burns
    assert any(r["downFastMs"] > 0 for r in body)
    # burn is an availability view: gauges get the periods-style 404
    assert call(mm_app, "GET",
                f"{P}/gauges/m1/burn?start=0&end=240000&buckets=4")[0] == 404
    # slo_ppm validation surfaces as the facade 400
    code, err = call(
        mm_app, "GET",
        f"{P}/availability/a1/burn?start=0&end=240000&buckets=4"
        "&sloPpm=1000000",
    )
    assert code == 400 and "slo_ppm" in err["errorMsg"]


def test_forecast_endpoint_history_route(mm_app):
    q = ("start=240000&end=480000&periodMs=240000&bins=4"
         "&historyStart=0&historyEnd=240000")
    code, body = call(mm_app, "GET", f"{P}/gauges/m1/forecast?{q}")
    assert code == 200 and len(body) == 4  # one per bin-grid ts
    assert [r["timestamp"] for r in body] == [240000, 300000, 360000, 420000]
    for r in body:
        assert set(r) == {
            "timestamp", "bin", "samples", "baseline", "sd", "lo", "hi",
        }
        assert r["lo"] <= r["baseline"] <= r["hi"]
        assert r["samples"] > 0  # every bin saw history points
    # no attached partials and no history window -> facade 400
    code, err = call(
        mm_app, "GET",
        f"{P}/gauges/m1/forecast?start=240000&end=480000&periodMs=240000"
        "&bins=4",
    )
    assert code == 400 and "history" in err["errorMsg"]
    # half a history window -> 400
    code, err = call(
        mm_app, "GET",
        f"{P}/gauges/m1/forecast?start=240000&end=480000&historyStart=0",
    )
    assert code == 400 and "historyStart" in err["errorMsg"]
    # availability has no forecast
    assert call(
        mm_app, "GET",
        f"{P}/availability/a1/forecast?start=0&end=1&historyStart=0"
        "&historyEnd=1",
    )[0] == 400


def test_forecast_endpoint_serves_from_attached_partials(spark, tmp_path_factory):
    """The HTTP forecast rides the zero-raw-read serving path when
    seasonal partials are attached (same routing as the facade test)."""
    import pyspark.sql.functions as F  # noqa: F401

    from rhq_metrics_spark.operators.anomaly import (
        _seasonal_binned,
        seasonal_profile,
    )

    base = tmp_path_factory.mktemp("http_fc_store")
    store = MetricsStore(spark, str(base / "store"))
    svc = MetricsService(spark, store)
    app = MetricsApp(svc, base_path="/hawkular/metrics")
    pts = [{"timestamp": d * 240_000 + b * 60_000, "value": float(b * 10)}
           for d in range(3) for b in range(4)]
    assert call(app, "POST", f"{P}/gauges/g/raw", pts)[0] == 200
    prof = seasonal_profile(
        _seasonal_binned(
            store.points("gauge").select("tenant_id", "metric", "ts", "value"),
            "ts", "value", 240_000, 4, 100,
        ),
        ["tenant_id", "metric"],
    )
    prof.write.parquet(str(base / "prof"))
    svc.attach_seasonal_profile(str(base / "prof"),
                                period_ms=240_000, n_bins=4)
    code, body = call(
        app, "GET",
        f"{P}/gauges/g/forecast?start=720000&end=960000&periodMs=240000"
        "&bins=4",
    )
    assert code == 200 and len(body) == 4
    assert all(r["samples"] == 3 for r in body)
    assert [round(r["baseline"]) for r in body] == [0, 10, 20, 30]


# -- product-analytics views: funnel / cohorts (round 12) ---------------------


DAY = 86_400_000


@pytest.fixture(scope="module")
def pa_app(spark, tmp_path_factory):
    """Store with product events: metric = step name, value = user id
    (the default identity convention), plus a tag-identified series."""
    base = tmp_path_factory.mktemp("http_pa_store")
    svc = MetricsService(spark, MetricsStore(spark, str(base)))
    app = MetricsApp(svc, base_path="/hawkular/metrics")
    W = 10 * DAY
    ev = [
        (1, "view", 1 * DAY), (1, "click", 2 * DAY), (1, "purchase", 3 * DAY),
        (2, "view", 1 * DAY), (2, "purchase", 2 * DAY),
        (3, "click", 1 * DAY), (3, "view", 2 * DAY), (3, "click", 5 * DAY),
        (3, "purchase", 6 * DAY),
        (4, "view", 1 * DAY), (4, "click", 2 * DAY),
        (4, "purchase", 1 * DAY + W + 1),  # outside the 10-day window
        (5, "click", 1 * DAY), (5, "purchase", 2 * DAY),  # never views
    ]
    by_step: dict = {}
    for u, step, ts in ev:
        # point identity is (tenant, metric, ts) — LWW would collapse
        # same-step same-ms events from different users (documented in
        # service._user_events), so de-collide by the user id
        by_step.setdefault(step, []).append(
            {"timestamp": ts + u, "value": float(u)}
        )
    for step, pts in by_step.items():
        assert call(app, "POST", f"{P}/gauges/{step}/raw", pts)[0] == 200
    # tag-identified twin: value is a payload, tags carry the user
    assert call(app, "POST", f"{P}/gauges/signup/raw",
                [{"timestamp": 1 * DAY, "value": 0.0,
                  "tags": {"user": "7"}},
                 {"timestamp": 2 * DAY, "value": 0.0,
                  "tags": {"user": "8"}}])[0] == 200
    return app


def test_funnel_endpoint_with_window(pa_app):
    q = (f"start=0&end={20 * DAY}&steps=view,click,purchase"
         f"&windowMs={10 * DAY}")
    code, body = call(pa_app, "GET", f"{P}/gauges/funnel?{q}")
    assert code == 200
    assert body == [
        {"stepIdx": 1, "step": "view", "users": 4,
         "conversionPpm": 1_000_000},
        {"stepIdx": 2, "step": "click", "users": 3,
         "conversionPpm": 750_000},
        {"stepIdx": 3, "step": "purchase", "users": 2,
         "conversionPpm": 500_000},
    ]


def test_funnel_endpoint_window_param_widens(pa_app):
    """Without windowMs user 4's late purchase counts — the param is
    live, not decorative."""
    q = f"start=0&end={20 * DAY}&steps=view,click,purchase"
    code, body = call(pa_app, "GET", f"{P}/gauges/funnel?{q}")
    assert code == 200
    assert body[2]["users"] == 3 and body[2]["conversionPpm"] == 750_000


def test_funnel_endpoint_validation(pa_app):
    # steps is required
    code, err = call(pa_app, "GET",
                     f"{P}/gauges/funnel?start=0&end={20 * DAY}")
    assert code == 400 and "steps" in err["errorMsg"]
    # GET only, like the sibling analytics views
    assert call(pa_app, "POST", f"{P}/gauges/funnel", [])[0] == 405
    # windowMs must be an int
    code, err = call(
        pa_app, "GET",
        f"{P}/gauges/funnel?start=0&end=1&steps=a,b&windowMs=soon")
    assert code == 400 and "windowMs" in err["errorMsg"]


def test_funnel_endpoint_user_tag(pa_app):
    """?userTag switches identity to the tag key: the signup series
    has two tag-identified users and zero value-identified ones."""
    q = f"start=0&end={20 * DAY}&steps=signup&userTag=user"
    code, body = call(pa_app, "GET", f"{P}/gauges/funnel?{q}")
    assert code == 200
    assert body == [{"stepIdx": 1, "step": "signup", "users": 2,
                     "conversionPpm": 1_000_000}]


def test_cohorts_endpoint_period_param(pa_app):
    """Weekly periods: everyone lands in cohort 0; only user 4's late
    purchase reaches offset 1.  A different periodMs reshapes the
    matrix — the param is live."""
    q = (f"start=0&end={20 * DAY}&periodMs={7 * DAY}"
         "&metrics=view,click,purchase")
    code, body = call(pa_app, "GET", f"{P}/gauges/cohorts?{q}")
    assert code == 200
    got = {(r["cohortPeriod"], r["periodK"]):
           (r["activeUsers"], r["cohortSize"], r["retentionPpm"])
           for r in body}
    assert got[(0, 0)] == (5, 5, 1_000_000)
    assert got[(0, 1)] == (1, 5, 200_000)
    assert set(got) == {(0, 0), (0, 1)}
    # 2-day periods: day-5/6 activity lands at deeper offsets
    q2 = (f"start=0&end={20 * DAY}&periodMs={2 * DAY}"
          "&metrics=view,click,purchase")
    code, body2 = call(pa_app, "GET", f"{P}/gauges/cohorts?{q2}")
    assert code == 200
    ks = {r["periodK"] for r in body2}
    assert ks >= {0, 1, 2}
    # metrics restriction is live: purchase-only cohorts exclude user 4
    # at offset 1?  (u4's purchase at 11d IS offset 1 of its own first
    # purchase at 11d -> k=0) — distinct matrix from the full set
    q3 = f"start=0&end={20 * DAY}&periodMs={7 * DAY}&metrics=purchase"
    code, body3 = call(pa_app, "GET", f"{P}/gauges/cohorts?{q3}")
    assert code == 200
    got3 = {(r["cohortPeriod"], r["periodK"]): r["activeUsers"]
            for r in body3}
    assert got3[(0, 0)] == 4 and got3[(1, 0)] == 1  # u4 cohorts at week 1


def test_cohorts_endpoint_validation(pa_app):
    assert call(pa_app, "POST", f"{P}/gauges/cohorts", [])[0] == 405
    code, err = call(
        pa_app, "GET", f"{P}/gauges/cohorts?start=0&end=1&periodMs=0")
    assert code == 400 and "periodMs" in err["errorMsg"]
    code, err = call(
        pa_app, "GET", f"{P}/gauges/cohorts?start=0&end=1&periodMs=abc")
    assert code == 400 and "periodMs" in err["errorMsg"]


def test_transitions_endpoint(pa_app):
    """W17 over HTTP: the full transition matrix for the product-event
    store, including the tag-identified signup pair collapsing to the
    default value-identity user 0."""
    code, body = call(
        pa_app, "GET", f"{P}/gauges/transitions?start=0&end={20 * DAY}"
    )
    assert code == 200
    got = {(r["fromType"], r["toType"]): r for r in body}
    assert got[("view", "click")]["transitions"] == 3
    assert got[("view", "purchase")]["transitions"] == 1
    assert got[("view", "click")]["fromTotal"] == 4
    assert got[("view", "click")]["probPpm"] == 750_000
    assert got[("click", "purchase")]["transitions"] == 4
    assert got[("click", "view")]["transitions"] == 1
    assert got[("click", "purchase")]["probPpm"] == 800_000
    # the two signup points carry value 0.0 -> both land on user 0
    assert got[("signup", "signup")]["transitions"] == 1
    # rows come sorted by (fromType, toType)
    keys = [(r["fromType"], r["toType"]) for r in body]
    assert keys == sorted(keys)


def test_transitions_endpoint_user_tag_and_methods(pa_app):
    # tag identity: two single-event users -> no transitions -> 204
    code, body = call(
        pa_app, "GET",
        f"{P}/gauges/transitions?start=0&end={20 * DAY}&userTag=user",
    )
    assert code == 204
    # GET only, like the sibling analytics views
    assert call(pa_app, "POST", f"{P}/gauges/transitions", [])[0] == 405


def test_active_users_endpoint(pa_app):
    """W18 over HTTP: exact DAU + trailing-7 counts on the product
    store, full period spine including zero days."""
    code, body = call(
        pa_app, "GET",
        f"{P}/gauges/active?start=0&end={20 * DAY}&windows=1,7",
    )
    assert code == 200
    got = {(r["period"], r["windowPeriods"]): r["activeUsers"] for r in body}
    # span = day 1 .. day 11, two windows
    assert len(body) == 11 * 2
    assert got[(1, 1)] == 6 and got[(2, 1)] == 6
    assert got[(4, 1)] == 0          # zero day present on the spine
    assert got[(3, 1)] == 1
    assert got[(8, 7)] == 6          # everyone active within 7 days
    assert got[(9, 7)] == 2          # u1 (day 3) + u3 (days 5, 6)
    assert got[(10, 7)] == 1 and got[(11, 7)] == 2
    # bad windows -> 400; GET only
    assert call(pa_app, "GET",
                f"{P}/gauges/active?start=0&end={DAY}&windows=0")[0] == 400
    assert call(pa_app, "POST", f"{P}/gauges/active", [])[0] == 405


def test_paths_endpoint(pa_app):
    """W19 over HTTP: default length-3 mining and the length-2
    degeneration to the transition multiset."""
    code, body = call(
        pa_app, "GET", f"{P}/gauges/paths?start=0&end={20 * DAY}"
    )
    assert code == 200
    assert body[0]["path"] == "view>click>purchase"
    assert body[0]["occurrences"] == 3 and body[0]["users"] == 3
    assert body[0]["rank"] == 1
    code, body2 = call(
        pa_app, "GET", f"{P}/gauges/paths?start=0&end={20 * DAY}&length=2"
    )
    got = {r["path"]: r["occurrences"] for r in body2}
    assert got["click>purchase"] == 4 and got["view>click"] == 3
    assert call(pa_app, "GET",
                f"{P}/gauges/paths?start=0&end={DAY}&length=1")[0] == 400
    assert call(pa_app, "POST", f"{P}/gauges/paths", [])[0] == 405


def test_attribution_endpoint(pa_app):
    """W20 over HTTP: last-touch credit with and without a lookback;
    value sums report 0 under the value-identity convention."""
    q = (f"start=0&end={20 * DAY}&conversion=purchase"
         f"&touches=view,click")
    code, body = call(pa_app, "GET", f"{P}/gauges/attribution?{q}")
    assert code == 200
    got = {r["touchType"]: r for r in body}
    assert got["click"]["conversions"] == 4 and got["click"]["users"] == 4
    assert got["view"]["conversions"] == 1
    assert "(none)" not in got
    assert all(r["valueMicro"] == 0 for r in body)
    # a 2-day lookback pushes u4's stale click credit to (none)
    code, body2 = call(
        pa_app, "GET",
        f"{P}/gauges/attribution?{q}&lookbackMs={2 * DAY}",
    )
    got2 = {r["touchType"]: r["conversions"] for r in body2}
    assert got2 == {"click": 3, "view": 1, "(none)": 1}
    # missing params -> 400; conversion inside touches -> 400; GET only
    assert call(pa_app, "GET",
                f"{P}/gauges/attribution?start=0&end={DAY}")[0] == 400
    assert call(
        pa_app, "GET",
        f"{P}/gauges/attribution?start=0&end={DAY}"
        "&conversion=a&touches=a,b",
    )[0] == 400
    assert call(pa_app, "POST", f"{P}/gauges/attribution", [])[0] == 405
