"""WSGI REST surface over :class:`~rhq_metrics_spark.service.MetricsService`
— the reference's JAX-RS API layer (api/metrics-api-jaxrs), stdlib-only.

One class, :class:`MetricsApp`, is a WSGI callable: test it in-process
(no socket) or serve it with ``wsgiref.simple_server`` via
:func:`serve` — or any production WSGI server.  The handlers are thin:
parse request → facade call → JSON adapter; every behavior the
reference's REST tests pin flows through the already-tested pieces
(``errors.py`` contract, ``service.stats_params`` validation,
``sources/wire.py`` payload parsing, ``service.*_json`` adapters).

Endpoint parity (reference handler file:line):

- ``GET  /``                      BaseHandler.java:51 (no tenant required)
- ``GET  /status``                StatusHandler.java:44 (no tenant)
- ``GET|POST /tenants``           TenantsHandler (no tenant header)
- ``GET  /metrics?type=&tags=``   MetricHandler.java:122 cross-type query
- ``GET  /metrics/tags/{tags}``   MetricHandler.java:171 tag-value query
- ``POST /{type}s``               GaugeHandler.java:101 create (201 +
  Location; 400 on type mismatch, GaugeHandler.java:124)
- ``GET  /{type}s``               GaugeHandler.java:132 list definitions
- ``GET|DELETE /{type}s/{id}``    GaugeHandler.java:176,192
- ``GET|PUT /{type}s/{id}/tags``  GaugeHandler.java:223,240
- ``DELETE /{type}s/{id}/tags/{keys}``  GaugeHandler.java:256
- ``POST /{type}s/raw``           GaugeHandler.java:307 multi-metric ingest
- ``POST /{type}s/{id}/raw``      GaugeHandler.java:274 single-metric ingest
- ``GET  /{type}s/{id}/raw``      raw read (?start&end&limit&order)
- ``GET  /{type}s/{id}/stats``    GaugeHandler.java:~500 bucketed stats
  (?start&end&buckets|bucketDuration&percentiles&fromEarliest);
  availability gets AvailabilityBucketPoint output
- ``GET  /gauges/{id}/periods``   GaugeHandler.java:710 (?op&threshold)
- ``GET  /{type}s/{id}/rate``     GaugeHandler.java:775
- ``GET  /{type}s/{id}/rate/stats``  GaugeHandler.java:807

Analytics views over the same conventions (round 11; engine-only —
the reference has no analogue, so the param/JSON shapes mirror the
stats handlers above):

- ``GET  /{type}s/anomalies``     W14 fleet triage (?start&end&windowN
  &minN&threshold&topK&valueScale) → ranked series
- ``GET  /availability/{id}/burn``  A16 SLO burn-rate (?start&end&
  buckets|bucketDuration&sloPpm&fastN&slowN&burnThreshold) — rides the
  attached availability rollup when the range is finalized
- ``GET  /{type}s/{id}/forecast``  W13 seasonal forecast bands
  (?start&end&periodMs&bins&k&valueScale&historyStart&historyEnd) —
  zero raw reads with attached seasonal partials

Product-analytics views (round 12, same conventions):

- ``GET  /{type}s/funnel``        W15 ordered-funnel conversion
  (?start&end&steps=a,b,c&windowMs&userTag) → per-step users +
  floor-ppm conversion vs step 1
- ``GET  /{type}s/transitions``   W17 event-transition matrix
  (?start&end&userTag) → (fromType, toType, transitions,
  fromTotal, probPpm)
- ``GET  /{type}s/active``        W18 rolling active users (r13)
  (?start&end&periodMs&windows=1,7,30&userTag) → (period,
  windowPeriods, activeUsers)
- ``GET  /{type}s/paths``         W19 frequent event paths (r13)
  (?start&end&length&k&userTag) → (path, occurrences, users, rank)
- ``GET  /{type}s/attribution``   W20 last-touch attribution (r13)
  (?start&end&conversion&touches=a,b&lookbackMs&userTag) →
  (touchType, conversions, users, valueMicro)
- ``GET  /{type}s/cohorts``       W16 cohort retention matrix
  (?start&end&periodMs&metrics=a,b&userTag) → (cohortPeriod, periodK,
  activeUsers, cohortSize, retentionPpm)

Multi-metric query surface (round 6):

- ``POST /metrics/stats/query``   MetricHandler.java:305-319 cross-type
  stats fan-out (body: StatsQueryRequest — metrics map or tags, types
  selects gauge/counter/availability/gauge_rate/counter_rate)
- ``POST /metrics/stats/batch/query``  MetricHandler.java:321-338
- ``GET  /{type}s/stats``         GaugeHandler.java:572 pooled/stacked
  stats over ?metrics=…(repeatable)|?tags=…
- ``POST /{type}s/stats/query``   GaugeHandler.java:619 same, body form
- ``POST /{type}s/raw/query``     GaugeHandler.java:324 multi-metric raw
  read → ``[{id, data: [...]}]`` (NamedDataPointObserver shape)
- ``POST /{type}s/rate/query``    GaugeHandler.java:353
- ``GET  /{type}s/tags/{tags}/raw``  GaugeHandler.java:891
- ``GET  /{type}s/{id}/stats/tags/{tags}``  GaugeHandler.java:653 →
  map keyed ``k:v,k2:v2`` (TaggedBucketPointTransformer.java:65-71)
- ``GET  /{type}s/rate/stats`` (+ deprecated ``/rate`` alias)
  CounterHandler.getRateStats — multi-metric rate bucket stats
- ``GET  /{type}s/tags/{tags}``   CounterHandler.getTags — typed
  tag-value query
- ``DELETE /tenants/{id}``        TenantsHandler.java:128-137

Wire conventions carried over exactly:

- tenant comes from the ``Hawkular-Tenant`` header; missing →  400 with
  the reference's message (TenantFilter.java:43-51; /tenants, /status
  and the base path are exempt, TenantFilter.filter)
- empty result collections → 204 No Content (ApiUtils.java:38-40)
- empty POST payload → 400 "Payload is empty" (ApiUtils.java:69-71)
- errors are ``{"errorMsg": ...}`` with the ApiError status
  (model/ApiError.java:32-41) — 405 wrong method, 415 wrong
  Content-Type, 406 unacceptable Accept, 404 unknown type segment
- CORS (filter/CorsRequestFilter.java + CorsResponseFilter.java,
  pinned by CORSITest.groovy): preflight OPTIONS with an allowed
  Origin → bare 200 before routing; disallowed Origin → bare 400;
  every response to an Origin-bearing request echoes
  ``Access-Control-Allow-Origin`` + credentials/methods/max-age/
  allow-headers.  Origin lists support subdomain matching
  (util/OriginValidation.java).  Optional ``cache_control`` adds the
  CacheControlFilter headers (BZ 1492011).
"""

from __future__ import annotations

import json
import time
from urllib.parse import parse_qs

import pyspark.sql.functions as F

from rhq_metrics_spark.localrel import local_df

from rhq_metrics_spark.errors import (
    ApiError,
    BadRequest,
    MethodNotAllowed,
    NotAcceptable,
    NotFound,
    UnsupportedMediaType,
    api_errors,
    check_type_match,
    metric_type_from_path,
)
from rhq_metrics_spark.model import MetricType
from rhq_metrics_spark.service import (
    availability_points_json,
    bucket_points_json,
    named_data_points_json,
)
from rhq_metrics_spark.sources.wire import decode_wire_body, parse_wire

_STATUS_TEXT = {
    200: "200 OK", 201: "201 Created", 204: "204 No Content",
    400: "400 Bad Request", 404: "404 Not Found",
    405: "405 Method Not Allowed", 406: "406 Not Acceptable",
    415: "415 Unsupported Media Type", 500: "500 Internal Server Error",
}

MISSING_TENANT_MSG = (
    "Tenant is not specified. Use 'Hawkular-Tenant' header."
)

# CORS contract (filter/CorsRequestFilter.java, CorsResponseFilter.java,
# handler/BaseHandler.java:95-108; wire shapes pinned by
# rest-tests-jaxrs CORSITest.groovy): every response to a request
# carrying an Origin echoes these headers; a preflight OPTIONS never
# reaches the router; a disallowed origin is a bare 400.
DEFAULT_CORS_ALLOW_METHODS = "GET, POST, PUT, DELETE, OPTIONS, HEAD"
DEFAULT_CORS_ALLOW_HEADERS = "origin,accept,content-type,hawkular-tenant"
CORS_MAX_AGE = str(72 * 60 * 60)  # CORSITest.groovy:60


def _origin_predicate(allowed: str):
    """Compile the ``allowed-cors-origins`` config (default ``*``) into
    an Origin-header predicate — util/OriginValidation.java semantics:
    ``*`` allows everything; otherwise a comma-separated URI list where
    a request origin matches on equal scheme+port and a host that is
    the allowed host or any subdomain of it (CORSITest.groovy
    testOptionsWithSubdomainOrigin).  A literal ``*`` or otherwise
    unparseable request Origin never matches an explicit list
    (testOptionsWithBadOrigin).
    """
    allowed = (allowed or "*").strip()
    if allowed == "*":
        return lambda origin: True

    from urllib.parse import urlsplit

    def _parts(uri: str):
        s = urlsplit(uri.strip())
        if not s.scheme or not s.hostname:
            return None
        port = s.port or {"http": 80, "https": 443}.get(s.scheme)
        return s.scheme, s.hostname.lower(), port

    allowed_parts = [p for p in map(_parts, allowed.split(",")) if p]

    def check(origin: str) -> bool:
        got = _parts(origin)
        if got is None:
            return False
        scheme, host, port = got
        return any(
            scheme == a_scheme and port == a_port
            and (host == a_host or host.endswith("." + a_host))
            for a_scheme, a_host, a_port in allowed_parts
        )

    return check


class _Response(Exception):
    """Early-exit response (non-error shortcut, e.g. 204)."""

    def __init__(self, status: int, body=None):
        self.status = status
        self.body = body


def _collection(body) -> _Response:
    """ApiUtils.collectionToResponse: empty → 204, else 200."""
    return _Response(204 if not body else 200, body or None)


class MetricsApp:
    """WSGI application exposing the reference's REST API over a
    :class:`MetricsService`.  Stateless per request; safe to share."""

    def __init__(self, service, base_path: str = "/hawkular/metrics",
                 allowed_cors_origins: str = "*",
                 extra_cors_allow_headers: str | None = None,
                 cache_control: str | None = None):
        self.service = service
        self.base = base_path.rstrip("/")
        # CORS + cache filters (CorsRequestFilter/CorsResponseFilter/
        # CacheControlFilter); config keys mirror the reference's
        # hawkular.metrics.allowed-cors-origins /
        # allowed-cors-access-control-allow-headers / cache-control.
        self._origin_allowed = _origin_predicate(allowed_cors_origins)
        self._cors_allow_headers = DEFAULT_CORS_ALLOW_HEADERS + (
            "," + extra_cors_allow_headers.strip()
            if extra_cors_allow_headers else ""
        )
        self._cache_control = cache_control

    # -- WSGI ---------------------------------------------------------------

    def __call__(self, environ, start_response):
        # CorsRequestFilter (@PreMatching priority 0): runs before any
        # routing.  Disallowed origin → bare 400; allowed preflight →
        # bare 200 that never reaches the resource router.
        origin = environ.get("HTTP_ORIGIN")
        cors_ok = origin is not None and self._origin_allowed(origin)
        if origin is not None and not cors_ok:
            status, body = 400, None
        elif (
            cors_ok
            and environ.get("REQUEST_METHOD", "").upper() == "OPTIONS"
            and "HTTP_ACCESS_CONTROL_REQUEST_METHOD" in environ
        ):
            status, body = 200, None
        else:
            try:
                status, body = self._handle(environ)
            except _Response as r:
                status, body = r.status, r.body
            except ApiError as e:
                status, body = e.status, e.as_json()
            except Exception as e:  # noqa: BLE001 — ApiUtils.serverError
                status, body = 500, {"errorMsg": str(e) or "No details"}
        payload = b"" if body is None else json.dumps(body).encode()
        headers = [("Content-Length", str(len(payload)))]
        if payload:
            headers.insert(0, ("Content-Type", "application/json"))
        if cors_ok:  # CorsResponseFilter / BaseHandler.addHeaders
            headers += [
                ("Access-Control-Allow-Origin", origin),
                ("Access-Control-Allow-Credentials", "true"),
                ("Access-Control-Allow-Methods", DEFAULT_CORS_ALLOW_METHODS),
                ("Access-Control-Max-Age", CORS_MAX_AGE),
                ("Access-Control-Allow-Headers", self._cors_allow_headers),
            ]
        if self._cache_control is not None:  # CacheControlFilter
            headers += [
                ("Cache-Control", self._cache_control),
                ("Vary", "Origin,Accept-Encoding"),
            ]
        start_response(_STATUS_TEXT[status], headers)
        return [payload]

    # -- request plumbing ---------------------------------------------------

    def _handle(self, environ) -> tuple[int, dict | list | None]:
        path = environ.get("PATH_INFO", "/")
        if self.base and path.startswith(self.base):
            path = path[len(self.base):] or "/"
        method = environ.get("REQUEST_METHOD", "GET").upper()
        qs = {
            k: v[-1]
            for k, v in parse_qs(environ.get("QUERY_STRING", "")).items()
        }

        accept = environ.get("HTTP_ACCEPT", "*/*")
        if accept and "application/json" not in accept and "*/*" not in accept:
            raise NotAcceptable(f"Cannot produce {accept}")

        segs = [s for s in path.split("/") if s]

        # tenant-exempt routes (TenantFilter.filter)
        if not segs:
            self._require(method, {"GET"})
            return 200, {"name": "rhq-metrics-spark"}
        if segs == ["status"]:
            self._require(method, {"GET"})
            return 200, {"MetricsService": "STARTED"}
        if segs == ["ping"]:
            # PingHandler: current server time (availability probe)
            self._require(method, {"GET"})
            return 200, {"value": time.strftime(
                "%a %b %d %H:%M:%S %Z %Y", time.gmtime()
            )}
        if segs == ["admin", "status"]:
            # AdminHandler.status: per-component health
            self._require(method, {"GET"})
            return 200, {
                "MetricsService": "STARTED",
                "backend": type(self.service.store).__name__,
            }
        if segs[0] == "tenants":
            if len(segs) > 2:
                raise NotFound(f"no such resource: {path}")
            return self._tenants(
                method, environ, segs[1] if len(segs) == 2 else None
            )

        tenant = environ.get("HTTP_HAWKULAR_TENANT", "").strip()
        if not tenant:
            raise BadRequest(MISSING_TENANT_MSG)

        if segs[0] == "metrics":
            if segs[1:] == ["stats", "query"]:
                self._require(method, {"POST"})
                return self._cross_stats_query(
                    tenant, self._json_body(environ)
                )
            if segs[1:] == ["stats", "batch", "query"]:
                self._require(method, {"POST"})
                body = self._json_body(environ)
                if not isinstance(body, dict) or not body:
                    raise BadRequest("Payload is empty")
                return 200, {
                    name: self._cross_stats_result(tenant, req)
                    for name, req in body.items()
                }
            return self._metrics(method, segs, qs, tenant)

        mt = metric_type_from_path(segs[0])
        rest = segs[1:]
        if not rest:
            if method == "POST":
                return self._create_metric(mt, tenant, environ)
            self._require(method, {"GET", "POST"})
            return self._list_metrics(mt, tenant, qs)
        if rest == ["raw"]:
            self._require(method, {"POST"})
            return self._ingest(mt, tenant, environ)
        if rest == ["raw", "query"]:
            self._require(method, {"POST"})
            return self._raw_query(mt, tenant, self._json_body(environ))
        if rest == ["rate", "query"]:
            self._require(method, {"POST"})
            return self._rate_query(mt, tenant, self._json_body(environ))
        if rest == ["stats"]:
            self._require(method, {"GET"})
            return self._multi_stats(mt, tenant, qs, environ)
        if rest == ["anomalies"]:
            self._require(method, {"GET"})
            return self._anomalies(mt, tenant, qs)
        if rest == ["funnel"]:
            self._require(method, {"GET"})
            return self._funnel(mt, tenant, qs)
        if rest == ["cohorts"]:
            self._require(method, {"GET"})
            return self._cohorts(mt, tenant, qs)
        if rest == ["transitions"]:
            self._require(method, {"GET"})
            return self._transitions(mt, tenant, qs)
        if rest == ["active"]:
            self._require(method, {"GET"})
            return self._active_users(mt, tenant, qs)
        if rest == ["paths"]:
            self._require(method, {"GET"})
            return self._paths(mt, tenant, qs)
        if rest == ["attribution"]:
            self._require(method, {"GET"})
            return self._attribution(mt, tenant, qs)
        if rest == ["stats", "query"]:
            self._require(method, {"POST"})
            return self._multi_stats(
                mt, tenant, qs, environ, body=self._json_body(environ)
            )
        if rest == ["rate", "stats"] or rest == ["rate"]:
            # /rate is the deprecated alias of /rate/stats
            # (CounterHandler.java deprecatedFindCounterRateDataStats)
            self._require(method, {"GET"})
            return self._multi_stats(mt, tenant, qs, environ, rate=True)
        if len(rest) == 3 and rest[0] == "tags" and rest[2] == "raw":
            self._require(method, {"GET"})
            return self._tags_raw(mt, tenant, rest[1], qs)
        if len(rest) == 2 and rest[0] == "tags":
            # typed tag-value query (CounterHandler.java getTags)
            self._require(method, {"GET"})
            return self._tag_values(mt, tenant, rest[1])
        metric_id = rest[0]
        sub = rest[1:]
        if not sub:
            if method == "DELETE":
                with api_errors():
                    self.service.delete_metric(tenant, mt, metric_id)
                return 200, None
            self._require(method, {"GET", "DELETE"})
            return self._get_metric(mt, tenant, metric_id)
        if sub == ["raw"]:
            if method == "POST":
                return self._ingest(mt, tenant, environ, metric_id=metric_id)
            self._require(method, {"GET", "POST"})
            return self._raw(mt, tenant, metric_id, qs)
        if sub == ["stats"]:
            self._require(method, {"GET"})
            return self._stats(mt, tenant, metric_id, qs)
        if len(sub) == 3 and sub[0] == "stats" and sub[1] == "tags":
            self._require(method, {"GET"})
            return self._tagged_stats(mt, tenant, metric_id, sub[2], qs)
        if sub == ["tags"]:
            if method == "PUT":
                tags = self._json_body(environ)
                if not isinstance(tags, dict) or not tags:
                    raise BadRequest("Payload is empty")
                with api_errors():
                    self.service.add_tags(tenant, mt, metric_id, tags)
                return 200, None
            self._require(method, {"GET", "PUT"})
            with api_errors():
                tags = self.service.get_metric_tags(tenant, mt, metric_id)
            raise _collection(tags)
        if len(sub) == 2 and sub[0] == "tags":
            self._require(method, {"DELETE"})
            with api_errors():
                self.service.delete_tags(
                    tenant, mt, metric_id, sub[1].split(",")
                )
            return 200, None
        if sub == ["periods"]:
            self._require(method, {"GET"})
            return self._periods(mt, tenant, metric_id, qs)
        if sub == ["rate"]:
            self._require(method, {"GET"})
            return self._rate(mt, tenant, metric_id, qs)
        if sub == ["rate", "stats"]:
            self._require(method, {"GET"})
            return self._rate_stats(mt, tenant, metric_id, qs)
        if sub == ["burn"]:
            self._require(method, {"GET"})
            return self._burn(mt, tenant, metric_id, qs)
        if sub == ["forecast"]:
            self._require(method, {"GET"})
            return self._forecast(mt, tenant, metric_id, qs)
        raise NotFound(f"no such resource: {path}")

    @staticmethod
    def _require(method: str, allowed: set[str]) -> None:
        if method not in allowed:
            raise MethodNotAllowed(
                f"HTTP method {method} is not allowed here"
            )

    def _json_body(self, environ):
        ctype = environ.get("CONTENT_TYPE", "")
        if ctype and "application/json" not in ctype:
            raise UnsupportedMediaType(f"Cannot consume {ctype}")
        try:
            n = int(environ.get("CONTENT_LENGTH") or 0)
        except ValueError:
            n = 0
        raw = environ["wsgi.input"].read(n) if n else b""
        if not raw:
            raise BadRequest("Payload is empty")
        try:
            return json.loads(raw)
        except json.JSONDecodeError as e:
            raise BadRequest(f"Invalid JSON payload: {e}") from None

    # -- handlers -----------------------------------------------------------

    def _tenants(self, method, environ, tenant_id=None):
        if tenant_id is not None:
            # DELETE /tenants/{id} (TenantsHandler.java:128-137)
            self._require(method, {"DELETE"})
            with api_errors():
                self.service.delete_tenant(tenant_id)
            return 200, None
        if method == "POST":
            body = self._json_body(environ)
            if not isinstance(body, dict) or not body.get("id"):
                raise BadRequest("Payload is empty")
            with api_errors():
                self.service.create_tenant(
                    body["id"], body.get("retentions")
                )
            return 201, None
        self._require(method, {"GET", "POST"})
        rows = self.service.get_tenants().collect()
        raise _collection([{"id": r["id"]} for r in rows])

    def _metrics(self, method, segs, qs, tenant):
        self._require(method, {"GET"})
        if len(segs) == 3 and segs[1] == "tags":
            with api_errors():
                df = self.service.get_tag_values(
                    dict(
                        kv.split(":", 1) for kv in segs[2].split(",")
                    ),
                    tenant_id=tenant,
                )
            out: dict[str, list[str]] = {}
            for r in df.collect():
                out.setdefault(r["tag"], []).append(r["value"])
            raise _collection({k: sorted(v) for k, v in out.items()})
        if len(segs) != 1:
            raise NotFound("no such resource")
        mt = qs.get("type")
        if mt is not None:
            with api_errors():
                MetricType.check(mt)
        return self._list_metrics(mt, tenant, qs)

    def _list_metrics(self, metric_type, tenant, qs):
        with api_errors():
            df = self.service.find_metrics(
                tag_expression=qs.get("tags"),
                id_regex=qs.get("id"),
                tenant_id=tenant,
                metric_type=metric_type,
                # ?timestamps=true enriches each definition with its data
                # min/max timestamps (MetricHandler.findMetrics +
                # MinMaxTimestampTransformer)
                with_timestamps=self._flag(qs, "timestamps"),
            )
        raise _collection([self._definition_json(r) for r in df.collect()])

    @staticmethod
    def _definition_json(row) -> dict:
        d = row.asDict()
        out = {"id": d["metric"], "type": d["type"], "tenantId": d["tenant_id"]}
        if d.get("tags"):
            out["tags"] = dict(d["tags"])
        if d.get("data_retention") is not None:
            out["dataRetention"] = d["data_retention"]
        if d.get("min_ts") is not None:
            out["minTimestamp"] = d["min_ts"]
            out["maxTimestamp"] = d["max_ts"]
        return out

    def _create_metric(self, metric_type, tenant, environ):
        body = self._json_body(environ)
        if not isinstance(body, dict) or not body.get("id"):
            raise BadRequest("Payload is empty")
        check_type_match(metric_type, body.get("type"))
        with api_errors():
            self.service.create_metric(
                tenant, metric_type, body["id"],
                tags=body.get("tags"),
                data_retention=body.get("dataRetention"),
            )
        return 201, None

    def _get_metric(self, metric_type, tenant, metric_id):
        with api_errors():
            row = self.service.get_metric(tenant, metric_type, metric_id)
        if row is None:
            raise NotFound(f"No metric found with id [{metric_id}]")
        return 200, self._definition_json(row)

    # -- ingest -------------------------------------------------------------

    def _ingest(self, metric_type, tenant, environ, metric_id=None):
        body = self._json_body(environ)
        if not isinstance(body, list) or not body:
            raise BadRequest("Payload is empty")
        if metric_id is not None:
            # POST /{type}s/{id}/raw: body is the data-point list
            body = [{"id": metric_id, "data": body}]
        # a canonical body decodes on the driver into one Arrow table the
        # store writes without a Spark job; anything else takes the Spark
        # parse, which also words every error response
        points = decode_wire_body(body, metric_type, default_tenant=tenant)
        if points is None:
            lines = local_df(
                self.service.spark, [(json.dumps(m),) for m in body],
                "value string",
            )
            points, rejects = parse_wire(
                lines, metric_type, default_tenant=tenant
            )
            bad = rejects.limit(1).collect()
            if bad:
                raise BadRequest(
                    f"Invalid metric payload ({bad[0]['reason']}): "
                    f"{bad[0]['_raw'][:200]}"
                )
        with api_errors():
            self.service.add_data_points(metric_type, points)
        return 200, None

    # -- reads --------------------------------------------------------------

    @staticmethod
    def _int(qs, key, default=None):
        v = qs.get(key)
        if v is None:
            return default
        try:
            return int(v)
        except ValueError:
            raise BadRequest(f"Invalid {key} parameter: {v!r}") from None

    def _time_range(self, qs):
        from rhq_metrics_spark.model import TimeRange

        with api_errors():
            tr = TimeRange.of(qs.get("start"), qs.get("end"))
        return tr.start, tr.end

    def _raw(self, metric_type, tenant, metric_id, qs):
        start, end = self._time_range(qs)
        limit = self._int(qs, "limit", 0)
        order = qs.get("order", "desc" if limit else "asc").lower()
        if order not in ("asc", "desc"):
            raise BadRequest(f"Invalid order parameter: {order!r}")
        with api_errors():
            groups = self.service.raw_points_json(
                metric_type, tenant, metric_id, start, end,
                limit=limit, order=order,
                distinct=qs.get("distinct", "").lower() == "true",
            )
        pts = groups[0]["data"] if groups else []
        if order == "desc":
            pts = sorted(pts, key=lambda p: -p["timestamp"])
        raise _collection(pts)

    def _buckets(self, metric_type, tenant, metric_id, qs):
        if qs.get("fromEarliest", "").lower() == "true":
            if "start" in qs or "end" in qs:
                raise BadRequest(
                    "fromEarliest can only be used without start & end"
                )
            if "buckets" not in qs and "bucketDuration" not in qs:
                raise BadRequest(
                    "fromEarliest can only be used with bucketed results"
                )
            now = int(time.time() * 1000)
            start = self.service.from_earliest_start(
                metric_type, tenant, [metric_id], now
            )
            return self.service.stats_params(
                start, now, self._int(qs, "buckets"), qs.get("bucketDuration")
            )
        return self.service.stats_params(
            qs.get("start"), qs.get("end"),
            self._int(qs, "buckets"), qs.get("bucketDuration"),
        )

    @staticmethod
    def _percentiles(qs) -> list[float]:
        raw = qs.get("percentiles")
        if not raw:
            return []
        try:
            return [float(p) for p in raw.split(",") if p]
        except ValueError:
            raise BadRequest(
                f"Invalid percentiles parameter: {raw!r}"
            ) from None

    def _stats(self, metric_type, tenant, metric_id, qs):
        bks = self._buckets(metric_type, tenant, metric_id, qs)

        def respond(pts):
            # GaugeHandler skipWhile: leading empty buckets drop under
            # fromEarliest — applied on EVERY branch (routed, availability,
            # raw) so the behavior doesn't depend on server attach state
            if self._flag(qs, "fromEarliest"):
                while pts and pts[0].get("empty"):
                    pts.pop(0)
            raise _collection(pts)

        if metric_type == MetricType.AVAILABILITY:
            with api_errors():
                df = self.service.availability_stats(tenant, metric_id, bks)
            respond(availability_points_json(df))
        if metric_type not in (MetricType.GAUGE, MetricType.COUNTER):
            raise BadRequest(f"Metric type does not match {metric_type}")
        percentiles = self._percentiles(qs)
        # extension beyond the reference API: percentileImpl selects the
        # percentile engine — exact (default), p2 (the reference's
        # production estimator), approx (sketches), hist (served from
        # attached histogram partials, bin-width-bounded approximation
        # with exact fallback when unroutable)
        impl_param = qs.get("percentileImpl")
        impl = impl_param or "exact"
        if impl not in ("exact", "p2", "approx", "hist"):
            raise BadRequest(f"Invalid percentileImpl parameter: {impl!r}")
        with api_errors():
            # rollup fast path: a single-metric gauge stats request with
            # no percentiles is exactly what an attached rollup can serve
            # without touching raw points (service.try_routed_stats —
            # alignment + finality checked there).  Shape stability: the
            # routed response KEEPS the `median` field as null (rank
            # statistics don't merge across windows), so clients see one
            # field set regardless of server-side attach state; an
            # explicit percentileImpl=exact opts out of routing entirely
            # and computes the median from raw points.
            if (
                metric_type == MetricType.GAUGE and not percentiles
                and impl_param != "exact"
            ):
                routed = self.service.try_routed_stats(
                    MetricType.GAUGE, tenant, metric_id, bks
                )
                if routed is not None:
                    respond(bucket_points_json(
                        routed.withColumn(
                            "median", F.lit(None).cast("double")
                        ).select(
                            "start", "end", "min", "avg", "median", "max",
                            "sum", "samples",
                        )
                    ))
            if metric_type == MetricType.GAUGE and impl != "exact":
                df = self.service.gauge_stats(
                    tenant, metric_id, bks,
                    percentiles=percentiles, percentile_impl=impl,
                )
            else:
                df = self.service.numeric_stats(
                    metric_type, tenant, [metric_id], bks,
                    percentiles=percentiles,
                )
        respond(bucket_points_json(df))

    @staticmethod
    def _float(qs, key, default=None):
        v = qs.get(key)
        if v is None:
            return default
        try:
            return float(v)
        except ValueError:
            raise BadRequest(f"Invalid {key} parameter: {v!r}") from None

    def _anomalies(self, metric_type, tenant, qs):
        """W14 fleet triage over HTTP: rank the tenant's series of this
        type in the range by rolling-zscore severity
        (service.top_anomalous) — 'which of my metrics are
        misbehaving'.  Param shape follows the reference's query
        endpoints (GaugeHandler.java query params, camelCase)."""
        start, end = self._time_range(qs)
        with api_errors():
            df = self.service.top_anomalous(
                tenant, start, end, metric_type=metric_type,
                window_n=self._int(qs, "windowN", 20),
                min_n=self._int(qs, "minN", 5),
                threshold=self._float(qs, "threshold", 3.0),
                top_k=self._int(qs, "topK", 10),
                value_scale=self._int(qs, "valueScale", 100),
            )
            rows = df.orderBy("rank").collect()
        raise _collection([
            {
                "metric": r["metric"],
                "rank": r["rank"],
                "samples": r["n_points"],
                "flagged": r["n_flagged"],
                "maxAbsZ": r["max_abs_z"],
            }
            for r in rows
        ])

    def _funnel(self, metric_type, tenant, qs):
        """W15 ordered-funnel conversion over HTTP (service.funnel):
        ?steps=view,click,purchase names the ordered step metrics,
        ?windowMs bounds conversions to a window anchored at each
        user's step-1 time, ?userTag reads the user identity from that
        tag key (default: the point value).  Param shape mirrors the
        anomalies/burn/forecast handlers (GaugeHandler.java query
        endpoints, camelCase)."""
        start, end = self._time_range(qs)
        steps_raw = qs.get("steps")
        if not steps_raw:
            raise BadRequest("Missing steps parameter")
        steps = [s for s in steps_raw.split(",") if s]
        if not steps:
            raise BadRequest("Missing steps parameter")
        window_ms = (
            self._int(qs, "windowMs") if qs.get("windowMs") is not None
            else None
        )
        with api_errors():
            df = self.service.funnel(
                tenant, steps, start, end, metric_type=metric_type,
                window_ms=window_ms, user_tag=qs.get("userTag"),
            )
            rows = df.orderBy("step_idx").collect()
        raise _collection([
            {
                "stepIdx": r["step_idx"],
                "step": r["step"],
                "users": r["users"],
                "conversionPpm": r["conversion_ppm"],
            }
            for r in rows
        ])

    def _transitions(self, metric_type, tenant, qs):
        """W17 event-transition matrix over HTTP (service.transitions):
        adjacent-pair counts + ppm probabilities per source type;
        ?userTag as in the funnel handler.  Param shape mirrors the
        funnel/cohorts handlers (GaugeHandler.java query endpoints)."""
        start, end = self._time_range(qs)
        with api_errors():
            df = self.service.transitions(
                tenant, start, end, metric_type=metric_type,
                user_tag=qs.get("userTag"),
            )
            rows = df.orderBy("from_type", "to_type").collect()
        raise _collection([
            {
                "fromType": r["from_type"],
                "toType": r["to_type"],
                "transitions": r["transitions"],
                "fromTotal": r["from_total"],
                "probPpm": r["prob_ppm"],
            }
            for r in rows
        ])

    def _active_users(self, metric_type, tenant, qs):
        """W18 rolling active users over HTTP (service.active_users):
        ?periodMs sets the period (default 1 day), ?windows=1,7,30 the
        trailing window sizes in periods, ?userTag as in the funnel
        handler.  All-integer rows; every period of the span appears."""
        start, end = self._time_range(qs)
        windows_raw = qs.get("windows") or "1,7,30"
        try:
            windows = tuple(int(w) for w in windows_raw.split(",") if w)
        except ValueError:
            raise BadRequest(f"Invalid windows: {windows_raw!r}")
        if not windows or any(w < 1 for w in windows):
            raise BadRequest(f"Invalid windows: {windows_raw!r}")
        with api_errors():
            df = self.service.active_users(
                tenant, start, end, metric_type=metric_type,
                period_ms=self._int(qs, "periodMs", 86_400_000),
                windows=windows, user_tag=qs.get("userTag"),
            )
            rows = df.collect()
        raise _collection([
            {
                "period": r["period"],
                "windowPeriods": r["window_periods"],
                "activeUsers": r["active_users"],
            }
            for r in rows
        ])

    def _paths(self, metric_type, tenant, qs):
        """W19 frequent event paths over HTTP (service.paths):
        ?length (default 3) and ?k (default 20) size the mining,
        ?userTag as in the funnel handler."""
        start, end = self._time_range(qs)
        length = self._int(qs, "length", 3)
        k = self._int(qs, "k", 20)
        if length < 2 or k < 1:
            raise BadRequest("length must be >= 2 and k >= 1")
        with api_errors():
            df = self.service.paths(
                tenant, start, end, metric_type=metric_type,
                length=length, k=k, user_tag=qs.get("userTag"),
            )
            rows = df.orderBy("rank").collect()
        raise _collection([
            {
                "path": r["path"],
                "occurrences": r["occurrences"],
                "users": r["n_users"],
                "rank": r["rank"],
            }
            for r in rows
        ])

    def _attribution(self, metric_type, tenant, qs):
        """W20 last-touch attribution over HTTP (service.attribution):
        ?conversion names the conversion metric, ?touches=a,b the touch
        metrics, ?lookbackMs bounds the credit window, ?userTag as in
        the funnel handler (value sums require it — without it the
        point value IS the user id)."""
        start, end = self._time_range(qs)
        conversion = qs.get("conversion")
        if not conversion:
            raise BadRequest("Missing conversion parameter")
        touches = [s for s in (qs.get("touches") or "").split(",") if s]
        if not touches:
            raise BadRequest("Missing touches parameter")
        lookback = (
            self._int(qs, "lookbackMs")
            if qs.get("lookbackMs") is not None else None
        )
        with api_errors():
            df = self.service.attribution(
                tenant, conversion, touches, start, end,
                metric_type=metric_type, lookback_ms=lookback,
                user_tag=qs.get("userTag"),
            )
            rows = df.orderBy("touch_type").collect()
        raise _collection([
            {
                "touchType": r["touch_type"],
                "conversions": r["conversions"],
                "users": r["users"],
                "valueMicro": r["value_micro"],
            }
            for r in rows
        ])

    def _cohorts(self, metric_type, tenant, qs):
        """W16 cohort retention over HTTP (service.cohorts): users
        labeled by the epoch-aligned ?periodMs period of first
        activity; ?metrics=… (repeatable) restricts the activity set;
        ?userTag as in the funnel handler.  All-integer matrix."""
        start, end = self._time_range(qs)
        metrics = [s for s in (qs.get("metrics") or "").split(",") if s]
        with api_errors():
            df = self.service.cohorts(
                tenant, start, end, metric_type=metric_type,
                period_ms=self._int(qs, "periodMs", 7 * 86_400_000),
                metrics=metrics or None,
                user_tag=qs.get("userTag"),
            )
            rows = df.orderBy("cohort_period", "period_k").collect()
        raise _collection([
            {
                "cohortPeriod": r["cohort_period"],
                "periodK": r["period_k"],
                "activeUsers": r["active_users"],
                "cohortSize": r["cohort_size"],
                "retentionPpm": r["retention_ppm"],
            }
            for r in rows
        ])

    def _burn(self, metric_type, tenant, metric_id, qs):
        """A16 multiwindow SLO burn-rate over HTTP (service.slo_burn):
        per-bucket fast/slow burns + alert flag, served from the
        attached availability rollup when the range is finalized."""
        if metric_type != MetricType.AVAILABILITY:
            raise NotFound("burn exists for availability only")
        bks = self._buckets(metric_type, tenant, metric_id, qs)
        with api_errors():
            df = self.service.slo_burn(
                tenant, metric_id, bks,
                slo_ppm=self._int(qs, "sloPpm", 999_000),
                fast_n=self._int(qs, "fastN", 1),
                slow_n=self._int(qs, "slowN", 6),
                burn_threshold=self._float(qs, "burnThreshold", 1.0),
            )
            rows = df.orderBy("start").collect()
        raise _collection([
            {
                "start": r["start"],
                "end": r["end"],
                "burnFast": r["burn_fast"],
                "burnSlow": r["burn_slow"],
                "downFastMs": r["down_fast_ms"],
                "obsFastMs": r["obs_fast_ms"],
                "downSlowMs": r["down_slow_ms"],
                "obsSlowMs": r["obs_slow_ms"],
                "alert": r["alert"],
            }
            for r in rows
        ])

    def _forecast(self, metric_type, tenant, metric_id, qs):
        """W13 seasonal-naive forecast bands over HTTP
        (service.seasonal_forecast): baseline ∓ k·σ per bin-grid
        timestamp.  With attached seasonal partials the forecast reads
        zero raw points; otherwise historyStart/historyEnd name the
        profile scan (missing both → the facade's 400)."""
        if metric_type not in (MetricType.GAUGE, MetricType.COUNTER):
            raise BadRequest(f"Metric type does not match {metric_type}")
        start, end = self._time_range(qs)
        hs, he = qs.get("historyStart"), qs.get("historyEnd")
        if (hs is None) != (he is None):
            raise BadRequest(
                "historyStart and historyEnd must be given together"
            )
        history = (
            (self._int(qs, "historyStart"), self._int(qs, "historyEnd"))
            if hs is not None
            else None
        )
        with api_errors():
            df = self.service.seasonal_forecast(
                tenant, metric_id, start, end,
                period_ms=self._int(qs, "periodMs", 86_400_000),
                n_bins=self._int(qs, "bins", 24),
                metric_type=metric_type,
                value_scale=self._int(qs, "valueScale", 100),
                k=self._float(qs, "k", 2.0),
                history=history,
            )
            rows = df.orderBy("ts").collect()
        raise _collection([
            {
                "timestamp": r["ts"],
                "bin": r["bin"],
                "samples": r["bin_samples"],
                "baseline": r["baseline"],
                "sd": r["sd"],
                "lo": r["lo"],
                "hi": r["hi"],
            }
            for r in rows
        ])

    def _periods(self, metric_type, tenant, metric_id, qs):
        if metric_type != MetricType.GAUGE:
            raise NotFound("periods exist for gauges only")
        op = qs.get("op")
        thr = qs.get("threshold")
        if not op or thr is None:
            raise BadRequest("op and threshold parameters are required")
        try:
            threshold = float(thr)
        except ValueError:
            raise BadRequest(f"Invalid threshold parameter: {thr!r}") from None
        start, end = self._time_range(qs)
        with api_errors():
            df = self.service.get_periods(
                tenant, metric_id, op, threshold, start, end
            )
        raise _collection(
            [
                [r["period_start"], r["period_end"]]
                for r in df.orderBy("period_start").collect()
            ]
        )

    def _rate(self, metric_type, tenant, metric_id, qs):
        if metric_type not in (MetricType.GAUGE, MetricType.COUNTER):
            raise BadRequest(f"Metric type does not match {metric_type}")
        start, end = self._time_range(qs)
        with api_errors():
            df = self.service.find_rate_data(
                metric_type, tenant, metric_id, start, end,
                limit=self._int(qs, "limit", 0),
                order=qs.get("order", "asc"),
            )
        pts = [
            {"timestamp": r["ts"], "value": r["rate"]}
            for r in df.orderBy("ts").collect()
        ]
        raise _collection(pts)

    def _rate_stats(self, metric_type, tenant, metric_id, qs):
        if metric_type not in (MetricType.GAUGE, MetricType.COUNTER):
            raise BadRequest(f"Metric type does not match {metric_type}")
        bks = self._buckets(metric_type, tenant, metric_id, qs)
        with api_errors():
            df = self.service.find_rate_stats(
                metric_type, tenant, metric_id, bks,
                percentiles=self._percentiles(qs),
            )
        raise _collection(bucket_points_json(df))

    # -- multi-metric query surface -----------------------------------------

    @staticmethod
    def _percentiles_value(raw) -> list[float]:
        """Percentiles from a request BODY: the reference accepts the
        same comma string as the query param (PercentilesConverter); a
        JSON list of numbers also works."""
        if raw is None or raw == "":
            return []
        if isinstance(raw, list):
            items = raw
        else:
            items = [p for p in str(raw).split(",") if p]
        try:
            return [float(p) for p in items]
        except (TypeError, ValueError):
            raise BadRequest(
                f"Invalid percentiles parameter: {raw!r}"
            ) from None

    def _ids_by_name_or_tag(self, metric_type, tenant, names, tags):
        """findMetricsByNameOrTag (MetricsServiceHandler.java:64-77):
        explicit ids XOR a tag filter resolved via the metric index."""
        names = [n for n in (names or []) if n]
        if not names and tags is None:
            raise BadRequest(
                "Either metrics or tags query parameters must be used"
            )
        if names and tags is not None:
            raise BadRequest(
                "Cannot use both the metrics and tags query parameters"
            )
        if names:
            return names
        return self._ids_for_tags(metric_type, tenant, tags)

    @staticmethod
    def _tag_kwargs(tags) -> dict:
        """``tags`` request value → find_metrics kwargs.  The reference
        accepts BOTH tag formats (its converters try the tag query
        language, falling back to the legacy ``k:v,k2:v2`` map) — same
        order here."""
        if not isinstance(tags, str) or not tags:
            raise BadRequest(f"Invalid tags parameter: {tags!r}")
        from rhq_metrics_spark.tags.parser import parse_tag_query

        try:
            parse_tag_query(tags)
            return {"tag_expression": tags}
        except Exception:
            try:
                simple = dict(
                    kv.split(":", 1) for kv in tags.split(",") if kv
                )
            except ValueError:
                simple = None
            if not simple:
                raise BadRequest(f"Invalid tags parameter: {tags!r}") from None
            return {"simple_tags": simple}

    def _ids_for_tags(self, metric_type, tenant, tags):
        kwargs = self._tag_kwargs(tags)
        with api_errors():
            df = self.service.find_metrics(
                tenant_id=tenant, metric_type=metric_type, **kwargs
            )
        return sorted(r["metric"] for r in df.select("metric").collect())

    def _ids_for_tags_by_type(self, tenant, tags) -> dict:
        """Cross-type tag resolution in ONE index scan (the reference
        launches one findMetricIdentifiersWithFilters per type — its own
        TODO laments the duplication): collect (type, metric) once and
        split driver-side."""
        kwargs = self._tag_kwargs(tags)
        with api_errors():
            df = self.service.find_metrics(tenant_id=tenant, **kwargs)
        out: dict = {}
        for r in df.select("type", "metric").collect():
            out.setdefault(r["type"], []).append(r["metric"])
        return {t: sorted(v) for t, v in out.items()}

    def _range_params(self, metric_type, tenant, ids, params):
        """start/end resolution with the fromEarliest contract
        (MetricsServiceHandler.findTimeRange)."""
        from rhq_metrics_spark.model import TimeRange

        if self._flag(params, "fromEarliest"):
            if params.get("start") is not None or params.get("end") is not None:
                raise BadRequest(
                    "fromEarliest can only be used without start & end"
                )
            now = int(time.time() * 1000)
            start = self.service.from_earliest_start(
                metric_type, tenant, list(ids), now
            )
            return start, now
        with api_errors():
            tr = TimeRange.of(params.get("start"), params.get("end"))
        return tr.start, tr.end

    def _multi_stats(self, metric_type, tenant, qs, environ, body=None,
                     rate=False):
        """GET /{type}s/stats + POST /{type}s/stats/query
        (GaugeHandler.java:572,619): stats over metrics resolved by name
        or tag — pooled (A4) by default, stacked (A3) sum-of-stats with
        ?stacked=true.  ``rate=True`` is GET /{type}s/rate/stats
        (CounterHandler.getRateStats): same shape over the derived
        per-minute rate stream (W1)."""
        if metric_type not in (MetricType.GAUGE, MetricType.COUNTER):
            raise BadRequest(f"Metric type does not match {metric_type}")
        if body is None:
            multi = parse_qs(environ.get("QUERY_STRING", ""))
            names: list[str] = []
            for v in multi.get("metrics", []):
                names += [s for s in v.split(",") if s]
            params = dict(qs)
            stacked = self._flag(qs, "stacked")
            percentiles = self._percentiles(qs)
            n_buckets = self._int(qs, "buckets")
        else:
            if not isinstance(body, dict):
                raise BadRequest("Payload is empty")
            names = body.get("metrics") or []
            params = body
            stacked = self._flag(body, "stacked")
            percentiles = self._percentiles_value(body.get("percentiles"))
            n_buckets = body.get("buckets")
        ids = self._ids_by_name_or_tag(
            metric_type, tenant, names, params.get("tags")
        )
        start, end = self._range_params(metric_type, tenant, ids, params)
        with api_errors():
            bks = self.service.stats_params(
                start, end, n_buckets, params.get("bucketDuration")
            )
            df = self.service.numeric_stats(
                metric_type, tenant, ids, bks,
                percentiles=percentiles, stacked=stacked, is_rate=rate,
            )
        pts = bucket_points_json(df)
        if self._flag(params, "fromEarliest"):
            # reference drops LEADING empty buckets under fromEarliest
            # (GaugeHandler skipWhile(bucket.isEmpty()))
            while pts and pts[0].get("empty"):
                pts.pop(0)
        raise _collection(pts)

    def _tag_values(self, metric_type, tenant, tags_seg):
        """GET /{type}s/tags/{tags}: tag-value query scoped to one
        metric type (CounterHandler.getTags → getTagValues)."""
        try:
            patterns = dict(
                kv.split(":", 1) for kv in tags_seg.split(",") if kv
            )
        except ValueError:
            raise BadRequest(f"Invalid tags parameter: {tags_seg!r}") from None
        if not patterns:
            raise BadRequest(f"Invalid tags parameter: {tags_seg!r}")
        with api_errors():
            df = self.service.get_tag_values(
                patterns, tenant_id=tenant, metric_type=metric_type
            )
        out: dict[str, list[str]] = {}
        for r in df.collect():
            out.setdefault(r["tag"], []).append(r["value"])
        raise _collection({k: sorted(v) for k, v in out.items()})

    @staticmethod
    def _limit_value(params) -> int:
        """Limit from a query string or JSON body: 400 on garbage (the
        error contract), and string "0" must behave like integer 0."""
        raw = params.get("limit")
        if raw in (None, ""):
            return 0
        try:
            return int(raw)
        except (TypeError, ValueError):
            raise BadRequest(f"Invalid limit parameter: {raw!r}") from None

    @staticmethod
    def _flag(params, key) -> bool:
        """Boolean request flag from a query string ("true") or a JSON
        body (true); the strings "false"/"False" are false — plain
        bool() would make them truthy."""
        v = params.get(key)
        return v is True or (isinstance(v, str) and v.lower() == "true")

    def _named_points_query(self, metric_type, tenant, ids, params, rate):
        limit = self._limit_value(params)
        order = (params.get("order")
                 or ("desc" if limit else "asc")).lower()
        if order not in ("asc", "desc"):
            raise BadRequest(f"Invalid order parameter: {order!r}")
        start, end = self._range_params(metric_type, tenant, ids, params)
        with api_errors():
            if rate:
                groups = named_data_points_json(self.service.find_rate_data(
                    metric_type, tenant, ids, start, end,
                    limit=limit, order=order,
                ))
            else:
                groups = self.service.raw_points_json(
                    metric_type, tenant, ids, start, end,
                    limit=limit, order=order,
                )
        if order == "desc":
            for g in groups:
                g["data"].sort(key=lambda p: -p["timestamp"])
        raise _collection(groups)

    def _raw_query(self, metric_type, tenant, body):
        """POST /{type}s/raw/query (GaugeHandler.java:324): body =
        QueryRequest {ids|tags, start, end, limit, order, fromEarliest};
        response = NamedDataPointObserver's ``[{id, data: [...]}]``."""
        if not isinstance(body, dict):
            raise BadRequest("Payload is empty")
        ids = self._ids_by_name_or_tag(
            metric_type, tenant, body.get("ids"), body.get("tags")
        )
        return self._named_points_query(metric_type, tenant, ids, body, False)

    def _rate_query(self, metric_type, tenant, body):
        """POST /{type}s/rate/query (GaugeHandler.java:353)."""
        if metric_type not in (MetricType.GAUGE, MetricType.COUNTER):
            raise BadRequest(f"Metric type does not match {metric_type}")
        if not isinstance(body, dict):
            raise BadRequest("Payload is empty")
        ids = self._ids_by_name_or_tag(
            metric_type, tenant, body.get("ids"), body.get("tags")
        )
        return self._named_points_query(metric_type, tenant, ids, body, True)

    def _tags_raw(self, metric_type, tenant, tags, qs):
        """GET /{type}s/tags/{tags}/raw (GaugeHandler.java:891): raw
        points of every metric matching the tag filter."""
        ids = self._ids_by_name_or_tag(metric_type, tenant, None, tags)
        return self._named_points_query(metric_type, tenant, ids, qs, False)

    def _tagged_stats(self, metric_type, tenant, metric_id, tags_seg, qs):
        """GET /{type}s/{id}/stats/tags/{tags} (GaugeHandler.java:653):
        A5 stats grouped by point-tag value combination, keyed
        ``k:v,k2:v2`` (TaggedBucketPointTransformer.java:65-71)."""
        if metric_type not in (MetricType.GAUGE, MetricType.COUNTER):
            raise BadRequest(f"Metric type does not match {metric_type}")
        try:
            tag_filters = dict(
                kv.split(":", 1) for kv in tags_seg.split(",") if kv
            )
        except ValueError:
            raise BadRequest(f"Invalid tags parameter: {tags_seg!r}") from None
        if not tag_filters:
            raise BadRequest(f"Invalid tags parameter: {tags_seg!r}")
        start, end = self._time_range(qs)
        with api_errors():
            df = self.service.tagged_gauge_stats(
                tenant, metric_id, tag_filters, start, end,
                percentiles=self._percentiles(qs),
                metric_type=metric_type,
            )
        out = {}
        keys = list(tag_filters)
        for row in df.collect():
            d = row.asDict()
            tags = {k: d.pop(f"tag_{k}") for k in keys}
            key = ",".join(f"{k}:{v}" for k, v in tags.items())
            out[key] = {"tags": tags, **d}
        raise _collection(out)

    def _cross_stats_result(self, tenant, body) -> dict:
        """One StatsQueryRequest → ``{type: {metric: [buckets]}}``
        (MetricHandler.doStatsQuery, :340-484): the metrics map (or a
        tag filter) picks ids per base type; ``types`` narrows the
        output to any of gauge/counter/availability/gauge_rate/
        counter_rate; empty type maps are omitted."""
        if not isinstance(body, dict):
            raise BadRequest("Payload is empty")
        metrics_map = body.get("metrics") or {}
        tags = body.get("tags")
        has_ids = any(metrics_map.get(t) for t in metrics_map)
        if not has_ids and tags is None:
            raise BadRequest(
                "Either the metrics or the tags property must be set"
            )
        if body.get("buckets") is None and body.get("bucketDuration") is None:
            raise BadRequest(
                "Either the buckets or bucketDuration property must be set"
            )
        types = body.get("types") or []
        percentiles = self._percentiles_value(body.get("percentiles"))
        # extension beyond the reference API (same as the single-metric
        # handler): percentileImpl='hist' serves the dashboard's
        # median/percentiles from attached histogram partials via
        # service.stats_query, exact fallback when unroutable
        impl = body.get("percentileImpl") or "exact"
        if impl not in ("exact", "hist"):
            raise BadRequest(f"Invalid percentileImpl parameter: {impl!r}")
        with api_errors():
            bks = self.service.stats_params(
                body.get("start"), body.get("end"),
                body.get("buckets"), body.get("bucketDuration"),
            )

        tag_ids: dict | None = None

        def ids_for(base):
            nonlocal tag_ids
            if has_ids:
                return [m for m in (metrics_map.get(base) or []) if m]
            if tag_ids is None:
                tag_ids = self._ids_for_tags_by_type(tenant, tags)
            return tag_ids.get(base, [])

        by_type: dict[str, list[str]] = {}
        for base, rate_t in (
            (MetricType.GAUGE, MetricType.GAUGE_RATE),
            (MetricType.COUNTER, MetricType.COUNTER_RATE),
        ):
            if types and base not in types and rate_t not in types:
                continue
            ids = ids_for(base)
            if not ids:
                continue
            if not types or base in types:
                by_type[base] = ids
            if rate_t in types:
                by_type[rate_t] = ids
        if not types or MetricType.AVAILABILITY in types:
            av = ids_for(MetricType.AVAILABILITY)
            if av:
                by_type[MetricType.AVAILABILITY] = av
        with api_errors():
            out = self.service.stats_query(
                tenant, bks, by_type, percentiles, percentile_impl=impl
            )
        return {t: m for t, m in out.items() if m}

    def _cross_stats_query(self, tenant, body):
        """POST /metrics/stats/query (MetricHandler.java:305-319)."""
        raise _collection(self._cross_stats_result(tenant, body))


def serve(service, host: str = "127.0.0.1", port: int = 8080,
          base_path: str = "/hawkular/metrics", **app_kwargs):
    """Blocking dev server (wsgiref).  Production deployments mount
    :class:`MetricsApp` on any WSGI server."""
    from wsgiref.simple_server import make_server

    app = MetricsApp(service, base_path=base_path, **app_kwargs)
    with make_server(host, port, app) as srv:
        print(f"serving on http://{host}:{srv.server_port}{base_path}")
        srv.serve_forever()
