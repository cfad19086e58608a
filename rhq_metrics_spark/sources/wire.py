"""REST wire-format (de)serialization for metric payloads.

The reference ingests ``POST /{type}s/raw`` bodies shaped
``[{"id", "tags", "dataRetention", "data": [{"timestamp", "value",
"tags"}], "tenantId"}]`` (Metric.java:48-72, DataPoint.java:37-60) and
emits the same shape from ``GET .../raw``.  This module is the Spark
twin: JSON lines → canonical point rows and back, entirely with
``from_json`` / ``to_json`` + explode — streaming and file ingest run no
Python in the parse path, so wire decode runs inside codegen and scales
with the scan.

A REST body is different: it is already decoded in driver memory, so
:func:`decode_wire_body` turns it into an Arrow table on the driver (no
Spark job) under :func:`parse_wire`'s rules.  It vouches only for
canonical bodies — every field of the type the wire schema declares,
with no value whose Spark coercion could differ from Python's — and
returns ``None`` for anything else, which then takes :func:`parse_wire`
unchanged.

Malformed records are never silently dropped: parsing is PERMISSIVE
with a corrupt-record column, and :func:`parse_wire` splits good rows
from rejects so the caller can route rejects to a dead-letter sink
(the reference returns a 400 per bad request; a pipeline wants the bad
*rows* preserved instead).
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from rhq_metrics_spark.model import MetricType, arrow_point_schema

_VALUE_TYPES = {
    MetricType.GAUGE: T.DoubleType(),
    MetricType.COUNTER: T.LongType(),
    MetricType.AVAILABILITY: T.StringType(),
    MetricType.STRING: T.StringType(),
}

_TAGS = T.MapType(T.StringType(), T.StringType())


def wire_schema(metric_type: str) -> T.StructType:
    """Schema of ONE wire metric object (one JSON line = one metric)."""
    value_type = _VALUE_TYPES[metric_type]
    return T.StructType(
        [
            # PERMISSIVE from_json yields an all-null struct (not a null
            # struct) on bad input; the corrupt-record column is the only
            # reliable malformed-vs-missing-field signal
            T.StructField("_corrupt_record", T.StringType()),
            T.StructField("id", T.StringType()),
            T.StructField("tags", _TAGS),
            T.StructField("dataRetention", T.IntegerType()),
            T.StructField("tenantId", T.StringType()),
            T.StructField(
                "data",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("timestamp", T.LongType()),
                            T.StructField("value", value_type),
                            T.StructField("tags", _TAGS),
                        ]
                    )
                ),
            ),
        ]
    )


def parse_wire(
    lines: DataFrame,
    metric_type: str,
    default_tenant: str = "",
    json_col: str = "value",
) -> tuple[DataFrame, DataFrame]:
    """JSON-line frame → ``(points, rejects)``.

    ``points`` has the canonical ``(tenant_id, metric, ts, value, tags)``
    schema (point-level tags win over metric-level, DataPoint.java:59);
    ``rejects`` carries the raw line + a reason for every RECORD that
    failed to parse or lacked required fields (id, data) — ingest-side
    validation the reference does in ApiUtils.badRequest.  Individual
    data points with a null timestamp inside an otherwise-valid record
    are dropped (the reference 400s the whole request,
    DataPoint.java:52; a pipeline keeps the valid siblings).
    """
    parsed = lines.select(
        F.col(json_col).alias("_raw"),
        F.from_json(
            F.col(json_col), wire_schema(metric_type),
            {"mode": "PERMISSIVE",
             "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("m"),
    )
    ok = (
        F.col("m._corrupt_record").isNull()
        & F.col("m.id").isNotNull()
        & F.col("m.data").isNotNull()
    )
    bad = parsed.filter(~ok).select(
        "_raw",
        F.when(F.col("m._corrupt_record").isNotNull(), "malformed_json")
        .when(F.col("m.id").isNull(), "missing_id")
        .otherwise("missing_data")
        .alias("reason"),
    )
    good = (
        parsed.filter(ok)
        .select(
            F.coalesce(F.col("m.tenantId"), F.lit(default_tenant)).alias(
                "tenant_id"
            ),
            F.col("m.id").alias("metric"),
            F.col("m.tags").alias("_mtags"),
            F.explode("m.data").alias("p"),
        )
        .filter(F.col("p.timestamp").isNotNull())
        .select(
            "tenant_id",
            "metric",
            F.col("p.timestamp").alias("ts"),
            F.col("p.value").alias("value"),
            F.coalesce(F.col("p.tags"), F.col("_mtags")).alias("tags"),
        )
    )
    return good, bad


_INT32 = 1 << 31
_INT64 = 1 << 63
_EXACT_DOUBLE_INT = 1 << 53


def _gauge_ok(v) -> bool:
    # ints beyond 2^53 would round differently in Jackson and Python
    if type(v) is int:
        return -_EXACT_DOUBLE_INT <= v <= _EXACT_DOUBLE_INT
    return type(v) is float and math.isfinite(v)


# value checks per type; ``type(v) is`` rejects bools (an int subclass)
_CANONICAL_VALUE = {
    MetricType.GAUGE: _gauge_ok,
    MetricType.COUNTER: lambda v: type(v) is int and -_INT64 <= v < _INT64,
    MetricType.AVAILABILITY: lambda v: type(v) is str,
    MetricType.STRING: lambda v: type(v) is str,
}


def _tags_ok(tags) -> bool:
    return tags is None or (
        type(tags) is dict and all(type(v) is str for v in tags.values())
    )


def decode_wire_body(body: list, metric_type: str, default_tenant: str = ""):
    """Driver-side twin of :func:`parse_wire` for a REST body that
    ``json.loads`` has already decoded (a list of wire metric objects):
    a ``pyarrow.Table`` of the canonical ``(tenant_id, metric, ts, value,
    tags)`` columns, with no Spark job.

    Same rules as :func:`parse_wire`: ``tenantId`` falls back to
    ``default_tenant``, point tags win over metric tags, points with a
    null timestamp are dropped, null values are kept, unknown fields are
    ignored.  Returns ``None`` for any body it cannot decode with
    certainty — a record :func:`parse_wire` would reject (not an object,
    no ``id`` or ``data``), or a field whose Spark coercion could differ
    from Python's (a non-string id, tenant or tag; a bool, string or
    float where an integer is expected; an out-of-range integer; a
    non-finite gauge value) — so the caller routes it through
    :func:`parse_wire` and the response is what the Spark parse makes of
    it.
    """
    value_ok = _CANONICAL_VALUE.get(metric_type)
    if value_ok is None:
        return None
    tenants, metrics, tss, values, tags = cols = ([], [], [], [], [])
    for m in body:
        # a "_corrupt_record" key fills the parse's corrupt-record column
        if type(m) is not dict or "_corrupt_record" in m:
            return None
        mid, data, tenant = m.get("id"), m.get("data"), m.get("tenantId")
        retention, mtags = m.get("dataRetention"), m.get("tags")
        if not (
            type(mid) is str and type(data) is list
            and (tenant is None or type(tenant) is str) and _tags_ok(mtags)
            and (retention is None
                 or (type(retention) is int and -_INT32 <= retention < _INT32))
        ):
            return None
        if tenant is None:
            tenant = default_tenant
        for p in data:
            if type(p) is not dict:
                return None
            ts, v, ptags = p.get("timestamp"), p.get("value"), p.get("tags")
            if not ((v is None or value_ok(v)) and _tags_ok(ptags)):
                return None
            if ts is None:
                continue
            if not (type(ts) is int and -_INT64 <= ts < _INT64):
                return None
            tenants.append(tenant)
            metrics.append(mid)
            tss.append(ts)
            values.append(v)
            tags.append(mtags if ptags is None else ptags)
    import pyarrow as pa

    schema = arrow_point_schema(metric_type)
    try:
        return pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
            schema=schema,
        )
    except (pa.ArrowException, UnicodeError):  # e.g. a lone surrogate
        return None


def read_wire_jsonl(
    spark: SparkSession,
    path: str,
    metric_type: str,
    default_tenant: str = "",
) -> tuple[DataFrame, DataFrame]:
    """Batch-read a JSON-lines file/directory of wire metrics."""
    return parse_wire(
        spark.read.text(path), metric_type, default_tenant, json_col="value"
    )


def read_wire_stream(
    spark: SparkSession,
    path: str,
    metric_type: str,
    default_tenant: str = "",
) -> tuple[DataFrame, DataFrame]:
    """Streaming twin (S9: continuous ingest from a landing directory).
    Returns streaming (points, rejects) frames; pair with
    ``streaming/ingest.py`` sinks."""
    lines = spark.readStream.format("text").load(path)
    return parse_wire(lines, metric_type, default_tenant, json_col="value")


def to_wire_json(points: DataFrame, data_retention: int | None = None) -> DataFrame:
    """Points → one JSON wire line per (tenant, metric): the GET
    .../raw response shape.  ``sort_array`` of (ts, ...) structs gives
    deterministic descending-time data arrays like the reference's
    DESC reads — done with array functions after ONE groupBy, not a
    window sort."""
    grouped = points.groupBy("tenant_id", "metric").agg(
        # array_sort with an explicit ts comparator: sort_array can't
        # order structs that contain maps (the tags field)
        F.array_sort(
            F.collect_list(F.struct("ts", "value", "tags")),
            lambda l, r: F.when(l["ts"] < r["ts"], 1)
            .when(l["ts"] > r["ts"], -1)
            .otherwise(0),
        ).alias("_pts")
    )
    data = F.transform(
        "_pts",
        lambda p: F.struct(
            p["ts"].alias("timestamp"),
            p["value"].alias("value"),
            p["tags"].alias("tags"),
        ),
    )
    wire = grouped.select(
        F.to_json(
            F.struct(
                F.col("metric").alias("id"),
                F.col("tenant_id").alias("tenantId"),
                F.lit(data_retention).cast("int").alias("dataRetention"),
                data.alias("data"),
            ),
            {"ignoreNullFields": "true"},
        ).alias("json")
    )
    return wire
