"""Data model: metric types, bucket grids, time ranges, canonical schemas.

Mirrors the reference's public model (see SURVEY.md §1):

- ``MetricType`` — the closed 6-type system
  (reference: core/metrics-model/.../model/MetricType.java:33-41)
- ``AvailabilityType`` — UP/DOWN/UNKNOWN/ADMIN
  (reference: .../model/AvailabilityType.java:26-34)
- ``Buckets`` — the aggregation grid, with the exact ``fromCount`` /
  ``fromStep`` rounding arithmetic
  (reference: .../model/Buckets.java:129-172)
- ``TimeRange`` — relative defaults now-8h..now
  (reference: .../model/param/TimeRange.java:32-74)
- ``Duration`` literal parsing ``\\d+(ms|s|mn|h|d)``
  (reference: .../model/param/Duration.java:41-54)

Canonical point schema (one DataFrame shape for all metric types; the
``value`` column's type varies per metric type):
``(tenant_id string, metric string, ts long_ms, value <T>, tags map<string,string>)``.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass

from pyspark.sql.types import (
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# Metric types


class MetricType:
    """Closed metric type system (MetricType.java:33-41)."""

    GAUGE = "gauge"
    AVAILABILITY = "availability"
    COUNTER = "counter"
    COUNTER_RATE = "counter_rate"  # derived, not user-writable
    STRING = "string"
    GAUGE_RATE = "gauge_rate"  # derived, not user-writable

    CODES = {GAUGE: 0, AVAILABILITY: 1, COUNTER: 2, COUNTER_RATE: 3, STRING: 4, GAUGE_RATE: 5}
    USER_WRITABLE = (GAUGE, AVAILABILITY, COUNTER, STRING)
    ALL = tuple(CODES)

    @classmethod
    def check(cls, t: str) -> str:
        if t not in cls.CODES:
            raise ValueError(f"unknown metric type: {t!r}")
        return t


class AvailabilityType:
    """Availability states (AvailabilityType.java:26-34)."""

    UP = "up"
    DOWN = "down"
    UNKNOWN = "unknown"
    ADMIN = "admin"
    ALL = (UP, DOWN, UNKNOWN, ADMIN)
    CODES = {UP: 0, DOWN: 1, UNKNOWN: 2, ADMIN: 3}


# ---------------------------------------------------------------------------
# Bucket grid


@dataclass(frozen=True)
class Buckets:
    """Aggregation grid ``(start, step, count)`` in epoch-millis.

    Arithmetic ported exactly from Buckets.java:129-172 (including the
    non-obvious ``fromCount`` step adjustment) so grids match the
    reference for any (start, end, count|step) input.
    """

    start: int
    step: int
    count: int

    @staticmethod
    def _check_range(start: int, end: int) -> None:
        if end <= start:
            raise ValueError(f"start is higher than end: {start}, {end}")

    @classmethod
    def from_count(cls, start: int, end: int, count: int) -> "Buckets":
        cls._check_range(start, end)
        if count <= 0:
            raise ValueError(f"count is not positive: {count}")
        quotient, remainder = divmod(end - start, count)
        # count * quotient + remainder == end - start.  If remainder > 0 try
        # (quotient + 1), provided the larger step does not shrink the
        # effective bucket count below the request (Buckets.java:138-142).
        if remainder != 0 and (count - 1) * (quotient + 1) < (end - start):
            step = quotient + 1
        else:
            step = quotient
        if step <= 0:
            raise ValueError("computed step is equal to zero")
        return cls(start, step, count)

    @classmethod
    def from_step(cls, start: int, end: int, step: int) -> "Buckets":
        cls._check_range(start, end)
        if step <= 0:
            raise ValueError(f"step is not positive: {step}")
        if step > (end - start):
            return cls(start, step, 1)
        quotient, remainder = divmod(end - start, step)
        count = quotient if remainder == 0 else quotient + 1
        if count > 2**31 - 1:
            raise ValueError(f"computed number of buckets is too big: {count}")
        return cls(start, step, int(count))

    def bucket_start(self, index: int) -> int:
        return self.start + self.step * index

    @property
    def end(self) -> int:
        """Exclusive end of the grid (start of bucket ``count``)."""
        return self.start + self.step * self.count


# ---------------------------------------------------------------------------
# Time parameters

_DURATION_RE = re.compile(r"^(\d+)(ms|s|mn|h|d)$")
_DURATION_MS = {"ms": 1, "s": 1000, "mn": 60_000, "h": 3_600_000, "d": 86_400_000}

EIGHT_HOURS_MS = 8 * 3_600_000


def parse_duration(text: str) -> int:
    """``"150ms" | "30s" | "5mn" | "2h" | "7d"`` → millis (Duration.java:41-54)."""
    m = _DURATION_RE.match(text.strip())
    if not m:
        raise ValueError(f"invalid duration: {text!r}")
    return int(m.group(1)) * _DURATION_MS[m.group(2)]


def parse_relative_time(text: str | int | None, now_ms: int) -> int | None:
    """``+2h`` / ``-8h`` → now±offset; plain ints pass through
    (TimeRange.java:49-63)."""
    if text is None:
        return None
    if isinstance(text, int):
        return text
    s = str(text).strip()
    if s.startswith("+"):
        return now_ms + parse_duration(s[1:])
    if s.startswith("-"):
        return now_ms - parse_duration(s[1:])
    return int(s)


@dataclass(frozen=True)
class TimeRange:
    """Half-open query range ``[start, end)`` in epoch-millis.

    Defaults to now-8h .. now when either endpoint is omitted
    (TimeRange.java:32,43-44).
    """

    start: int
    end: int

    @classmethod
    def of(
        cls,
        start: str | int | None = None,
        end: str | int | None = None,
        now_ms: int | None = None,
    ) -> "TimeRange":
        now = int(time.time() * 1000) if now_ms is None else now_ms
        e = parse_relative_time(end, now)
        s = parse_relative_time(start, now)
        if e is None:
            e = now
        if s is None:
            s = e - EIGHT_HOURS_MS
        if e <= s:
            raise ValueError(f"invalid time range: start={s} end={e}")
        return cls(s, e)


def bucket_config(
    time_range: TimeRange,
    buckets: int | None = None,
    bucket_duration: str | int | None = None,
) -> Buckets:
    """REST ``BucketConfig`` semantics (model/param/BucketConfig.java:36-72):
    exactly one of ``buckets`` (count) or ``bucketDuration`` may be given;
    both together is a 400-class error in the reference."""
    if buckets is not None and bucket_duration is not None:
        raise ValueError("cannot use both the buckets and bucketDuration parameters")
    if buckets is None and bucket_duration is None:
        raise ValueError("either buckets or bucketDuration parameter is required")
    if buckets is not None:
        return Buckets.from_count(time_range.start, time_range.end, buckets)
    step = (
        parse_duration(bucket_duration)
        if isinstance(bucket_duration, str)
        else int(bucket_duration)
    )
    return Buckets.from_step(time_range.start, time_range.end, step)


def time_slice(ts_ms: int, slice_ms: int) -> int:
    """Floor ``ts`` to a multiple of ``slice_ms`` (DateTimeService.java:79-102).

    Used for the 2h storage block boundaries.
    """
    return (ts_ms // slice_ms) * slice_ms


TWO_HOURS_MS = 2 * 3_600_000


# ---------------------------------------------------------------------------
# Canonical schemas (SURVEY.md §1.4)

TAGS_TYPE = MapType(StringType(), StringType())


def point_schema(value_type) -> StructType:
    return StructType(
        [
            StructField("tenant_id", StringType(), False),
            StructField("metric", StringType(), False),
            StructField("ts", LongType(), False),
            StructField("value", value_type, False),
            StructField("tags", TAGS_TYPE, True),
        ]
    )


GAUGE_SCHEMA = point_schema(DoubleType())
COUNTER_SCHEMA = point_schema(LongType())
AVAILABILITY_SCHEMA = point_schema(StringType())
STRING_SCHEMA = point_schema(StringType())

SCHEMAS = {
    MetricType.GAUGE: GAUGE_SCHEMA,
    MetricType.COUNTER: COUNTER_SCHEMA,
    MetricType.AVAILABILITY: AVAILABILITY_SCHEMA,
    MetricType.STRING: STRING_SCHEMA,
}


def arrow_point_schema(metric_type: str):
    """Arrow twin of ``SCHEMAS[metric_type]`` with every field nullable:
    the columns the REST decoder builds and the driver-side L0 writer
    stores (a null value is kept, as in the Spark parse)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    return pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType))
         for f in SCHEMAS[metric_type].fields]
    )


METRICS_IDX_SCHEMA = StructType(
    [
        StructField("tenant_id", StringType(), False),
        StructField("type", StringType(), False),
        StructField("metric", StringType(), False),
        StructField("tags", TAGS_TYPE, True),
        StructField("data_retention", LongType(), True),  # days
    ]
)

TENANTS_SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("retentions", MapType(StringType(), LongType()), True),
    ]
)
