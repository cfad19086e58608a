"""Driver-built bounded frames as TRUE LocalRelations (r17 opt, guide
§4/§5).

``spark.createDataFrame(list_of_rows)`` does NOT build a LocalRelation:
it parallelizes the rows as a defaultParallelism-slice Python RDD
(``LogicalRDD`` over ``ParallelCollectionRDD`` + ``PythonRDD``).  Every
scan or broadcast build of such a frame is a full Spark job whose 32
tasks each pay a Python-worker round trip — measured 0.4-0.8 s per
referencing query stage at local[32], re-paid every time an AQE stage
or broadcast subtree references the frame (exchange reuse does not
apply to non-shuffle subtrees).  That fixed cost is why several serve
KPIs ran FASTER at 8 cores than 32 (BENCH_r16 scaling block).

Routing the same rows through a pyarrow Table makes
``createDataFrame`` produce a genuine ``LocalRelation``: broadcast
builds collect it driver-side with NO job and zero tasks, and the
values are bit-exact (Arrow carries int64 / float64 / strings / nested
structs verbatim — verified for doubles by bit comparison).

``local_df`` is a drop-in for the ``createDataFrame(rows, schema)``
call shape used across this package (lists of tuples / Rows / dicts +
a DDL string or StructType).  Anything it cannot convert falls back to
the plain path — correctness never depends on the fast path.

The reverse direction lives here too: :func:`read_parquet_bounded`
reads parquet files on the driver with pyarrow — no Spark job — when
they total at most :data:`LOCAL_READ_MAX_BYTES`, and returns ``None``
otherwise so the caller takes its distributed path ("read bounded,
else ``None``").  The BM25 / IVF serve metadata and the store's raw
point reads share that one cap.
"""

from __future__ import annotations

import os
from typing import Any, Sequence

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T


def _spark_schema(schema) -> T.StructType | None:
    if isinstance(schema, T.StructType):
        return schema
    if isinstance(schema, str):
        try:
            parsed = T._parse_datatype_string(schema)
        except Exception:  # noqa: BLE001 — parser needs an active session
            return None
        return parsed if isinstance(parsed, T.StructType) else None
    return None


def _cell(value: Any, dt: T.DataType) -> Any:
    """Normalize one value for pyarrow: Rows/tuples inside struct
    columns become dicts (pa.array accepts dicts, not tuples, for
    struct types); arrays recurse."""
    if value is None:
        return None
    if isinstance(dt, T.StructType):
        if isinstance(value, dict):
            items = value
        else:  # Row or plain tuple, positional
            items = {f.name: v for f, v in zip(dt.fields, value)}
        return {
            f.name: _cell(items.get(f.name), f.dataType) for f in dt.fields
        }
    if isinstance(dt, T.ArrayType):
        return [_cell(v, dt.elementType) for v in value]
    if isinstance(dt, T.MapType):
        return {
            k: _cell(v, dt.valueType) for k, v in dict(value).items()
        }
    return value


def local_df(
    spark: SparkSession, rows: Sequence, schema
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` that yields a
    LocalRelation (no RDD, no job per referencing stage) whenever the
    rows round-trip through Arrow; falls back to the plain path
    otherwise.  ``rows``: tuples / Rows / dicts; ``schema``: DDL string
    or StructType."""
    st = _spark_schema(schema)
    if st is None:
        return spark.createDataFrame(rows, schema)
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(st)
        names = [f.name for f in st.fields]

        def _get(r, i: int, name: str):
            if isinstance(r, Row) or isinstance(r, dict):
                return r[name]
            return r[i]

        cols: list = []
        for i, field in enumerate(st.fields):
            vals = [_cell(_get(r, i, field.name), field.dataType) for r in rows]
            cols.append(pa.array(vals, type=arrow_schema.field(i).type))
        tbl = pa.Table.from_arrays(cols, names=names)
        return spark.createDataFrame(tbl, st)
    except Exception:  # noqa: BLE001 — exotic types take the slow path
        return spark.createDataFrame(rows, schema)


#: the one byte cap for driver-side reads: files totalling more than
#: this are left to Spark.  The reads under it are serve-path metadata
#: (BM25 stats and dfreq slices, IVF centroids and codebooks) and one
#: series' raw points over a bounded range; the cap only guards against
#: a store that has outgrown that contract.
LOCAL_READ_MAX_BYTES = 64 * 1024 * 1024


def read_parquet_bounded(files: Sequence, columns=None, filter=None):
    """Read ``files`` with pyarrow on the driver — one ``pyarrow.Table``
    per file, ``columns`` projected and ``filter`` (a
    ``pyarrow.compute`` expression, or a callable giving one file's
    expression) pushed down to the row groups — or return ``None`` when
    the files total more than :data:`LOCAL_READ_MAX_BYTES`.  A file
    that vanished raises ``FileNotFoundError``: the caller knows
    whether to re-list or to fall back."""
    import pyarrow.parquet as pq

    if sum(os.path.getsize(f) for f in files) > LOCAL_READ_MAX_BYTES:
        return None
    return [
        pq.read_table(
            str(f), columns=columns,
            filters=filter(f) if callable(filter) else filter,
        )
        for f in files
    ]
