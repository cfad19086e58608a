"""Layered Parquet metrics store — the Spark-native replacement for the
reference's Cassandra 3-layer physical model (SURVEY.md §1.3-1.4).

Reference layout (bootstrap.groovy:101-147; DataAccessImpl.java:100-196):

- ``data_temp_<ts>``  — per-2h-slice hot write tables       → **hot layer**
- ``data_compressed`` — Gorilla-compressed 2h blocks        → **cold layer**
  (Parquet encodings + ZSTD replace Gorilla; do NOT port the codec)
- ``data``            — out-of-order/legacy rows            → hot layer too
- ``metrics_idx`` / ``metrics_tags_idx`` / ``retentions_idx`` → definition
  table (tags as a MapType column; the inverted tag index is unnecessary —
  the tag compiler filters the map directly, one scan)

Layout here::

    {base}/points/{type}/hot/seg-<hex>/*.parquet + _slices.json   (L0 segments)
    {base}/points/{type}/cold/date_slice=.../tenant_bucket=.../*.parquet
    {base}/metrics_idx/*.parquet
    {base}/tenants/*.parquet

Scale design:

- **LSM-shaped write path**: each ingest batch lands as ONE immutable
  plain-parquet hot *segment* (sorted by ``date_slice, tenant_bucket,
  metric, ts``; slice/bucket ride as data columns) — file count is
  O(shuffle tasks), NOT O(slices touched).  A sparse 30-day backfill
  writes a handful of files instead of ~360 Hive partition dirs, which
  is ~10x faster locally and avoids the small-file explosion on object
  storage.  A ``_slices.json`` sidecar (written before the atomic
  segment rename, so it is always present) records the exact distinct
  (slice, bucket) set — captured for free during the write via
  ``Dataset.observe`` — giving maintenance and the read path exact
  slice pruning without listing or footer scans.  A batch already in
  driver memory (a decoded REST body, as a pyarrow Table) takes a
  second writer: stamped and sorted in Python and written as one file
  with pyarrow — no Spark job — into the same segment layout, sidecar
  and commit path.
- compaction folds closed slices from the L0 segments into the *cold*
  layout, which IS partitioned by ``date_slice`` (2h floor,
  DateTimeService.java:79-122) and a hashed ``tenant_bucket`` —
  time-range + tenant predicates prune partitions; individual metric
  predicates prune via parquet min/max on the sorted ``metric`` column
  within each file.  Hot segments prune by sidecar (path level) and by
  row-group min/max on the sorted leading ``date_slice`` column.
- writes append to hot with an ``ingest_seq`` that is the **wall-clock
  microsecond write timestamp** (monotonic-bumped within a process) —
  exactly Cassandra's client-timestamp LWW: correct across process
  restarts and concurrent writers to clock-sync precision, with no
  driver-side state to recover.  Seq ties (same microsecond, or
  duplicate keys within one batch) break deterministically by larger
  ``value``, Cassandra's documented cell tie-break.
- reads union hot+cold and apply **last-write-wins per (tenant, metric,
  ts)** — the CQL-upsert semantics (DataAccessImpl.java:215-221) — via one
  ``row_number`` window (S2/S3 merge+dedup collapses into this).
- publish layer, two protocols (``commit_protocol=``): ``rename`` —
  maintenance serializes on a ``flock`` store lock and publishes slice
  rewrites with two atomic renames (old → trash, staging → live);
  single-host.  ``manifest`` — immutable segment/version dirs + a
  versioned JSON manifest committed by O_EXCL CAS
  (sources/manifest.py): multiple independent hosts may ingest and run
  maintenance concurrently, readers resolve one snapshot per query, and
  the commit primitive maps to conditional PUT on object storage (the
  Iceberg/Delta model, minimally).  Query and LWW semantics identical
  under both.
- compaction (B2 analogue, TempDataCompressor.java:40-98) rewrites closed
  slices: dedup → sort by (metric, ts) → cold, then drops the hot slice.
  Queries never see Gorilla blocks; they see sorted, ZSTD-Parquet row
  groups with min/max pruning.
- retention (B6) and tenant/metric deletion (B7) are partition-level
  rewrites/drops.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
import time
import uuid
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql.types import IntegerType, LongType, StructType

from rhq_metrics_spark.localrel import local_df

from rhq_metrics_spark.model import (
    METRICS_IDX_SCHEMA,
    SCHEMAS,
    TENANTS_SCHEMA,
    TWO_HOURS_MS,
    MetricType,
    arrow_point_schema,
)
from rhq_metrics_spark.sources.manifest import ManifestLog, new_id

_LAYERS = ("hot", "cold")
SEG_SIDECAR = "_slices.json"

# -- pure-Python XXH64 (public algorithm; github.com/Cyan4973/xxHash spec) --
# Matches Spark's ``xxhash64`` expression on string input (UTF-8 bytes,
# seed 42) so tenant buckets can be computed driver-side without a job.

_XP1 = 0x9E3779B185EBCA87
_XP2 = 0xC2B2AE3D27D4EB4F
_XP3 = 0x165667B19E3779F9
_XP4 = 0x85EBCA77C2B2AE63
_XP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xx_round(acc: int, inp: int) -> int:
    acc = (acc + inp * _XP2) & _M64
    return (_rotl64(acc, 31) * _XP1) & _M64


def _xxhash64(data: bytes, seed: int = 42) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XP1 + _XP2) & _M64
        v2 = (seed + _XP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XP1) & _M64
        while i + 32 <= n:
            v1 = _xx_round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _xx_round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _xx_round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _xx_round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (
            _rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ _xx_round(0, v)) * _XP1 + _XP4) & _M64
    else:
        h = (seed + _XP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xx_round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl64(h, 27) * _XP1 + _XP4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _XP1) & _M64
        h = (_rotl64(h, 23) * _XP2 + _XP3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _XP5) & _M64
        h = (_rotl64(h, 11) * _XP1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XP2) & _M64
    h ^= h >> 29
    h = (h * _XP3) & _M64
    h ^= h >> 32
    return h


class MetricsStore:
    """Filesystem-backed layered store with last-write-wins semantics."""

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        slice_ms: int = TWO_HOURS_MS,
        tenant_buckets: int = 16,
        commit_protocol: str = "rename",
    ):
        """``commit_protocol``:

        - ``'rename'`` (default): flock-serialized maintenance + atomic
          directory renames.  Single-host (or single-maintainer) stores
          on POSIX filesystems.
        - ``'manifest'``: versioned-manifest snapshots + O_EXCL CAS
          commits (sources/manifest.py) — multiple independent processes
          may ingest and run maintenance concurrently; readers see only
          committed snapshots.  The protocol maps to conditional PUT on
          object storage.  Run :meth:`vacuum` periodically to collect
          superseded files.
        """
        if commit_protocol not in ("rename", "manifest"):
            raise ValueError(f"unknown commit_protocol {commit_protocol!r}")
        self.spark = spark
        self.base = Path(base_path)
        self.slice_ms = slice_ms
        self.tenant_buckets = tenant_buckets
        #: parquet codec for transient L0 (hot) segments; cold rewrites
        #: are always ZSTD.  See _write_segment_staging.
        self.l0_compression = "snappy"
        self.manifest = ManifestLog(self.base) if commit_protocol == "manifest" else None
        self._last_seq = 0
        # read-side snapshot pin (see as_of): None = read latest
        self._read_pin: dict | None = None
        # Plan cache (rename mode): building a parquet DataFrame re-lists
        # the directory tree at analysis time, which at serving latency
        # dominates the query (~200ms of a ~350ms dashboard call; on
        # object storage a full LIST per query).  Keys are
        # self-invalidating — cold is keyed by the layer root's mtime
        # (one stat() per query; directory renames bump it, covering
        # cross-process compaction), hot by the immutable segment tuple
        # (retired segments change the tuple via the per-query listing).
        self._plan_cache: dict = {}

    # -- snapshot reads (time travel; manifest mode) -------------------------

    def snapshot_version(self) -> int:
        """Current committed manifest version — capture this at the start
        of a reproducible run and pass it to :meth:`as_of` later."""
        if self.manifest is None:
            raise ValueError("snapshots require commit_protocol='manifest'")
        return self.manifest.current()[0]

    def snapshot_versions(self) -> list[int]:
        """Versions still readable via :meth:`as_of` (ascending)."""
        if self.manifest is None:
            raise ValueError("snapshots require commit_protocol='manifest'")
        return self.manifest.versions()

    @contextlib.contextmanager
    def as_of(self, version: int):
        """Pin every read inside the block to manifest ``version`` —
        the Delta/Iceberg ``versionAsOf`` capability on this store's
        manifest log.  A training run records ``snapshot_version()`` at
        kickoff and re-reads the exact same corpus months later (to the
        extent :meth:`vacuum`'s retained window allows; a collected
        version raises ``LookupError`` instead of silently reading
        drifted data).  Reads only: mutating ops inside the block raise,
        because writers must act on the CURRENT state, and maintenance
        rewrites planned against a stale snapshot would be lost (or
        resurrect deleted rows) on commit."""
        if self.manifest is None:
            raise ValueError("time travel requires commit_protocol='manifest'")
        prev = self._read_pin
        self._read_pin = self.manifest.at(version)[1]
        try:
            yield self
        finally:
            self._read_pin = prev

    def _read_snap(self) -> dict | None:
        """Snapshot for read paths: the as_of pin, else latest."""
        if self.manifest is None:
            return None
        if self._read_pin is not None:
            return self._read_pin
        return self.manifest.current()[1]

    def _assert_not_pinned(self, op: str) -> None:
        if self._read_pin is not None:
            raise ValueError(
                f"{op} is not allowed inside as_of(): writes and "
                "maintenance must run against the current snapshot"
            )

    # -- plan cache ----------------------------------------------------------

    def _cache_put(self, key, df) -> None:
        if len(self._plan_cache) > 256:
            self._plan_cache.clear()
        self._plan_cache[key] = df

    def refresh(self) -> None:
        """Drop cached scan plans.  Not normally needed — cache keys are
        self-invalidating (cold-root mtime / hot segment tuple) — but
        available for e.g. clock-skewed network filesystems where a
        remote writer's rename may not bump the observed mtime."""
        self._plan_cache.clear()

    # -- paths -------------------------------------------------------------

    def _points_path(self, metric_type: str, layer: str) -> Path:
        assert layer in _LAYERS
        return self.base / "points" / MetricType.check(metric_type) / layer

    # -- write path (S5) -----------------------------------------------------

    def _next_seq(self) -> int:
        """Per-batch write timestamp: wall-clock microseconds, bumped to
        stay strictly monotonic within this process.  Mirrors Cassandra
        client timestamps (CQL ``USING TIMESTAMP`` microseconds,
        DataAccessImpl.java:215-221): a reopened store or a second
        concurrent writer keeps winning LWW without recovering any state
        from disk."""
        self._last_seq = max(self._last_seq + 1, time.time_ns() // 1_000)
        return self._last_seq

    def _stamp(self, df: DataFrame) -> DataFrame:
        """Add storage columns: date_slice partition, tenant bucket, ingest seq."""
        return (
            df.withColumn(
                # integer floor (not truncation): negative epoch-millis
                # must land in the slice the read path (model.time_slice,
                # find_data_points) computes with floor division
                "date_slice",
                F.floor(F.col("ts") / F.lit(self.slice_ms)).cast("long")
                * F.lit(self.slice_ms),
            )
            .withColumn(
                "tenant_bucket",
                F.pmod(F.xxhash64("tenant_id"), F.lit(self.tenant_buckets)).cast("int"),
            )
            .withColumn("ingest_seq", F.lit(self._next_seq()))
        )

    def _stamp_arrow(self, table, metric_type: str):
        """:meth:`_stamp` for a pyarrow Table already in driver memory:
        the same storage columns, computed in Python, cast to the types
        a Spark-written segment carries."""
        import pyarrow as pa

        table = table.select(SCHEMAS[metric_type].fieldNames()).cast(
            arrow_point_schema(metric_type)
        )
        # floor division, as in _stamp: negative epoch-millis land in the
        # slice the read path computes
        slices = table["ts"].to_numpy() // self.slice_ms * self.slice_ms
        tenants = table["tenant_id"].combine_chunks().dictionary_encode()
        buckets = pa.array(
            [self._tenant_bucket_of(t) for t in tenants.dictionary.to_pylist()],
            pa.int32(),
        ).take(tenants.indices)
        seq = pa.array([self._next_seq()] * table.num_rows, pa.int64())
        return (
            table.append_column("date_slice", pa.array(slices, pa.int64()))
            .append_column("tenant_bucket", buckets)
            .append_column("ingest_seq", seq)
        )

    # A single L0 input partition larger than this (plan-estimated)
    # triggers a spreading shuffle; below it, natural partitioning wins.
    L0_SPREAD_BYTES_PER_TASK = 128 << 20

    def _l0_partitioned(self, stamped: DataFrame, n_tasks: int) -> DataFrame:
        """Pick the L0 write partitioning per batch — NO SHUFFLE unless
        the batch shape forces one.  Ingest is append-only and readers
        prune by the exact-slice sidecar, so row placement across files
        is free: a shuffle here buys nothing at 100 TB except a full
        extra pass over every ingested byte (and Spark's round-robin
        repartition additionally binary-sorts every row for determinism).
        Measured at sf0.1: natural partitioning ~220k pts/s on BOTH the
        360-slice backfill and the dense 8h shape vs ~130-180k for every
        shuffle variant (round-robin / hash-on-key / range).

        - small batch (plan-estimated bytes under one spread-unit): write
          as-is, probe nothing — partitioning cannot matter and the
          steady-state micro-batch path stays zero-overhead.
        - large batch, many input partitions (> 4x parallelism):
          ``coalesce`` down — narrow, shuffle-free, caps files-per-batch.
        - large batch in few partitions (a 10 GB batch arriving as one
          gzip partition): round-robin spread, the only case where the
          shuffle pays for itself.

        The probes are driver-only and cheap (logical-plan stats ~10 ms;
        JVM-side RDD partition count ~60 ms, paid only on large batches).
        """
        try:
            est = int(
                stamped._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:  # noqa: BLE001 — stats are advisory
            est = 0
        if est >= 1 << 50:
            # Catalyst reports defaultSizeInBytes (~Long.MaxValue) for
            # plans it can't size (some streaming/foreachBatch frames);
            # treat unknown as small — no shuffle is the safe default
            est = 0
        if est <= self.L0_SPREAD_BYTES_PER_TASK:
            # still cap files-per-batch: coalesce is narrow (no shuffle)
            # and a NO-OP when the input already has fewer partitions,
            # so a small batch assembled from thousands of tiny upstream
            # files can't spray thousands of tiny L0 files
            return stamped.coalesce(n_tasks * 4)
        n_in = stamped._jdf.rdd().getNumPartitions()
        if n_in > n_tasks * 4:
            return stamped.coalesce(n_tasks)
        if n_in < n_tasks and est > max(n_in, 1) * self.L0_SPREAD_BYTES_PER_TASK:
            return stamped.repartition(n_tasks)
        return stamped

    def _write_segment_staging(
        self, stamped, staging: Path
    ) -> set[tuple[int, int]]:
        """Write one immutable plain-parquet segment into ``staging``
        and return its exact (slice, bucket) set.  A stamped Arrow table
        goes to :meth:`_write_arrow_segment`.  A DataFrame is written by
        Spark, partitioned by :meth:`_l0_partitioned` (shuffle-free unless the
        batch arrives as few-but-huge partitions), then sorted within
        each partition: each file holds sorted
        (slice, bucket, metric, ts) RUNS, so parquet row-group min/max
        still prunes slice- and metric-filtered reads; file-level slice
        overlap is fine at this layer — readers prune SEGMENTS by the
        exact-slice sidecar, and compaction builds the strictly
        slice-partitioned cold layout.  Files per batch ≤
        max(input partitions, 4x parallelism).  The distinct
        (slice, bucket) set is captured during the SAME write job via
        ``Dataset.observe`` (an accumulator — no second scan, no
        driver-side data read); its size is bounded by
        #slices x #buckets, never by row count."""
        if not isinstance(stamped, DataFrame):
            return self._write_arrow_segment(stamped, staging)
        obs = Observation()
        n_tasks = self.spark.sparkContext.defaultParallelism
        (
            self._l0_partitioned(stamped, n_tasks)
            .sortWithinPartitions("date_slice", "tenant_bucket", "metric", "ts")
            .observe(
                obs,
                F.collect_set(F.struct("date_slice", "tenant_bucket")).alias("sb"),
            )
            .write.mode("overwrite")
            # L0 segments are transient — compaction rewrites them into
            # the ZSTD cold layout — so heavyweight compression here is
            # CPU spent on bytes that live hours.  Snappy measured +40%
            # ingest throughput vs ZSTD at sf0.1 (133k -> 187k pts/s)
            # for ~1.5x the transient footprint; the cold layer (the
            # bytes/point KPI) stays ZSTD.
            .option("compression", self.l0_compression)
            .parquet(str(staging))
        )
        return {
            (r["date_slice"], r["tenant_bucket"]) for r in obs.get["sb"]
        }

    def _write_arrow_segment(self, stamped, staging: Path) -> set[tuple[int, int]]:
        """Arrow twin of the Spark segment write: one file sorted by
        (slice, bucket, metric, ts), written with pyarrow from the
        driver — no Spark job, no ``_SUCCESS``/``.crc`` files.  Readers
        see the same column names and types as a Spark-written
        segment."""
        import pyarrow.parquet as pq

        if stamped.num_rows == 0:
            return set()
        staging.mkdir(parents=True, exist_ok=True)
        pq.write_table(
            stamped.sort_by([(c, "ascending") for c in
                             ("date_slice", "tenant_bucket", "metric", "ts")]),
            str(staging / f"part-00000-{uuid.uuid4()}.parquet"),
            compression=self.l0_compression,
        )
        pairs = stamped.group_by(["date_slice", "tenant_bucket"]).aggregate([])
        return set(zip(pairs["date_slice"].to_pylist(),
                       pairs["tenant_bucket"].to_pylist()))

    def _publish_segment(
        self, staging: Path, root: Path, pairs: set[tuple[int, int]]
    ) -> str | None:
        """Atomically move a staged segment under ``root`` with its
        ``_slices.json`` sidecar (underscore prefix → invisible to Spark
        file listing).  Returns the segment name, or None for an empty
        batch."""
        if not pairs:
            shutil.rmtree(staging, ignore_errors=True)
            return None
        (staging / SEG_SIDECAR).write_text(
            json.dumps(
                {
                    "slices": sorted({p[0] for p in pairs}),
                    "buckets": sorted({p[1] for p in pairs}),
                }
            )
        )
        seg = new_id("seg")
        root.mkdir(parents=True, exist_ok=True)
        os.rename(staging, root / seg)
        return seg

    def _hot_segments(self, metric_type: str) -> list[Path]:
        root = self._points_path(metric_type, "hot")
        if not root.exists():
            return []
        return sorted(p for p in root.glob("seg-*") if p.is_dir())

    def _seg_meta(self, segdir: Path) -> dict:
        """Sidecar of a hot segment.  The sidecar is written before the
        atomic publish rename so it is always present; the fallback scan
        (one tiny columnar job) covers hand-built or damaged stores."""
        try:
            return json.loads((segdir / SEG_SIDECAR).read_text())
        except (OSError, ValueError):
            rows = (
                self.spark.read.parquet(str(segdir))
                .select("date_slice", "tenant_bucket")
                .distinct()
                .collect()
            )
            return {
                "slices": sorted({r["date_slice"] for r in rows}),
                "buckets": sorted({r["tenant_bucket"] for r in rows}),
            }

    def _read_segment_paths(
        self, metric_type: str, segs: list[Path]
    ) -> DataFrame | None:
        """Read an explicit list of hot segments (all storage columns are
        real data columns — no Hive inference)."""
        if not segs:
            return None
        schema = StructType(list(SCHEMAS[metric_type].fields))
        schema = (
            schema.add("ingest_seq", LongType())
            .add("date_slice", LongType())
            .add("tenant_bucket", IntegerType())
        )
        df = (
            self.spark.read.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(*[str(s) for s in segs])
        )
        return df.withColumn("_layer_seq", F.col("ingest_seq").cast("long"))

    def add_data_points(self, metric_type: str, df) -> None:
        """Batch ingest: write ONE immutable L0 segment (append; LWW
        applied at read).  No locks — publish is a single atomic rename,
        so ingest never contends with maintenance or other writers.

        ``df`` is a DataFrame, or a ``pyarrow.Table`` of the same point
        columns: rows already in driver memory (a REST body) are written
        with pyarrow and run no Spark job.

        Manifest mode stages the segment the same way (private dir → no
        Spark ``_temporary`` collisions between concurrent writer
        processes), moves it under the hot root, then CAS-commits it
        into the manifest.  Readers resolve manifests, so nothing is
        visible before the commit.  Slice pruning happens manifest-side
        (segment selection by slice set) and file-side (sorted-column
        min/max stats), the Iceberg model."""
        self._assert_not_pinned("add_data_points")
        stamped = (
            self._stamp(df) if isinstance(df, DataFrame)
            else self._stamp_arrow(df, metric_type)
        )
        staging = self.base / "_staging" / new_id("ingest")
        pairs = self._write_segment_staging(stamped, staging)
        seg = self._publish_segment(
            staging, self._points_path(metric_type, "hot"), pairs
        )
        if seg is None or self.manifest is None:
            return
        slices = sorted({p[0] for p in pairs})

        def mutate(state: dict) -> dict:
            entry = ManifestLog.points_entry(state, metric_type, "hot")
            for s in slices:
                entry.setdefault(str(s), []).append(seg)
            return state

        self.manifest.commit(mutate)

    # -- read path (S1-S4, S6) ----------------------------------------------

    def _read_layer(
        self,
        metric_type: str,
        layer: str,
        snap: dict | None = None,
        slices=None,
    ) -> DataFrame | None:
        """``snap``/``slices`` apply in manifest mode only: ``snap`` pins
        one manifest snapshot across multiple reads; ``slices`` is a
        list, or a half-open ``(lo, hi)`` tuple, used for manifest-side
        path pruning (rename mode gets the same pruning from Hive
        partition dirs + the caller's column filters)."""
        if self.manifest is not None:
            return self._read_layer_manifest(metric_type, layer, snap, slices)
        if layer == "hot":
            # retry loop (r14): rename-mode compaction retires a hot
            # segment between a reader's directory listing and Spark's
            # plan-time path resolution — the read then raises
            # PATH_NOT_FOUND for a segment whose rows are already
            # LWW-identical in cold.  Re-list and re-plan: the fresh
            # listing excludes the retired segment and the caller's
            # cold read (same merged view) serves its rows.  Manifest
            # mode never needs this — snapshots pin the segment set.
            from pyspark.errors.exceptions.captured import AnalysisException

            last_exc: Exception | None = None
            for _attempt in range(3):
                # the WHOLE per-attempt body sits inside the try (ADVICE
                # r14): for slice-filtered reads, _seg_meta on a segment
                # retired between listing and sidecar read falls back to
                # spark.read.parquet on the vanished dir — the same
                # PATH_NOT_FOUND race as the plan-time resolution, so it
                # must trigger the same re-list
                try:
                    segs = self._hot_segments(metric_type)
                    if slices is not None:
                        segs = [
                            s
                            for s in segs
                            if any(
                                self._want_slice(x, slices)
                                for x in self._seg_meta(s)["slices"]
                            )
                        ]
                    key = ("hot", metric_type, tuple(str(s) for s in segs))
                    df = self._plan_cache.get(key)
                    if df is None:
                        df = self._read_segment_paths(metric_type, segs)
                        if df is not None:
                            self._cache_put(key, df)
                except AnalysisException as exc:
                    if "PATH_NOT_FOUND" not in str(exc):
                        raise
                    last_exc = exc
                    continue
                if df is not None and slices is not None:
                    # belt-and-braces: path pruning is segment-granular,
                    # the column filter makes the selection slice-exact
                    # (pushed to the scan; sorted date_slice → row-group
                    # skipping)
                    df = df.filter(self._slice_pred(slices))
                return df
            raise last_exc  # three listings in a row raced compaction
        path = self._points_path(metric_type, layer)
        if not path.exists() or not any(path.iterdir()):
            return None
        key = ("cold", metric_type, path.stat().st_mtime_ns)
        df = self._plan_cache.get(key)
        if df is not None:
            return df
        # StructType.add mutates in place — build a fresh copy each time
        schema = StructType(list(SCHEMAS[metric_type].fields))
        schema = (
            schema.add("ingest_seq", LongType())
            .add("date_slice", LongType())
            .add("tenant_bucket", IntegerType())
        )
        df = self.spark.read.schema(schema).parquet(str(path))
        # cold rows outrank nothing; hot rows with higher ingest_seq win.
        df = df.withColumn("_layer_seq", F.lit(-1).cast("long"))
        self._cache_put(key, df)
        return df

    @staticmethod
    def _want_slice(s: int, slices) -> bool:
        if slices is None:
            return True
        if isinstance(slices, tuple):
            return slices[0] <= s < slices[1]
        return s in slices

    @staticmethod
    def _slice_pred(slices):
        if isinstance(slices, tuple):
            return (F.col("date_slice") >= F.lit(slices[0])) & (
                F.col("date_slice") < F.lit(slices[1])
            )
        return F.col("date_slice").isin(list(slices))

    def _read_layer_manifest(
        self, metric_type: str, layer: str, snap: dict | None, slices
    ) -> DataFrame | None:
        if snap is None:
            snap = self._read_snap()
        entry = (
            snap.get("points", {}).get(metric_type, {}).get(layer, {})
        )
        root = self._points_path(metric_type, layer)
        if layer == "hot":
            # A segment is LIVE only for the slices that still reference
            # it: compaction/rewrites retire a segment slice-by-slice, so
            # a straddling segment can physically hold rows for a slice
            # that has since been folded into cold (or row-deleted).
            # Reading those dead rows back would resurrect them — group
            # segments by live-slice set and filter each group exactly.
            seg_live: dict[str, set[int]] = {}
            for s, segs in entry.items():
                if self._want_slice(int(s), slices):
                    for seg in segs:
                        seg_live.setdefault(seg, set()).add(int(s))
            if not seg_live:
                return None
            groups: dict[frozenset, list[str]] = {}
            for seg, live in seg_live.items():
                groups.setdefault(frozenset(live), []).append(seg)
            out = None
            for live, segs in groups.items():
                df = self._read_segment_paths(
                    metric_type, [root / seg for seg in segs]
                ).filter(F.col("date_slice").isin(sorted(live)))
                out = df if out is None else out.unionByName(df)
            return out
        paths = [
            str(root / f"s-{s}" / vdir)
            for s, vdir in entry.items()
            if self._want_slice(int(s), slices)
        ]
        if not paths:
            return None
        schema = StructType(list(SCHEMAS[metric_type].fields))
        schema = (
            schema.add("ingest_seq", LongType())
            .add("date_slice", LongType())
            .add("tenant_bucket", IntegerType())
        )
        df = (
            self.spark.read.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(*paths)
        )
        return df.withColumn("_layer_seq", F.lit(-1).cast("long"))

    def _merged_lww(
        self, metric_type: str, filter_fn=None, slices=None
    ) -> DataFrame | None:
        """hot ∪ cold with last-write-wins, windowing ONLY the slices that
        actually have hot data.

        Replaces SortedMerge + distinctUntilChanged (SortedMerge.java:46-79;
        MetricsServiceImpl.java:680-693).  Compacted (cold-only) slices are
        already deduped — at scale that is almost all of the data, so the
        LWW ``row_number`` shuffle covers only the few open slices instead
        of the whole scan.  ``filter_fn`` is applied per layer BEFORE the
        window so pushdown/pruning reach the parquet scans.

        In manifest mode the whole merge resolves ONE snapshot — a
        compaction committing mid-query can't show (or hide) a slice in
        one layer but not the other.
        """
        snap = self._read_snap()
        hot = self._read_layer(metric_type, "hot", snap=snap, slices=slices)
        cold = self._read_layer(metric_type, "cold", snap=snap, slices=slices)
        if filter_fn is not None:
            hot = filter_fn(hot) if hot is not None else None
            cold = filter_fn(cold) if cold is not None else None
        if hot is None and cold is None:
            return None
        if hot is None:
            return cold
        overlap = self._layer_slices(metric_type, "hot", snap=snap)
        clean = None
        df = hot
        if cold is not None and overlap:
            df = df.unionByName(cold.filter(F.col("date_slice").isin(overlap)))
            clean = cold.filter(~F.col("date_slice").isin(overlap))
        elif cold is not None:
            clean = cold
        # seq ties (same-microsecond writers, duplicate keys in one batch)
        # break by larger value — Cassandra's deterministic cell tie-break
        w = Window.partitionBy("tenant_id", "metric", "ts").orderBy(
            F.col("_layer_seq").desc(), F.col("value").desc_nulls_last()
        )
        df = (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        return df.unionByName(clean) if clean is not None else df

    def state_token(self, metric_type: str):
        """Cheap, hashable token that changes whenever a read of
        ``metric_type`` could see different data — for callers that pin
        a constructed DataFrame across requests (the service's hybrid
        tail base).  One glob + one stat in rename mode (the same
        listing cost a single uncached read pays anyway), the manifest
        version in manifest mode."""
        if self.manifest is not None:
            snap = self._read_snap()
            return ("m", id(snap) if self._read_pin is not None
                    else self.manifest.current()[0])
        segs = tuple(s.name for s in self._hot_segments(metric_type))
        path = self._points_path(metric_type, "cold")
        mtime = path.stat().st_mtime_ns if path.exists() else 0
        return (segs, mtime)

    def points(self, metric_type: str, dedup: bool = True) -> DataFrame:
        """Unified hot ∪ cold view with last-write-wins per (tenant, metric, ts)."""
        if not dedup:
            layers = [
                lyr
                for lyr in (
                    self._read_layer(metric_type, "hot"),
                    self._read_layer(metric_type, "cold"),
                )
                if lyr is not None
            ]
            if not layers:
                return local_df(self.spark, [], SCHEMAS[metric_type])
            df = layers[0]
            for other in layers[1:]:
                df = df.unionByName(other)
            return df.select("tenant_id", "metric", "ts", "value", "tags")
        merged = self._merged_lww(metric_type)
        if merged is None:
            return local_df(self.spark, [], SCHEMAS[metric_type])
        return merged.select("tenant_id", "metric", "ts", "value", "tags")

    def find_data_points(
        self,
        metric_type: str,
        tenant_id: str,
        metric: str | list[str] | None,
        start: int,
        end: int,
        limit: int = 0,
        order: str | None = "asc",
    ) -> DataFrame:
        """S1/S4 raw scan: partition-pruned, half-open [start, end).

        The date_slice/tenant filters are applied *before* the LWW window so
        pruning reaches the parquet scan.

        ``order=None`` skips the global ``orderBy(ts)`` — a range-partition
        Exchange + Sort that aggregation consumers (bucket stats, rollup
        tails, TWA/increase partials) would pay only to have the downstream
        hash-agg destroy it.  Ordering is an O1 *presentation* contract for
        raw-point reads, not part of scan semantics; every internal consumer
        that feeds an agg or its own window spec passes None.
        """
        first_slice = (start // self.slice_ms) * self.slice_ms
        bucket = self._tenant_bucket_of(tenant_id)

        def prune(df: DataFrame) -> DataFrame:
            df = df.filter(
                (F.col("date_slice") >= F.lit(first_slice))
                & (F.col("date_slice") < F.lit(end))
                & (F.col("tenant_bucket") == F.lit(bucket))
                & (F.col("tenant_id") == tenant_id)
                & (F.col("ts") >= start)
                & (F.col("ts") < end)
            )
            if metric is not None:
                if isinstance(metric, str):
                    df = df.filter(F.col("metric") == metric)
                else:
                    df = df.filter(F.col("metric").isin(metric))
            return df

        merged = self._merged_lww(metric_type, prune, slices=(first_slice, end))
        if merged is None:
            return local_df(self.spark, [], SCHEMAS[metric_type])
        df = merged.select("tenant_id", "metric", "ts", "value", "tags")
        if order is not None:
            df = df.orderBy(
                F.col("ts").asc() if order == "asc" else F.col("ts").desc()
            )
        return df.limit(limit) if limit and limit > 0 else df

    def _tenant_bucket_of(self, tenant_id: str) -> int:
        """Driver-side twin of the ``pmod(xxhash64(tenant_id), buckets)``
        stamp — pure Python, no 1-row Spark job per service call."""
        h = _xxhash64(tenant_id.encode("utf-8"), seed=42)
        if h >= 1 << 63:  # Spark's xxhash64 returns a signed long
            h -= 1 << 64
        return h % self.tenant_buckets

    # -- maintenance serialization --------------------------------------------

    @contextlib.contextmanager
    def _maintenance_lock(self):
        """Cross-process mutex for maintenance ops (compaction, retention,
        deletes): two maintainers must not interleave slice rewrites.
        ``flock`` on local/NFS filesystems; on object storage replace the
        whole publish layer with a table format (module docstring)."""
        self.base.mkdir(parents=True, exist_ok=True)
        fd = os.open(str(self.base / "_maintenance.lock"), os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _swap_in(self, src: Path, dst: Path) -> None:
        """Publish a rewritten partition with two atomic renames: live →
        trash, staging → live.  Readers racing the swap see either the
        old or the new data (or, in the instant between renames, neither)
        — never a half-written mix; the trash dir is dropped last."""
        trash = dst.parent / f"_trash-{uuid.uuid4().hex}"
        if dst.exists():
            os.rename(dst, trash)
        dst.parent.mkdir(parents=True, exist_ok=True)
        os.rename(src, dst)
        shutil.rmtree(trash, ignore_errors=True)
        # Bump every ancestor's mtime up to the store base: a swap two
        # levels down (date_slice=X/tenant_bucket=Y) doesn't touch the
        # layer root, but the mtime-keyed plan cache (_read_layer) keys
        # cold scans on exactly that root.
        p = dst.parent
        base = self.base.resolve()
        for _ in range(8):
            try:
                os.utime(p)
            except OSError:
                break
            if p.resolve() == base or p.parent == p:
                break
            p = p.parent

    # -- lifecycle jobs (B2/B6/B7) -------------------------------------------

    def hot_slices(self, metric_type: str) -> list[int]:
        return self._layer_slices(metric_type, "hot")

    def cold_slices(self, metric_type: str) -> list[int]:
        return self._layer_slices(metric_type, "cold")

    def _layer_slices(
        self, metric_type: str, layer: str, snap: dict | None = None
    ) -> list[int]:
        if self.manifest is not None:
            if snap is None:
                snap = self._read_snap()
            entry = snap.get("points", {}).get(metric_type, {}).get(layer, {})
            return sorted(int(s) for s in entry)
        if layer == "hot":
            out: set[int] = set()
            for seg in self._hot_segments(metric_type):
                out.update(self._seg_meta(seg)["slices"])
            return sorted(out)
        path = self._points_path(metric_type, layer)
        if not path.exists():
            return []
        return sorted(
            int(p.name.split("=", 1)[1])
            for p in path.iterdir()
            if p.is_dir() and p.name.startswith("date_slice=")
        )

    def compact(self, metric_type: str, closed_before_ms: int) -> list[int]:
        """B2 analogue: merge every closed hot slice (strictly older than
        ``closed_before_ms``) with its cold slice under last-write-wins,
        rewrite sorted into cold, drop the hot slices.

        All closed slices compact in ONE Spark job (the date_slice
        partition column splits the output): a backfill with hundreds of
        slices costs one shuffle, not one job per slice."""
        self._assert_not_pinned("compact")
        if self.manifest is not None:
            # no flock: the manifest CAS is the (multi-host) serialization;
            # racing compactors each win some slices, losers' output is
            # unreferenced and vacuumed
            return self._compact_manifest(metric_type, closed_before_ms)
        with self._maintenance_lock():
            return self._compact_locked(metric_type, closed_before_ms)

    def _compact_manifest(self, metric_type: str, closed_before_ms: int) -> list[int]:
        log = self.manifest
        _, snap = log.current()
        hot_entry = snap.get("points", {}).get(metric_type, {}).get("hot", {})
        cold_entry = snap.get("points", {}).get(metric_type, {}).get("cold", {})
        closed = [
            int(s) for s in hot_entry if int(s) + self.slice_ms <= closed_before_ms
        ]
        if not closed:
            return []
        hot = self._read_layer(metric_type, "hot", snap=snap, slices=closed)
        cold = self._read_layer(metric_type, "cold", snap=snap, slices=closed)
        merged = hot if cold is None else hot.unionByName(cold)
        w = Window.partitionBy("tenant_id", "metric", "ts").orderBy(
            F.col("_layer_seq").desc(), F.col("value").desc_nulls_last()
        )
        compacted = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "tenant_id",
                "metric",
                "ts",
                "value",
                "tags",
                F.lit(0).cast("long").alias("ingest_seq"),
                "date_slice",
                "tenant_bucket",
            )
        )
        staging = self.base / "_staging" / new_id("compact")
        (
            compacted.withColumn("_ds", F.col("date_slice"))
            .withColumn("_tb", F.col("tenant_bucket"))
            .repartition("_ds", "_tb")
            .sortWithinPartitions("metric", "ts")
            .write.mode("overwrite")
            .option("compression", "zstd")
            .option("parquet.writer.version", "v2")
            .partitionBy("_ds", "_tb")
            .parquet(str(staging))
        )
        cold_root = self._points_path(metric_type, "cold")
        vmap: dict[int, str] = {}
        for slice_start in closed:
            src = staging / f"_ds={slice_start}"
            if not src.exists():
                continue
            vdir = new_id("v")
            dst = cold_root / f"s-{slice_start}" / vdir
            dst.parent.mkdir(parents=True, exist_ok=True)
            os.rename(src, dst)
            vmap[slice_start] = vdir
        shutil.rmtree(staging, ignore_errors=True)

        def mutate(state: dict) -> dict | None:
            cur_hot = ManifestLog.points_entry(state, metric_type, "hot")
            cur_cold = ManifestLog.points_entry(state, metric_type, "cold")
            changed = False
            for s in list(vmap):
                key = str(s)
                if cur_cold.get(key) != cold_entry.get(key):
                    # a racing compactor republished this slice after our
                    # snapshot: our rewrite is stale — leave theirs
                    vmap.pop(s)
                    continue
                snap_segs = set(hot_entry.get(key, []))
                if not snap_segs <= set(cur_hot.get(key, [])):
                    # a racing retention / tenant- or metric-delete /
                    # slice rewrite REMOVED hot segments we compacted:
                    # publishing our output would resurrect the deleted
                    # rows into cold.  Drop the slice — the next
                    # compaction run rebuilds it from the current state.
                    vmap.pop(s)
                    continue
                remaining = [g for g in cur_hot.get(key, []) if g not in snap_segs]
                if remaining:
                    # segments ingested after our snapshot stay hot; the
                    # next compaction merges them (their seq > cold's -1)
                    cur_hot[key] = remaining
                else:
                    cur_hot.pop(key, None)
                cur_cold[key] = vmap[s]
                changed = True
            return state if changed else None

        log.commit(mutate)
        return sorted(vmap)

    def _compact_locked(self, metric_type: str, closed_before_ms: int) -> list[int]:
        # capture the segment list ONCE: a segment published after this
        # point is untouched (read from a stable path list, retired from
        # the same list) — concurrent ingest never loses data
        segs = self._hot_segments(metric_type)
        metas = {seg: set(self._seg_meta(seg)["slices"]) for seg in segs}
        closed_set = {
            s
            for sl in metas.values()
            for s in sl
            if s + self.slice_ms <= closed_before_ms
        }
        closed = sorted(closed_set)
        if not closed:
            return []
        hot = self._read_segment_paths(metric_type, segs).filter(
            F.col("date_slice").isin(closed)
        )
        cold_layer = self._read_layer(metric_type, "cold")
        merged = hot
        if cold_layer is not None:
            merged = hot.unionByName(
                cold_layer.filter(F.col("date_slice").isin(closed))
            )
        w = Window.partitionBy("tenant_id", "metric", "ts").orderBy(
            F.col("_layer_seq").desc(), F.col("value").desc_nulls_last()
        )
        compacted = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "tenant_id",
                "metric",
                "ts",
                "value",
                "tags",
                F.lit(0).cast("long").alias("ingest_seq"),
                "date_slice",
                "tenant_bucket",
            )
        )
        staging = self.base / "_staging" / f"{metric_type}_compact"
        (
            compacted.repartition("date_slice", "tenant_bucket")
            .sortWithinPartitions("metric", "ts")
            .write.mode("overwrite")
            .option("compression", "zstd")
            # v2 data pages: DELTA_BINARY_PACKED on the sorted ts column
            # (the Gorilla delta-of-delta axis) — ~10% smaller cold files
            .option("parquet.writer.version", "v2")
            .partitionBy("date_slice", "tenant_bucket")
            .parquet(str(staging))
        )
        cold_root = self._points_path(metric_type, "cold")
        cold_root.mkdir(parents=True, exist_ok=True)
        done = []
        for slice_start in closed:
            src = staging / f"date_slice={slice_start}"
            if not src.exists():
                continue
            self._swap_in(src, cold_root / f"date_slice={slice_start}")
            done.append(slice_start)
        shutil.rmtree(staging, ignore_errors=True)
        # retire the consumed hot segments.  Straddlers (segments that
        # also hold still-open slices) are first rewritten to their
        # surviving rows and published as a NEW segment — publish before
        # retire, so a racing reader sees the rows in old+new (identical
        # (seq, value) duplicates that the LWW window collapses), never
        # a gap.
        straddlers = [
            seg for seg, sl in metas.items() if sl - closed_set and sl & closed_set
        ]
        if straddlers:
            rem = self._read_segment_paths(metric_type, straddlers).filter(
                ~F.col("date_slice").isin(closed)
            ).select(
                "tenant_id", "metric", "ts", "value", "tags",
                "ingest_seq", "date_slice", "tenant_bucket",
            )
            rem_staging = self.base / "_staging" / new_id("remainder")
            pairs = self._write_segment_staging(rem, rem_staging)
            self._publish_segment(
                rem_staging, self._points_path(metric_type, "hot"), pairs
            )
        for seg in segs:
            if metas[seg] & closed_set:
                retired = seg.parent / f"_trash-{uuid.uuid4().hex}"
                os.rename(seg, retired)
                shutil.rmtree(retired, ignore_errors=True)
        return done

    def apply_retention(self, metric_type: str, cutoff_ms: int) -> list[int]:
        """B6: drop whole slices whose every point is older than cutoff —
        a partition-level delete, no data rewrite."""
        self._assert_not_pinned("apply_retention")
        if self.manifest is not None:
            dropped: list[int] = []

            def mutate(state: dict) -> dict | None:
                dropped.clear()
                for layer in _LAYERS:
                    entry = ManifestLog.points_entry(state, metric_type, layer)
                    for key in list(entry):
                        if int(key) + self.slice_ms <= cutoff_ms:
                            entry.pop(key)
                            dropped.append(int(key))
                return state if dropped else None

            self.manifest.commit(mutate)
            return sorted(set(dropped))
        dropped: list[int] = []
        with self._maintenance_lock():
            # hot: drop wholly-expired segments; rewrite straddlers down
            # to their surviving slices (publish-then-retire, as in
            # compaction).  Segment-granular, no Hive dirs.
            segs = self._hot_segments(metric_type)
            metas = {seg: set(self._seg_meta(seg)["slices"]) for seg in segs}
            expired = {
                s
                for sl in metas.values()
                for s in sl
                if s + self.slice_ms <= cutoff_ms
            }
            dropped.extend(expired)
            straddlers = [
                seg for seg, sl in metas.items() if sl - expired and sl & expired
            ]
            if straddlers:
                kept = self._read_segment_paths(metric_type, straddlers).filter(
                    F.col("date_slice") + F.lit(self.slice_ms) > F.lit(cutoff_ms)
                ).select(
                    "tenant_id", "metric", "ts", "value", "tags",
                    "ingest_seq", "date_slice", "tenant_bucket",
                )
                staging = self.base / "_staging" / new_id("retention")
                pairs = self._write_segment_staging(kept, staging)
                self._publish_segment(
                    staging, self._points_path(metric_type, "hot"), pairs
                )
            for seg in segs:
                if metas[seg] & expired:
                    retired = seg.parent / f"_trash-{uuid.uuid4().hex}"
                    os.rename(seg, retired)
                    shutil.rmtree(retired, ignore_errors=True)
            # cold: partition-level drop, no rewrite
            root = self._points_path(metric_type, "cold")
            if root.exists():
                for p in sorted(root.glob("date_slice=*")):
                    slice_start = int(p.name.split("=", 1)[1])
                    if slice_start + self.slice_ms <= cutoff_ms:
                        retired = root / f"_trash-{uuid.uuid4().hex}"
                        os.rename(p, retired)
                        shutil.rmtree(retired, ignore_errors=True)
                        dropped.append(slice_start)
        return sorted(set(dropped))

    def apply_row_retention(
        self,
        metric_type: str,
        cutoffs: DataFrame,
        default_cutoff_ms: int,
    ) -> int:
        """B6 with per-metric TTLs: ``cutoffs`` is a small frame
        ``(tenant_id, metric, cutoff_ms)``; rows older than their series'
        cutoff (or ``default_cutoff_ms``) are removed by rewriting only
        the slices that can contain them.  Whole-slice drops should be
        done first via :meth:`apply_retention` (cheaper).  Returns the
        number of rewritten slice partitions."""
        self._assert_not_pinned("apply_row_retention")
        if self.manifest is not None:
            max_cutoff_row = cutoffs.agg(F.max("cutoff_ms")).collect()[0][0]
            max_cutoff = max(default_cutoff_ms, max_cutoff_row or 0)

            def keep(df: DataFrame) -> DataFrame:
                return df.join(
                    F.broadcast(cutoffs), ["tenant_id", "metric"], "left"
                ).filter(
                    F.col("ts")
                    >= F.coalesce(F.col("cutoff_ms"), F.lit(default_cutoff_ms))
                )

            rewritten = 0
            for layer in _LAYERS:
                rewritten += len(
                    self._rewrite_slices_manifest(
                        metric_type, layer, (0, max_cutoff), keep
                    )
                )
            return rewritten
        with self._maintenance_lock():
            return self._apply_row_retention_locked(
                metric_type, cutoffs, default_cutoff_ms
            )

    def _rewrite_slices_manifest(
        self, metric_type: str, layer: str, slices, keep_fn
    ) -> list[int]:
        """Manifest-mode slice rewrite: read the affected slices from one
        snapshot, keep ``keep_fn(df)``'s rows (original ``ingest_seq``
        preserved so LWW ranks are unchanged), publish as a new hot
        segment / new cold slice versions, CAS-commit the swap.  Slices
        whose cold version moved under us are skipped (the racing
        maintainer's rewrite wins; ours is vacuumed).  Returns the slice
        ids actually swapped."""
        log = self.manifest
        _, snap = log.current()
        entry = snap.get("points", {}).get(metric_type, {}).get(layer, {})
        affected = [s for s in map(int, entry) if self._want_slice(s, slices)]
        if not affected:
            return []
        df = self._read_layer(metric_type, layer, snap=snap, slices=affected)
        kept = keep_fn(df).select(
            "tenant_id", "metric", "ts", "value", "tags",
            "ingest_seq", "date_slice", "tenant_bucket",
        )
        root = self._points_path(metric_type, layer)
        staging = self.base / "_staging" / new_id("rewrite")
        seg = None
        vmap: dict[int, str] = {}
        out_slices: set[int] = set()
        if layer == "hot":
            pairs = self._write_segment_staging(kept, staging)
            out_slices = {p[0] for p in pairs}
            seg = self._publish_segment(staging, root, pairs)
        else:
            (
                kept.withColumn("_ds", F.col("date_slice"))
                .withColumn("_tb", F.col("tenant_bucket"))
                .repartition("_ds", "_tb")
                .sortWithinPartitions("metric", "ts")
                .write.mode("overwrite")
                .option("compression", "zstd")
                .partitionBy("_ds", "_tb")
                .parquet(str(staging))
            )
            out_slices = {
                int(p.name.split("=", 1)[1]) for p in staging.glob("_ds=*")
            }
            for s in sorted(out_slices):
                vdir = new_id("v")
                dst = root / f"s-{s}" / vdir
                dst.parent.mkdir(parents=True, exist_ok=True)
                os.rename(staging / f"_ds={s}", dst)
                vmap[s] = vdir
            shutil.rmtree(staging, ignore_errors=True)

        swapped: list[int] = []

        def mutate(state: dict) -> dict | None:
            swapped.clear()
            cur = ManifestLog.points_entry(state, metric_type, layer)
            for s in affected:
                key = str(s)
                if layer == "hot":
                    snap_segs = set(entry.get(key, []))
                    cur_list = cur.get(key, [])
                    if not snap_segs <= set(cur_list):
                        # a racing compactor/rewriter consumed some of our
                        # input segments — re-adding our rewrite could
                        # resurrect rows it moved to cold; skip the slice
                        continue
                    remaining = [g for g in cur_list if g not in snap_segs]
                    if seg is not None and s in out_slices:
                        remaining.append(seg)
                    if remaining:
                        cur[key] = remaining
                    else:
                        cur.pop(key, None)
                    swapped.append(s)
                else:
                    if cur.get(key) != entry.get(key):
                        continue  # racing rewrite won this slice
                    if s in vmap:
                        cur[key] = vmap[s]
                    else:
                        cur.pop(key, None)
                    swapped.append(s)
            return state if swapped else None

        log.commit(mutate)
        return sorted(swapped)

    def _apply_row_retention_locked(
        self,
        metric_type: str,
        cutoffs: DataFrame,
        default_cutoff_ms: int,
    ) -> int:
        max_cutoff_row = cutoffs.agg(F.max("cutoff_ms")).collect()[0][0]
        max_cutoff = max(default_cutoff_ms, max_cutoff_row or 0)

        def keep(df: DataFrame) -> DataFrame:
            return (
                df.join(F.broadcast(cutoffs), ["tenant_id", "metric"], "left")
                .filter(
                    F.col("ts")
                    >= F.coalesce(F.col("cutoff_ms"), F.lit(default_cutoff_ms))
                )
                .select(
                    "tenant_id", "metric", "ts", "value", "tags",
                    "ingest_seq", "date_slice", "tenant_bucket",
                )
            )

        rewritten = 0
        # hot: rewrite only the segments that hold affected slices — all
        # of them in ONE job, published as one new segment
        segs = self._hot_segments(metric_type)
        metas = {seg: set(self._seg_meta(seg)["slices"]) for seg in segs}
        hot_affected = {
            s for sl in metas.values() for s in sl if s < max_cutoff
        }
        touched = [seg for seg, sl in metas.items() if sl & hot_affected]
        if touched:
            kept_hot = keep(self._read_segment_paths(metric_type, touched))
            staging = self.base / "_staging" / new_id("rowret")
            pairs = self._write_segment_staging(kept_hot, staging)
            self._publish_segment(
                staging, self._points_path(metric_type, "hot"), pairs
            )
            for seg in touched:
                retired = seg.parent / f"_trash-{uuid.uuid4().hex}"
                os.rename(seg, retired)
                shutil.rmtree(retired, ignore_errors=True)
            rewritten += len(hot_affected)
        # cold: per-slice partition swap
        root = self._points_path(metric_type, "cold")
        if root.exists():
            affected = [
                int(p.name.split("=", 1)[1])
                for p in root.glob("date_slice=*")
                if int(p.name.split("=", 1)[1]) < max_cutoff
            ]
            if affected:
                df = self._read_layer(metric_type, "cold").filter(
                    F.col("date_slice").isin(affected)
                )
                kept = keep(df)
                staging = self.base / "_staging" / f"ret_{metric_type}_cold"
                kept.write.mode("overwrite").option(
                    "compression", "zstd"
                ).partitionBy("date_slice", "tenant_bucket").parquet(str(staging))
                for slice_start in affected:
                    dst = root / f"date_slice={slice_start}"
                    src = staging / f"date_slice={slice_start}"
                    if src.exists():
                        self._swap_in(src, dst)
                    elif dst.exists():  # every row in the slice expired
                        retired = root / f"_trash-{uuid.uuid4().hex}"
                        os.rename(dst, retired)
                        shutil.rmtree(retired, ignore_errors=True)
                    rewritten += 1
                shutil.rmtree(staging, ignore_errors=True)
        return rewritten

    def delete_tenant(self, tenant_id: str) -> None:
        """B7: cascading delete — rewrite affected tenant_bucket partitions
        without the tenant's rows, and scrub the definition tables
        *including* the tenant row itself (DeleteTenant.java:53,103-104 —
        a re-created tenant must not inherit stale retention policies)."""
        self._assert_not_pinned("delete_tenant")
        if self.manifest is not None:
            for metric_type in MetricType.USER_WRITABLE:
                for layer in _LAYERS:
                    df = self._read_layer(metric_type, layer)
                    if df is None:
                        continue
                    # pruned scan → only slices that hold the tenant's rows
                    affected = [
                        r["date_slice"]
                        for r in df.filter(F.col("tenant_id") == tenant_id)
                        .select("date_slice")
                        .distinct()
                        .collect()
                    ]
                    if not affected:
                        continue
                    self._rewrite_slices_manifest(
                        metric_type,
                        layer,
                        affected,
                        lambda d: d.filter(F.col("tenant_id") != tenant_id),
                    )
            idx = self.metrics_idx()
            if idx is not None:
                self.save_metrics_idx(idx.filter(F.col("tenant_id") != tenant_id))
            tenants = self.tenants()
            if tenants is not None:
                self.save_tenants(tenants.filter(F.col("id") != tenant_id))
            return
        with self._maintenance_lock():
            self._delete_tenant_locked(tenant_id)

    def _rewrite_hot_segments_locked(
        self, metric_type: str, touched: list[Path], keep_fn
    ) -> None:
        """Rewrite the given hot segments through ``keep_fn`` as ONE new
        segment (original ``ingest_seq`` preserved so LWW ranks are
        unchanged), publish it, then retire the old segments."""
        if not touched:
            return
        kept = keep_fn(self._read_segment_paths(metric_type, touched)).select(
            "tenant_id", "metric", "ts", "value", "tags",
            "ingest_seq", "date_slice", "tenant_bucket",
        )
        staging = self.base / "_staging" / new_id("rewrite")
        pairs = self._write_segment_staging(kept, staging)
        self._publish_segment(
            staging, self._points_path(metric_type, "hot"), pairs
        )
        for seg in touched:
            retired = seg.parent / f"_trash-{uuid.uuid4().hex}"
            os.rename(seg, retired)
            shutil.rmtree(retired, ignore_errors=True)

    def _delete_tenant_locked(self, tenant_id: str) -> None:
        bucket = self._tenant_bucket_of(tenant_id)
        for metric_type in MetricType.USER_WRITABLE:
            # hot: rewrite only the segments whose bucket set can hold
            # the tenant (sidecar-pruned)
            touched = [
                seg
                for seg in self._hot_segments(metric_type)
                if bucket in self._seg_meta(seg).get("buckets", [bucket])
            ]
            self._rewrite_hot_segments_locked(
                metric_type,
                touched,
                lambda d: d.filter(F.col("tenant_id") != tenant_id),
            )
            # cold: bucket-dir-granular rewrite
            root = self._points_path(metric_type, "cold")
            if not root.exists():
                continue
            matches = list(root.glob(f"date_slice=*/tenant_bucket={bucket}"))
            if not matches:
                continue
            df = self._read_layer(metric_type, "cold")
            kept = df.filter(
                (F.col("tenant_bucket") == bucket)
                & (F.col("tenant_id") != tenant_id)
            ).select(
                "tenant_id", "metric", "ts", "value", "tags",
                "ingest_seq", "date_slice", "tenant_bucket",
            )
            staging = self.base / "_staging" / f"del_{metric_type}_cold"
            kept.write.mode("overwrite").partitionBy(
                "date_slice", "tenant_bucket"
            ).parquet(str(staging))
            for m in matches:
                shutil.rmtree(m)
            for sdir in Path(staging).glob(
                f"date_slice=*/tenant_bucket={bucket}"
            ):
                dst = root / sdir.parent.name / sdir.name
                dst.parent.mkdir(parents=True, exist_ok=True)
                shutil.move(str(sdir), str(dst))
            shutil.rmtree(staging, ignore_errors=True)
        # definitions
        idx = self.metrics_idx()
        if idx is not None:
            self.save_metrics_idx(idx.filter(F.col("tenant_id") != tenant_id))
        tenants = self.tenants()
        if tenants is not None:
            self.save_tenants(tenants.filter(F.col("id") != tenant_id))

    def delete_metric(
        self,
        metric_type: str,
        tenant_id: str,
        metric: str,
        include_cold: bool = False,
    ) -> int:
        """Reference ``deleteMetric`` (MetricsServiceImpl.java:1086-1097):
        purge the metric's raw (hot-layer) rows.  The reference leaves
        compressed data in place ("compressed data is not deleted due to
        using TWCS", :1087) and lets retention expire it; ``include_cold``
        opts into a full purge.  Returns rewritten partition count."""
        self._assert_not_pinned("delete_metric")
        if self.manifest is not None:
            target_rows = (
                (F.col("tenant_id") == tenant_id) & (F.col("metric") == metric)
            )
            rewritten = 0
            for layer in _LAYERS if include_cold else ("hot",):
                # one pruned scan lists the slices that actually hold the
                # metric — only those get rewritten
                df = self._read_layer(metric_type, layer)
                if df is None:
                    continue
                affected = [
                    r["date_slice"]
                    for r in df.filter(target_rows)
                    .select("date_slice")
                    .distinct()
                    .collect()
                ]
                if not affected:
                    continue
                rewritten += len(
                    self._rewrite_slices_manifest(
                        metric_type, layer, affected,
                        lambda d: d.filter(~target_rows),
                    )
                )
            return rewritten
        with self._maintenance_lock():
            return self._delete_metric_locked(
                metric_type, tenant_id, metric, include_cold
            )

    def _delete_metric_locked(
        self, metric_type: str, tenant_id: str, metric: str, include_cold: bool
    ) -> int:
        bucket = self._tenant_bucket_of(tenant_id)
        target = (
            (F.col("tenant_bucket") == bucket)
            & (F.col("tenant_id") == tenant_id)
            & (F.col("metric") == metric)
        )
        rewritten = 0
        # hot: segments whose bucket set can hold the tenant, narrowed by
        # one pruned scan to those that actually hold the metric's rows
        candidates = [
            seg
            for seg in self._hot_segments(metric_type)
            if bucket in self._seg_meta(seg).get("buckets", [bucket])
        ]
        if candidates:
            df = self._read_segment_paths(metric_type, candidates)
            affected = [
                r["date_slice"]
                for r in df.filter(target).select("date_slice").distinct().collect()
            ]
            if affected:
                touched = [
                    seg
                    for seg in candidates
                    if set(self._seg_meta(seg)["slices"]) & set(affected)
                ]
                self._rewrite_hot_segments_locked(
                    metric_type, touched, lambda d: d.filter(~target)
                )
                rewritten += len(affected)
        if not include_cold:
            return rewritten
        root = self._points_path(metric_type, "cold")
        if not root.exists():
            return rewritten
        df = self._read_layer(metric_type, "cold")
        # one pruned scan lists the slices that actually hold the
        # metric — only those partitions get rewritten
        affected = [
            r["date_slice"]
            for r in df.filter(target).select("date_slice").distinct().collect()
        ]
        if not affected:
            return rewritten
        kept = df.filter(
            F.col("date_slice").isin(affected)
            & (F.col("tenant_bucket") == bucket)
            & ~((F.col("tenant_id") == tenant_id) & (F.col("metric") == metric))
        ).select(
            "tenant_id", "metric", "ts", "value", "tags",
            "ingest_seq", "date_slice", "tenant_bucket",
        )
        staging = self.base / "_staging" / f"delm_{metric_type}_cold"
        kept.write.mode("overwrite").option("compression", "zstd").partitionBy(
            "date_slice", "tenant_bucket"
        ).parquet(str(staging))
        for slice_start in affected:
            part = f"date_slice={slice_start}/tenant_bucket={bucket}"
            src, dst = staging / part, root / part
            if src.exists():
                self._swap_in(src, dst)
            elif dst.exists():  # the metric was the bucket's only data
                retired = root / f"_trash-{uuid.uuid4().hex}"
                os.rename(dst, retired)
                shutil.rmtree(retired, ignore_errors=True)
            rewritten += 1
        shutil.rmtree(staging, ignore_errors=True)
        return rewritten

    # -- definition tables (metrics_idx / tenants) ---------------------------

    def _table_read(self, key: str, schema=None) -> DataFrame | None:
        """Manifest-aware read of a versioned side table."""
        if self.manifest is not None:
            vdir = self._read_snap().get("tables", {}).get(key)
            if vdir is None:
                return None
            path = self.base / key / vdir
        else:
            path = self.base / key
            if not path.exists():
                return None
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(str(path))

    def _table_save(self, key: str, df: DataFrame) -> None:
        """Manifest-aware overwrite of a versioned side table (new
        immutable version dir + CAS pointer swap; rename mode keeps the
        two-rename publish)."""
        self._assert_not_pinned("table save")
        if self.manifest is not None:
            staging = self.base / "_staging" / new_id("tbl")
            df.coalesce(1).write.mode("overwrite").parquet(str(staging))
            vdir = new_id("v")
            dst = self.base / key / vdir
            dst.parent.mkdir(parents=True, exist_ok=True)
            os.rename(staging, dst)

            def mutate(state: dict) -> dict:
                state.setdefault("tables", {})[key] = vdir
                return state

            self.manifest.commit(mutate)
            return
        staging = self.base / "_staging" / key.replace("/", "_")
        df.coalesce(1).write.mode("overwrite").parquet(str(staging))
        self._swap_in(staging, self.base / key)

    def metrics_idx(self) -> DataFrame | None:
        return self._table_read("metrics_idx", METRICS_IDX_SCHEMA)

    def save_metrics_idx(self, df: DataFrame) -> None:
        self._table_save("metrics_idx", df)

    def upsert_metric_definitions(self, df: DataFrame) -> None:
        """Create-or-replace metric definitions keyed by (tenant, type, metric)."""
        existing = self.metrics_idx()
        if existing is not None:
            merged = df.unionByName(
                existing.join(
                    df.select("tenant_id", "type", "metric"),
                    ["tenant_id", "type", "metric"],
                    "left_anti",
                )
            )
        else:
            merged = df
        self.save_metrics_idx(merged)

    def tenants(self) -> DataFrame | None:
        return self._table_read("tenants", TENANTS_SCHEMA)

    def save_tenants(self, df: DataFrame) -> None:
        self._table_save("tenants", df)

    # -- expiration index analogue (B9) ---------------------------------------

    def expiration_index(self, metric_type: str) -> DataFrame:
        """Last-write tracking per metric (metrics_expiration_idx,
        schema-0.26.0.groovy:23-30): derived, not maintained — one agg."""
        return (
            self.points(metric_type, dedup=False)
            .groupBy("tenant_id", "metric")
            .agg(F.max("ts").alias("last_write_ts"))
        )

    def refresh_expiration_index(self, metric_type: str) -> int:
        """Persist a snapshot of :meth:`expiration_index` (the reference
        maintains metrics_expiration_idx as a table; here the maintenance
        pass materializes it so expiration queries don't rescan points).
        Returns the row count of the refreshed snapshot."""
        df = self.expiration_index(metric_type)
        key = f"expiration_idx/{metric_type}"
        if self.manifest is not None:
            self._table_save(key, df)
            return self.expiration_index_snapshot(metric_type).count()
        staging = self.base / "_staging" / f"expiration_idx_{metric_type}"
        df.coalesce(1).write.mode("overwrite").parquet(str(staging))
        target = self.base / "expiration_idx" / metric_type
        self._swap_in(staging, target)
        return self.spark.read.parquet(str(target)).count()

    def expiration_index_snapshot(self, metric_type: str) -> DataFrame | None:
        """The last persisted expiration index, or None if maintenance has
        never run for this type."""
        return self._table_read(f"expiration_idx/{metric_type}")

    # -- garbage collection (manifest mode) -----------------------------------

    def vacuum(self, keep_manifests: int = 3, grace_s: float = 600.0) -> int:
        """Manifest-mode GC: delete every segment / cold-version / table
        dir unreferenced by the newest ``keep_manifests`` manifests, then
        prune older manifests.  Keep enough history to cover in-flight
        snapshot readers.

        ``grace_s``: dirs younger than this are NEVER collected — a
        concurrent writer publishes its dir first and CAS-commits the
        manifest reference second, so a just-renamed dir is legitimately
        unreferenced for a moment; deleting it would let the writer's
        commit succeed while pointing at nothing (silent data loss).
        Set high enough to cover a publish→commit gap incl. retries
        (Delta/Iceberg ship the same retention guard on their vacuums).
        Returns the number of dirs removed."""
        self._assert_not_pinned("vacuum")
        if self.manifest is None:
            return 0
        versions = self.manifest._versions()
        kept = versions[-keep_manifests:] if keep_manifests > 0 else versions[-1:]
        now = time.time()

        def _young(p: Path) -> bool:
            try:
                return now - p.stat().st_mtime < grace_s
            except OSError:  # already gone
                return True

        states = [self.manifest.at(v)[1] for v in kept]
        if not states:
            return 0
        live_segs: set[tuple[str, str, str]] = set()   # (type, layer, dir)
        live_cold: set[tuple[str, str, str]] = set()   # (type, slicekey, vdir)
        live_tables: set[tuple[str, str]] = set()      # (key, vdir)
        for st in states:
            for mt, layers in st.get("points", {}).items():
                for s, segs in layers.get("hot", {}).items():
                    for seg in segs:
                        live_segs.add((mt, "hot", seg))
                for s, vdir in layers.get("cold", {}).items():
                    live_cold.add((mt, f"s-{s}", vdir))
            for key, vdir in st.get("tables", {}).items():
                live_tables.add((key, vdir))
        removed = 0
        for mt in MetricType.USER_WRITABLE:
            hot_root = self._points_path(mt, "hot")
            if hot_root.exists():
                for p in hot_root.glob("seg-*"):
                    if (mt, "hot", p.name) not in live_segs and not _young(p):
                        shutil.rmtree(p, ignore_errors=True)
                        removed += 1
            cold_root = self._points_path(mt, "cold")
            if cold_root.exists():
                for sdir in cold_root.glob("s-*"):
                    for p in sdir.glob("v-*"):
                        if (mt, sdir.name, p.name) not in live_cold and not _young(p):
                            shutil.rmtree(p, ignore_errors=True)
                            removed += 1
                    if not any(sdir.iterdir()):
                        sdir.rmdir()
        table_keys = {k for k, _ in live_tables} | {
            "metrics_idx", "tenants",
        } | {f"expiration_idx/{mt}" for mt in MetricType.USER_WRITABLE}
        for key in table_keys:
            root = self.base / key
            if not root.exists():
                continue
            for p in root.glob("v-*"):
                if (key, p.name) not in live_tables and not _young(p):
                    shutil.rmtree(p, ignore_errors=True)
                    removed += 1
        self.manifest.prune(keep_manifests)
        return removed
