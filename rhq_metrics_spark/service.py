"""MetricsService facade — the reference's service API re-expressed so
every query *returns a DataFrame* (SURVEY.md §7.1).

Maps one-to-one onto MetricsServiceImpl's public surface
(core/.../service/MetricsServiceImpl.java): ingest, raw scans, rate,
bucketed/stacked/tagged stats, availability analysis, periods, tag-query
metric discovery, and the lifecycle jobs.  Thin dict adapters
(``*_json``) shape REST-style responses where the reference returns JSON
(NumericBucketPoint.java:42-50 null-field convention).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from rhq_metrics_spark.localrel import local_df

from rhq_metrics_spark.model import (
    METRICS_IDX_SCHEMA,
    TENANTS_SCHEMA,
    Buckets,
    MetricType,
)
from rhq_metrics_spark.operators import (
    availability_stats,
    distinct_adjacent,
    minmax_ts,
    numeric_bucket_stats,
    periods,
    pooled_stats,
    predicate,
    rate,
    rate_stats,
    scalar_aggs,
    stacked_stats,
    tagged_stats,
)
from rhq_metrics_spark.operators.stats import percentile_col_name
from rhq_metrics_spark.sources.store import MetricsStore
from rhq_metrics_spark.tags import find_metric_ids, full_match


from rhq_metrics_spark.sqltext import sql_str as _sql_str  # noqa: E402


def _hist_quantile_expr(q: float, name: str, lo: float, w_bin: float) -> str:
    """One quantile estimate as a single parsed-SQL ``aggregate`` over a
    sorted ``_bins`` array column (with ``_total`` alongside) — same
    crossing rule and interpolation arithmetic as
    ``operators.downsample.histogram_quantiles``: the first entry whose
    cumulative count reaches ``q * total``.  Built as ONE SQL string:
    composing higher-order-function lambdas from Python Column ops costs
    hundreds of Py4J round trips of plan construction per request."""
    target = f"({q / 100.0!r}d * _total)"
    return (
        "aggregate(_bins, "
        "named_struct('cum', cast(0 as bigint), "
        "'est', cast(null as double)), "
        "(acc, x) -> named_struct("
        "'cum', acc.cum + x.c, "
        f"'est', CASE WHEN acc.est IS NULL AND acc.cum + x.c >= {target} "
        f"AND acc.cum < {target} "
        f"THEN {lo!r}d + x.bin * {w_bin!r}d "
        f"+ {w_bin!r}d * ({target} - acc.cum) / x.c "
        "ELSE acc.est END), "
        f"acc -> acc.est) AS {name}"
    )


class MetricsService:
    """create/ingest/query facade over a :class:`MetricsStore`."""

    def __init__(self, spark: SparkSession, store: MetricsStore):
        self.spark = spark
        self.store = store
        # metric_type -> (rollup DataFrame, window_ms): continuous
        # aggregates registered for read routing (attach_rollup)
        self._rollups: dict[str, tuple[DataFrame, int]] = {}
        #: W18 activity-register serving sources (r13)
        self._activity_regs: dict[str, dict] = {}
        self._hist_rollups: dict[str, tuple] = {}
        self._increase_rollups: dict[str, tuple] = {}
        self._twa_rollups: dict[str, tuple] = {}
        self._seasonal_profiles: dict[str, tuple] = {}
        self._avail_rollup: tuple | None = None
        # Cost-based serving router (see _hybrid_profitable): a
        # watermark-crossing stats query goes hybrid only when the
        # estimated finalized-prefix raw points the rollup replaces
        # reach this — below it, one raw scan beats two scans' fixed
        # cost.  Default 0 = always prefer hybrid, matching the
        # reference's unconditional compressed∪temp-table merge
        # (MetricsServiceImpl.java:662-693).  Deployments where serving
        # latency dominates can raise it to the measured crossover —
        # (per-scan fixed cost) / (per-point scan cost); ~200k points
        # on local[32] per tools/hybrid_scale_smoke.py (SCALE.md).
        self.hybrid_min_prefix_points: int = 0
        # Pinned open-tail base frames (see _tail_base): the hybrid
        # route's raw-scan DataFrame construction re-ran per request
        # (~50 ms of the ~300 ms serving constant) even though the open
        # slice's file set changes only on ingest.  Keyed by
        # (metric_type, tenant, slice-floor); entries self-invalidate
        # against store.state_token.
        self._tail_cache: dict = {}
        # Served-plan execution session + view bindings (see
        # _serving_spark / _bind_served_view): the one-SQL routed paths
        # execute on a cloned session with AQE off — AQE's per-exchange
        # query-stage materialization costs ~80 ms p50 on a bounded
        # serving query (probe, r9) and buys nothing when the output is
        # ≤ buckets.count rows.  Analytics queries keep AQE on the main
        # session.  Frames are bound as GLOBAL temp views (visible
        # across sessions of one SparkContext), re-registered only when
        # the underlying object changes — zero catalog ops per request.
        self._serving_session = None
        self._bound_views: dict = {}
        import uuid as _uuid

        self._srv_ns = _uuid.uuid4().hex[:8]

    def _serving_spark(self) -> SparkSession:
        if self._serving_session is None:
            try:
                s = self.spark.newSession()
                for k in (
                    "spark.sql.session.timeZone",
                    "spark.sql.shuffle.partitions",
                    "spark.sql.parser.escapedStringLiterals",
                    "spark.sql.legacy.parquet.nanosAsLong",
                    "spark.sql.files.ignoreMissingFiles",
                    "spark.sql.autoBroadcastJoinThreshold",
                ):
                    try:
                        s.conf.set(k, self.spark.conf.get(k))
                    except Exception:  # noqa: BLE001 — conf absent
                        pass
                s.conf.set("spark.sql.adaptive.enabled", "false")
                self._serving_session = s
            except Exception:  # noqa: BLE001 — degraded: serve on main
                self._serving_session = self.spark
        return self._serving_session

    def _bind_served_view(self, key: str, df: DataFrame) -> str:
        """Register ``df`` as a global temp view (idempotent while the
        object is unchanged) and return its quoted SQL name."""
        hit = self._bound_views.get(key)
        if hit is not None and hit[0] is df:
            return hit[1]
        name = f"_rhq_srv_{self._srv_ns}_{key}"
        df.createOrReplaceGlobalTempView(name)
        ref = f"global_temp.`{name}`"
        self._bound_views[key] = (df, ref)
        return ref

    # -- tenants / definitions ------------------------------------------------

    def create_tenant(self, tenant_id: str, retentions: dict[str, int] | None = None):
        new = local_df(self.spark, [(tenant_id, retentions)], TENANTS_SCHEMA)
        existing = self.store.tenants()
        if existing is not None:
            new = new.unionByName(existing.filter(F.col("id") != tenant_id))
        self.store.save_tenants(new)

    def create_metric(
        self,
        tenant_id: str,
        metric_type: str,
        metric: str,
        tags: dict[str, str] | None = None,
        data_retention: int | None = None,
    ) -> None:
        df = local_df(
            self.spark,
            [(tenant_id, MetricType.check(metric_type), metric, tags, data_retention)],
            METRICS_IDX_SCHEMA,
        )
        self.store.upsert_metric_definitions(df)

    def get_tenants(self) -> DataFrame:
        """Reference ``getTenants`` (MetricsServiceImpl.java:432): every
        tenant id — explicit tenant rows unioned with tenants that only
        exist through metric definitions."""
        frames = []
        tenants = self.store.tenants()
        if tenants is not None:
            frames.append(tenants.select(F.col("id")))
        idx = self.store.metrics_idx()
        if idx is not None:
            frames.append(idx.select(F.col("tenant_id").alias("id")))
        if not frames:
            return local_df(self.spark, [], "id string")
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out.distinct()

    def _definition_row(self, tenant_id, metric_type, metric):
        idx = self.store.metrics_idx()
        if idx is None:
            return None
        rows = (
            idx.filter(
                (F.col("tenant_id") == tenant_id)
                & (F.col("type") == metric_type)
                & (F.col("metric") == metric)
            )
            .limit(1)
            .collect()
        )
        return rows[0] if rows else None

    def add_tags(
        self, tenant_id: str, metric_type: str, metric: str, tags: dict[str, str]
    ) -> None:
        """Reference ``addTags`` (MetricsServiceImpl.java:608-616): merge
        into the definition's tag map, new values winning; creates the
        definition if absent (tag-only metrics exist in the reference's
        tags index)."""
        row = self._definition_row(tenant_id, metric_type, metric)
        merged = {**((row["tags"] if row else None) or {}), **tags}
        retention = row["data_retention"] if row else None
        self.create_metric(
            tenant_id, metric_type, metric, tags=merged, data_retention=retention
        )

    def delete_tags(
        self, tenant_id: str, metric_type: str, metric: str, tag_keys
    ) -> None:
        """Reference ``deleteTags`` (MetricsServiceImpl.java:621-628):
        drop the named keys from the definition's tag map."""
        row = self._definition_row(tenant_id, metric_type, metric)
        if row is None:
            return
        kept = {
            k: v for k, v in (row["tags"] or {}).items() if k not in set(tag_keys)
        }
        self.create_metric(
            tenant_id, metric_type, metric,
            tags=kept or None, data_retention=row["data_retention"],
        )

    def get_metric(self, tenant_id: str, metric_type: str, metric: str):
        """Reference ``findMetric``: one definition row (Row or None)."""
        return self._definition_row(tenant_id, metric_type, metric)

    def get_metric_tags(
        self, tenant_id: str, metric_type: str, metric: str
    ) -> dict[str, str]:
        """Reference ``getMetricTags``: the definition's tag map ({} if
        the metric has no definition or no tags)."""
        row = self._definition_row(tenant_id, metric_type, metric)
        return dict(row["tags"]) if row is not None and row["tags"] else {}

    def get_tag_names(
        self,
        filter_regex: str | None = None,
        tenant_id: str | None = None,
        metric_type: str | None = None,
    ) -> DataFrame:
        """Reference ``getTagNames`` (TagQueryParser.getTagNames):
        distinct tag KEYS across definitions, optionally regex-filtered."""
        idx = self.store.metrics_idx()
        if idx is None:
            return local_df(self.spark, [], "tag string")
        if tenant_id:
            idx = idx.filter(F.col("tenant_id") == tenant_id)
        if metric_type:
            idx = idx.filter(F.col("type") == metric_type)
        names = idx.select(F.explode(F.map_keys("tags")).alias("tag"))
        if filter_regex:
            names = names.filter(full_match(F.col("tag"), filter_regex))
        return names.distinct()

    def get_tag_values(
        self,
        tag_patterns: dict[str, str],
        tenant_id: str | None = None,
        metric_type: str | None = None,
    ) -> DataFrame:
        """Reference ``getTagValues`` (MetricsServiceImpl.java:586-588 →
        TagQueryParser.getTagValues): distinct ``(tag, value)`` pairs
        over definitions where the value matches the per-tag regex
        (``'*'`` wildcard = any value).  One explode + filter over the
        (small) definitions table."""
        idx = self.store.metrics_idx()
        if idx is None:
            return local_df(self.spark, [], "tag string, value string")
        if tenant_id:
            idx = idx.filter(F.col("tenant_id") == tenant_id)
        if metric_type:
            idx = idx.filter(F.col("type") == metric_type)
        pairs = idx.select(F.explode("tags").alias("tag", "value"))
        if not tag_patterns:
            # No patterns = every distinct (tag, value) pair; also avoids
            # indexing an empty conds list (ADVICE r3).
            return pairs.distinct()
        conds = []
        for name, pattern in tag_patterns.items():
            cond = F.col("tag") == name
            if pattern not in ("*", None):
                cond = cond & full_match(F.col("value"), pattern)
            conds.append(cond)
        keep = conds[0]
        for c in conds[1:]:
            keep = keep | c
        return pairs.filter(keep).distinct()

    def delete_metric(
        self,
        tenant_id: str,
        metric_type: str,
        metric: str,
        include_cold: bool = False,
    ) -> int:
        """Reference ``deleteMetric`` (MetricsServiceImpl.java:1086-1097):
        remove the definition (metrics + tags + retention indexes are one
        table here) and the raw hot-layer rows; cold stays unless
        ``include_cold`` (the reference keeps compressed data, :1087)."""
        rewritten = self.store.delete_metric(
            metric_type, tenant_id, metric, include_cold=include_cold
        )
        idx = self.store.metrics_idx()
        if idx is not None:
            self.store.save_metrics_idx(
                idx.filter(
                    ~(
                        (F.col("tenant_id") == tenant_id)
                        & (F.col("type") == metric_type)
                        & (F.col("metric") == metric)
                    )
                )
            )
        return rewritten

    def find_metrics(
        self,
        tag_expression: str | None = None,
        simple_tags: dict[str, str] | None = None,
        id_regex: str | None = None,
        tenant_id: str | None = None,
        metric_type: str | None = None,
        with_timestamps: bool = False,
    ) -> DataFrame:
        """§3.2 metric discovery: tag query + id regex over definitions,
        optionally enriched with data min/max timestamps (A8)."""
        idx = self.store.metrics_idx()
        if idx is None:
            return local_df(self.spark, [], METRICS_IDX_SCHEMA)
        if tenant_id:
            idx = idx.filter(F.col("tenant_id") == tenant_id)
        if metric_type:
            idx = idx.filter(F.col("type") == metric_type)
        out = find_metric_ids(idx, tag_expression, simple_tags, id_regex)
        if with_timestamps:
            if metric_type:
                mm = minmax_ts(self.store.points(metric_type))
                out = out.join(mm, ["tenant_id", "metric"], "left")
            else:
                # cross-type listing (GET /metrics?timestamps=true): one
                # minmax frame per type, keyed back through the type col
                mm = None
                for t in MetricType.USER_WRITABLE:
                    m = minmax_ts(self.store.points(t)).withColumn(
                        "type", F.lit(t)
                    )
                    mm = m if mm is None else mm.unionByName(m)
                out = out.join(mm, ["tenant_id", "metric", "type"], "left")
        return out

    # -- ingest ---------------------------------------------------------------

    def add_data_points(
        self, metric_type: str, df, max_string_size: int | None = 2048
    ) -> None:
        """S5 ingest of a DataFrame or a pyarrow Table of points (see
        ``MetricsStore.add_data_points``).  For string metrics, applies
        the F7 size guard — the reference rejects oversized string values
        at write time (MetricsServiceImpl.java:196,330-334); a Table is
        checked in Python, with no Spark job."""
        if metric_type == MetricType.STRING and max_string_size:
            if isinstance(df, DataFrame):
                over = [
                    r["metric"] for r in df.filter(
                        F.length("value") > max_string_size
                    ).limit(1).collect()
                ]
            else:
                over = [
                    m for m, v in zip(df["metric"].to_pylist(),
                                      df["value"].to_pylist())
                    if v is not None and len(v) > max_string_size
                ]
            if over:
                from rhq_metrics_spark.errors import BadRequest

                raise BadRequest(
                    f"string metric value exceeds max size {max_string_size}: "
                    f"metric={over[0]!r}"
                )
        self.store.add_data_points(metric_type, df)

    # -- raw reads (S1-S4) ------------------------------------------------------

    def find_data_points(
        self,
        metric_type: str,
        tenant_id: str,
        metric: str | list[str] | None,
        start: int,
        end: int,
        limit: int = 0,
        order: str = "asc",
        distinct: bool = False,
    ) -> DataFrame:
        df = self.store.find_data_points(
            metric_type, tenant_id, metric, start, end,
            0 if distinct else limit,
            # distinct_adjacent sorts via its own window spec and the
            # result is re-ordered below — skip the scan-level sort
            None if distinct else order,
        )
        if distinct:
            # A7 distinct-adjacent for availability/string reads
            df = distinct_adjacent(df).orderBy(
                F.col("ts").asc() if order == "asc" else F.col("ts").desc()
            )
            if limit and limit > 0:
                df = df.limit(limit)
        return df

    def find_data_points_by_tags(
        self,
        metric_type: str,
        tenant_id: str,
        tag_expression: str,
        start: int,
        end: int,
    ) -> DataFrame:
        """J1: tag query drives the data scan — matched metric ids
        broadcast-semi-join the (pruned) point scan
        (MetricsServiceImpl.java:829-834)."""
        ids = self.find_metrics(
            tag_expression, tenant_id=tenant_id, metric_type=metric_type
        ).select("tenant_id", "metric")
        pts = self.store.find_data_points(metric_type, tenant_id, None, start, end)
        return pts.join(F.broadcast(ids), ["tenant_id", "metric"], "left_semi")

    def from_earliest_start(
        self,
        metric_type: str,
        tenant_id: str,
        metrics: list[str],
        now_ms: int,
        default_retention_days: int = 7,
    ) -> int:
        """``fromEarliest=true``: derive the query start from the max
        retention among the selected metrics
        (api/.../MetricsServiceHandler.java:79-107)."""
        idx = self.store.metrics_idx()
        retention = default_retention_days
        if idx is not None:
            row = (
                idx.filter(
                    (F.col("tenant_id") == tenant_id)
                    & (F.col("type") == metric_type)
                    & F.col("metric").isin(metrics)
                )
                .agg(F.max("data_retention"))
                .collect()[0]
            )
            if row[0] is not None:
                retention = max(retention, int(row[0]))
        tenants = self.store.tenants()
        if tenants is not None:
            row = (
                tenants.filter(F.col("id") == tenant_id)
                .select(F.col("retentions")[metric_type])
                .collect()
            )
            if row and row[0][0] is not None:
                retention = max(retention, int(row[0][0]))
        return now_ms - retention * 86_400_000

    # -- numeric stats (A1/A3/A4/A5/A6) ----------------------------------------

    def _scan(self, metric_type, tenant_id, metrics, start, end) -> DataFrame:
        # order=None: every _scan consumer is an aggregation or runs its
        # own window sort — the store's global orderBy would add a
        # range-partition Exchange + Sort per query for nothing
        return self.store.find_data_points(
            metric_type, tenant_id, metrics, start, end, order=None
        )

    def attach_rollup(self, metric_type: str, rollup, window_ms: int) -> None:
        """Register a continuous-aggregate table (the
        ``streaming.ingest.start_rollup_stream`` sink, or any frame with
        its schema) as the serving fast path for bucket stats.

        Mirrors the reference's compressed-read fast path
        (MetricsServiceImpl.java:662-677: reads route to the compressed
        table when the range allows): once attached, :meth:`gauge_stats`
        transparently serves aligned long-range queries from the rollup
        parquet instead of scanning raw points.  ``rollup`` may be a
        DataFrame or a parquet path.

        Validates ONCE here (one job) that every window is an
        epoch-aligned ``window_ms`` tumbling window, and caches the
        finality watermark ``max(window_end)`` — so a routed query costs
        zero extra jobs.  The cached watermark only ever causes a
        conservative fall-back to raw for ranges newer than the attach;
        call :meth:`refresh_rollup_watermark` after the sink advances."""
        path = rollup if isinstance(rollup, str) else None
        df = self.spark.read.parquet(rollup) if path else rollup
        window_ms = int(window_ms)
        start_ms = F.unix_millis(F.col("window_start"))
        end_ms = F.unix_millis(F.col("window_end"))
        bad = df.filter(
            (start_ms % window_ms != 0) | (end_ms - start_ms != window_ms)
        )
        if bad.limit(1).count() > 0:
            raise ValueError(
                f"rollup windows are not epoch-aligned {window_ms}ms "
                "tumbling windows"
            )
        meta = df.agg(
            F.max(end_ms).alias("hi"),
            F.avg("samples").alias("density"),
        ).collect()[0]
        self._rollups[MetricType.check(metric_type)] = (
            df, window_ms, meta["hi"], path, meta["density"]
        )

    def refresh_rollup_watermark(self, metric_type: str) -> int | None:
        """Re-read the attached rollup's finality watermark (the rollup
        sink appends finalized windows over time); returns the new one.

        A path-attached rollup is RE-RESOLVED here: a parquet DataFrame
        caches its file listing at creation, so files the sink appended
        after attach are invisible to the old frame — refresh drops the
        cached listing and rebuilds."""
        entry = self._rollups.get(MetricType.check(metric_type))
        if entry is None:
            return None
        df, window_ms, _, path = entry[:4]
        if path is not None:
            self.spark.catalog.refreshByPath(path)
            df = self.spark.read.parquet(path)
        meta = df.agg(
            F.max(F.unix_millis(F.col("window_end"))).alias("hi"),
            F.avg("samples").alias("density"),
        ).collect()[0]
        self._rollups[metric_type] = (
            df, window_ms, meta["hi"], path, meta["density"]
        )
        return meta["hi"]

    def _hybrid_profitable(
        self, entry: tuple, buckets: Buckets, n_metrics: int | None
    ) -> bool:
        """Cost gate for the watermark-crossing (hybrid) route — pure
        driver arithmetic, no jobs.

        A pure-prefix query always routes (the rollup reads strictly
        fewer rows than raw, one scan either way).  A CROSSING query
        pays a second scan: hybrid ≈ 2·fixed + points(tail)·per_point,
        raw ≈ fixed + points(prefix+tail)·per_point — hybrid wins only
        when the finalized-prefix points it avoids reading outweigh one
        scan's fixed cost.  The prefix estimate is the rollup's own
        density statistic (avg ``samples`` per (metric, window) row,
        cached by attach/refresh in the same job as the watermark) ×
        prefix windows × requested metrics.  Density is an OVERestimate
        for series sparser than the store average — the failure mode is
        an unprofitable-but-correct hybrid, never a wrong answer.
        ``n_metrics=None`` (tag-driven / all-metrics scans) routes
        hybrid: fleet-wide dashboards are exactly the dense shape.
        Threshold: :attr:`hybrid_min_prefix_points`."""
        density = entry[4] if len(entry) > 4 else None
        if density is None or n_metrics is None:
            return True
        win_ms, hi = entry[1], entry[2]
        prefix_windows = max(0, min(buckets.end, hi) - buckets.start) / win_ms
        est = density * prefix_windows * max(1, n_metrics)
        return est >= self.hybrid_min_prefix_points

    def _rollup_routed_stats(
        self, metric_type: str, tenant_id, metric, buckets: Buckets
    ) -> DataFrame | None:
        """Serve A1 bucket stats from an attached rollup when that is
        provably equivalent to the raw scan; None → caller falls back.

        Routing requires (a) grid alignment — ``step`` a multiple of the
        rollup window and ``start`` on the window grid (windows are
        epoch-aligned; validated once at attach), and (b) the range to
        START before the newest finalized window (cached at attach).
        Both checks are pure driver arithmetic — a routed query launches
        no extra jobs.

        A range that ENDS past the finality watermark — the reference's
        *default* dashboard query, now−8h..now (TimeRange.java:32,43-44)
        — is served HYBRID: the finalized prefix ``[start, hi)`` from
        rollup partials, the open tail ``[hi, end)`` from a raw scan the
        store prunes down to only the open slices, merged as mergeable
        partials (min/max/sum/count) per bucket before the grid fill.
        This mirrors the reference's compressed-blocks ∪ live-temp-table
        merge (MetricsServiceImpl.java:662-693); at 100 TB the tail scan
        touches hours of one series, never the finalized history.  Late
        points under an already-finalized window are the routed path's
        documented (attach-time) tradeoff, identical here."""
        entry = self._rollups.get(metric_type)
        if entry is None:
            return None
        rollup, win_ms, hi = entry[0], entry[1], entry[2]
        if buckets.step % win_ms != 0 or buckets.start % win_ms != 0:
            return None
        if hi is None or buckets.start >= hi:
            return None
        if buckets.end > hi and not self._hybrid_profitable(
            entry, buckets, 1 if isinstance(metric, str) else None
        ):
            return None
        # ONE aggregation for the whole query: every rollup window tiles
        # wholly inside one bucket (alignment gate), so window rows ARE
        # per-bucket partials already.  A watermark-crossing range
        # additionally unions per-point partial rows from the open tail;
        # the grid fill unions one null/zero partial per grid cell —
        # both merged by the same single hash-agg (map-side combined).
        # No dimension join: the former broadcast-fill join cost an
        # extra exchange stage per query (several times the aggregation
        # itself at serving latency).  The WHOLE served plan is composed
        # as ONE SQL text parsed JVM-side in a single spark.sql call:
        # the previous Column-API assembly (unions + agg + projection)
        # cost ~180 ms of Py4J plan construction per request — more
        # than the aggregation executed (VERDICT r8 item 2).  min/max/
        # sum cast to double so the served type matches the raw path
        # regardless of the attached rollup's native value type.
        pv = self._bind_served_view(f"p_{metric_type}", rollup)
        frags = [self._prefix_frag(tenant_id, metric, buckets, view=pv), f"""
SELECT id AS bucket_idx, cast(null as double) AS `min`,
       cast(null as double) AS `max`, cast(null as double) AS `sum`,
       cast(0 as bigint) AS samples
FROM range({buckets.count})"""]
        if buckets.end > hi:
            tv = self._tail_view(metric_type, tenant_id, hi)
            frags.append(self._tail_frag(metric, buckets, hi, view=tv))
        body = "\nUNION ALL\n".join(frags)
        return self._serving_spark().sql(f"""
SELECT {buckets.start}L + bucket_idx * {buckets.step}L AS `start`,
       {buckets.start}L + (bucket_idx + 1) * {buckets.step}L AS `end`,
       `min`, CASE WHEN samples > 0 THEN `sum` / samples END AS avg,
       `max`, `sum`, samples
FROM (SELECT bucket_idx, min(`min`) AS `min`, max(`max`) AS `max`,
             sum(`sum`) AS `sum`, sum(samples) AS samples
      FROM ({body}) GROUP BY bucket_idx)""")

    @staticmethod
    def _metric_pred(metric) -> str:
        """``metric`` filter as SQL text (str, list, or None = all)."""
        if metric is None:
            return "true"
        if isinstance(metric, str):
            return f"metric = {_sql_str(metric)}"
        return "metric IN ({})".format(", ".join(_sql_str(m) for m in metric))

    def _prefix_frag(self, tenant_id, metric, buckets: Buckets,
                     cut: int | None = None, keep_metric: bool = False,
                     extra: str = "", view: str = "{p}") -> str:
        """Finalized-prefix rollup windows as per-bucket partial rows —
        the SQL-text twin of :meth:`_window_partials`, selecting FROM a
        ``{p}`` placeholder bound by the caller's one spark.sql call.
        ``cut`` (epoch ms) additionally bounds ``window_end`` for fused
        hybrid routes whose prefix ends before the attached watermark;
        ``extra`` appends trailing select-list entries (the fused hist
        route's ``_hb`` column) — every UNION ALL branch is positional,
        so callers must append the same columns on every fragment."""
        grid_end = buckets.start + buckets.step * buckets.count
        hi_ms = grid_end if cut is None else min(grid_end, cut)
        cols = "metric, " if keep_metric else ""
        return f"""
SELECT {cols}cast((unix_millis(window_start) - {buckets.start}L) / {buckets.step}L as bigint) AS bucket_idx,
       cast(`min` as double) AS `min`, cast(`max` as double) AS `max`,
       cast(`sum` as double) AS `sum`, cast(samples as bigint) AS samples{extra}
FROM {view}
WHERE tenant_id = {_sql_str(tenant_id)}
  AND window_start >= timestamp_millis({buckets.start}L)
  AND window_end <= timestamp_millis({hi_ms}L)
  AND {self._metric_pred(metric)}"""

    def _tail_frag(self, metric, buckets: Buckets, tail_lo: int,
                   keep_metric: bool = False, extra: str = "",
                   view: str = "{t}") -> str:
        """Open-tail raw points as degenerate per-bucket partials — the
        SQL-text twin of :meth:`_tail_partials`, selecting FROM a
        ``{t}`` placeholder the caller binds to :meth:`_tail_base`."""
        cols = "metric, " if keep_metric else ""
        return f"""
SELECT {cols}cast((ts - {buckets.start}L) / {buckets.step}L as bigint) AS bucket_idx,
       cast(value as double) AS `min`, cast(value as double) AS `max`,
       cast(value as double) AS `sum`, cast(1 as bigint) AS samples{extra}
FROM {view}
WHERE ts >= {max(tail_lo, buckets.start)}L AND ts < {buckets.end}L
  AND {self._metric_pred(metric)}"""

    def _tail_base(self, metric_type: str, tenant_id, tail_lo: int) -> DataFrame:
        """Pinned open-tail scan frame: the store-pruned raw DataFrame
        for everything at/after ``tail_lo``'s slice, ALL metrics —
        per-request metric/ts predicates are applied as SQL text by
        :meth:`_tail_frag` and pushed below the LWW window by Catalyst
        (they reference only its partition columns).  Construction
        (layer listing + LWW plan, ~50 ms) runs once per store state:
        entries self-invalidate against :meth:`MetricsStore.state_token`,
        which changes on every ingest/compaction/delete.  At 100 TB the
        open slice's file set is hours of data and changes only on
        ingest — re-listing it per dashboard request was pure waste."""
        floor_ms = (tail_lo // self.store.slice_ms) * self.store.slice_ms
        token = self.store.state_token(metric_type)
        key = (metric_type, tenant_id, floor_ms)
        hit = self._tail_cache.get(key)
        if hit is not None and hit[0] == token:
            return hit[1]
        df = self.store.find_data_points(
            metric_type, tenant_id, None, floor_ms, 2**62, order=None
        )
        if len(self._tail_cache) > 64:
            self._tail_cache.clear()
        self._tail_cache[key] = (token, df)
        return df

    def _tail_scan(self, metric_type: str, tenant_id, metric,
                   tail_lo: int, end: int) -> DataFrame:
        """Pinned-tail twin of ``store.find_data_points(metric_type,
        tenant, metric, tail_lo, end, order=None)`` for the per-request
        hybrid routes: the scan frame comes from :meth:`_tail_base`
        (constructed once per store state) and the request's metric/ts
        predicates apply as one parsed filter, pushed below the LWW
        window by Catalyst."""
        return self._tail_base(metric_type, tenant_id, tail_lo).where(
            f"ts >= {tail_lo}L AND ts < {end}L"
            f" AND {self._metric_pred(metric)}"
        )

    def _tail_view(self, metric_type: str, tenant_id, tail_lo: int) -> str:
        """Pinned tail base bound as a global temp view (see
        _bind_served_view); the bind key carries tenant + slice floor so
        distinct tails never alias, and re-binding happens exactly when
        _tail_base rebuilds the frame (store state change)."""
        import hashlib as _hl

        floor_ms = (tail_lo // self.store.slice_ms) * self.store.slice_ms
        df = self._tail_base(metric_type, tenant_id, tail_lo)
        th = _hl.md5(str(tenant_id).encode()).hexdigest()[:10]
        return self._bind_served_view(
            f"t_{metric_type}_{th}_{floor_ms}", df
        )

    def _window_partials(
        self, rollup: DataFrame, tenant_id, metric, buckets: Buckets,
        keep_metric: bool = False,
    ) -> DataFrame:
        """Rollup windows inside the grid as per-bucket PARTIAL rows
        (``bucket_idx, min, max, sum, samples``) — no aggregation: the
        alignment gate guarantees each window falls wholly inside one
        bucket, so window rows are already mergeable partials.

        Built as TWO parsed SQL strings (one filter, one selectExpr):
        this runs per served request, and the equivalent Column-API
        chain cost ~90 ms of Py4J plan construction per call (same
        diagnosis as the fused quantile expressions below).  The
        timestamp-literal comparisons keep parquet PushedFilters."""
        grid_end = buckets.start + buckets.step * buckets.count
        conds = [
            f"tenant_id = {_sql_str(tenant_id)}",
            f"window_start >= timestamp_millis({buckets.start}L)",
            f"window_end <= timestamp_millis({grid_end}L)",
        ]
        if metric is not None:
            if isinstance(metric, str):
                conds.append(f"metric = {_sql_str(metric)}")
            else:
                conds.append(
                    "metric IN ({})".format(
                        ", ".join(_sql_str(m) for m in metric))
                )
        cols = ["metric"] if keep_metric else []
        return rollup.filter(" AND ".join(conds)).selectExpr(
            *cols,
            f"cast((unix_millis(window_start) - {buckets.start}L) "
            f"/ {buckets.step}L as bigint) AS bucket_idx",
            "cast(`min` as double) AS `min`",
            "cast(`max` as double) AS `max`",
            "cast(`sum` as double) AS `sum`",
            "cast(samples as bigint) AS samples",
        )

    def _tail_partials(
        self, metric_type: str, tenant_id, metric, buckets: Buckets, hi: int,
        keep_metric: bool = False,
    ) -> DataFrame:
        """Open-tail raw points in ``[hi, buckets.end)`` (the store's
        slice pruning means only open-slice files are read) as
        DEGENERATE per-bucket partial rows (each point is its own
        min/max/sum with samples=1) — schema-aligned with
        :meth:`_window_partials` so one union + one hash-agg merges the
        finalized prefix and the open tail.  One parsed filter + one
        selectExpr over the PINNED tail base (r9: the per-request
        find_data_points construction was ~50 ms of the serving
        constant) — this is a per-served-request path."""
        pts = self._tail_base(metric_type, tenant_id, hi)
        cols = ["metric"] if keep_metric else []
        return pts.where(
            f"ts >= {max(hi, buckets.start)}L AND ts < {buckets.end}L"
            f" AND {self._metric_pred(metric)}"
        ).selectExpr(
            *cols,
            f"cast((ts - {buckets.start}L) / {buckets.step}L as bigint)"
            " AS bucket_idx",
            "cast(value as double) AS `min`",
            "cast(value as double) AS `max`",
            "cast(value as double) AS `sum`",
            "cast(1 as bigint) AS samples",
        )

    def build_histogram_rollup(
        self, metric_type: str, slice_ms: int, lo: float, hi: float, n_bins: int
    ) -> DataFrame:
        """Store-level fixed-bin histogram partials — the MERGEABLE
        state behind rank statistics at scale (operators/downsample.py
        histogram_rollup over every series): one row per (tenant,
        metric, slice, bin), integer counts.  Write these once per
        closed slice (compaction time) and any coarser range's
        percentiles are answered from partials, never raw points."""
        from rhq_metrics_spark.operators.downsample import histogram_rollup

        return histogram_rollup(
            self.store.points(metric_type), slice_ms, lo, hi, n_bins,
            group_col=["tenant_id", "metric"],
        )

    def attach_histogram_rollup(
        self, metric_type: str, hists, slice_ms: int,
        lo: float, hi: float, n_bins: int,
    ) -> None:
        """Register histogram partials (:meth:`build_histogram_rollup`'s
        schema, DataFrame or parquet path) as the serving fast path for
        PERCENTILE stats — the piece the mergeable min/avg/max/sum
        rollup can't carry (rank statistics don't merge).  Estimates are
        bin-width-bounded approximations (documented, opt-in via
        ``percentile_impl='hist'``).  Caches the finality watermark
        ``max(slice_start) + slice_ms`` — routed queries cost no extra
        jobs."""
        path = hists if isinstance(hists, str) else None
        df = self.spark.read.parquet(hists) if path else hists
        df = df.withColumn("slice_start", F.col("slice_start").cast("long"))
        slice_ms = int(slice_ms)
        bad = df.filter(
            (F.col("slice_start") % slice_ms != 0)
            | (F.col("bin") < 0) | (F.col("bin") >= n_bins)
        )
        if bad.limit(1).count() > 0:
            raise ValueError(
                f"histogram partials are not aligned {slice_ms}ms slices "
                f"with bins in [0, {n_bins})"
            )
        hi_w = df.agg(F.max("slice_start").alias("hi")).collect()[0]["hi"]
        watermark = None if hi_w is None else int(hi_w) + slice_ms
        self._hist_rollups[MetricType.check(metric_type)] = (
            df, slice_ms, float(lo), float(hi), int(n_bins), watermark, path
        )

    def refresh_histogram_watermark(self, metric_type: str) -> int | None:
        """Re-read the attached histogram rollup's finality watermark
        (the streaming partials sink appends finalized slices over
        time); returns the new one.  Mirrors
        :meth:`refresh_rollup_watermark`."""
        entry = self._hist_rollups.get(MetricType.check(metric_type))
        if entry is None:
            return None
        df, slice_ms, lo, hi, n_bins, _, path = entry
        if path is not None:
            self.spark.catalog.refreshByPath(path)
            df = self.spark.read.parquet(path).withColumn(
                "slice_start", F.col("slice_start").cast("long")
            )
        hi_w = df.agg(F.max("slice_start").alias("hi")).collect()[0]["hi"]
        watermark = None if hi_w is None else int(hi_w) + slice_ms
        self._hist_rollups[metric_type] = (
            df, slice_ms, lo, hi, n_bins, watermark, path
        )
        return watermark

    def percentiles_from_rollup(
        self,
        metric_type: str,
        tenant_id,
        metric,
        buckets: Buckets,
        percentiles: Sequence[float],
        fill: bool = True,
    ) -> DataFrame | None:
        """Per-bucket approximate percentiles served from attached
        histogram partials; None when the request can't be routed (no
        attach, off-grid buckets, or range starting past the newest
        finalized slice — same alignment rules as the stats rollup).
        Output: ``(start, end, p<q>...)`` with the exact path's column
        names; empty buckets carry nulls.  Error ≤ one bin width.

        A range ENDING past the finality watermark gets the same hybrid
        treatment as :meth:`_rollup_routed_stats`: the open tail's raw
        points (pruned to open slices) are binned with the identical
        bin expression into degenerate count=1 partial rows and unioned
        with the finalized partials before the quantile merge — the
        estimate keeps the one-bin-width error bound."""
        entry = self._hist_rollups.get(MetricType.check(metric_type))
        if entry is None or not percentiles:
            return None
        hists, slice_ms, lo, hi, n_bins, watermark = entry[:6]
        if buckets.step % slice_ms != 0 or buckets.start % slice_ms != 0:
            return None
        # histogram_quantiles buckets by the EPOCH-aligned floor of
        # slice_start/step — a grid whose origin is off the step grid
        # would group slices into the wrong buckets and the bucket_start
        # join would miss (nulls instead of the exact fallback, breaking
        # the "never weaker than exact" contract) — refuse it
        if buckets.start % buckets.step != 0:
            return None
        if watermark is None or buckets.start >= watermark:
            return None
        from rhq_metrics_spark.operators.downsample import histogram_quantiles
        from rhq_metrics_spark.operators.stats import (
            bucket_dimension,
            percentile_col_name,
        )

        mine = hists.filter(
            (F.col("tenant_id") == tenant_id) & (F.col("metric") == metric)
            & (F.col("slice_start") >= buckets.start)
            & (F.col("slice_start") < buckets.end)
        ).select("tenant_id", "metric", "slice_start", "bin", "count")
        if buckets.end > watermark:
            pts = self.store.find_data_points(
                metric_type, tenant_id, metric, watermark, buckets.end,
                order=None,
            )
            bin_w = (hi - lo) / n_bins
            raw_bin = F.floor((F.col("value").cast("double") - lo) / bin_w)
            mine = mine.unionByName(
                pts.select(
                    "tenant_id",
                    "metric",
                    (F.floor(F.col("ts") / slice_ms) * slice_ms)
                    .alias("slice_start"),
                    F.least(
                        F.greatest(raw_bin, F.lit(0)), F.lit(n_bins - 1)
                    ).cast("int").alias("bin"),
                    F.lit(1).cast("long").alias("count"),
                )
            )
        qs, names, seen = [], [], set()
        for q in percentiles:
            if not 0 < q <= 100:
                # a quantile the partials can't serve (e.g. 0 == min):
                # fall back to exact rather than erroring — the hist
                # path's contract is "never weaker than exact"
                return None
            col = percentile_col_name(q)
            if col in seen:
                continue
            seen.add(col)
            qs.append(q / 100.0)
            names.append(col)
        out = histogram_quantiles(
            mine, buckets.step, qs, names, lo, hi, n_bins,
            group_col=["tenant_id", "metric"],
        ).select("bucket_start", *names)
        if not fill:
            # caller left-joins onto a frame that already carries every
            # grid bucket (_hist_routed_stats) — the dim fill here would
            # just add a broadcast stage to produce rows the join drops
            return out.select(
                F.col("bucket_start").alias("start"),
                (F.col("bucket_start") + buckets.step).alias("end"),
                *names,
            )
        dim = bucket_dimension(self.spark, buckets).withColumn(
            "bucket_start",
            F.lit(buckets.start) + F.col("bucket_idx") * F.lit(buckets.step),
        )
        return (
            F.broadcast(dim)
            .join(out, "bucket_start", "left")
            .drop("bucket_idx", "bucket_start")
        )

    def _hist_fused_stats(
        self, tenant_id, metric, buckets: Buckets,
        percentiles: Sequence[float], include_median: bool,
    ) -> DataFrame | None:
        """Fused single-aggregation twin of :meth:`_hist_routed_stats`
        for the pure-prefix case: base mergeable columns from the stats
        rollup and per-bucket histogram bins from the histogram rollup
        union into ONE hash-agg (min/max/sum/samples + a sorted
        ``(bin, c)`` array), and every requested quantile is estimated
        by a JVM higher-order ``aggregate`` over that tiny array — no
        window sort, no explode, no join.  Measured on the 100M-point
        bench store: 575 → ~290 ms p50 vs the join assembly.

        The crossing-bin search does NOT pre-merge duplicate bins
        (several finalized slices per bucket contribute separate
        ``(bin, c)`` entries): cumulative counts at bin boundaries are
        identical, so the crossing bin matches the merged variant and
        the estimate stays within the documented one-bin-width error —
        only the interpolation point inside the crossing bin may differ.

        A range ENDING past either finality watermark keeps the same
        shape (r8): the finalized prefix ``[start, cut)`` comes from
        both rollups, the open tail ``[cut, grid_end)`` from ONE pruned
        raw scan whose point rows are degenerate partials for BOTH
        sides at once — min=max=sum=value/samples=1 for the base
        columns and a ``(bin, 1)`` histogram entry — so the union still
        merges in a single hash-agg with no join and no window.  ``cut``
        is ``min(stats hi, hist watermark)`` floored to the
        lcm(window, slice) grid (which divides ``step``, both being
        divisors of it), so windows and slices below it tile whole
        buckets and nothing double-counts against the tail scan.
        Returns None (caller falls back to the join path, then exact)
        unless both rollups are attached and aligned, the range starts
        in finalized territory, and a crossing range passes the hybrid
        cost gate."""
        entry_r = self._rollups.get(MetricType.GAUGE)
        entry_h = self._hist_rollups.get(MetricType.GAUGE)
        if entry_r is None or entry_h is None:
            return None
        rollup, win_ms, hi_r = entry_r[0], entry_r[1], entry_r[2]
        hists, slice_ms, lo, hi, n_bins, watermark = entry_h[:6]
        if (
            buckets.step % win_ms != 0
            or buckets.start % win_ms != 0
            or buckets.step % slice_ms != 0
            or buckets.start % slice_ms != 0
            or buckets.start % buckets.step != 0
        ):
            return None
        grid_end = buckets.start + buckets.step * buckets.count
        if hi_r is None or watermark is None:
            return None
        cut0 = min(hi_r, watermark)
        if cut0 <= buckets.start:
            return None
        cut: int | None = None
        if grid_end > cut0:
            import math as _math

            lcm = win_ms * slice_ms // _math.gcd(win_ms, slice_ms)
            cut = buckets.start + ((cut0 - buckets.start) // lcm) * lcm
            if cut <= buckets.start:
                return None
            if not self._hybrid_profitable(entry_r, buckets, 1):
                return None
        qs = list(dict.fromkeys(percentiles))
        if include_median:
            qs = [50.0, *[q for q in qs if q != 50.0]]
        if any(not 0 < q <= 100 for q in qs):
            return None
        from rhq_metrics_spark.operators.stats import percentile_col_name

        # The WHOLE fused plan is composed as ONE SQL text parsed in a
        # single spark.sql call (r9): the remaining Column-API assembly
        # (filters, unionByName x3, groupBy/agg, withColumn) still cost
        # ~150 ms of Py4J plan construction per request on top of the
        # r8 selectExpr work — at serving latency that rivaled the
        # aggregation itself (VERDICT r8 item 2).
        bin_struct_t = "struct<bin:int,c:bigint>"
        null_hb = f",\n       cast(null as {bin_struct_t}) AS _hb"
        w_bin = (hi - lo) / n_bins
        pv = self._bind_served_view("p_" + str(MetricType.GAUGE), rollup)
        hv = self._bind_served_view("h_" + str(MetricType.GAUGE), hists)
        frags = [
            self._prefix_frag(tenant_id, metric, buckets, cut=cut,
                              extra=null_hb, view=pv),
            f"""
SELECT cast((slice_start - {buckets.start}L) / {buckets.step}L as bigint) AS bucket_idx,
       cast(null as double) AS `min`, cast(null as double) AS `max`,
       cast(null as double) AS `sum`, cast(null as bigint) AS samples,
       named_struct('bin', cast(bin as int), 'c', cast(count as bigint)) AS _hb
FROM {hv}
WHERE tenant_id = {_sql_str(tenant_id)} AND {self._metric_pred(metric)}
  AND slice_start >= {buckets.start}L
  AND slice_start < {grid_end if cut is None else cut}L""",
            f"""
SELECT id AS bucket_idx, cast(null as double) AS `min`,
       cast(null as double) AS `max`, cast(null as double) AS `sum`,
       cast(0 as bigint) AS samples{null_hb}
FROM range({buckets.count})""",
        ]
        if cut is not None:
            # cut on the slice grid ⇒ slice_start < cut means the whole
            # slice is inside the finalized prefix; the open tail's
            # point rows are degenerate partials for BOTH sides at once
            tail_hb = (
                ",\n       named_struct('bin', cast(least(greatest("
                f"floor((cast(value as double) - {lo!r}d) / {w_bin!r}d), "
                f"0), {n_bins - 1}) as int), 'c', cast(1 as bigint)) AS _hb"
            )
            tv = self._tail_view(MetricType.GAUGE, tenant_id, cut)
            frags.append(self._tail_frag(metric, buckets, cut,
                                         extra=tail_hb, view=tv))

        def _quantile(q: float, name: str) -> str:
            return _hist_quantile_expr(q, name, lo, w_bin)

        cols = [
            f"{buckets.start}L + bucket_idx * {buckets.step}L AS `start`",
            f"{buckets.start}L + (bucket_idx + 1) * {buckets.step}L AS `end`",
            "`min`",
            "CASE WHEN samples > 0 THEN `sum` / samples END AS avg",
        ]
        if include_median:
            cols.append(_quantile(50.0, "median"))
        cols += ["`max`", "`sum`", "samples"]
        emitted = set()
        for q in percentiles:
            name = percentile_col_name(q)
            if name not in emitted:
                emitted.add(name)
                cols.append(_quantile(q, name))
        body = "\nUNION ALL\n".join(frags)
        return self._serving_spark().sql(f"""
SELECT {", ".join(cols)}
FROM (SELECT *, aggregate(_bins, cast(0 as bigint), (a, x) -> a + x.c) AS _total
      FROM (SELECT bucket_idx, min(`min`) AS `min`, max(`max`) AS `max`,
                   sum(`sum`) AS `sum`, sum(samples) AS samples,
                   sort_array(collect_list(_hb)) AS _bins
            FROM ({body}) GROUP BY bucket_idx))""")

    def _hist_routed_stats(
        self, tenant_id, metric, buckets: Buckets,
        percentiles: Sequence[float], include_median: bool, use_rollup: bool,
    ) -> DataFrame | None:
        """``percentile_impl='hist'`` assembly: percentile columns from
        the attached histogram partials, the mergeable base columns from
        the stats rollup when it routes (zero raw-point reads end to
        end) or the raw scan otherwise.  None when the histogram rollup
        can't route — the caller falls back to exact.  Column order
        matches the exact path exactly."""
        if use_rollup:
            fused = self._hist_fused_stats(
                tenant_id, metric, buckets, percentiles, include_median
            )
            if fused is not None:
                return fused
        qs = list(percentiles)
        if include_median:
            qs = [50.0, *qs]
        pct = self.percentiles_from_rollup(
            MetricType.GAUGE, tenant_id, metric, buckets, qs, fill=False
        )
        if pct is None:
            return None
        from rhq_metrics_spark.operators.stats import percentile_col_name

        base = None
        if use_rollup:
            base = self._rollup_routed_stats(
                MetricType.GAUGE, tenant_id, metric, buckets
            )
        if base is None:
            base = numeric_bucket_stats(
                self._scan(
                    MetricType.GAUGE, tenant_id, metric,
                    buckets.start, buckets.end,
                ),
                buckets, (),
            ).drop("median")
        # pct is ≤ buckets.count rows post-agg — force the broadcast so
        # the planner never picks a sort-merge join off a missing size
        # estimate
        out = base.join(F.broadcast(pct.drop("end")), "start", "left")
        cols = [F.col("start"), F.col("end"), F.col("min"), F.col("avg")]
        if include_median:
            cols.append(F.col("p50").alias("median"))
        cols += [F.col("max"), F.col("sum"), F.col("samples")]
        emitted = set()
        for q in percentiles:
            col = percentile_col_name(q)
            if col not in emitted:
                emitted.add(col)
                cols.append(F.col(col))
        return out.select(*cols)

    def try_routed_stats(
        self, metric_type: str, tenant_id, metric, buckets: Buckets
    ) -> DataFrame | None:
        """Public routing probe for presentation layers (the REST stats
        handler): the rollup-served A1 stats when an attached rollup can
        answer this exact query, else None (caller falls back to the raw
        path).  The routed frame carries the mergeable columns only
        (min/avg/max/sum/samples — no median/percentiles: rank
        statistics don't merge across windows)."""
        if metric_type != MetricType.GAUGE:
            return None
        routed = self._rollup_routed_stats(metric_type, tenant_id, metric, buckets)
        return routed

    def _rollup_routed_multi(
        self, metric_type: str, tenant_id, metrics: Sequence[str],
        buckets: Buckets, fill_grid: bool = True,
    ) -> DataFrame | None:
        """Multi-metric A1 stats from the attached rollup (the
        100-series dashboard shape): one pruned rollup scan serves every
        requested series' mergeable columns — same alignment/finality
        gate as the single-metric route; None → raw fallback.  Output
        matches ``numeric_bucket_stats(group_cols=['metric'],
        include_median dropped)``: per observed metric, every grid
        bucket (empty ones samples=0).  Ranges ending past the finality
        watermark get the same hybrid prefix+open-tail merge as
        :meth:`_rollup_routed_stats` — one pruned tail scan covers every
        requested series."""
        entry = self._rollups.get(metric_type)
        if entry is None:
            return None
        rollup, win_ms, hi = entry[0], entry[1], entry[2]
        if buckets.step % win_ms != 0 or buckets.start % win_ms != 0:
            return None
        if hi is None or buckets.start >= hi:
            return None
        if buckets.end > hi and not self._hybrid_profitable(
            entry, buckets, len(metrics)
        ):
            return None
        # Partials union (windows + optional open tail) → one hash-agg,
        # as in _rollup_routed_stats, composed as ONE SQL text (r9, same
        # constant-killer as the single-metric route).  The per-metric
        # grid fill keeps the observed-metrics distinct + broadcast
        # left-join shape: the join-free union-zeros variant was
        # measured SLOWER here (the per-query local zeros relation + a
        # per-metric window cost more than one broadcast join over the
        # tiny agg output at the 100-metric dashboard shape).
        pv = self._bind_served_view(f"p_{metric_type}", rollup)
        frags = [self._prefix_frag(
            tenant_id, list(metrics), buckets, keep_metric=True, view=pv
        )]
        if buckets.end > hi:
            tv = self._tail_view(metric_type, tenant_id, hi)
            frags.append(self._tail_frag(
                list(metrics), buckets, hi, keep_metric=True, view=tv
            ))
        body = "\nUNION ALL\n".join(frags)
        rolled_sql = f"""
SELECT metric, bucket_idx, min(`min`) AS `min`, max(`max`) AS `max`,
       sum(`sum`) AS `sum`, sum(samples) AS samples,
       CASE WHEN sum(samples) > 0 THEN sum(`sum`) / sum(samples) END AS avg
FROM ({body}) GROUP BY metric, bucket_idx"""
        if not fill_grid:
            # stacked consumers re-aggregate over metrics immediately —
            # the per-metric grid fill below (a distinct() that
            # re-executes this agg subtree, plus a broadcast join) would
            # be pure overhead there; they fill the STACKED grid with
            # one union-zeros relation instead (measured 2x on the
            # 100-series dashboard, BENCH r6->r7)
            return self._serving_spark().sql(rolled_sql)
        return self._serving_spark().sql(f"""
WITH rolled AS ({rolled_sql})
SELECT /*+ BROADCAST(r) */ m.metric,
       {buckets.start}L + d.id * {buckets.step}L AS `start`,
       {buckets.start}L + (d.id + 1) * {buckets.step}L AS `end`,
       r.`min`, r.avg, r.`max`, r.`sum`,
       coalesce(r.samples, 0L) AS samples
FROM (SELECT DISTINCT metric FROM rolled) m
CROSS JOIN range({buckets.count}) d
LEFT JOIN rolled r ON r.metric = m.metric AND r.bucket_idx = d.id""")

    def _hist_routed_multi(
        self, metric_type: str, tenant_id, metrics: Sequence[str],
        buckets: Buckets, percentiles: Sequence[float],
        include_median: bool,
    ) -> DataFrame | None:
        """Multi-metric dashboard stats WITH rank columns from partials
        (the ``percentile_impl='hist'`` twin of
        :meth:`_rollup_routed_multi`), in the FUSED single-hash-agg
        shape of :meth:`_hist_fused_stats` with ``metric`` in the group
        key: stats-rollup window partials, histogram bin structs, and —
        for a range crossing ``min(stats hi, hist watermark)`` (cut on
        the lcm grid, hybrid cost gate applied) — raw open-tail rows
        carrying BOTH degenerate base partials and ``(bin, 1)`` entries
        union into ONE aggregation; every quantile is a JVM
        higher-order ``aggregate`` projection.  No windows, no explode
        (the first cut of this route went through
        ``histogram_quantiles``' window machinery and was measured
        SLOWER than the exact raw scan at bench scale — 1.5 s vs 0.77 s
        for the 100-series dashboard; the fused shape serves it in one
        pass).  The only join is the per-metric grid-fill broadcast the
        multi shape already pays.  None → caller falls back to the
        exact raw path.  Output schema matches
        ``numeric_bucket_stats(group_cols=['metric'])`` with ``metric``
        first."""
        entry_r = self._rollups.get(MetricType.check(metric_type))
        entry_h = self._hist_rollups.get(MetricType.check(metric_type))
        if entry_r is None or entry_h is None:
            return None
        if not (percentiles or include_median):
            return None
        rollup, win_ms, hi_r = entry_r[0], entry_r[1], entry_r[2]
        hists, slice_ms, lo, hi, n_bins, watermark = entry_h[:6]
        if (
            buckets.step % win_ms != 0
            or buckets.start % win_ms != 0
            or buckets.step % slice_ms != 0
            or buckets.start % slice_ms != 0
            or buckets.start % buckets.step != 0
        ):
            return None
        if hi_r is None or watermark is None:
            return None
        grid_end = buckets.start + buckets.step * buckets.count
        cut0 = min(hi_r, watermark)
        if cut0 <= buckets.start:
            return None
        cut: int | None = None
        if grid_end > cut0:
            import math as _math

            lcm = win_ms * slice_ms // _math.gcd(win_ms, slice_ms)
            cut = buckets.start + ((cut0 - buckets.start) // lcm) * lcm
            if cut <= buckets.start:
                return None
            if not self._hybrid_profitable(entry_r, buckets, len(metrics)):
                return None
        if any(not 0 < q <= 100 for q in percentiles):
            return None
        # the WHOLE route as one SQL text (r9 — same constant-killer as
        # the fused single-metric path): partials union → one hash-agg
        # keyed (metric, bucket_idx), then the per-metric grid fill as
        # the multi shape's one broadcast join; missing cells get
        # samples 0, an empty _bins, and therefore null estimates
        bin_struct_t = "struct<bin:int,c:bigint>"
        null_hb = f",\n       cast(null as {bin_struct_t}) AS _hb"
        w_bin = (hi - lo) / n_bins
        metric_list = ", ".join(_sql_str(m) for m in metrics)
        pv = self._bind_served_view(f"p_{metric_type}", rollup)
        hv = self._bind_served_view(f"h_{metric_type}", hists)
        frags = [
            self._prefix_frag(tenant_id, list(metrics), buckets, cut=cut,
                              keep_metric=True, extra=null_hb, view=pv),
            f"""
SELECT metric,
       cast((slice_start - {buckets.start}L) / {buckets.step}L as bigint) AS bucket_idx,
       cast(null as double) AS `min`, cast(null as double) AS `max`,
       cast(null as double) AS `sum`, cast(null as bigint) AS samples,
       named_struct('bin', cast(bin as int), 'c', cast(count as bigint)) AS _hb
FROM {hv}
WHERE tenant_id = {_sql_str(tenant_id)} AND metric IN ({metric_list})
  AND slice_start >= {buckets.start}L
  AND slice_start < {grid_end if cut is None else cut}L""",
        ]
        if cut is not None:
            tail_hb = (
                ",\n       named_struct('bin', cast(least(greatest("
                f"floor((cast(value as double) - {lo!r}d) / {w_bin!r}d), "
                f"0), {n_bins - 1}) as int), 'c', cast(1 as bigint)) AS _hb"
            )
            tv = self._tail_view(metric_type, tenant_id, cut)
            frags.append(self._tail_frag(
                list(metrics), buckets, cut, keep_metric=True,
                extra=tail_hb, view=tv
            ))
        cols = [
            "metric", "`start`", "`end`", "`min`",
            "CASE WHEN samples > 0 THEN `sum` / samples END AS avg",
        ]
        if include_median:
            cols.append(_hist_quantile_expr(50.0, "median", lo, w_bin))
        cols += ["`max`", "`sum`", "samples"]
        emitted = set()
        for q in percentiles:
            name = percentile_col_name(q)
            if name not in emitted:
                emitted.add(name)
                cols.append(_hist_quantile_expr(q, name, lo, w_bin))
        body = "\nUNION ALL\n".join(frags)
        return self._serving_spark().sql(f"""
WITH rolled AS (
  SELECT metric, bucket_idx, min(`min`) AS `min`, max(`max`) AS `max`,
         sum(`sum`) AS `sum`, sum(samples) AS samples,
         sort_array(collect_list(_hb)) AS _bins
  FROM ({body}) GROUP BY metric, bucket_idx)
SELECT {", ".join(cols)}
FROM (
  SELECT /*+ BROADCAST(r) */ m.metric,
         {buckets.start}L + d.id * {buckets.step}L AS `start`,
         {buckets.start}L + (d.id + 1) * {buckets.step}L AS `end`,
         r.`min`, r.`max`, r.`sum`,
         coalesce(r.samples, cast(0 as bigint)) AS samples,
         coalesce(r._bins, cast(array() as array<{bin_struct_t}>)) AS _bins,
         aggregate(coalesce(r._bins, cast(array() as array<{bin_struct_t}>)),
                   cast(0 as bigint), (a, x) -> a + x.c) AS _total
  FROM (SELECT DISTINCT metric FROM rolled) m
  CROSS JOIN range({buckets.count}) d
  LEFT JOIN rolled r ON r.metric = m.metric AND r.bucket_idx = d.id)""")

    def _stacked_from_per_metric(
        self, per_metric: DataFrame, percentiles: Sequence[float],
        include_median: bool, buckets: Buckets | None = None,
    ) -> DataFrame:
        """A3 stacking over a per-metric stats frame: element-wise sums,
        ``samples`` = contributing-metric count per bucket (exactly
        ``operators/stacked.py:stacked_stats`` semantics — nulls from
        empty (metric, bucket) cells drop out of the sums).

        ``buckets`` grid-fills the STACKED result by merging one
        null/zero row per grid cell into the same hash-agg (the
        single-metric route's union-zeros shape, no join): without it a
        range where NO selected metric has data returned zero rows from
        the routed path while the exact ``stacked_stats(fill_empty)``
        path returns the full samples=0 grid — response shape depended
        on whether rollups were attached (ADVICE r8)."""
        pcols = []
        emitted = set()
        for q in percentiles:
            col = percentile_col_name(q)
            if col not in emitted:
                emitted.add(col)
                pcols.append(col)
        value_cols = (
            ["min", "avg"] + (["median"] if include_median else [])
            + ["max", "sum"] + pcols
        )
        src = per_metric.select("start", "end", *value_cols, "samples")
        if buckets is not None:
            zeros = self.spark.range(buckets.count).selectExpr(
                f"{buckets.start}L + id * {buckets.step}L AS start",
                f"{buckets.start}L + (id + 1) * {buckets.step}L AS end",
                *[f"cast(null as double) AS `{c}`" for c in value_cols],
                "cast(0 as bigint) AS samples",
            )
            src = src.unionByName(zeros)
        aggs = [F.sum("min").alias("min"), F.sum("avg").alias("avg")]
        if include_median:
            aggs.append(F.sum("median").alias("median"))
        aggs += [
            F.sum("max").alias("max"), F.sum("sum").alias("sum"),
            F.count(F.when(F.col("samples") > 0, 1)).alias("samples"),
        ]
        aggs += [F.sum(c).alias(c) for c in pcols]
        return src.groupBy("start", "end").agg(*aggs)

    def gauge_stats(
        self,
        tenant_id,
        metric,
        buckets: Buckets,
        percentiles: Sequence[float] = (),
        fill: str | None = None,
        percentile_impl: str = "exact",
        include_median: bool = True,
        use_rollup: bool = True,
    ) -> DataFrame:
        """A1 bucket stats; ``fill='locf'|'linear'`` interpolates the
        empty buckets' min/avg/max (operators/gapfill.py) while
        ``samples`` stays 0 so callers can tell fill from data.

        Row order is UNSPECIFIED (one row per grid bucket; sort by
        ``start`` if you need order).  A global ``orderBy`` on the
        served frame costs a range-partition exchange per query —
        measured ~4x the entire aggregation at serving scale — so
        ordering happens driver-side in the presentation adapters
        (``bucket_points_json``), which see at most ``buckets.count``
        rows, never in the query plan.

        ``percentile_impl``: ``'exact'`` (the reference's test
        convention, default), ``'approx'`` (sketches, the 100 TB dial),
        or ``'p2'`` (the reference's PRODUCTION estimator,
        NumericDataPointCollector.java:45-61 — P² fed in time order,
        operators/percentile.py).

        Routing: with a rollup attached (:meth:`attach_rollup`) and a
        query the rollup can answer exactly — no percentiles, no median
        (``include_median=False``: min/avg/max/sum/samples are mergeable
        across windows, rank statistics are not), aligned grid — the
        stats are served FROM the rollup parquet; a range ending past
        the newest finalized window (the default now−8h..now dashboard
        shape) additionally raw-scans ONLY the open-slice tail and
        merges partials (hybrid, :meth:`_rollup_routed_stats`).
        ``use_rollup=False`` forces the raw path."""
        if (
            use_rollup
            and not percentiles
            and not include_median
            and percentile_impl == "exact"
        ):
            routed = self._rollup_routed_stats(
                MetricType.GAUGE, tenant_id, metric, buckets
            )
            if routed is not None:
                out = routed
                if fill is not None:
                    from rhq_metrics_spark.operators.gapfill import fill_gaps

                    out = fill_gaps(out, ["min", "avg", "max"], method=fill)
                return out
        if percentile_impl == "hist" and percentiles:
            hist_out = self._hist_routed_stats(
                tenant_id, metric, buckets, percentiles,
                include_median=include_median, use_rollup=use_rollup,
            )
            if hist_out is not None:
                if fill is not None:
                    from rhq_metrics_spark.operators.gapfill import fill_gaps

                    hist_out = fill_gaps(
                        hist_out, ["min", "avg", "max"], method=fill
                    )
                return hist_out
            # unroutable → exact percentiles (strictly more accurate
            # than the requested approximation; never silently weaker)
            percentile_impl = "exact"
        pts = self._scan(MetricType.GAUGE, tenant_id, metric, buckets.start, buckets.end)
        if percentile_impl == "p2" and percentiles:
            from rhq_metrics_spark.operators.percentile import p2_percentiles
            from rhq_metrics_spark.operators.stats import bucket_index, in_grid

            base = numeric_bucket_stats(pts, buckets, ())
            # Dedupe by column name: a caller-requested 50 (or 50.0) would
            # otherwise collide with the implicit median's p50 field and
            # break the applyInPandas schema (ADVICE r3).
            p2_qs: list[float] = [50]
            seen_cols = {"p50"}
            for q in percentiles:
                col = percentile_col_name(q)
                if col not in seen_cols:
                    seen_cols.add(col)
                    p2_qs.append(q)
            p2 = p2_percentiles(
                pts.filter(in_grid(buckets))
                .withColumn("start", F.lit(buckets.start)
                            + bucket_index(buckets) * F.lit(buckets.step)),
                group_cols=["start"],
                order_cols=["ts", "value"],
                percentiles=p2_qs,
            )
            out_cols = [F.col("start"), F.col("p50").alias("median")]
            emitted = set()
            for q in percentiles:
                col = percentile_col_name(q)
                if col not in emitted:
                    emitted.add(col)
                    # an explicit 50 re-emits the median's field as p50,
                    # matching the exact path's output columns
                    out_cols.append(F.col(col))
            p2 = p2.select(*out_cols)
            out = base.drop("median").join(p2, "start", "left")
        elif percentile_impl == "approx":
            out = numeric_bucket_stats(pts, buckets, percentiles, approx=True)
        else:
            out = numeric_bucket_stats(pts, buckets, percentiles)
        if not include_median:
            out = out.drop("median")
        if fill is not None:
            from rhq_metrics_spark.operators.gapfill import fill_gaps

            out = fill_gaps(out, ["min", "avg", "max"], method=fill)
        return out

    def stats_params(
        self,
        start=None,
        end=None,
        buckets: int | None = None,
        bucket_duration: str | int | None = None,
        now_ms: int | None = None,
    ) -> Buckets:
        """REST query-parameter validation with the wire error contract:
        relative/absolute time range with the 8h default
        (TimeRange.java:32-63), buckets XOR bucketDuration
        (BucketConfig.java:36-72) — every invalid combination raises
        :class:`~rhq_metrics_spark.errors.BadRequest` (status 400),
        matching the cases ErrorsITest pins (unparseable or oversized
        counts, both params, inverted ranges)."""
        from rhq_metrics_spark.errors import api_errors
        from rhq_metrics_spark.model import TimeRange, bucket_config

        with api_errors():
            if buckets is not None:
                buckets = int(buckets)
            tr = TimeRange.of(start, end, now_ms=now_ms)
            return bucket_config(tr, buckets, bucket_duration)

    def gauge_stats_query(
        self,
        tenant_id,
        metric,
        start=None,
        end=None,
        buckets: int | None = None,
        bucket_duration: str | int | None = None,
        percentiles: Sequence[float] = (),
        **kwargs,
    ) -> DataFrame:
        """Handler-shaped twin of ``GET /gauges/{id}/stats``
        (GaugeHandler.findGaugeStats): raw query parameters in, typed
        wire errors out, then the same plan as :meth:`gauge_stats`."""
        bks = self.stats_params(start, end, buckets, bucket_duration)
        return self.gauge_stats(tenant_id, metric, bks, percentiles, **kwargs)

    def counter_stats(
        self, tenant_id, metric, buckets: Buckets, percentiles: Sequence[float] = ()
    ) -> DataFrame:
        pts = self._scan(MetricType.COUNTER, tenant_id, metric, buckets.start, buckets.end)
        return numeric_bucket_stats(pts, buckets, percentiles)

    def numeric_stats(
        self,
        metric_type: str,
        tenant_id: str,
        metrics: list[str],
        buckets: Buckets,
        percentiles: Sequence[float] = (),
        stacked: bool = False,
        is_rate: bool = False,
    ) -> DataFrame:
        """§3.3 multi-metric stats: stacked (A3) or pooled (A4), optionally
        over the derived rate stream (W1) for gauge_rate/counter_rate."""
        pts = self._scan(metric_type, tenant_id, metrics, buckets.start, buckets.end)
        if is_rate:
            pts = rate(pts, metric_type=metric_type).withColumnRenamed("rate", "value")
        if stacked:
            return stacked_stats(pts, buckets, percentiles)
        return pooled_stats(pts, buckets, percentiles)

    def tagged_gauge_stats(
        self,
        tenant_id: str,
        metric: str,
        tag_filters: Mapping[str, str],
        start: int,
        end: int,
        percentiles: Sequence[float] = (),
        metric_type: str = MetricType.GAUGE,
    ) -> DataFrame:
        """A5 stats grouped by point-tag values; ``metric_type`` admits
        the counter twin (CounterHandler's /{id}/stats/tags/{tags})."""
        pts = self._scan(metric_type, tenant_id, metric, start, end)
        return tagged_stats(pts, tag_filters, percentiles)

    def gauge_aggregates(self, tenant_id, metric, start, end) -> DataFrame:
        return scalar_aggs(self._scan(MetricType.GAUGE, tenant_id, metric, start, end))

    # -- rate (W1) ---------------------------------------------------------------

    def find_rate_data(
        self, metric_type, tenant_id, metric, start, end, limit=0, order="asc"
    ) -> DataFrame:
        pts = self._scan(metric_type, tenant_id, metric, start, end)
        return rate(pts, metric_type=metric_type, order=order, limit=limit)

    def find_rate_stats(
        self, metric_type, tenant_id, metric, buckets, percentiles=()
    ) -> DataFrame:
        pts = self._scan(metric_type, tenant_id, metric, buckets.start, buckets.end)
        return rate_stats(pts, buckets, metric_type=metric_type, percentiles=percentiles)

    # -- smoothing / robust stats (W10/A14, beyond the reference) ------------------

    def smoothed_data(
        self,
        metric_type,
        tenant_id,
        metric,
        start,
        end,
        window_n: int = 8,
        alpha_num: int = 1,
        alpha_den: int = 4,
        value_scale: int = 100,
    ) -> DataFrame:
        """W10 truncated-EWMA smoothing of a series scan
        (operators/anomaly.py ewma_smooth): ``(metric, ts, value,
        ewma)``.  Values quantize to ``value_scale`` integers so the
        weighted accumulation is exact; the returned ``ewma`` is back
        at value scale."""
        from rhq_metrics_spark.operators.anomaly import ewma_smooth

        pts = self._scan(metric_type, tenant_id, metric, start, end)
        q = pts.withColumn(
            "_v", F.round(F.col("value") * value_scale).cast("long")
        )
        out = ewma_smooth(
            q, on=["metric"], order=["ts", "_v"], value_col="_v",
            window_n=window_n, alpha_num=alpha_num, alpha_den=alpha_den,
        )
        return out.select(
            "metric", "ts", "value",
            (F.col("ewma") / value_scale).alias("ewma"),
        )

    def trimmed_stats(
        self,
        tenant_id,
        metric,
        buckets: Buckets,
        trim_num: int = 1,
        trim_den: int = 10,
        metric_type=MetricType.GAUGE,
        value_scale: int = 100,
    ) -> DataFrame:
        """A14 symmetric trimmed-mean bucket stats (operators/stats.py
        trimmed_bucket_stats) — the robust twin of gauge_stats' avg."""
        from rhq_metrics_spark.operators.stats import trimmed_bucket_stats

        pts = self._scan(
            metric_type, tenant_id, metric, buckets.start, buckets.end
        )
        return trimmed_bucket_stats(
            pts, buckets, trim_num=trim_num, trim_den=trim_den,
            value_scale=value_scale,
        )

    def mad_outliers(
        self,
        tenant_id,
        metric,
        buckets: Buckets,
        k: int = 3,
        metric_type=MetricType.GAUGE,
        value_scale: int = 100,
    ) -> DataFrame:
        """A15 median/MAD robust outlier flags per bucket
        (operators/anomaly.py bucket_mad_outliers)."""
        from rhq_metrics_spark.operators.anomaly import bucket_mad_outliers

        pts = self._scan(
            metric_type, tenant_id, metric, buckets.start, buckets.end
        )
        return bucket_mad_outliers(
            pts.select("ts", "value"), buckets, k=k, value_scale=value_scale
        )

    def attach_seasonal_profile(
        self,
        profile,
        period_ms: int = 86_400_000,
        n_bins: int = 24,
        value_scale: int = 100,
        metric_type=MetricType.GAUGE,
    ) -> None:
        """Attach seasonal-profile PARTIALS (operators/anomaly.py
        seasonal_profile rows — exact integer ``sum_vq``/``bin_samples``
        per (tenant_id, metric, bin), any extra partition columns such
        as ``slice_start`` welcome): the maintenance ``seasonal_sink``
        or the streaming twin's output.  Once attached,
        :meth:`seasonal_profile` scores request-range points against
        the LONG-RUN profile merged from the partials — the monitoring
        semantics (today vs the historical hour-of-day norm) — with
        zero raw-point reads for the baseline side."""
        df = (
            self.spark.read.parquet(profile)
            if isinstance(profile, str)
            else profile
        )
        # ADVICE r10: a partials dir mixing pre-second-moment files (no
        # sum_sq_vq) with new ones reads as the merged schema with NULL
        # sum_sq_vq in old rows — F.sum would then cover only the new
        # slices while sum_vq/bin_samples span all, silently deflating
        # the forecast sd.  Validate ONCE at attach (the partials table
        # is slices×series-bounded, tiny): the second moment is usable
        # only when every row carries it.
        sq_ok = "sum_sq_vq" in df.columns
        if sq_ok and df.filter(F.col("sum_sq_vq").isNull()).limit(1).count():
            sq_ok = False
        self._seasonal_profiles[MetricType.check(metric_type)] = (
            df, int(period_ms), int(n_bins), int(value_scale), sq_ok,
        )

    def seasonal_profile(
        self,
        tenant_id,
        metric,
        start,
        end,
        period_ms: int = 86_400_000,
        n_bins: int = 24,
        metric_type=MetricType.GAUGE,
        value_scale: int = 100,
    ) -> DataFrame:
        """W11 seasonal baseline + residual for a series scan
        (operators/anomaly.py seasonal_baseline).  With partials
        attached (:meth:`attach_seasonal_profile`, matching params) the
        baseline comes from the merged long-run profile instead of the
        request range's own points — when the request range IS the full
        compacted history the two routes are bit-identical (tested)."""
        from rhq_metrics_spark.operators.anomaly import (
            _seasonal_binned,
            seasonal_apply,
            seasonal_baseline,
        )

        pts = self._scan(metric_type, tenant_id, metric, start, end)
        entry = self._seasonal_profiles.get(MetricType.check(metric_type))
        if entry is not None:
            df, att_period, att_bins, att_scale = entry[:4]
            if (
                att_period == period_ms and att_bins == n_bins
                and att_scale == value_scale
            ):
                prof = (
                    df.filter(
                        (F.col("tenant_id") == tenant_id)
                        & (F.col("metric") == metric)
                    )
                    .groupBy("metric", "bin")
                    .agg(
                        F.sum("sum_vq").alias("sum_vq"),
                        F.sum("bin_samples").alias("bin_samples"),
                    )
                )
                binned = _seasonal_binned(
                    pts.select("metric", "ts", "value"), "ts", "value",
                    period_ms, n_bins, value_scale,
                )
                return seasonal_apply(
                    binned, prof, ["metric"], value_scale=value_scale
                )
        return seasonal_baseline(
            pts.select("metric", "ts", "value"), on=["metric"],
            period_ms=period_ms, n_bins=n_bins, value_scale=value_scale,
        )

    def seasonal_forecast(
        self,
        tenant_id,
        metric,
        start,
        end,
        period_ms: int = 86_400_000,
        n_bins: int = 24,
        metric_type=MetricType.GAUGE,
        value_scale: int = 100,
        k: float = 2.0,
        history: tuple[int, int] | None = None,
    ) -> DataFrame:
        """W13 seasonal-naive forecast for a (typically FUTURE) range:
        one row per bin-grid timestamp in ``[start, end)`` with the
        profile baseline and the mergeable-moments ``lo/hi = baseline ∓
        k·σ`` band (operators/anomaly.py seasonal_forecast_bands).

        With attached partials (:meth:`attach_seasonal_profile`,
        matching params, ``sum_sq_vq`` on EVERY row — a mixed-schema
        attachment falls back to ``history``) the forecast reads ZERO
        raw points — a forecast needs no request-range data, and the
        profile side is the partials (inputFiles-asserted in tests).
        Without a matching attachment, ``history=(h_start, h_end)``
        names the range to scan for the profile."""
        from rhq_metrics_spark.operators.anomaly import (
            _seasonal_binned,
            seasonal_forecast_bands,
            seasonal_profile,
        )

        prof = None
        entry = self._seasonal_profiles.get(MetricType.check(metric_type))
        if entry is not None:
            df, att_period, att_bins, att_scale, sq_ok = entry
            if (
                att_period == period_ms and att_bins == n_bins
                and att_scale == value_scale and sq_ok
            ):
                prof = (
                    df.filter(
                        (F.col("tenant_id") == tenant_id)
                        & (F.col("metric") == metric)
                    )
                    .groupBy("metric", "bin")
                    .agg(
                        F.sum("sum_vq").alias("sum_vq"),
                        F.sum("sum_sq_vq").alias("sum_sq_vq"),
                        F.sum("bin_samples").alias("bin_samples"),
                    )
                )
        if prof is None:
            if history is None:
                raise ValueError(
                    "no attached seasonal profile matches these params; "
                    "pass history=(start_ms, end_ms) to build one from a "
                    "raw scan"
                )
            pts = self._scan(metric_type, tenant_id, metric, *history)
            prof = seasonal_profile(
                _seasonal_binned(
                    pts.select("metric", "ts", "value"), "ts", "value",
                    period_ms, n_bins, value_scale,
                ),
                ["metric"],
            )
        bands = seasonal_forecast_bands(
            prof, ["metric"], value_scale=value_scale, k=k
        ).drop("metric")
        bin_ms = period_ms // n_bins
        first = -(-int(start) // bin_ms) * bin_ms  # ceil to the bin grid
        n_pts = max(0, -(-(int(end) - first) // bin_ms)) if end > first else 0
        grid = self.spark.range(n_pts).select(
            (F.lit(first) + F.col("id") * bin_ms).cast("long").alias("ts")
        ).withColumn(
            "bin",
            F.expr(f"(ts % {int(period_ms)}) div {bin_ms}").cast("int"),
        )
        return grid.join(F.broadcast(bands), "bin", "left").select(
            F.lit(str(metric)).alias("metric"),
            "ts",
            "bin",
            F.coalesce(F.col("bin_samples"), F.lit(0).cast("long")).alias(
                "bin_samples"
            ),
            "baseline",
            "sd",
            "lo",
            "hi",
        )

    # -- availability (A2/A7) -----------------------------------------------------

    def availability_stats(self, tenant_id, metric, buckets: Buckets) -> DataFrame:
        if self._avail_rollup is not None:
            df, slice_ms, watermark = self._avail_rollup[:3]
            if (
                buckets.step % slice_ms == 0 and buckets.start % slice_ms == 0
                and watermark is not None and buckets.start < watermark
            ):
                from rhq_metrics_spark.operators.availability import (
                    availability_from_rollup,
                    availability_rollup,
                )

                # single-series filter, then merge UNGROUPED so empty
                # buckets fill exactly like the raw path (a grouped fill
                # over zero partial rows would emit nothing)
                mine = df.filter(
                    (F.col("tenant_id") == tenant_id)
                    & (F.col("metric") == metric)
                ).drop("tenant_id", "metric")
                if buckets.end > watermark:
                    # hybrid (see _increase_routed): raw open-tail points
                    # become per-slice pseudo-partials via the same
                    # deterministic builder; the cross-slice state-machine
                    # reconstruction treats the watermark like any other
                    # slice boundary
                    from rhq_metrics_spark.model import AvailabilityType

                    tail = availability_rollup(
                        self._tail_scan(MetricType.AVAILABILITY, tenant_id,
                                        metric, watermark, buckets.end),
                        slice_ms,
                    )
                    cols = ["slice_start", "f_ts", "f_state", "l_ts",
                            "l_state",
                            *[f"{s}_dur" for s in AvailabilityType.ALL],
                            "nuc_interior", "last_not_up_ts",
                            "last_recovery_ts", "samples"]
                    mine = mine.select(*cols).unionByName(tail.select(*cols))
                return availability_from_rollup(mine, buckets, slice_ms)
        pts = self._scan(
            MetricType.AVAILABILITY, tenant_id, metric, buckets.start, buckets.end
        )
        return availability_stats(pts, buckets)

    def top_anomalous(
        self,
        tenant_id,
        start,
        end,
        metric_type=MetricType.GAUGE,
        window_n: int = 20,
        min_n: int = 5,
        threshold: float = 3.0,
        top_k: int = 10,
        value_scale: int = 100,
    ) -> DataFrame:
        """W14 fleet triage through the facade: rank ALL of a tenant's
        series in the range by rolling-zscore severity (max |z| +
        flagged count) — "which of my metrics are misbehaving".  One
        pruned whole-tenant scan, one exchange on the metric key that
        collapses to a row per series inside the z-score aggregation,
        then a #series-sized global rank — raw points never reach the
        rank.  Values quantize to ``value_scale`` integers so the z
        arithmetic is the exact contract of the W5 operator."""
        from rhq_metrics_spark.operators.anomaly import (
            rank_anomalous_series,
        )

        pts = self._scan(metric_type, tenant_id, None, start, end)
        q = pts.select(
            "metric",
            "ts",
            F.round(F.col("value") * value_scale).cast("long").alias("_vq"),
        )
        return rank_anomalous_series(
            q, on=["metric"], order=["ts", "_vq"], value_col="_vq",
            window_n=window_n, min_n=min_n, threshold=threshold,
            top_k=top_k,
        )

    def _user_events(
        self, metric_type, tenant_id, start, end, user_tag: str | None
    ) -> DataFrame:
        """Points of the type in the range as (user, metric, ts) user
        events: the user identity is ``tags[user_tag]`` when a tag key
        is given, else the point VALUE cast to long (the ingest
        convention for product events — the actor id rides the value).
        Rows without a resolvable user are dropped (they can't count
        toward any per-user aggregate).

        Store-model caveat: point identity is (tenant, metric, ts) —
        the reference's Cassandra LWW key — so two users' events on
        the same step metric at the SAME millisecond collapse to one
        on ingest.  Product-event ingestion must de-collide timestamps
        (or shard the step across metrics); the underlying operators
        (``operators/funnel.py``) have no such constraint when fed an
        event table directly."""
        pts = self._scan(metric_type, tenant_id, None, start, end)
        user = (
            F.element_at(F.col("tags"), user_tag).cast("long")
            if user_tag
            else F.col("value").cast("long")
        )
        return pts.select(
            user.alias("user_id"), "metric", "ts"
        ).filter(F.col("user_id").isNotNull())

    def funnel(
        self,
        tenant_id,
        steps,
        start,
        end,
        metric_type=MetricType.GAUGE,
        window_ms: int | None = None,
        user_tag: str | None = None,
    ) -> DataFrame:
        """W15 through the facade: ordered-funnel conversion over the
        tenant's points in the range — step names are metric names,
        users resolve per :meth:`_user_events`.  One pruned scan feeds
        the operator's per-step min-agg chain (anchors are #users
        rows, never events)."""
        from rhq_metrics_spark.operators.funnel import funnel_steps

        if not steps:
            from rhq_metrics_spark.errors import BadRequest

            raise BadRequest("steps must be non-empty")
        ev = self._user_events(metric_type, tenant_id, start, end, user_tag)
        return funnel_steps(
            ev, list(steps), user_col="user_id", type_col="metric",
            ts_col="ts", window_ms=window_ms,
        )

    def transitions(
        self,
        tenant_id,
        start,
        end,
        metric_type=MetricType.GAUGE,
        user_tag: str | None = None,
    ) -> DataFrame:
        """W17 through the facade: the event-transition matrix over the
        tenant's points in the range — users resolve per
        :meth:`_user_events` (where point identity also de-collides
        same-ts events, so the timeline order key reduces to
        (ts, metric)).  One pruned scan feeds the operator's user-key
        window + pair-key hash-agg."""
        from rhq_metrics_spark.operators.funnel import event_transitions

        ev = self._user_events(metric_type, tenant_id, start, end, user_tag)
        return event_transitions(
            ev, user_col="user_id", type_col="metric", ts_col="ts",
            value_col=None,
        )

    def cohorts(
        self,
        tenant_id,
        start,
        end,
        metric_type=MetricType.GAUGE,
        period_ms: int = 7 * 86_400_000,
        metrics=None,
        user_tag: str | None = None,
    ) -> DataFrame:
        """W16 through the facade: cohort retention matrix over the
        tenant's points in the range (optionally restricted to
        ``metrics`` as the activity set).  Cohort = epoch-aligned
        ``period_ms`` period of first activity; all-integer output."""
        from rhq_metrics_spark.operators.funnel import cohort_retention

        if period_ms <= 0:
            from rhq_metrics_spark.errors import BadRequest

            raise BadRequest("periodMs must be positive")
        pts = self.store.find_data_points(
            metric_type, tenant_id, metrics, start, end, order=None
        )
        user = (
            F.element_at(F.col("tags"), user_tag).cast("long")
            if user_tag
            else F.col("value").cast("long")
        )
        ev = pts.select(user.alias("user_id"), "ts").filter(
            F.col("user_id").isNotNull()
        )
        return cohort_retention(
            ev, user_col="user_id", ts_col="ts", period_ms=period_ms
        )

    def active_users(
        self,
        tenant_id,
        start,
        end,
        metric_type=MetricType.GAUGE,
        period_ms: int = 86_400_000,
        windows=(1, 7, 30),
        user_tag: str | None = None,
    ) -> DataFrame:
        """W18 through the facade: exact rolling active-user counts
        (DAU/WAU/MAU) over the tenant's points in the range — users
        resolve per :meth:`_user_events`; the interval-merge operator
        never recounts a sliding distinct (see operators/funnel.py
        active_users)."""
        from rhq_metrics_spark.operators.funnel import active_users

        if period_ms <= 0:
            from rhq_metrics_spark.errors import BadRequest

            raise BadRequest("periodMs must be positive")
        ev = self._user_events(metric_type, tenant_id, start, end, user_tag)
        return active_users(
            ev, user_col="user_id", ts_col="ts", period_ms=period_ms,
            windows=tuple(windows),
        )

    def paths(
        self,
        tenant_id,
        start,
        end,
        metric_type=MetricType.GAUGE,
        length: int = 3,
        k: int = 20,
        user_tag: str | None = None,
    ) -> DataFrame:
        """W19 through the facade: top-k frequent event paths over the
        tenant's points in the range (same user resolution and same-ts
        caveat as :meth:`transitions` — point identity de-collides
        same-ts events, so the order key reduces to (ts, metric))."""
        from rhq_metrics_spark.operators.funnel import frequent_paths

        ev = self._user_events(metric_type, tenant_id, start, end, user_tag)
        return frequent_paths(
            ev, length=length, k=k, user_col="user_id",
            type_col="metric", ts_col="ts", value_col=None,
        )

    def attribution(
        self,
        tenant_id,
        conversion,
        touches,
        start,
        end,
        metric_type=MetricType.GAUGE,
        lookback_ms: int | None = None,
        user_tag: str | None = None,
    ) -> DataFrame:
        """W20 through the facade: last-touch attribution — conversion
        and touch names are metric names, users resolve per
        :meth:`_user_events`.  The conversion's VALUE is the credited
        amount only when a ``user_tag`` carries user identity
        (otherwise the value IS the user id per the ingest convention,
        and credit is counted, not summed — value_micro reports 0)."""
        from rhq_metrics_spark.operators.funnel import attribution

        if not touches or conversion in set(touches):
            from rhq_metrics_spark.errors import BadRequest

            raise BadRequest(
                "touches must be non-empty and must not contain the conversion"
            )
        pts = self._scan(metric_type, tenant_id, None, start, end)
        user = (
            F.element_at(F.col("tags"), user_tag).cast("long")
            if user_tag
            else F.col("value").cast("long")
        )
        value = (
            F.col("value") if user_tag else F.lit(None).cast("double")
        )
        ev = pts.select(
            user.alias("user_id"), "metric", "ts", value.alias("value")
        ).filter(F.col("user_id").isNotNull())
        return attribution(
            ev, conversion, list(touches), lookback_ms=lookback_ms,
            user_col="user_id", type_col="metric", ts_col="ts",
            value_col="value",
        )

    def attach_activity_registers(
        self,
        metric_type: str,
        registers,
        period_ms: int = 86_400_000,
        m: int = 64,
    ) -> None:
        """Register the maintenance-persisted activity-register partials
        (maintenance.py activity_sink: per (slice, tenant, period) HLL
        register rows over user identity) as the W18 sketch serving
        source.  ``registers`` may be a DataFrame or a parquet path; a
        path is re-read lazily per query so an advancing sink needs no
        re-attach."""
        self._activity_regs[metric_type] = {
            "src": registers, "period_ms": int(period_ms), "m": int(m),
        }

    def active_users_sketch(
        self,
        tenant_id,
        start,
        end,
        metric_type=MetricType.GAUGE,
        windows=(1, 7, 30),
    ) -> DataFrame:
        """W18 served from the attached activity registers with ZERO
        raw-point reads: per-slice register rows for the range's
        periods merge by max(rho) (the HLL mergeability contract,
        equality-tested against registers built directly from raw
        events), then finalize into per-(period, window) summaries +
        the raw estimate (operators/funnel.py
        active_window_estimates).  The rollup analogue of
        :meth:`active_users` — use the exact operator when the distinct
        (user, period) reduction is affordable, this when only the
        partials are."""
        from rhq_metrics_spark.errors import BadRequest
        from rhq_metrics_spark.operators.funnel import (
            active_window_estimates,
        )

        cfg = self._activity_regs.get(metric_type)
        if cfg is None:
            raise BadRequest(
                f"no activity registers attached for {metric_type!r}"
            )
        src = cfg["src"]
        df = self.spark.read.parquet(src) if isinstance(src, str) else src
        p = cfg["period_ms"]
        lo, hi = int(start) // p, (int(end) - 1) // p
        regs = df.filter(
            (F.col("tenant_id") == tenant_id)
            & F.col("period").between(lo, hi)
        ).select("period", "reg", "rho")
        return active_window_estimates(
            regs, windows=tuple(windows), m=cfg["m"], hi=hi
        )

    def slo_burn(
        self,
        tenant_id,
        metric,
        buckets: Buckets,
        slo_ppm: int = 999_000,
        fast_n: int = 1,
        slow_n: int = 6,
        burn_threshold: float = 1.0,
    ) -> DataFrame:
        """A16 through the serving path: the multiwindow SLO burn-rate
        (operators/availability.py slo_burn_rate) consumes
        :meth:`availability_stats`' per-bucket rows, so a fully
        finalized range is answered entirely from the attached
        availability rollup — ZERO raw-point reads — and a range
        crossing the watermark rides the same hybrid tail
        reconstruction.  The burn windows themselves cost one window
        pass over #buckets rows, never points."""
        from rhq_metrics_spark.operators.availability import slo_burn_rate

        stats = self.availability_stats(tenant_id, metric, buckets)
        return slo_burn_rate(
            stats,
            slo_ppm=slo_ppm,
            fast_n=fast_n,
            slow_n=slow_n,
            burn_threshold=burn_threshold,
            group_cols=(),
        )

    # -- periods (W2) --------------------------------------------------------------

    def get_periods(self, tenant_id, metric, op, threshold, start, end) -> DataFrame:
        pts = self._scan(MetricType.GAUGE, tenant_id, metric, start, end)
        return periods(pts, predicate(op, threshold))

    # -- alignment / sessions (J5/W4, beyond the reference) -----------------------

    def align_asof(
        self,
        tenant_id,
        left_metric,
        right_metric,
        start,
        end,
        metric_type=MetricType.GAUGE,
        tolerance_ms=None,
        direction="backward",
    ) -> DataFrame:
        """Each ``left_metric`` point annotated with the as-of value of
        ``right_metric`` (operators/asof.py): ``(ts, value, ts_right,
        value_right)``."""
        from rhq_metrics_spark.operators.asof import asof_join

        left = self._scan(metric_type, tenant_id, left_metric, start, end).select(
            "tenant_id", "ts", "value"
        )
        right = self._scan(metric_type, tenant_id, right_metric, start, end).select(
            "tenant_id", "ts", "value"
        )
        return asof_join(
            left,
            right,
            on=["tenant_id"],
            right_cols=["value"],
            tolerance_ms=tolerance_ms,
            direction=direction,
        ).drop("tenant_id")

    def get_sessions(
        self, tenant_id, metric, gap_ms, start, end, metric_type=MetricType.GAUGE
    ) -> DataFrame:
        """Gap-based sessions of one series (operators/sessions.py):
        ``(session_id, session_start, session_end, n_events,
        duration_ms)``."""
        from rhq_metrics_spark.operators.sessions import session_stats

        pts = self._scan(metric_type, tenant_id, metric, start, end)
        return session_stats(
            pts, on=["tenant_id", "metric"], gap_ms=gap_ms
        ).drop("tenant_id", "metric")

    def correlate(
        self,
        tenant_id,
        metrics,
        start,
        end,
        bucket_ms,
        metric_type=MetricType.GAUGE,
        value_scale: int = 100,
        min_overlap: int = 3,
    ) -> DataFrame:
        """Pairwise Pearson correlation between the given series over
        aligned bucket sums (operators/correlate.py): ``(metric_a,
        metric_b, n_buckets, corr)``.  Takes an explicit metric list —
        the same curated-set contract as :meth:`stats_query`."""
        from rhq_metrics_spark.operators.correlate import metric_correlation

        pts = self._scan(metric_type, tenant_id, list(metrics), start, end)
        return metric_correlation(
            pts, bucket_ms, value_scale=value_scale, min_overlap=min_overlap
        )

    def trend(
        self,
        tenant_id,
        metric,
        start,
        end,
        bucket_ms,
        horizon_buckets: int = 24,
        metric_type=MetricType.GAUGE,
        value_scale: int = 100,
    ) -> DataFrame:
        """Least-squares trend + forecast of one-or-more series
        (operators/correlate.py linear_trend): ``(metric, n_buckets,
        slope_per_bucket, intercept, forecast)``."""
        from rhq_metrics_spark.operators.correlate import linear_trend

        pts = self._scan(metric_type, tenant_id, metric, start, end)
        return linear_trend(
            pts, bucket_ms, horizon_buckets=horizon_buckets, value_scale=value_scale
        )

    def downsample(
        self,
        tenant_id,
        metric,
        start,
        end,
        n_points: int = 1000,
        method: str = "lttb",
        metric_type=MetricType.GAUGE,
    ) -> DataFrame:
        """Chart-faithful decimation (operators/downsample.py).
        ``method='lttb'`` returns ``(metric, ts, value)`` — n_points
        visually-optimal picks per series; ``'minmax'`` returns the
        per-bucket extreme points (``n_points`` buckets over the range,
        ≤ 2 rows each).  The metric column stays in the output: a
        multi-series scan (metric list / regex resolution) would
        otherwise interleave indistinguishable (ts, value) pairs."""
        from rhq_metrics_spark.operators.downsample import (
            lttb,
            minmax_downsample,
        )

        pts = self._scan(metric_type, tenant_id, metric, start, end)
        if method == "lttb":
            return lttb(pts, n_points)
        if method == "minmax":
            bucket_ms = max((end - start) // max(n_points, 1), 1)
            return minmax_downsample(pts, bucket_ms)
        raise ValueError(f"unknown downsample method: {method!r}")

    def histogram(
        self,
        tenant_id,
        metric,
        start,
        end,
        lo: float,
        hi: float,
        n_bins: int,
        metric_type=MetricType.GAUGE,
    ) -> DataFrame:
        """Value distribution over [lo, hi) (operators/downsample.py
        value_histogram): ``(metric, bin, bin_lo, count)`` — per-series
        bins, so a multi-series scan stays distinguishable."""
        from rhq_metrics_spark.operators.downsample import value_histogram

        pts = self._scan(metric_type, tenant_id, metric, start, end)
        return value_histogram(pts, lo, hi, n_bins)

    def increase(
        self,
        tenant_id,
        metric,
        start,
        end,
        bucket_ms,
        metric_type=MetricType.COUNTER,
        value_scale: int = 100,
    ) -> DataFrame:
        """Per-bucket accumulated increase of a counter (or delta of a
        gauge) — operators/rate.py bucket_increase: ``(metric,
        bucket_start, n_pairs, increase)`` (the metric column stays so
        multi-series scans remain distinguishable).  Counter semantics
        (reset contributes the restarted value) when
        ``metric_type='counter'``.  With increase partials attached
        (:meth:`attach_increase_rollup`) an aligned, finalized request
        is served EXACTLY from the partials — bit-identical merge, no
        raw-point scan."""
        from rhq_metrics_spark.operators.rate import bucket_increase

        counter = metric_type == MetricType.COUNTER
        routed = self._increase_routed(
            metric_type, tenant_id, metric, start, end, bucket_ms,
            value_scale, counter,
        )
        if routed is not None:
            return routed
        pts = self._scan(metric_type, tenant_id, metric, start, end)
        return bucket_increase(
            pts,
            bucket_ms,
            value_scale=value_scale,
            counter=counter,
        )

    def attach_increase_rollup(
        self, metric_type: str, partials, slice_ms: int,
        value_scale: int = 100,
    ) -> None:
        """Register per-slice increase() partials
        (operators/rate.py increase_rollup with
        ``group_cols=["tenant_id", "metric"]``, DataFrame or parquet
        path) as the serving fast path for :meth:`increase`.  Unlike the
        histogram rollup this serving is EXACT — the merge is
        bit-identical to the raw-scan bucket_increase — so routing needs
        no opt-in, just alignment + finality.  The ``counter`` mode is
        decided at query time from the metric type, so attach partials
        built with the matching mode (counter partials for counter
        metrics)."""
        path = partials if isinstance(partials, str) else None
        df = self.spark.read.parquet(partials) if path else partials
        df = df.withColumn("slice_start", F.col("slice_start").cast("long"))
        slice_ms = int(slice_ms)
        bad = df.filter(F.col("slice_start") % slice_ms != 0)
        if bad.limit(1).count() > 0:
            raise ValueError(
                f"increase partials are not aligned {slice_ms}ms slices"
            )
        hi_w = df.agg(F.max("slice_start").alias("hi")).collect()[0]["hi"]
        watermark = None if hi_w is None else int(hi_w) + slice_ms
        self._increase_rollups[MetricType.check(metric_type)] = (
            df, slice_ms, int(value_scale), watermark, path,
        )

    def refresh_increase_watermark(self, metric_type: str) -> int | None:
        """Cheap watermark refresh for an appending increase-partials
        sink (re-resolves path-attached tables; one aggregation, no
        re-validation).  Mirrors :meth:`refresh_rollup_watermark`."""
        entry = self._increase_rollups.get(MetricType.check(metric_type))
        if entry is None:
            return None
        df, slice_ms, scale, _, path = entry
        if path is not None:
            self.spark.catalog.refreshByPath(path)
            df = self.spark.read.parquet(path).withColumn(
                "slice_start", F.col("slice_start").cast("long")
            )
        hi_w = df.agg(F.max("slice_start").alias("hi")).collect()[0]["hi"]
        watermark = None if hi_w is None else int(hi_w) + slice_ms
        self._increase_rollups[metric_type] = (
            df, slice_ms, scale, watermark, path,
        )
        return watermark

    def _increase_routed(
        self, metric_type, tenant_id, metric, start, end, bucket_ms,
        value_scale, counter,
    ) -> DataFrame | None:
        """Exact increase() from attached partials when the request
        tiles the slice grid; None → raw.  A range ending past the
        finality watermark is served HYBRID: the open tail's raw points
        become per-slice pseudo-partials through the SAME builder
        (``increase_rollup`` is deterministic, so they are bit-identical
        to what compaction would write), union with the finalized
        partials, and the ordinary cross-slice merge reconstructs the
        watermark-bridging pair like any other slice boundary."""
        entry = self._increase_rollups.get(MetricType.check(metric_type))
        if entry is None:
            return None
        df, slice_ms, att_scale, watermark = entry[:4]
        if att_scale != value_scale:
            return None
        if bucket_ms % slice_ms != 0 or start % slice_ms != 0 or end % slice_ms != 0:
            return None
        if watermark is None or start >= watermark:
            return None
        from rhq_metrics_spark.operators.rate import (
            increase_from_rollup,
            increase_rollup,
        )

        mine = df.filter(
            (F.col("tenant_id") == tenant_id) & (F.col("metric") == metric)
            & (F.col("slice_start") >= start) & (F.col("slice_start") < end)
        )
        cols = ["tenant_id", "metric", "slice_start",
                "f_ts", "f_v", "l_ts", "l_v", "inc", "n_pairs"]
        if end > watermark:
            tail = increase_rollup(
                self._tail_scan(metric_type, tenant_id, metric,
                                watermark, end),
                slice_ms, value_scale=value_scale,
                group_cols=["tenant_id", "metric"], counter=counter,
            )
            mine = mine.select(*cols).unionByName(tail.select(*cols))
        return increase_from_rollup(
            mine, bucket_ms, slice_ms, value_scale=value_scale,
            group_cols=["tenant_id", "metric"], counter=counter,
        ).drop("tenant_id")

    def time_weighted_avg(
        self,
        tenant_id,
        metric,
        start,
        end,
        bucket_ms,
        metric_type=MetricType.GAUGE,
        value_scale: int = 100,
        max_gap_ms: int | None = None,
    ) -> DataFrame:
        """A12 per-bucket time-weighted average (operators/rate.py
        time_weighted_avg): ``(metric, bucket_start, n_pairs, held_ms,
        twa)``.  With TWA partials attached
        (:meth:`attach_twa_rollup`) an aligned, finalized request is
        served EXACTLY from the partials — bit-identical merge, zero
        raw-point reads."""
        entry = self._twa_rollups.get(MetricType.check(metric_type))
        if entry is not None:
            df, slice_ms, att_scale, att_gap, watermark = entry[:5]
            if (
                att_scale == value_scale and att_gap == max_gap_ms
                and bucket_ms % slice_ms == 0
                and start % slice_ms == 0 and end % slice_ms == 0
                and watermark is not None and start < watermark
            ):
                from rhq_metrics_spark.operators.rate import (
                    twa_from_rollup,
                    twa_rollup,
                )

                mine = df.filter(
                    (F.col("tenant_id") == tenant_id)
                    & (F.col("metric") == metric)
                    & (F.col("slice_start") >= start)
                    & (F.col("slice_start") < end)
                )
                if end > watermark:
                    # hybrid (see _increase_routed): tail raw points →
                    # pseudo-partials via the same deterministic builder
                    cols = ["tenant_id", "metric", "slice_start", "f_ts",
                            "f_v", "l_ts", "l_v", "wsum", "held_ms",
                            "n_pairs"]
                    tail = twa_rollup(
                        self._tail_scan(metric_type, tenant_id, metric,
                                        watermark, end),
                        slice_ms, value_scale=value_scale,
                        group_cols=["tenant_id", "metric"],
                        max_gap_ms=max_gap_ms,
                    )
                    mine = mine.select(*cols).unionByName(tail.select(*cols))
                return twa_from_rollup(
                    mine, bucket_ms, slice_ms, value_scale=value_scale,
                    group_cols=["tenant_id", "metric"], max_gap_ms=max_gap_ms,
                ).drop("tenant_id")
        from rhq_metrics_spark.operators.rate import time_weighted_avg

        pts = self._scan(metric_type, tenant_id, metric, start, end)
        return time_weighted_avg(
            pts, bucket_ms, value_scale=value_scale, max_gap_ms=max_gap_ms
        )

    def attach_twa_rollup(
        self, metric_type: str, partials, slice_ms: int,
        value_scale: int = 100, max_gap_ms: int | None = None,
    ) -> None:
        """Register per-slice TWA partials (operators/rate.py twa_rollup
        with ``group_cols=["tenant_id", "metric"]``) as the exact
        serving fast path for :meth:`time_weighted_avg`.  ``value_scale``
        and ``max_gap_ms`` must match the query's — mismatches fall back
        to raw rather than serving subtly different semantics."""
        path = partials if isinstance(partials, str) else None
        df = self.spark.read.parquet(partials) if path else partials
        df = df.withColumn("slice_start", F.col("slice_start").cast("long"))
        slice_ms = int(slice_ms)
        bad = df.filter(F.col("slice_start") % slice_ms != 0)
        if bad.limit(1).count() > 0:
            raise ValueError(
                f"TWA partials are not aligned {slice_ms}ms slices"
            )
        hi_w = df.agg(F.max("slice_start").alias("hi")).collect()[0]["hi"]
        watermark = None if hi_w is None else int(hi_w) + slice_ms
        self._twa_rollups[MetricType.check(metric_type)] = (
            df, slice_ms, int(value_scale), max_gap_ms, watermark, path,
        )

    def refresh_twa_watermark(self, metric_type: str) -> int | None:
        """Cheap watermark refresh for an appending TWA-partials sink."""
        entry = self._twa_rollups.get(MetricType.check(metric_type))
        if entry is None:
            return None
        df, slice_ms, scale, gap, _, path = entry
        if path is not None:
            self.spark.catalog.refreshByPath(path)
            df = self.spark.read.parquet(path).withColumn(
                "slice_start", F.col("slice_start").cast("long")
            )
        hi_w = df.agg(F.max("slice_start").alias("hi")).collect()[0]["hi"]
        watermark = None if hi_w is None else int(hi_w) + slice_ms
        self._twa_rollups[metric_type] = (
            df, slice_ms, scale, gap, watermark, path,
        )
        return watermark

    def attach_availability_rollup(self, partials, slice_ms: int) -> None:
        """Register per-slice availability partials
        (operators/availability.py availability_rollup with
        ``group_cols=["tenant_id", "metric"]``) as the exact serving
        fast path for :meth:`availability_stats` — the state machine
        reconstructs bit-identically from boundary points + interior
        holds, so routing needs no accuracy opt-in."""
        path = partials if isinstance(partials, str) else None
        df = self.spark.read.parquet(partials) if path else partials
        df = df.withColumn("slice_start", F.col("slice_start").cast("long"))
        slice_ms = int(slice_ms)
        bad = df.filter(F.col("slice_start") % slice_ms != 0)
        if bad.limit(1).count() > 0:
            raise ValueError(
                f"availability partials are not aligned {slice_ms}ms slices"
            )
        hi_w = df.agg(F.max("slice_start").alias("hi")).collect()[0]["hi"]
        watermark = None if hi_w is None else int(hi_w) + slice_ms
        self._avail_rollup = (df, slice_ms, watermark, path)

    def refresh_availability_watermark(self) -> int | None:
        """Cheap watermark refresh for an appending availability-partials
        sink."""
        if self._avail_rollup is None:
            return None
        df, slice_ms, _, path = self._avail_rollup
        if path is not None:
            self.spark.catalog.refreshByPath(path)
            df = self.spark.read.parquet(path).withColumn(
                "slice_start", F.col("slice_start").cast("long")
            )
        hi_w = df.agg(F.max("slice_start").alias("hi")).collect()[0]["hi"]
        watermark = None if hi_w is None else int(hi_w) + slice_ms
        self._avail_rollup = (df, slice_ms, watermark, path)
        return watermark

    def register_sql_views(self, prefix: str = "metrics") -> list[str]:
        """Expose the store as Spark SQL temp views so users can query
        with ``spark.sql``: one ``{prefix}_points_<type>`` view per metric
        type (deduped hot∪cold) plus ``{prefix}_definitions`` and
        ``{prefix}_tenants``.  The views are lazy plans — partition
        pruning and pushdown still apply to SQL over them."""
        names = []
        for t in MetricType.USER_WRITABLE:
            name = f"{prefix}_points_{t}"
            self.store.points(t).createOrReplaceTempView(name)
            names.append(name)
        idx = self.store.metrics_idx()
        if idx is not None:
            idx.createOrReplaceTempView(f"{prefix}_definitions")
            names.append(f"{prefix}_definitions")
        tenants = self.store.tenants()
        if tenants is not None:
            tenants.createOrReplaceTempView(f"{prefix}_tenants")
            names.append(f"{prefix}_tenants")
        return names

    # -- §3.3 cross-type stats query fan-out -----------------------------------

    def stats_query(
        self,
        tenant_id: str,
        buckets: Buckets,
        metrics_by_type: Mapping[str, Sequence[str]],
        percentiles: Sequence[float] = (),
        stacked: bool = False,
        include_median: bool = True,
        percentile_impl: str = "exact",
    ) -> dict[str, dict[str, list[dict]]]:
        """POST /metrics/stats/query (MetricHandler.java:304-460): fan out
        per requested type — gauge/counter (optionally the derived
        gauge_rate/counter_rate), availability — and assemble the nested
        ``{type: {metric: [bucket points]}}`` response.

        Spark-first: one pruned scan per base type feeds all its
        variants; per-metric grouping happens in one job per type (the
        reference's own TODO laments its duplicate scans —
        MetricHandler.java:368-371).

        ``percentile_impl='hist'`` (r8): median/percentile dashboards
        serve from the attached histogram partials + stats rollup
        (:meth:`_hist_routed_multi` — zero raw reads inside the
        finalized range, open tail binned on the fly), falling back to
        the exact raw scan when the rollups can't route.  The exact
        path previously was the ONLY option the moment a dashboard
        asked for a median — the most common reason the biggest query
        in the API couldn't use partials.
        """
        out: dict[str, dict[str, list[dict]]] = {}
        for mtype, metrics in metrics_by_type.items():
            metrics = list(metrics)
            base = MetricType.GAUGE if "gauge" in mtype else (
                MetricType.COUNTER if "counter" in mtype else mtype
            )
            pts = self._scan(base, tenant_id, metrics, buckets.start, buckets.end)
            if mtype in (MetricType.GAUGE_RATE, MetricType.COUNTER_RATE):
                pts = rate(pts, metric_type=base).withColumnRenamed("rate", "value")
            if mtype == MetricType.AVAILABILITY:
                per_metric = availability_stats(
                    pts, buckets, group_cols=["metric"]
                )
            elif stacked:
                per_metric = None
                if not include_median and not percentiles and mtype == base:
                    routed = self._rollup_routed_multi(
                        base, tenant_id, metrics, buckets, fill_grid=False
                    )
                    if routed is not None:
                        # stacked from routed per-metric mergeable stats:
                        # samples = contributing-metric count per bucket.
                        # fill_grid=False skips the per-metric grid fill
                        # (its distinct() re-executes the agg subtree
                        # and its broadcast join adds a stage — only to
                        # be collapsed here); instead the STACKED grid
                        # is completed by one null/zero partial per
                        # bucket merged in the same hash-agg, the
                        # single-metric route's union-zeros shape
                        zeros = self.spark.range(buckets.count).select(
                            F.col("id").alias("bucket_idx"),
                            *[
                                F.lit(None).cast("double").alias(c)
                                for c in ("min", "avg", "max", "sum")
                            ],
                            F.lit(0).cast("long").alias("samples"),
                        )
                        per_metric = (
                            routed.select(
                                "bucket_idx", "min", "avg", "max", "sum",
                                "samples",
                            )
                            .unionByName(zeros)
                            .groupBy("bucket_idx")
                            .agg(
                                F.sum("min").alias("min"),
                                F.sum("avg").alias("avg"),
                                F.sum("max").alias("max"),
                                F.sum("sum").alias("sum"),
                                F.count(
                                    F.when(F.col("samples") > 0, 1)
                                ).alias("samples"),
                            )
                            .select(
                                (F.lit(buckets.start)
                                 + F.col("bucket_idx") * buckets.step)
                                .alias("start"),
                                (F.lit(buckets.start)
                                 + (F.col("bucket_idx") + 1) * buckets.step)
                                .alias("end"),
                                "min", "avg", "max", "sum", "samples",
                            )
                            .withColumn("metric", F.lit("*stacked*"))
                        )
                if (
                    per_metric is None and percentile_impl == "hist"
                    and mtype == base
                ):
                    routed = self._hist_routed_multi(
                        base, tenant_id, metrics, buckets, percentiles,
                        include_median,
                    )
                    if routed is not None:
                        per_metric = self._stacked_from_per_metric(
                            routed, percentiles, include_median, buckets
                        ).withColumn("metric", F.lit("*stacked*"))
                if per_metric is None:
                    # stacked collapses metrics — keyed under '*stacked*'
                    per_metric = stacked_stats(
                        pts, buckets, percentiles, metric_cols=["metric"]
                    ).withColumn("metric", F.lit("*stacked*"))
                    if not include_median:
                        per_metric = per_metric.drop("median")
            else:
                per_metric = None
                if mtype == base:
                    if not include_median and not percentiles:
                        per_metric = self._rollup_routed_multi(
                            base, tenant_id, metrics, buckets
                        )
                    elif percentile_impl == "hist":
                        per_metric = self._hist_routed_multi(
                            base, tenant_id, metrics, buckets,
                            percentiles, include_median,
                        )
                if per_metric is None:
                    per_metric = numeric_bucket_stats(
                        pts, buckets, percentiles, group_cols=["metric"]
                    )
                    if not include_median:
                        per_metric = per_metric.drop("median")
            to_dict = (
                _availability_point_dict
                if mtype == MetricType.AVAILABILITY
                else _bucket_point_dict
            )
            grouped: dict[str, list[dict]] = {}
            rows = sorted(
                per_metric.collect(), key=lambda r: (r["metric"], r["start"])
            )
            for row in rows:
                d = row.asDict()
                name = d.pop("metric")
                grouped.setdefault(name, []).append(to_dict(d))
            out[mtype] = grouped
        return out

    def stats_batch_query(
        self,
        tenant_id: str,
        requests: Mapping[str, tuple[Buckets, Mapping[str, Sequence[str]]]],
        percentiles: Sequence[float] = (),
    ) -> dict[str, dict]:
        """POST /metrics/stats/batch/query: N named stats queries, merged
        keyed results (MetricHandler.java:321-338)."""
        return {
            name: self.stats_query(tenant_id, buckets, by_type, percentiles)
            for name, (buckets, by_type) in requests.items()
        }

    # -- lifecycle -----------------------------------------------------------------

    def compact(self, closed_before_ms: int) -> dict[str, list[int]]:
        return {
            t: self.store.compact(t, closed_before_ms)
            for t in MetricType.USER_WRITABLE
        }

    def apply_retention(self, now_ms: int, default_days: int = 7) -> dict[str, list[int]]:
        cutoff = now_ms - default_days * 86_400_000
        return {
            t: self.store.apply_retention(t, cutoff) for t in MetricType.USER_WRITABLE
        }

    def apply_retention_policies(
        self, now_ms: int, default_days: int = 7
    ) -> dict[str, dict]:
        """B6 with the reference's TTL resolution (MetricsServiceImpl.java
        :1058-1063 + retentions_idx): per series, retention = metric
        override > tenant per-type retention > default.  Whole slices
        older than every policy drop at partition level; the remainder is
        a row-level rewrite of only the affected slices."""
        idx = self.store.metrics_idx()
        tenants = self.store.tenants()
        day = 86_400_000
        out: dict[str, dict] = {}
        for mtype in MetricType.USER_WRITABLE:
            retentions = None
            if idx is not None:
                retentions = idx.filter(F.col("type") == mtype).select(
                    "tenant_id", "metric", F.col("data_retention").alias("_metric_days")
                )
            if tenants is not None:
                tr = tenants.select(
                    F.col("id").alias("tenant_id"),
                    F.col("retentions")[mtype].alias("_tenant_days"),
                )
                retentions = (
                    retentions.join(tr, "tenant_id", "left")
                    if retentions is not None
                    else None
                )
            if retentions is None:
                dropped = self.store.apply_retention(
                    mtype, now_ms - default_days * day
                )
                out[mtype] = {"dropped_slices": dropped, "rewritten": 0}
                continue
            cutoffs = retentions.select(
                "tenant_id",
                "metric",
                (
                    F.lit(now_ms)
                    - F.coalesce(
                        F.col("_metric_days"),
                        F.col("_tenant_days") if tenants is not None else F.lit(None),
                        F.lit(default_days),
                    )
                    * day
                ).alias("cutoff_ms"),
            )
            max_days_row = retentions.agg(
                F.max("_metric_days"),
                F.max("_tenant_days") if tenants is not None else F.lit(None),
            ).collect()[0]
            max_days = max(
                default_days,
                *(int(v) for v in max_days_row if v is not None),
            ) if any(v is not None for v in max_days_row) else default_days
            dropped = self.store.apply_retention(mtype, now_ms - max_days * day)
            rewritten = self.store.apply_row_retention(
                mtype, cutoffs, now_ms - default_days * day
            )
            out[mtype] = {"dropped_slices": dropped, "rewritten": rewritten}
        return out

    def delete_tenant(self, tenant_id: str) -> None:
        self.store.delete_tenant(tenant_id)

    def run_maintenance(
        self, now_ms: int, default_retention_days: int = 7
    ) -> dict:
        """One full maintenance pass (B8 analogue): compact closed slices,
        apply retention policies, refresh the expiration index.  See
        :class:`rhq_metrics_spark.maintenance.MaintenanceRunner` for the
        scheduled/streaming-driven forms."""
        from rhq_metrics_spark.maintenance import MaintenanceRunner

        return MaintenanceRunner(
            self, default_retention_days=default_retention_days
        ).run_once(now_ms)


# -- JSON adapters (REST response shapes) -------------------------------------


def _bucket_point_dict(d: dict) -> dict:
    empty = d.get("samples", 0) == 0
    rec = {"start": d["start"], "end": d["end"], "empty": empty}
    if not empty:
        for k, v in d.items():
            if k not in ("start", "end"):
                rec[k] = v
    return rec


def bucket_points_json(df: DataFrame) -> list[dict]:
    """NumericBucketPoint JSON convention: empty buckets carry only
    start/end/empty (NumericBucketPoint.java:42-50, NaN→null)."""
    rows = sorted(df.collect(), key=lambda r: r["start"])
    return [_bucket_point_dict(row.asDict()) for row in rows]


def _availability_point_dict(d: dict) -> dict:
    empty = d.get("samples", 0) == 0
    rec = {"start": d["start"], "end": d["end"], "empty": empty}
    if not empty:
        rec["durationMap"] = {
            state: d[f"{state}_duration"]
            for state in ("up", "down", "unknown", "admin")
            if d.get(f"{state}_duration")
        }
        rec["uptimeRatio"] = d["uptime_ratio"]
        rec["notUpCount"] = d["not_up_count"]
        rec["lastNotUptime"] = d["last_not_uptime"]
        rec["samples"] = d["samples"]
    return rec


def availability_points_json(df: DataFrame) -> list[dict]:
    """AvailabilityBucketPoint shape: durationMap keyed by state,
    uptimeRatio/notUpCount/lastNotUptime (AvailabilityBucketPoint.java:31-46)."""
    rows = sorted(df.collect(), key=lambda r: r["start"])
    return [_availability_point_dict(row.asDict()) for row in rows]


def named_data_points_json(df: DataFrame) -> list[dict]:
    """NamedDataPoint streaming-result shape: one entry per metric with
    its points in order (NamedDataPointObserver / S8)."""
    by_metric: dict[str, list[dict]] = {}
    for row in df.orderBy("metric", "ts").toLocalIterator():
        d = row.asDict()
        point = {"timestamp": d["ts"]}
        if "rate" in d:
            point["value"] = d["rate"]
        else:
            point["value"] = d.get("value")
            if d.get("tags"):
                point["tags"] = dict(d["tags"])
        by_metric.setdefault(d["metric"], []).append(point)
    return [{"id": m, "data": pts} for m, pts in by_metric.items()]
