"""Driver-side maintenance orchestration — the B8 (job scheduler) analogue.

The reference runs compression and retention on a distributed job
scheduler (job-scheduler/.../SchedulerImpl.java) with the compression
job scheduled shortly after each 2h slice closes
(TempDataCompressor.java:40-98).  A Spark deployment doesn't need a
cluster-wide scheduler for this: the store's lifecycle jobs are
idempotent and serialize on the store's maintenance lock, so "the
scheduler" is any driver-side loop — a cron'd spark-submit, an Airflow
task, or the streaming hook below.  This module gives that loop a
first-class, testable object:

- :meth:`MaintenanceRunner.run_once` — one full pass: compact closed
  slices, apply retention policies, refresh the expiration index.
- :meth:`MaintenanceRunner.on_event_time` — the streaming hook: ingest
  calls it with the stream's event-time high-water mark; when the
  high-water crosses a 2h slice boundary the newly-closed slice is
  compacted (the TempDataCompressor cadence, driven by event time so
  tests and replays behave deterministically).
- :meth:`MaintenanceRunner.run_loop` — the wall-clock cron loop.
"""

from __future__ import annotations

import time

from rhq_metrics_spark.model import MetricType


class MaintenanceRunner:
    """Periodic store upkeep bound to a :class:`~rhq_metrics_spark.service.MetricsService`.

    ``compaction_grace_ms`` delays compaction past the slice close (the
    reference waits for late writers too); ``default_retention_days``
    feeds the retention-policy resolution (metric override > tenant
    policy > default).
    """

    def __init__(
        self,
        service,
        default_retention_days: int = 7,
        compaction_grace_ms: int = 600_000,
        stats_sink: dict | None = None,
        histogram_sink: dict | None = None,
        increase_sink: dict | None = None,
        twa_sink: dict | None = None,
        availability_sink: dict | None = None,
        seasonal_sink: dict | None = None,
        activity_sink: dict | None = None,
        ivf_index: dict | None = None,
        bm25_index: dict | None = None,
    ):
        self.service = service
        self.default_retention_days = default_retention_days
        self.compaction_grace_ms = compaction_grace_ms
        self._last_closed: dict[str, int] = {}
        #: optional continuous histogram partials (the "written once per
        #: slice at compaction time" half of the percentile-serving
        #: contract): ``{"path": str, "lo": float, "hi": float,
        #: "n_bins": int, "metric_type": "gauge", "attach": True}`` —
        #: after each compaction pass the just-closed slices' partials
        #: are APPENDED to ``path`` (slices compact exactly once, so
        #: append-once per slice needs no merge), and the service's
        #: histogram rollup is attached/refreshed so
        #: ``percentile_impl='hist'`` serves them immediately.
        #: optional continuous WINDOW-STATS rollup (the basic
        #: ``attach_rollup`` serving table — per (tenant, metric,
        #: window) min/avg/max/sum/samples): ``{"path": str,
        #: "metric_type": "gauge", "window_ms": 600000, "attach": True}``
        #: — gives batch-only deployments (no streaming sink) the bucket
        #: -stats fast path; ``window_ms`` must divide the store's
        #: slice_ms so windows never straddle a compaction slice.
        self.stats_sink = stats_sink
        self.histogram_sink = histogram_sink
        #: optional continuous increase() partials (exact mergeable
        #: serving, operators/rate.py increase_rollup): ``{"path": str,
        #: "metric_type": "counter", "value_scale": 100, "attach":
        #: True}`` — appended per compacted slice like the histogram
        #: sink, attached via ``service.attach_increase_rollup``.
        self.increase_sink = increase_sink
        #: optional TWA partials (exact, operators/rate.py twa_rollup):
        #: ``{"path", "metric_type": "gauge", "value_scale": 100,
        #: "max_gap_ms": None, "attach": True}``
        self.twa_sink = twa_sink
        #: optional availability partials (exact,
        #: operators/availability.py availability_rollup):
        #: ``{"path", "attach": True}``
        self.availability_sink = availability_sink
        #: optional seasonal-profile partials (exact integer sums,
        #: operators/anomaly.py seasonal_profile): ``{"path",
        #: "metric_type": "gauge", "period_ms": 86400000, "n_bins": 24,
        #: "value_scale": 100, "attach": True}`` — per compacted slice
        #: like the other sinks; attached via
        #: ``service.attach_seasonal_profile`` so seasonal scoring uses
        #: the long-run profile with zero raw reads on the baseline side.
        self.seasonal_sink = seasonal_sink
        #: optional activity-register partials (W18 sketch serving,
        #: operators/funnel.py active_users_hll / active_window_estimates
        #: + pipelines/sketches.py hll_registers, r13): ``{"path",
        #: "metric_type": "gauge", "period_ms": 86400000, "user_tag":
        #: None, "m": 64, "attach": True}`` — per compacted slice, one
        #: mergeable HLL register row set per (tenant, period); serving
        #: merges by max(rho) across slices, so rolling DAU/WAU/MAU
        #: estimates read #periods x m tiny rows with ZERO raw scans.
        self.activity_sink = activity_sink
        #: optional append-maintained IVF index under this runner's
        #: care: ``{"path": str, "max_imbalance": 4.0,
        #: "min_occupancy": 0.5, "n_cells": None, "seed": 42}`` — each
        #: pass reads the cell-occupancy stats (footers only) and, when
        #: the ``ivf_retrain_recommended`` drift dial fires, re-trains
        #: and atomically republishes via ``similarity.ivf_rebuild``
        #: (committed-dir swap: serving never pauses).
        self.ivf_index = ivf_index
        #: optional standing BM25 inverted index under this runner's
        #: care (r15, the lexical sibling of ``ivf_index``):
        #: ``{"path": str, "corpus_path": str, "max_growth_ppm":
        #: 200000, "n_buckets": None, "id_col": "doc_id", "text_col":
        #: "text"}`` — each pass compares the live corpus doc count at
        #: ``corpus_path`` against the count the index was built at
        #: (one persisted stats row + one column-pruned count) and,
        #: when the ``bm25_refresh_recommended`` staleness dial fires,
        #: re-builds and atomically republishes via
        #: ``retrieval.bm25_rebuild`` (same committed-dir swap as IVF:
        #: serving never pauses).  Increments that keep ids disjoint
        #: can use ``bm25_append`` out-of-band instead; the dial then
        #: never fires because append updates the stats row too.
        #: Stream-maintained stores (``streaming/retrieval.py``) add
        #: ``"consolidate_after_pieces": N`` — when more than N
        #: committed pieces have accumulated, the pass folds them into
        #: ONE fold-piece via ``bm25_consolidate`` (r16: a CAS manifest
        #: commit, race-free against readers; piece count is the
        #: serving dial; the fold is pure addition).  While UNFOLDED
        #: stream pieces remain committed, the rebuild dial defers to
        #: the next pass (ADVICE r15 — a rebuild from a corpus
        #: snapshot that lags the stream tail would supersede docs it
        #: does not cover).  ``"max_tombstone_ppm": 200000`` bounds
        #: accumulated ``bm25_delete`` retractions before the dial
        #: forces a rebuild that bakes them out.
        #: Omit ``corpus_path`` to run ONLY the consolidation dial.
        self.bm25_index = bm25_index

    # -- one full pass (cron-style) ---------------------------------------

    def run_once(self, now_ms: int) -> dict:
        """Compact everything closed as of ``now_ms`` (minus grace), apply
        retention policies, refresh the persisted expiration index.
        Returns a report dict per job."""
        compacted = self.service.compact(now_ms - self.compaction_grace_ms)
        stats_slices = self._emit_stats_partials(compacted)
        hist_slices = self._emit_histogram_partials(compacted)
        inc_slices = self._emit_increase_partials(compacted)
        twa_slices = self._emit_twa_partials(compacted)
        avail_slices = self._emit_availability_partials(compacted)
        seasonal_slices = self._emit_seasonal_partials(compacted)
        activity_slices = self._emit_activity_partials(compacted)
        retention = self.service.apply_retention_policies(
            now_ms, self.default_retention_days
        )
        expiration = {
            t: self.service.store.refresh_expiration_index(t)
            for t in MetricType.USER_WRITABLE
        }
        ivf = self._maintain_ivf()
        bm25 = self._maintain_bm25()
        return {
            "compacted": compacted,
            "stats_slices": stats_slices,
            "histogram_slices": hist_slices,
            "increase_slices": inc_slices,
            "twa_slices": twa_slices,
            "availability_slices": avail_slices,
            "seasonal_slices": seasonal_slices,
            "activity_slices": activity_slices,
            "retention": retention,
            "expiration_rows": expiration,
            "ivf": ivf,
            "bm25": bm25,
        }

    def _maintain_ivf(self) -> dict | None:
        """Check the append-maintained IVF index's drift dial and
        re-train/republish when it fires (VERDICT r10 item 6: the dial
        existed; this is the consequence).  Cheap when quiet: the
        stats read touches parquet footers, not vectors."""
        cfg = self.ivf_index
        if not cfg:
            return None
        from rhq_metrics_spark.pipelines.similarity import (
            ivf_index_stats,
            ivf_rebuild,
            ivf_retrain_recommended,
        )

        spark = self.service.spark
        stats = ivf_index_stats(spark, cfg["path"])
        fire = ivf_retrain_recommended(
            stats,
            max_imbalance=cfg.get("max_imbalance", 4.0),
            min_occupancy=cfg.get("min_occupancy", 0.5),
        )
        if not fire:
            return {"rebuilt": False, "stats": stats}
        after = ivf_rebuild(
            spark, cfg["path"],
            n_cells=cfg.get("n_cells"), seed=cfg.get("seed", 42),
        )
        return {"rebuilt": True, "stats_before": stats, "stats": after}

    def _maintain_bm25(self) -> dict | None:
        """Check the standing BM25 index's staleness dial (live corpus
        doc count vs the count the index was built at) and
        re-build/republish when it fires — the lexical sibling of
        :meth:`_maintain_ivf`.  Cheap when quiet: one persisted stats
        row + one column-pruned corpus count."""
        cfg = self.bm25_index
        if not cfg:
            return None
        from rhq_metrics_spark.pipelines.retrieval import (
            bm25_index_stats,
            bm25_rebuild,
            bm25_refresh_recommended,
        )

        from rhq_metrics_spark.pipelines.retrieval import _resolve_sources

        spark = self.service.spark
        consolidated = None
        cap = cfg.get("consolidate_after_pieces")
        if cap is not None:
            from rhq_metrics_spark.streaming.retrieval import bm25_consolidate

            n_pieces = sum(
                1 for s in _resolve_sources(spark, cfg["path"]) if s
            )
            if n_pieces > cap:
                consolidated = bm25_consolidate(spark, cfg["path"])
        if "corpus_path" not in cfg:
            return {"rebuilt": False, "consolidated": consolidated}
        # ADVICE r15: with UNFOLDED stream pieces committed, skip the
        # rebuild dial this pass — a rebuild from corpus_path while
        # batches are landing can supersede docs the corpus snapshot
        # does not cover yet; consolidate first (above / next pass) and
        # check drift when the stream tail is folded.  Fold and append
        # pieces are maintenance-owned and do not defer the dial (the
        # store-wide stats already count them, so the dial compares
        # apples to apples — the r15 root-only-stats false-fire is
        # gone by construction).
        stream_pieces = [
            s
            for s in _resolve_sources(spark, cfg["path"])
            if s.startswith("batch-")
        ]
        if stream_pieces:
            return {
                "rebuilt": False,
                "deferred": f"{len(stream_pieces)} unfolded stream pieces",
                "consolidated": consolidated,
            }
        stats = bm25_index_stats(spark, cfg["path"])
        corpus = spark.read.parquet(cfg["corpus_path"])
        corpus_docs = corpus.count()
        fire = bm25_refresh_recommended(
            stats,
            corpus_docs,
            max_growth_ppm=cfg.get("max_growth_ppm", 200_000),
            max_tombstone_ppm=cfg.get("max_tombstone_ppm", 200_000),
        )
        if not fire:
            return {
                "rebuilt": False,
                "stats": stats,
                "corpus_docs": corpus_docs,
                "consolidated": consolidated,
            }
        after = bm25_rebuild(
            spark,
            cfg["path"],
            corpus,
            n_buckets=cfg.get("n_buckets"),
            id_col=cfg.get("id_col", "doc_id"),
            text_col=cfg.get("text_col", "text"),
        )
        return {
            "rebuilt": True,
            "stats_before": stats,
            "stats": after,
            "corpus_docs": corpus_docs,
            "consolidated": consolidated,
        }

    def _emit_stats_partials(self, compacted: dict[str, list[int]]) -> int:
        cfg = self.stats_sink
        if not cfg:
            return 0

        def build(pts, store, cfg):
            import pyspark.sql.functions as F

            win_ms = int(cfg.get("window_ms", store.slice_ms))
            if store.slice_ms % win_ms != 0:
                raise ValueError(
                    f"stats_sink window_ms {win_ms} must divide "
                    f"slice_ms {store.slice_ms}"
                )
            w = F.window(
                F.timestamp_millis(F.col("ts")), f"{win_ms // 1000} seconds"
            )
            return (
                pts.groupBy("tenant_id", "metric", w.alias("w"))
                .agg(
                    F.min("value").alias("min"),
                    F.avg("value").alias("avg"),
                    F.max("value").alias("max"),
                    F.sum("value").alias("sum"),
                    F.count("value").alias("samples"),
                )
                .select(
                    "tenant_id", "metric",
                    F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "min", "avg", "max", "sum", "samples",
                    # per-slice overwrite key (windows never straddle a
                    # slice: window_ms divides slice_ms)
                    (
                        F.floor(
                            F.unix_millis(F.col("w.start")) / store.slice_ms
                        ) * store.slice_ms
                    ).alias("slice_start"),
                )
            )

        def attach(svc, store, cfg, mt):
            win_ms = int(cfg.get("window_ms", store.slice_ms))
            svc.attach_rollup(mt, cfg["path"], win_ms)

        return self._emit_partials(cfg, compacted, "gauge", build, attach,
                                   family="stats")

    def _emit_activity_partials(self, compacted: dict[str, list[int]]) -> int:
        cfg = self.activity_sink
        if not cfg:
            return 0

        def build(pts, store, cfg):
            import pyspark.sql.functions as F

            from rhq_metrics_spark.pipelines.sketches import hll_registers

            period_ms = int(cfg.get("period_ms", 86_400_000))
            user_tag = cfg.get("user_tag")
            user = (
                F.element_at(F.col("tags"), user_tag).cast("long")
                if user_tag
                else F.col("value").cast("long")
            )
            act = pts.select(
                (
                    F.floor(F.col("ts") / store.slice_ms) * store.slice_ms
                ).cast("long").alias("slice_start"),
                "tenant_id",
                F.expr(f"ts div {period_ms}").alias("period"),
                user.alias("_u"),
            ).filter(F.col("_u").isNotNull())
            return hll_registers(
                act,
                group_col=["slice_start", "tenant_id", "period"],
                value_col="_u",
                m=int(cfg.get("m", 64)),
            )

        def attach(svc, store, cfg, mt):
            svc.attach_activity_registers(
                mt, cfg["path"],
                period_ms=int(cfg.get("period_ms", 86_400_000)),
                m=int(cfg.get("m", 64)),
            )

        return self._emit_partials(cfg, compacted, "gauge", build, attach)

    def _emit_histogram_partials(self, compacted: dict[str, list[int]]) -> int:
        cfg = self.histogram_sink
        if not cfg:
            return 0

        def build(pts, store, cfg):
            from rhq_metrics_spark.operators.downsample import histogram_rollup

            return histogram_rollup(
                pts, store.slice_ms, cfg["lo"], cfg["hi"], cfg["n_bins"],
                group_col=["tenant_id", "metric"],
            )

        def attach(svc, store, cfg, mt):
            svc.attach_histogram_rollup(
                mt, cfg["path"], store.slice_ms,
                cfg["lo"], cfg["hi"], cfg["n_bins"],
            )

        return self._emit_partials(cfg, compacted, "gauge", build, attach,
                                   family="hist")

    def _emit_increase_partials(self, compacted: dict[str, list[int]]) -> int:
        cfg = self.increase_sink
        if not cfg:
            return 0

        def build(pts, store, cfg):
            from rhq_metrics_spark.operators.rate import increase_rollup

            return increase_rollup(
                pts, store.slice_ms,
                value_scale=int(cfg.get("value_scale", 100)),
                group_cols=["tenant_id", "metric"],
                counter=(cfg.get("metric_type", "counter") == "counter"),
            )

        def attach(svc, store, cfg, mt):
            svc.attach_increase_rollup(
                mt, cfg["path"], store.slice_ms,
                value_scale=int(cfg.get("value_scale", 100)),
            )

        return self._emit_partials(cfg, compacted, "counter", build, attach,
                                   family="increase")

    def _emit_twa_partials(self, compacted: dict[str, list[int]]) -> int:
        cfg = self.twa_sink
        if not cfg:
            return 0

        def build(pts, store, cfg):
            from rhq_metrics_spark.operators.rate import twa_rollup

            return twa_rollup(
                pts, store.slice_ms,
                value_scale=int(cfg.get("value_scale", 100)),
                group_cols=["tenant_id", "metric"],
                max_gap_ms=cfg.get("max_gap_ms"),
            )

        def attach(svc, store, cfg, mt):
            svc.attach_twa_rollup(
                mt, cfg["path"], store.slice_ms,
                value_scale=int(cfg.get("value_scale", 100)),
                max_gap_ms=cfg.get("max_gap_ms"),
            )

        return self._emit_partials(cfg, compacted, "gauge", build, attach,
                                   family="twa")

    def _emit_availability_partials(self, compacted: dict[str, list[int]]) -> int:
        cfg = self.availability_sink
        if not cfg:
            return 0

        def build(pts, store, cfg):
            from rhq_metrics_spark.operators.availability import (
                availability_rollup,
            )

            return availability_rollup(
                pts, store.slice_ms, group_cols=["tenant_id", "metric"]
            )

        def attach(svc, store, cfg, mt):
            svc.attach_availability_rollup(cfg["path"], store.slice_ms)

        return self._emit_partials(cfg, compacted, "availability", build,
                                   attach, family="avail")

    def _emit_seasonal_partials(self, compacted: dict[str, list[int]]) -> int:
        cfg = self.seasonal_sink
        if not cfg:
            return 0

        def build(pts, store, cfg):
            import pyspark.sql.functions as F

            from rhq_metrics_spark.operators.anomaly import (
                _seasonal_binned,
                seasonal_profile,
            )

            binned = _seasonal_binned(
                pts,
                "ts",
                "value",
                int(cfg.get("period_ms", 86_400_000)),
                int(cfg.get("n_bins", 24)),
                int(cfg.get("value_scale", 100)),
            ).withColumn(
                "slice_start",
                (F.floor(F.col("ts") / store.slice_ms) * store.slice_ms).cast(
                    "long"
                ),
            )
            return seasonal_profile(
                binned, ["tenant_id", "metric", "slice_start"]
            )

        def attach(svc, store, cfg, mt):
            svc.attach_seasonal_profile(
                cfg["path"],
                period_ms=int(cfg.get("period_ms", 86_400_000)),
                n_bins=int(cfg.get("n_bins", 24)),
                value_scale=int(cfg.get("value_scale", 100)),
                metric_type=mt,
            )

        return self._emit_partials(cfg, compacted, "gauge", build, attach)

    def _emit_partials(
        self, cfg: dict, compacted: dict[str, list[int]], default_mt: str,
        build_fn, attach_fn, family: str | None = None,
    ) -> int:
        """Shared partial-sink emitter: recompute the just-compacted
        slices' partials from the freshly-compacted COLD data (pruned
        scan bounded to those slices) and write them with PER-SLICE
        DYNAMIC PARTITION OVERWRITE — a slice that re-compacts after
        late-arriving points (store.compact merges hot into
        existing cold and returns the slice again) REPLACES its previous
        partial rows instead of double-appending, which would silently
        double every "exact" rollup-served result.  Then attach on first
        use; a ``family`` already in the service's attached-rollup
        registry only gets its serving watermark refreshed."""
        mt = cfg.get("metric_type", default_mt)
        slices = [int(x) for x in (compacted.get(mt) or [])]
        if not slices:
            return 0
        import pyspark.sql.functions as F

        store = self.service.store
        pts = store.points(mt).filter(
            (F.floor(F.col("ts") / store.slice_ms) * store.slice_ms).isin(slices)
        )
        (
            build_fn(pts, store, cfg)
            .write.partitionBy("slice_start")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(cfg["path"])
        )
        if cfg.get("attach", True):
            if (family, mt) in self.service._attached:
                self.service._refresh(family, mt)
            else:
                attach_fn(self.service, store, cfg, mt)
        return len(slices)

    # -- streaming hook (event-time driven) --------------------------------

    def on_event_time(self, metric_type: str, high_water_ms: int) -> list[int]:
        """Called by streaming ingest with the event-time high-water mark
        after each micro-batch.  Compacts hot slices that the advancing
        event time has closed — i.e. every slice strictly before the one
        containing ``high_water_ms`` (minus grace).  No-op until the
        high-water crosses into a new slice, so the per-batch cost is one
        directory listing."""
        slice_ms = self.service.store.slice_ms
        closed_before = (
            (high_water_ms - self.compaction_grace_ms) // slice_ms
        ) * slice_ms
        if closed_before <= self._last_closed.get(metric_type, -(2**62)):
            return []
        done = self.service.store.compact(metric_type, closed_before)
        self._last_closed[metric_type] = closed_before
        if done:
            self._emit_stats_partials({metric_type: done})
            self._emit_histogram_partials({metric_type: done})
            self._emit_increase_partials({metric_type: done})
            self._emit_twa_partials({metric_type: done})
            self._emit_availability_partials({metric_type: done})
            self._emit_seasonal_partials({metric_type: done})
            self._emit_activity_partials({metric_type: done})
        return done

    # -- wall-clock loop ----------------------------------------------------

    def run_loop(
        self,
        interval_ms: int,
        iterations: int | None = None,
        now_fn=lambda: time.time_ns() // 1_000_000,
        sleep_fn=time.sleep,
    ) -> None:
        """The ~cron loop: ``run_once`` every ``interval_ms``.  ``now_fn``
        and ``sleep_fn`` are injectable so tests can drive virtual time;
        ``iterations=None`` runs until interrupted."""
        done = 0
        while iterations is None or done < iterations:
            self.run_once(now_fn())
            done += 1
            if iterations is None or done < iterations:
                sleep_fn(interval_ms / 1000.0)
