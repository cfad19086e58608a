#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is executed to completion (collect/count) after a warm-up of
the input file listing; per-query wall time includes planning.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry  # noqa: E402
from rhq_metrics_spark.session import get_spark  # noqa: E402
from rhq_metrics_spark.localrel import local_df  # noqa: E402

#: the headline subset run per-round by the driver (kept fast enough to
#: finish in minutes at sf0.1 while covering scans, window functions,
#: multi-level aggs, joins, dedup joins, and vector search)
BENCH_QUERIES = [
    "s1_raw_scan",
    "a1_bucket_stats",
    "a1_gapfill",
    "w1_gauge_rate",
    "w1_rate_stats",
    "a2_availability_stats",
    "w2_periods",
    "a3_stacked_stats",
    "a5_tagged_stats",
    "b1_slice_rollup",
    "j5_asof_join",
    "w4_sessions",
    "j6_interval_join",   # bucketed range join
    "a9_time_rollup",     # GROUPING SETS multi-grain downsample
    "w5_rolling_zscore",  # trailing-window anomaly flags
    "o4_topk_per_group",  # WindowGroupLimit partial top-k
    "b11_rollup_serving", # continuous-aggregate read path
    "b15_hybrid_serving", # rollup prefix + open-tail merge (default window)
    "text_classify",      # hashed-feature broadcast model scoring
    "tpch_q1",
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q6",
    "tpch_q9",    # widest broadcast join tree (part+supplier+nation+orders)
    "tpch_q12",   # semi/anti-join shapes perf-tracked, not just correct
    "tpch_q13",   # left-outer histogram (two-level agg over the big side)
    "tpch_q21",   # lineitem triple self-join: max-window + semi + anti
    "tpch_q22",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_clusters",  # iterative connected components
    "dedup_incremental",  # batch-vs-standing-index dedup (broadcast batch)
    "dedup_incremental_verified",  # + KMV sketch re-score of every candidate
    "embed_cosine_topk",
    "embed_kmeans",   # broadcast-argmin assignment + k*dim-key update agg
    "embed_semdedup", # SemDeDup: cluster then within-cluster cosine drop
    "embed_lsh_topk",
    "embed_ivf_topk",
    "text_quality",
    "text_gopher_filter",  # MassiveText go/no-go ruleset, scan-fused
    "text_c4_clean",       # C4 line-level clean + rewrite over stitched pages
    "w10_ewma",            # truncated-EWMA smoothing window
    "a14_trimmed_stats",   # robust trimmed-mean buckets, one exchange
    "text_bpe_pairs",      # BPE merge stats off the word-frequency table
    "sketch_cms",          # count-min build + probe (1024-cell hash-agg)
    "w11_seasonal",        # seasonal profile agg + broadcast rejoin
    "a15_mad_outliers",    # robust median/MAD flags, one exchange
    "a16_slo_burn",        # multiwindow burn-rate over A2 buckets
    "sketch_hll",          # portable-register HLL (1 agg, groups x 64 keys)
    "sketch_bloom",        # bloom build + broadcast probe
    "pipe_temperature_mixture",  # p ~ n^(1/2) mixture plan + realization
    "pipe_importance_sample",    # weight-proportional doc resampling
    "w12_changepoint",     # two-window mean-shift level detector
    "w13_seasonal_forecast",  # profile moments -> baseline +- 2sigma bands
    "url_canonical",       # portable-regex canonicalization + dedup agg
    "text_fertility",      # tokens/word + bytes/token ppm per lang
    "w14_top_anomalous",   # per-series max-z collapse + global top-k
    "text_boilerplate",    # cross-doc repeated-line removal + rewrite
    "pipe_quality_mixture", # filter->dedup->mix 3-stage composition
    "text_contamination",
    "doc_fingerprint",
    "text_tfidf",    # explode->agg->rejoin + per-doc top-k window
    "text_lm_score", # corpus bigram LM: two-level agg + window + rejoin
    "text_substr_dups",  # EXACTSUBSTR span fingerprints + distinct-doc agg
    "text_substr_self_dedup",  # keep-one-copy span removal + rewrite
    "substr_dups_incremental",  # batch vs standing window-hash index
    "text_decontaminate",  # span-level eval-set removal (broadcast hash set)
    "pipe_token_mixture",  # token-budget mixture plan + epoch realization
    "pack_chunks",   # sharded running-sum window (packing throughput)
    "a10_correlation",     # bucket-aligned self-join, exact decimal sums
    "w6_trend",            # closed-form least squares per series
    "b12_distinct_rollup", # GROUPING SETS distinct cardinality
    "fz_vocab_pairs",      # SymSpell deletion-neighborhood fuzzy join
    "hybrid_topk",         # BM25 + cosine fused by RRF
    "text_heavy_hitters",  # MG candidate pass + exact recount
    "o5_minmax_downsample",  # arg-extreme struct aggregation
    "a11_histogram",         # value distribution binning
    "b14_hist_quantiles_multi",  # one-pass multi-quantile from partials
    "text_unigram_seed",    # unigram-LM candidate vocab off the word table
    "sketch_kmv_setops",    # pairwise KMV union/intersection/Jaccard
    "pipe_dataset_profile", # one-rollup data card incl. corpus dup rates
    "w15_funnel",           # chained per-user min-agg funnel stages
    "w16_cohort",           # first-activity cohort retention matrix
    "embed_pq_codes",       # per-subspace PQ codebook training + encode
    "sample_priority",      # weighted top-k via TakeOrderedAndProject (r12)
    "dedup_fuzzy_blocked",  # blocked levenshtein ER pairs (r12)
    "text_kn_score",        # interpolated Kneser-Ney bigram LM (r12)
    "pipe_ngram_diversity", # distinct-1/2/3 data-card metric (r12)
    "w17_transitions",      # event-transition matrix / path analysis (r12)
    "w19_frequent_paths",   # top-k length-3 event sequences (r13)
    "w20_attribution",      # last-touch conversion attribution (r13)
    "embed_hard_negatives", # contrastive mining under a near-dup ceiling (r13)
]


def _query_latency_kpis(spark, store, lo: int, window_ms: int, timings: dict) -> None:
    """BASELINE.md KPI table (rows 2-4): single-metric stats latency
    (p50/p95, 8h window, 60 buckets, percentiles 90/95/99), 100-metric
    stacked + unstacked stats, and an expression tag query (2 ANDs, 1
    regex) over 10k metric definitions.  Runs against the compacted
    dense store — the steady-state read path."""
    import shutil
    import pyspark.sql.functions as F

    from rhq_metrics_spark.model import Buckets
    from rhq_metrics_spark.service import MetricsService

    store.compact("gauge", closed_before_ms=2**62)
    svc = MetricsService(spark, store)
    sources = sorted(
        r["metric"] for r in store.points("gauge")
        .select(F.split("metric", "_")[0].alias("metric")).distinct().collect()
    )
    metrics = [f"{s}_{i}" for s in sources for i in range(20)]
    bks = Buckets.from_count(lo, lo + window_ms, 60)

    # 2 discarded warm-ups: the first requests after compaction pay file
    # re-listing + JIT/GC debt from the preceding bench sections, which
    # is engine amortized cost, not this query's latency (the r5 p95
    # doubled on exactly such a straggler; VERDICT r5 item 3)
    def _latency(fn, n=20, warmup=2, samples_out=None):
        for _ in range(warmup):
            fn(0)
        lat = []
        for i in range(n):
            t0 = time.time()
            fn(i)
            lat.append(time.time() - t0)
        if samples_out is not None:
            samples_out.extend(round(x * 1000, 1) for x in lat)
        lat.sort()
        return (
            round(lat[len(lat) // 2] * 1000, 1),
            round(lat[int(n * 0.95) - 1] * 1000, 1),
        )

    def _latency_best2(fn, **kw):
        # best-of-2 SECTIONS for graded latency KPIs, the same
        # methodology the headline queries use (VERDICT r6 item 6): one
        # GC before sampling does not fully shed the preceding
        # sections' debt — identical hybrid code measured 152.8 /
        # 192.4 / 236.1 ms p50 across three full r9 passes vs ~153 in
        # an isolated replica — so the min of two 20-sample p50s is the
        # query's cost and the gap is engine noise.
        a = _latency(fn, **kw)
        spark.sparkContext._jvm.System.gc()
        b = _latency(fn, **kw)
        return min(a, b)

    # r7's exact-path p95 (1219 ms vs p50 264) did not reproduce in an
    # isolated session (p95 ~530 there): the tail is debt from the
    # preceding 50-query pass — old-gen garbage + JIT warm-in of the
    # exact-percentile codegen — landing on the first samples of the
    # FIRST latency section.  Shed it explicitly: full GC before
    # sampling, and a deeper warmup on this one section (the later
    # sections inherit its warm JIT, so they keep warmup=2).  The raw
    # per-sample series is recorded as a diagnostic KPI so any residual
    # tail is attributable in the artifact rather than a mystery.
    spark.sparkContext._jvm.System.gc()
    exact_samples: list = []
    p50, p95 = _latency_best2(lambda i: svc.gauge_stats(
        "bench", metrics[(i * 7) % len(metrics)], bks, percentiles=(90, 95, 99)
    ).collect(), warmup=4, samples_out=exact_samples)
    timings["stats_latency_p50_ms"] = p50
    timings["stats_latency_p95_ms"] = p95
    timings["stats_latency_samples_ms"] = exact_samples

    # routed fast path: build the continuous aggregate once (batch twin
    # of start_rollup_stream, 10-min windows), attach, measure the same
    # stats call served from rollup parquet (no raw scan, no percentiles
    # — the long-range-dashboard shape)
    import tempfile as _tf

    rollup_win = 600_000
    rollup_dir = _tf.mkdtemp(prefix="bench_rollup_")
    (
        store.points("gauge")
        .groupBy(
            "tenant_id", "metric",
            F.window(
                F.timestamp_millis(F.col("ts")), f"{rollup_win // 1000} seconds"
            ).alias("win"),
        )
        .agg(
            F.min("value").alias("min"), F.avg("value").alias("avg"),
            F.max("value").alias("max"), F.sum("value").alias("sum"),
            F.count("value").alias("samples"),
        )
        .select(
            "tenant_id", "metric",
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "min", "avg", "max", "sum", "samples",
        )
        .write.mode("overwrite").parquet(rollup_dir)
    )
    svc.attach_rollup("gauge", rollup_dir, rollup_win)
    # routed grid: 30-min buckets on the window grid, inside the
    # finalized range (ceil-aligned start, 6h span < the 8h of data)
    step = 1_800_000
    rlo = lo if lo % step == 0 else lo - (lo % step) + step
    routed_bks = Buckets.from_step(rlo, rlo + 12 * step, step)
    # measured THROUGH the WSGI REST path (VERDICT r4 item 8): the stats
    # handler itself routes to the rollup, so the KPI covers param
    # parsing + routing + rollup scan + JSON adaptation end to end
    import io as _io

    from rhq_metrics_spark.http import MetricsApp

    app = MetricsApp(svc, base_path="/hawkular/metrics")

    def _rest_stats(metric: str) -> list:
        environ = {
            "REQUEST_METHOD": "GET",
            "PATH_INFO": f"/hawkular/metrics/gauges/{metric}/stats",
            "QUERY_STRING": (
                f"start={routed_bks.start}&end={routed_bks.end}"
                f"&bucketDuration={step // 1000}s"
            ),
            "CONTENT_TYPE": "application/json",
            "CONTENT_LENGTH": "0",
            "wsgi.input": _io.BytesIO(b""),
            "HTTP_HAWKULAR_TENANT": "bench",
        }
        status = {}
        body = b"".join(app(environ, lambda s, h: status.update(code=s)))
        assert status["code"].startswith("200"), status
        return json.loads(body)

    routed_probe = svc.try_routed_stats("gauge", "bench", metrics[0], routed_bks)
    assert routed_probe is not None, "rollup routing inactive"
    assert not any("points" in f for f in routed_probe.inputFiles()), "not routed"
    # same debt-shed + best-of-2 treatment as the exact and hybrid
    # sections (VERDICT r9 item 2: p95 drifted 187 -> 297 ms with p50
    # flat — this was the ONE latency section still sampled as a single
    # plain pass, so old-gen garbage from the preceding sections landed
    # on its tail samples)
    spark.sparkContext._jvm.System.gc()
    p50, p95 = _latency_best2(
        lambda i: _rest_stats(metrics[(i * 7) % len(metrics)]), warmup=4
    )
    timings["stats_rollup_latency_p50_ms"] = p50
    timings["stats_rollup_latency_p95_ms"] = p95

    # percentile serving from histogram partials (percentile_impl='hist'):
    # the same stats call WITH percentiles 90/95/99, rank columns from
    # the mergeable histogram rollup + base columns from the stats
    # rollup — the scalable twin of the exact stats_latency_* KPI above
    hist_dir = _tf.mkdtemp(prefix="bench_hist_")
    lo_v, hi_v, n_bins = 0.0, 250.0, 125
    svc.build_histogram_rollup(
        "gauge", rollup_win, lo_v, hi_v, n_bins
    ).write.mode("overwrite").parquet(hist_dir)
    svc.attach_histogram_rollup("gauge", hist_dir, rollup_win, lo_v, hi_v, n_bins)
    probe = svc.gauge_stats(
        "bench", metrics[0], routed_bks, percentiles=(90, 95, 99),
        percentile_impl="hist",
    )
    assert not any("points" in f for f in probe.inputFiles()), "hist not routed"
    # same debt-shed + best-of-2 treatment as every sibling latency
    # section (this was the LAST one still sampled as a single plain
    # pass: r11 recorded 500.9 ms p95 here at loadavg 4.9 while the
    # isolated quiet replica measures 276.4 / p50 188.5 —
    # tools/probe_latency_kpis.py, attribution in SCALE.md)
    spark.sparkContext._jvm.System.gc()
    p50, p95 = _latency_best2(lambda i: svc.gauge_stats(
        "bench", metrics[(i * 7) % len(metrics)], routed_bks,
        percentiles=(90, 95, 99), percentile_impl="hist",
    ).collect(), warmup=4)
    timings["stats_pct_hist_latency_p50_ms"] = p50
    timings["stats_pct_hist_latency_p95_ms"] = p95
    # the 100-series dashboard WITH median+percentiles served from
    # partials (r8 stats_query percentile_impl='hist') vs the exact
    # raw-scan path it previously had to take.  At THIS bench scale the
    # exact scan is only ~576k raw points, so exact can win on wall —
    # the route's value is the scan-size ratio: partials rows stay
    # #metrics x #slices x occupied-bins while raw grows with point
    # density, so the crossover favors hist well before cluster scale.
    # Both recorded so the ratio is tracked per round.
    probe = svc._hist_routed_multi(
        "gauge", "bench", metrics, routed_bks, (90.0,), True
    )
    assert probe is not None, "multi hist routing inactive"
    assert not any("points" in f for f in probe.inputFiles()), "not routed"
    svc.stats_query("bench", routed_bks, {"gauge": metrics},
                    percentiles=(90,), percentile_impl="hist")  # warm
    t0 = time.time()
    svc.stats_query("bench", routed_bks, {"gauge": metrics},
                    percentiles=(90,), percentile_impl="hist")
    timings["stats_query_100m_hist_pct_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    svc.stats_query("bench", routed_bks, {"gauge": metrics},
                    percentiles=(90,))
    timings["stats_query_100m_exact_pct_sec"] = round(time.time() - t0, 3)

    # the 100-series dashboard served from the rollup (r5): same
    # stats_query shape as the raw KPI below, mergeable columns only
    t0 = time.time()
    svc.stats_query("bench", routed_bks, {"gauge": metrics},
                    include_median=False)
    timings["stats_query_100m_rollup_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    svc.stats_query("bench", routed_bks, {"gauge": metrics}, stacked=True,
                    include_median=False)
    timings["stats_query_100m_stacked_rollup_sec"] = round(time.time() - t0, 3)
    # hybrid rollup+open-tail serving (r6): the reference's DEFAULT
    # dashboard query (now-8h..now) ends past the finality watermark —
    # re-attach the rollup truncated to a 5h watermark so the same
    # stats call serves a finalized prefix from partials plus a 2h raw
    # tail, and measure that against the forced full raw scan
    cut = rlo + 10 * step
    truncated = spark.read.parquet(rollup_dir).filter(
        F.unix_millis(F.col("window_end")) <= cut
    )
    svc.attach_rollup("gauge", truncated, rollup_win)
    hybrid_bks = Buckets.from_step(rlo, rlo + 14 * step, step)
    probe = svc.try_routed_stats("gauge", "bench", metrics[0], hybrid_bks)
    assert probe is not None, "hybrid routing inactive"
    assert any("points" in f for f in probe.inputFiles()), "no raw tail"
    # shed the preceding sections' GC/JIT debt before sampling, same
    # treatment as the exact section above (r9: the full-pass run
    # recorded 486 ms p50 here while the identical code path measures
    # 172 ms in an isolated session — the gap was old-gen garbage from
    # the 100m stats_query sections landing on these samples)
    spark.sparkContext._jvm.System.gc()
    p50, p95 = _latency_best2(lambda i: svc.gauge_stats(
        "bench", metrics[(i * 7) % len(metrics)], hybrid_bks,
        include_median=False,
    ).collect(), warmup=4)
    timings["stats_hybrid_latency_p50_ms"] = p50
    timings["stats_hybrid_latency_p95_ms"] = p95
    p50, _ = _latency(lambda i: svc.gauge_stats(
        "bench", metrics[(i * 7) % len(metrics)], hybrid_bks,
        include_median=False, use_rollup=False,
    ).collect(), n=10)
    timings["stats_hybrid_raw_baseline_p50_ms"] = p50
    # percentiles over the SAME watermark-crossing range through the
    # fused single-agg assembly (r8): rollup prefix + hist bins + raw
    # tail pseudo-partials in one hash-agg — no join, no quantile
    # window.  Should sit within ~20% of the pure-prefix fused KPI
    # above (stats_pct_hist_latency_*).
    probe = svc._hist_fused_stats(
        "bench", metrics[0], hybrid_bks, (90.0, 95.0, 99.0), True
    )
    assert probe is not None, "fused hybrid hist assembly did not route"
    assert any("points" in f for f in probe.inputFiles()), "no raw tail"
    spark.sparkContext._jvm.System.gc()  # same debt-shed as above
    p50, p95 = _latency_best2(lambda i: svc.gauge_stats(
        "bench", metrics[(i * 7) % len(metrics)], hybrid_bks,
        percentiles=(90, 95, 99), percentile_impl="hist",
    ).collect(), warmup=4)
    timings["stats_pct_hist_hybrid_latency_p50_ms"] = p50
    timings["stats_pct_hist_hybrid_latency_p95_ms"] = p95
    # the 100-series dashboard over the SAME watermark-crossing range:
    # here the raw side is 100 series x 7h, so the hybrid's extra scan
    # pays for itself (the single-metric KPI above is fixed-overhead
    # bound at bench scale — same honesty note as the IVF partial probe)
    svc.stats_query("bench", hybrid_bks, {"gauge": metrics},
                    include_median=False)  # warm
    t0 = time.time()
    svc.stats_query("bench", hybrid_bks, {"gauge": metrics},
                    include_median=False)
    timings["stats_query_100m_hybrid_sec"] = round(time.time() - t0, 3)
    saved = svc._attached.pop(("stats", "gauge"))
    t0 = time.time()
    svc.stats_query("bench", hybrid_bks, {"gauge": metrics},
                    include_median=False)
    timings["stats_query_100m_hybrid_raw_sec"] = round(time.time() - t0, 3)
    svc._attached["stats", "gauge"] = saved
    shutil.rmtree(hist_dir, ignore_errors=True)
    shutil.rmtree(rollup_dir, ignore_errors=True)

    # warm + best-of-2: these two rode as single cold shots and drifted
    # to 1.0 s in the r11 pass while the isolated quiet replica measures
    # 0.632 / 0.554 (== best-ever; tools/probe_latency_kpis.py) — the
    # same treatment the tag-query KPI below earned for the same reason
    def _q100m(stacked: bool) -> float:
        t0 = time.time()
        svc.stats_query("bench", bks, {"gauge": metrics}, stacked=stacked)
        return time.time() - t0

    _q100m(True)
    timings["stats_query_100m_stacked_sec"] = round(
        min(_q100m(True), _q100m(True)), 3)
    timings["stats_query_100m_sec"] = round(
        min(_q100m(False), _q100m(False)), 3)

    # 10k definitions with 3 tag dimensions; expression = 2 ANDs + regex
    roles = ["web", "db", "cache", "batch", "edge"]
    idx = spark.range(10_000).select(
        F.lit("bench").alias("tenant_id"),
        F.lit("gauge").alias("type"),
        F.concat(F.lit("m"), F.col("id")).alias("metric"),
        F.map_from_arrays(
            F.array(F.lit("dc"), F.lit("role"), F.lit("host")),
            F.array(
                F.concat(F.lit("dc"), (F.col("id") % 8).cast("string")),
                F.element_at(
                    F.array(*[F.lit(r) for r in roles]),
                    (F.col("id") % 5 + 1).cast("int"),
                ),
                F.concat(F.lit("host-"), F.col("id")),
            ),
        ).alias("tags"),
        F.lit(None).cast("long").alias("data_retention"),
    )
    store.save_metrics_idx(idx)

    # warm + best-of-2: this KPI was a single cold shot and drifted
    # 114 -> 238 ms across rounds on pure session noise (first read of
    # the just-written index pays its file listing)
    def _tagq() -> float:
        t0 = time.time()
        svc.find_metrics(
            tag_expression="dc = dc3 AND role = web AND host ~ 'host-12.*'"
        ).count()
        return (time.time() - t0) * 1000

    _tagq()
    timings["tag_query_10k_defs_ms"] = round(min(_tagq(), _tagq()), 1)
    n = svc.find_metrics(
        tag_expression="dc = dc3 AND role = web AND host ~ 'host-12.*'"
    ).count()
    print(f"# tag query over 10k defs: {n} matches", file=sys.stderr)


#: max length of the final JSON line — the driver's tail capture is
#: 2000 chars; leave margin for a trailing newline / prompt artifacts
_TAIL_BUDGET = 1800

#: bump each round: offsets the final line's rotating per-query window
#: (mirrors the correctness-window rotation — BENCH_r08 overflowed the
#: tail even after shedding every diagnostic KPI, so per-query timings
#: now rotate instead of all riding the final line every round; the
#: full record always goes to stderr).
_FINAL_LINE_ROUND = 17


def _host_stamp_sec() -> float:
    """Single-core chained-md5 host-speed stamp (VERDICT r16 item 5):
    identical-code bench passes differed 25% on host drift alone, so
    the artifact carries its own noise normalizer.  ~1.7 s on a quiet
    host; pure CPython+hashlib, no Spark."""
    import hashlib

    t0 = time.time()
    h = b"x"
    for _ in range(2_000_000):
        h = hashlib.md5(h).digest()
    return round(time.time() - t0, 3)


def _sys_marker(markers: list[str], tag: str) -> None:
    """Per-section machine-load marker (VERDICT r9 item 1: untouched
    queries drifted 1.2-1.5x in a pass that likely ran on a loaded
    machine, and the artifact could not show it).  Records 1-min loadavg
    and system MemAvailable at section boundaries; the compact string
    rides the final line as ``load_markers`` so a loaded pass is
    self-evident in the artifact."""
    try:
        load1 = os.getloadavg()[0]
        avail_gb = 0.0
        with open("/proc/meminfo") as fh:
            for ln in fh:
                if ln.startswith("MemAvailable"):
                    avail_gb = int(ln.split()[1]) / 1048576
                    break
        markers.append(f"{tag}:{load1:.1f}:{avail_gb:.0f}g")
    except Exception:  # noqa: BLE001 — markers must never fail the bench
        markers.append(f"{tag}:?")

#: KPIs that are diagnostic curves rather than graded axes — never on
#: the final line (they stay in the stderr full record).
_DIAGNOSTIC_PREFIXES = (
    # comparison baselines / duplicates
    "stats_hybrid_raw_baseline_", "stats_query_100m_hybrid_raw_",
    "ingest_points_per_sec",  # duplicate of ingest_backfill_points_per_sec
    # recall/probe diagnostic curves
    "embed_ivf_recall_", "embed_ivf_probe_", "embed_lsh_recall",
    "embed_ivf_clustered_", "embed_ivf_partial_",
    # per-sample latency series (tail attribution, VERDICT r7 item 2)
    "stats_latency_samples_ms",
)


def _diagnostic_kpi(name: str) -> bool:
    return name.startswith(_DIAGNOSTIC_PREFIXES)


def _final_line(payload: dict, timings: dict, errors: dict) -> str:
    """Render the driver-facing final JSON line with a HARD length
    guarantee (VERDICT r8 item 1: the shed-list approach overflowed the
    ~2000-char tail window and the driver recorded ``parsed: null``).

    Structure: headline total + every graded (non-diagnostic) KPI at 2dp
    + a rotating window of per-query timings sized to whatever budget
    remains.  ``q_window`` = [start_index, emitted, total] so a reader
    knows which slice of BENCH_QUERIES this round's line carries; the
    full per-query record is always printed to stderr first.
    """
    qnames = [q for q in BENCH_QUERIES if q in timings]
    kpis = {
        k: (round(v, 2) if isinstance(v, float) else v)
        for k, v in timings.items()
        if k not in set(BENCH_QUERIES) and not _diagnostic_kpi(k)
    }
    start = (_FINAL_LINE_ROUND * 23) % len(qnames) if qnames else 0
    rotated = qnames[start:] + qnames[:start]

    def render(n_queries: int, n_kpis: int) -> str:
        q = {k: round(timings[k], 2) for k in rotated[:n_queries]}
        q.update(dict(list(kpis.items())[:n_kpis]))
        out = {
            "metric": payload["metric"],
            "value": payload["value"],
            "unit": payload["unit"],
            "queries": q,
            "q_window": [start, n_queries, len(qnames)],
            "sf": payload["sf"],
        }
        if errors:
            out["error_count"] = len(errors)
        return json.dumps(out, separators=(",", ":"))

    n_q, n_k = len(qnames), len(kpis)
    line = render(n_q, n_k)
    while len(line) > _TAIL_BUDGET and n_q > 0:
        n_q -= 1
        line = render(n_q, n_k)
    # last resort, never expected: graded KPIs alone exceed the budget
    while len(line) > _TAIL_BUDGET and n_k > 0:
        n_k -= 1
        line = render(n_q, n_k)
    if len(line) > _TAIL_BUDGET:  # structural floor: header + sf only
        line = render(0, 0)[:_TAIL_BUDGET]
    assert len(line) <= _TAIL_BUDGET, f"final line {len(line)} > {_TAIL_BUDGET}"
    print(
        f"# final line: {n_q}/{len(qnames)} query timings (window start "
        f"{start}), {n_k}/{len(kpis)} graded KPIs, {len(line)} chars",
        file=sys.stderr,
    )
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark(app_name="rhq-metrics-spark-bench")

    qs = entry.queries()
    # warm up the JVM + file listings so fixed session cost isn't charged
    # to whichever query happens to run first
    for t in ("events", "lineitem", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    # ... and the Python/Arrow worker pool: the first pandas_udf job in a
    # session forks one worker per core (~1s at local[32]) — engine
    # startup, not any single query's cost.  (Functional form: decorator
    # type hints can't resolve a function-local import alias.)
    import pyspark.sql.functions as _F

    _warm = _F.pandas_udf(lambda s: s * 1.0, "double")
    cores = spark.sparkContext.defaultParallelism
    spark.range(0, cores * 100, 1, cores).select(
        _warm(_F.col("id").cast("double"))
    ).count()

    markers: list[str] = []
    _sys_marker(markers, "warm")
    timings: dict[str, float] = {}
    # host-speed stamp rides the final line as a graded-direction KPI so
    # PERF ratios can be read against host drift (VERDICT r16 item 5)
    timings["host_md5_2m_sec"] = _host_stamp_sec()
    errors: dict[str, str] = {}
    total = 0.0
    for name in BENCH_QUERIES:
        fn = qs[name]
        # best-of-2: a 50-query pass accumulates GC/JIT/page-cache debt
        # that lands on whichever query runs behind it (r6 recorded
        # j6_interval_join at 2.38s vs ~1.1s isolated) — the min of two
        # back-to-back runs is the query's cost, the gap is engine noise
        # (VERDICT r6 item 6).  One broken query must cost its own
        # number, never the whole round's bench (round-2 lesson).
        best, n = None, 0
        for _attempt in range(2):
            t0 = time.time()
            try:
                df = fn(spark, sf_dir)
                n = df.count()
            except Exception as exc:  # noqa: BLE001
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
                spark.catalog.clearCache()
                best = None
                break
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
            # per-query isolation: operators persist intermediate frames
            # (signatures, shingle sets); without a reset those
            # accumulate across the pass and evict each other mid-plan,
            # so later queries pay their expensive pipelines repeatedly
            spark.catalog.clearCache()
        if best is None:
            continue
        timings[name] = round(best, 3)
        total += best
        print(f"# {name}: {n} rows in {best:.2f}s (best of 2)", file=sys.stderr)
    _sys_marker(markers, "queries")

    # the oracled embed_ivf_topk is full-probe (== brute force, for the
    # correctness gate); track the real ANN dial (n_probe=4/16) here so
    # the approximate path's latency stays an honest, separate number —
    # and record recall@k at THIS scale factor for both ANN families as
    # first-class KPIs (a fast search that misses neighbors isn't done)
    from rhq_metrics_spark.pipelines.similarity import (
        cosine_topk,
        ivf_cosine_topk,
        ivf_probe_for_recall,
        lsh_cosine_topk,
        topk_recall,
    )

    try:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qs = emb.filter("vec_id < 10")
        t0 = time.time()
        ivf4 = ivf_cosine_topk(emb, qs, k=5, n_cells=16, n_probe=4)
        ivf4 = ivf4.persist()
        ivf4.count()
        timings["embed_ivf_partial_probe_sec"] = round(time.time() - t0, 3)
        truth = cosine_topk(emb, qs, k=5).persist()
        truth.count()
        timings["embed_ivf_recall_probe4of16"] = round(
            topk_recall(truth, ivf4), 3
        )
        timings["embed_ivf_recall_probe8of16"] = round(
            topk_recall(
                truth, ivf_cosine_topk(emb, qs, k=5, n_cells=16, n_probe=8)
            ),
            3,
        )
        # the sizer is the production dial: smallest probe count whose
        # measured recall meets 0.9 on this data (fixed probes above are
        # the raw curve)
        n_probe, r = ivf_probe_for_recall(emb, qs, k=5, n_cells=16, target_recall=0.9)
        timings["embed_ivf_probe_for_r90"] = n_probe
        timings["embed_ivf_recall_at_sized_probe"] = round(r, 3)
        timings["embed_lsh_recall_default"] = round(
            topk_recall(
                truth,
                lsh_cosine_topk(
                    emb, qs, k=5,
                    num_planes=entry.LSHK_PLANES, tables=entry.LSHK_TABLES,
                ),
            ),
            3,
        )
        truth.unpersist()
        ivf4.unpersist()
    except Exception as exc:  # noqa: BLE001
        errors["embed_ivf_partial_probe"] = f"{type(exc).__name__}: {exc}"[:300]

    # IVF on CLUSTERABLE data (VERDICT r4 item 4): the uniform testdata
    # corpus has no structure, so probe_for_r90 == n_cells there is the
    # honest ceiling, not an IVF defect.  This fixture (deterministic
    # mixture of Gaussians, package function, also pinned by
    # test_similarity) shows the dial working where structure exists:
    # recall >= 0.9 at n_probe << n_cells with a latency win over the
    # brute-force scan.
    try:
        from rhq_metrics_spark.pipelines.embeddings import (
            synthetic_clustered_embeddings,
        )

        from rhq_metrics_spark.pipelines.similarity import ivf_train_centroids

        cemb = synthetic_clustered_embeddings(
            spark, n=8000, dim=64, n_clusters=64, seed=7
        ).persist()
        cemb.count()
        cq = cemb.filter("vec_id < 10")
        # index build (k-means training) is a one-time cost amortized
        # over every query — time the QUERY path with trained centroids,
        # exactly what a serving system pays per request
        t0 = time.time()
        cents = ivf_train_centroids(cemb, n_cells=64)
        timings["embed_ivf_clustered_train_sec"] = round(time.time() - t0, 3)
        t0 = time.time()
        civf = ivf_cosine_topk(
            cemb, cq, k=5, n_cells=64, n_probe=4, centroids=cents
        ).persist()
        civf.count()
        timings["embed_ivf_clustered_partial_probe_sec"] = round(
            time.time() - t0, 3
        )
        t0 = time.time()
        ctruth = cosine_topk(cemb, cq, k=5).persist()
        ctruth.count()
        timings["embed_ivf_clustered_full_scan_sec"] = round(time.time() - t0, 3)
        timings["embed_ivf_clustered_recall_probe4of64"] = round(
            topk_recall(ctruth, civf), 3
        )
        n_probe, r = ivf_probe_for_recall(
            cemb, cq, k=5, n_cells=64, target_recall=0.9, centroids=cents
        )
        timings["embed_ivf_clustered_probe_for_r90"] = n_probe
        # the SCALE-relevant cost dial: fraction of all pairs a 4/64
        # probe scores (wall-clock at 8k vectors is fixed-overhead-bound
        # — candidates/corpus is what divides per-query scan cost at any
        # size; see SCALE.md)
        from rhq_metrics_spark.pipelines.similarity import (
            ivf_candidate_fraction,
        )

        timings["embed_ivf_clustered_candidate_frac"] = round(
            ivf_candidate_fraction(cemb, cq, cents, n_probe=4), 4
        )
        # the COMPOSED IVF+PQ index (r12, VERDICT r11 item 3): the IVF
        # cell assignment rides numpy float64 matmuls (pairwise
        # summation — not bit-reproducible in SQL), so the composed
        # path is pinned here as a recall-vs-exact KPI instead of a
        # driver-oracle row; the PQ/ADC arithmetic inside it IS
        # oracle-checked via embed_pq_adc_topk.
        import shutil
        import tempfile

        from rhq_metrics_spark.pipelines.similarity import (
            ivfpq_build_index,
            ivfpq_query_index,
        )

        ivfpq_dir = tempfile.mkdtemp(prefix="bench_ivfpq_")
        try:
            ivfpq_build_index(
                cemb, ivfpq_dir, n_cells=64, m=8, k_codes=16, iters=2
            )
            t0 = time.time()
            ipq = ivfpq_query_index(
                spark, ivfpq_dir, cq, cemb, k=5, m=8, n_probe=4,
                shortlist=60,
            ).persist()
            ipq.count()
            timings["embed_ivfpq_query_sec"] = round(time.time() - t0, 3)
            timings["embed_ivfpq_recall_at5"] = round(
                topk_recall(ctruth, ipq), 3
            )
            ipq.unpersist()
        finally:
            shutil.rmtree(ivfpq_dir, ignore_errors=True)
        ctruth.unpersist()
        civf.unpersist()
        cemb.unpersist()
    except Exception as exc:  # noqa: BLE001
        errors["embed_ivf_clustered"] = f"{type(exc).__name__}: {exc}"[:300]
    # BM25 standing-index serve latency (r16, VERDICT r15 item 6): the
    # index builds once OUT of timing (the amortized out-of-band cost);
    # the KPI is one served batch of the standard 3 queries against it
    # — the per-batch cost the inverted-index contract promises stays
    # postings-sized (measured FLAT across a ×100 corpus in SCALE.md).
    # Warm once, then min-of-2 (the tag_query discipline).
    try:
        import shutil as _sh
        import tempfile as _tf

        from rhq_metrics_spark.pipelines.retrieval import (
            bm25_against_index,
            bm25_index,
        )

        bdir = _tf.mkdtemp(prefix="bench_bm25idx_")
        try:
            bm25_index(
                spark.read.parquet(f"{sf_dir}/documents.parquet").select(
                    "doc_id", "text"
                ),
                bdir,
            )
            bq = local_df(
                spark, entry.BM25_QUERIES, "query_id long, query string"
            )

            def _serve() -> float:
                t0 = time.time()
                bm25_against_index(spark, bdir, bq, k=10).collect()
                return (time.time() - t0) * 1000.0

            _serve()  # warm (plans + file listings)
            timings["bm25_serve_latency_ms"] = round(
                min(_serve(), _serve()), 1
            )
        finally:
            _sh.rmtree(bdir, ignore_errors=True)
    except Exception as exc:  # noqa: BLE001
        errors["bm25_serve"] = f"{type(exc).__name__}: {exc}"[:300]
    _sys_marker(markers, "ann")

    # engine KPIs mirroring the reference's harness axes (BASELINE.md):
    # batch-ingest throughput (JMH InsertBenchmark analogue) and
    # compaction of the written slices (TempDataCompressor analogue)
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    from rhq_metrics_spark.sources.store import MetricsStore

    workdir = tempfile.mkdtemp(prefix="bench_store_")
    try:  # noqa: SIM105 — KPI failures must not zero the query timings
        pts = entry._events_points(spark, sf_dir).select(
            F.lit("bench").alias("tenant_id"),
            "metric",
            "ts",
            "value",
            F.lit(None).cast("map<string,string>").alias("tags"),
        )
        n_pts = pts.count()
        # median-of-3 into fresh dirs: a single ingest is ~1s of wall
        # at sf0.1, so one GC pause moved the r6 KPI -26% with no code
        # change (VERDICT r6 item 4) — the median is the throughput
        ingest_dts = []
        for i in range(3):
            d = tempfile.mkdtemp(prefix="bench_ingest_")
            t0 = time.time()
            MetricsStore(spark, d).add_data_points("gauge", pts)
            ingest_dts.append(time.time() - t0)
            shutil.rmtree(d, ignore_errors=True)
        dt = sorted(ingest_dts)[1]
        store = MetricsStore(spark, workdir)
        store.add_data_points("gauge", pts)  # the store the KPIs below use
        # the events table is a 30-day span -> ~360 2h slices: this is the
        # sparse-backfill scenario (per-slice commit overhead dominates)
        timings["ingest_backfill_points_per_sec"] = round(n_pts / dt, 1)
        # time-dimension twin (VERDICT r16 item 4): PERF grades prev/now
        # as if every KPI were seconds, so a throughput DROP graded as
        # 'improved' — emit the same measurement in seconds per 100k
        # points so the ratio's direction is always time-like
        timings["ingest_backfill_sec_per_100k"] = round(dt * 100_000 / n_pts, 3)
        timings["ingest_points_per_sec"] = timings["ingest_backfill_points_per_sec"]
        # steady-state scenario: same rows remapped into an 8h window
        # (4-5 slices), the shape a live ingest stream actually has —
        # separate store dir so compaction KPIs below stay backfill-only.
        # Metrics fan out x20 (5 sources -> 100 series) so the same store
        # serves the BASELINE.md query-latency KPIs below.
        lo = pts.agg(F.min("ts")).collect()[0][0]
        window_ms = 8 * 3_600_000
        dense = pts.withColumn(
            "ts", (F.lit(lo) + (F.col("ts") - lo) % window_ms).cast("long")
        ).withColumn(
            "metric",
            F.concat(F.col("metric"), F.lit("_"), (F.col("ts") % 20).cast("string")),
        )
        # same median-of-3 treatment as backfill (sub-second wall each)
        dense_dts = []
        for i in range(2):
            d = tempfile.mkdtemp(prefix="bench_dense_")
            t0 = time.time()
            MetricsStore(spark, d).add_data_points("gauge", dense)
            dense_dts.append(time.time() - t0)
            shutil.rmtree(d, ignore_errors=True)
        dense_dir = tempfile.mkdtemp(prefix="bench_store_dense_")
        try:
            dense_store = MetricsStore(spark, dense_dir)
            t0 = time.time()
            dense_store.add_data_points("gauge", dense)
            dense_dts.append(time.time() - t0)
            dt = sorted(dense_dts)[1]
            timings["ingest_dense_points_per_sec"] = round(n_pts / dt, 1)
            timings["ingest_dense_sec_per_100k"] = round(dt * 100_000 / n_pts, 3)
            _sys_marker(markers, "ingest")
            _query_latency_kpis(spark, dense_store, lo, window_ms, timings)
            _sys_marker(markers, "latency")
        finally:
            shutil.rmtree(dense_dir, ignore_errors=True)
        t0 = time.time()
        done = store.compact("gauge", closed_before_ms=2**62)
        dt = time.time() - t0
        timings["compaction_slices_per_sec"] = round(len(done) / dt, 2)
        if done:
            timings["compaction_sec_per_100slices"] = round(dt * 100 / len(done), 3)
        # storage efficiency (Gorilla-compression axis, SURVEY §4): bytes
        # per point in the compacted cold layer (ZSTD parquet w/ sorted
        # ts per series — delta/dictionary encodings do the Gorilla job)
        import pathlib

        cold_bytes = sum(
            f.stat().st_size
            for f in pathlib.Path(workdir).rglob("*.parquet")
            if "/cold/" in str(f)
        )
        if cold_bytes:
            timings["cold_bytes_per_point"] = round(cold_bytes / n_pts, 2)
        print(
            f"# ingest {n_pts} pts -> {timings['ingest_points_per_sec']}/s; "
            f"compact {len(done)} slices -> {timings['compaction_slices_per_sec']}/s",
            file=sys.stderr,
        )
    except Exception as exc:  # noqa: BLE001
        errors["store_kpis"] = f"{type(exc).__name__}: {exc}"[:300]
        print(f"# store KPIs: ERROR {errors['store_kpis']}", file=sys.stderr)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    _sys_marker(markers, "end")
    timings["load_markers"] = ",".join(markers)
    payload = {
        "metric": "headline_queries_total_time",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        **({"errors": errors} if errors else {}),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # the full record, for humans and PROGRESS notes
    print("# full bench record:", json.dumps(payload), file=sys.stderr)
    # The driver captures only the LAST ~2000 characters of stdout and
    # parses the final JSON line from that window — r5's AND r8's lines
    # outgrew it and "parsed" came back null.  _final_line guarantees
    # the budget structurally: rotating query window + 2dp + hard trim.
    sys.stdout.flush()
    print(_final_line(payload, timings, errors), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
