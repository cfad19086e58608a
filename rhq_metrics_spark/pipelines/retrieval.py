"""Lexical retrieval: multi-query BM25 top-k with the TRUE Robertson
log-idf — the sparse half of a hybrid retrieval stack (dense half:
pipelines/similarity.py; fusion: pipelines/hybrid.py rrf_fuse; the
rational-idf single-term-set variant is pipelines/text.py
bm25_score — this module upgrades it to the exact log formulation
without giving up cross-engine bit-exactness).

Determinism is the whole design problem here: BM25's idf is a
logarithm, and ``ln``/``log`` are NOT correctly rounded, so a
float-log BM25 can rank-flip across engines.  This module computes
idf with an EXACT INTEGER base-2 logarithm instead:

- integer part: ``length(bin(n)) - 1`` (identical in Spark and DuckDB
  — the established bit-length gadget);
- fractional part: the classic square-and-shift algorithm on a 20-bit
  fixed-point mantissa — ``frac_bits`` iterations of
  ``m <- m*m >> 20; emit (m >= 2^21)`` — nothing but integer
  multiplies, shifts, and compares, so any engine produces the same
  bits (max intermediate 2^42, far inside int64).  The Spark form is
  a linear ``withColumn`` chain (one temp column per step — codegen
  fuses it into the scan); the DuckDB twin is the same chain as
  lateral column aliases, generated by the same Python loop.

Using log2 instead of ln scales every idf by the constant 1/ln 2,
which leaves BM25's ranking untouched (scores are served in log2
units, documented).  All remaining BM25 arithmetic is integer ppm
fixed point with driver-side-precomputed constants, so the score —
not just the ranking — is hash-exact cross-engine.

Reference (public): Robertson & Spärck Jones BM25 (TREC-3, 1994).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from rhq_metrics_spark.localrel import local_df, read_parquet_bounded

PPM = 1_000_000

#: mantissa width for the exact log2 — m² must stay in int64:
#: m < 2^(MBITS+1) ⇒ m² < 2^(2·MBITS+2) = 2^42.
_MBITS = 20


def log2_fxp_int(n: int, frac_bits: int = 16) -> int:
    """Pure-Python reference of the exact integer log2 (same bits as
    the Spark chain and the DuckDB twin — shared by tests and any
    driver-side use).  ``n`` must be a positive integer."""
    if n < 1:
        raise ValueError(f"log2_fxp_int: n must be >= 1: {n}")
    if not 1 <= frac_bits <= 30:
        raise ValueError(f"log2_fxp_int: frac_bits out of [1, 30]: {frac_bits}")
    ilog = n.bit_length() - 1
    sh = _MBITS - ilog
    m = n << sh if sh >= 0 else n >> (-sh)
    acc = 0
    hi = 1 << (_MBITS + 1)
    for _ in range(frac_bits):
        m = (m * m) >> _MBITS
        bit = 1 if m >= hi else 0
        acc = acc * 2 + bit
        if bit:
            m >>= 1
    return ilog * (1 << frac_bits) + acc


def with_log2_fxp(
    df: DataFrame,
    n_sql: str,
    out_col: str,
    frac_bits: int = 16,
    _prefix: str = "_l2",
) -> DataFrame:
    """Append ``out_col`` = exact integer log2 of the positive BIGINT
    SQL expression ``n_sql``, in ``2^-frac_bits`` units.  A LINEAR
    ``withColumn`` chain (one temp per square-and-shift step, dropped
    before return) — never a nested expression tree, which would
    duplicate the mantissa subtree 2^frac_bits times."""
    if not 1 <= frac_bits <= 30:
        raise ValueError(f"with_log2_fxp: frac_bits out of [1, 30]: {frac_bits}")
    p = _prefix
    hi = 1 << (_MBITS + 1)
    df = df.withColumn(f"{p}_n", F.expr(f"CAST({n_sql} AS BIGINT)"))
    df = df.withColumn(
        f"{p}_il", F.expr(f"CAST(length(bin({p}_n)) - 1 AS BIGINT)")
    )
    df = df.withColumn(
        f"{p}_m",
        F.expr(
            f"CASE WHEN {_MBITS} - {p}_il >= 0"
            f" THEN shiftleft({p}_n, CAST({_MBITS} - {p}_il AS INT))"
            f" ELSE shiftright({p}_n, CAST({p}_il - {_MBITS} AS INT)) END"
        ),
    ).withColumn(f"{p}_a", F.lit(0).cast("long"))
    for _ in range(frac_bits):
        df = df.withColumn(f"{p}_m", F.expr(f"({p}_m * {p}_m) div {1 << _MBITS}"))
        df = df.withColumn(
            f"{p}_b", F.expr(f"CASE WHEN {p}_m >= {hi} THEN 1L ELSE 0L END")
        )
        df = df.withColumn(f"{p}_a", F.expr(f"{p}_a * 2 + {p}_b"))
        df = df.withColumn(
            f"{p}_m",
            F.expr(f"CASE WHEN {p}_b = 1 THEN {p}_m div 2 ELSE {p}_m END"),
        )
    df = df.withColumn(
        out_col, F.expr(f"{p}_il * {1 << frac_bits} + {p}_a")
    )
    return df.drop(f"{p}_n", f"{p}_il", f"{p}_m", f"{p}_a", f"{p}_b")


def log2_fxp_sql_ctes(
    src_cte: str,
    key_cols: Sequence[str],
    n_col: str,
    out_cte: str,
    frac_bits: int = 16,
) -> str:
    """The DuckDB twin of :func:`with_log2_fxp` as a RECURSIVE CTE
    fragment (splice into a ``WITH RECURSIVE`` list): maps
    ``src_cte(key_cols…, n_col)`` to ``out_cte(key_cols…, l2)``.

    A recursive CTE is the ONE SQL shape that keeps this chain linear:
    iterative execution materializes each step's rows, so the mantissa
    never re-expands textually — both lateral column aliases and
    single-use CTE stages are INLINED by the planner, and because the
    mantissa appears twice per step (m·m) inlining doubles the
    expression per iteration: 2^frac_bits blowup, measured as a
    planner hang at frac_bits ≥ 8.  Same loop, same bits as the Spark
    ``withColumn`` chain (which Catalyst keeps linear via its
    duplicate-expensive-expression guard) and the Python reference."""
    if not 1 <= frac_bits <= 30:
        raise ValueError(f"log2_fxp_sql_ctes: frac_bits out of [1, 30]: {frac_bits}")
    keys = ", ".join(key_cols)
    hi = 1 << (_MBITS + 1)
    step = f"(m * m) // {1 << _MBITS}"
    return f"""{out_cte}_n AS (
  SELECT {keys}, CAST({n_col} AS BIGINT) AS n,
         CAST(length(bin(CAST({n_col} AS BIGINT))) - 1 AS BIGINT) AS il
  FROM {src_cte}),
{out_cte}_i AS (
  SELECT {keys}, il, 0 AS i,
         CAST(CASE WHEN {_MBITS} - il >= 0
                   THEN n << CAST({_MBITS} - il AS INTEGER)
                   ELSE n >> CAST(il - {_MBITS} AS INTEGER) END AS BIGINT) AS m,
         CAST(0 AS BIGINT) AS a
  FROM {out_cte}_n
  UNION ALL
  SELECT {keys}, il, i + 1,
         CASE WHEN {step} >= {hi} THEN ({step}) // 2 ELSE {step} END,
         a * 2 + CASE WHEN {step} >= {hi} THEN 1 ELSE 0 END
  FROM {out_cte}_i WHERE i < {frac_bits}),
{out_cte} AS (
  SELECT {keys}, il * {1 << frac_bits} + a AS l2
  FROM {out_cte}_i WHERE i = {frac_bits})"""


def _toks(text):
    return F.filter(F.split(F.trim(F.lower(text)), r"\s+"), lambda x: x != "")


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1_ppm: int = 1_200_000,
    b_ppm: int = 750_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_col: str = "query",
) -> DataFrame:
    """BM25 top-k documents per query, exact-integer scored.

        score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))

    idf(t) = log2((2N − 2·df + 1) / (2·df + 1)) — the Robertson idf
    with the ±0.5 smoothing cleared to exact integers, computed as a
    DIFFERENCE of two exact log2 values (2^-16 units; may be negative
    for terms in more than half the corpus, the standard Robertson
    behavior — log2 vs ln is a constant positive scale, ranking
    unchanged).  The saturation term is integer ppm with driver-side
    precomputed k1/b constants.  Per (query, doc): ``score_fx =
    Σ idf_fx · tf_term_ppm`` — int64 throughout (bounds: tf ≤ 2.8e6
    per doc, |distinct query terms| ≤ ~1e4; both far past real
    inputs).  Query-term multiplicity is ignored (each distinct query
    term counts once — the common convention).

    Plan shape at 100 TB (r15, VERDICT r14 item 4): the DISTINCT
    query-term list broadcasts against the tokenize+explode scan
    BEFORE the tf aggregation, so the (term, doc, dl) → tf hash-agg
    shuffles only the query terms' hits — the corpus-wide postings
    shuffle of the r14 plan is gone entirely.  Doc length rides
    through that agg as a group key (it is functionally dependent on
    doc_id), replacing the corpus-row-count-sized ``lens`` join.  The
    bounded hit table is eager-localCheckpointed so postings build
    ONCE per call (it feeds both the df-count agg and the scoring
    join); df counts and idf are one tiny agg over it (≤ |query
    terms| rows, broadcast back); the final (query, doc) hash-agg and
    per-query top-k (row_number ≤ k → WindowGroupLimit) are
    candidate-sized.  Corpus stats (N, Σdl) are one tiny agg on a
    second scan.  The only corpus-sized work is the two scans —
    per-query cost is the postings of the query's terms, the
    inverted-index contract.  For repeated serving over a fixed
    corpus, :func:`bm25_index` / :func:`bm25_against_index` persist
    the postings so even those scans happen once.

    Output: ``(query_id, doc_id, score_fx, rank)`` — rank by
    (score_fx desc, doc_id asc), fully deterministic.
    """
    if k < 1:
        raise ValueError(f"bm25_topk: k must be >= 1: {k}")
    if not 0 < k1_ppm <= 10_000_000:
        raise ValueError(f"bm25_topk: k1_ppm out of (0, 1e7]: {k1_ppm}")
    if not 0 <= b_ppm <= PPM:
        raise ValueError(f"bm25_topk: b_ppm out of [0, 1e6]: {b_ppm}")
    # constants in exact ppm, computed ONCE driver-side so the plan and
    # the oracle embed identical literals
    c_sat = k1_ppm * (PPM - b_ppm) // PPM        # k1·(1−b) in ppm
    c_len = k1_ppm * b_ppm // PPM                # k1·b in ppm
    c_num = PPM + k1_ppm                         # (k1+1) in ppm

    toks = docs.select(
        F.col(id_col).alias("doc_id"), _toks(F.col(text_col)).alias("_t")
    )
    # corpus stats collected ONCE driver-side and embedded as exact
    # integer literals (r15): as a lazy crossJoin-broadcast subtree the
    # tiny agg was recomputed inside EVERY broadcast job that used it —
    # two extra corpus scans per call
    n_total, s_total = toks.select(
        F.size("_t").cast("long").alias("_dl")
    ).agg(
        F.count(F.lit(1)), F.coalesce(F.sum("_dl"), F.lit(0))
    ).first()
    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(_toks(F.col(query_col))).alias("term"),
    ).distinct()
    # the eager checkpoint pins the bounded hit table so the postings
    # build exactly once per call (it feeds both the df agg and the
    # scoring join in the shared tail)
    hit = _build_hits(toks, qterms).localCheckpoint(eager=True)
    return _score_hits(
        hit, qterms, int(n_total), int(s_total), k, c_sat, c_len, c_num
    )


def _build_hits(toks: DataFrame, qterms: DataFrame) -> DataFrame:
    """The corpus-side hit build of :func:`bm25_topk` — broadcast-filter
    to the query terms BEFORE the tf aggregation, so the ONE hash-agg
    shuffle carries hit rows only, never corpus-wide postings; ``_dl``
    rides as a group key (functionally dependent on ``doc_id``),
    replacing the r14 plan's corpus-row-count-sized lens join.
    Plan-guarded in tests: exactly one shuffle Exchange, one broadcast
    join, no sort-merge join."""
    return (
        toks.select(
            "doc_id",
            F.size("_t").cast("long").alias("_dl"),
            F.explode("_t").alias("term"),
        )
        .join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("term", "doc_id", "_dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _score_hits(
    hit: DataFrame,
    qterms: DataFrame,
    n_total: int,
    s_total: int,
    k: int,
    c_sat: int,
    c_len: int,
    c_num: int,
    df_rows: Sequence | None = None,
    repartition_by_query: bool = False,
) -> DataFrame:
    """The shared BM25 scoring tail over a hit table ``(term, doc_id,
    tf, _dl)`` — one code path for the direct (:func:`bm25_topk`),
    index-serving (:func:`bm25_against_index`) and streaming-merged
    legs, so bit-exactness is a property of ONE implementation.

    ``n_total``/``s_total`` are the exact corpus stats as Python ints,
    embedded as BIGINT literals: ``avg_ppm = s·1e6 div n`` is the same
    floor division driver-side as in SQL, and the idf numerator
    ``2N − 2df + 1`` carries the literal — identical int64 values, no
    stats subtree recomputed inside the broadcast jobs.  An empty
    corpus (``n_total == 0``) yields an empty hit table, so the
    guarded ``avg_ppm`` placeholder is never evaluated against a row.

    idf computes DRIVER-side (r16, the serve-latency fix): the df agg
    is ≤ |distinct query terms| rows — broadcast-bounded by the same
    contract that already broadcasts it — so collecting it and running
    :func:`log2_fxp_int` (the pure-Python reference, pytest-pinned to
    the SAME BITS as the Spark ``with_log2_fxp`` chain and the DuckDB
    recursive-CTE twin) replaces ~130 withColumn plan nodes whose
    per-call Catalyst analysis dominated serve latency (profiled
    ~1 s build + ~2 s analysis at sf0.01; the chain itself remains the
    distributed form for corpus-sized inputs and stays exported for
    the oracle and tests).  The tiny idf frame broadcast-joins exactly
    as before — scores are bit-identical by the pinned equivalence.

    ``df_rows`` (r16 opt): callers that already KNOW the per-term df
    — the index-serving leg reads it from the persisted ``dfreq``
    components — pass the collected ``(term, _df)`` rows here and the
    countDistinct pass over ``hit`` is skipped entirely; for the
    serving leg that removes one full pruned-postings scan per batch
    (df becomes |terms|·#sources rows instead of a postings scan).
    The df VALUES are identical by the store invariant (disjoint docs
    per source ⇒ Σ per-source dfreq == countDistinct over the merged
    hits), pinned by ``test_bm25_serve_df_from_dfreq``.
    """
    avg_ppm = (s_total * PPM // n_total) if n_total > 0 else 1
    spark = hit.sparkSession
    dfreq_rows = df_rows if df_rows is not None else (
        hit.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("_df"))
        .collect()
    )
    if not dfreq_rows:
        return local_df(
            spark, [], "query_id long, doc_id long, score_fx long, rank int"
        )
    idf = local_df(spark,
        [
            (
                r["term"],
                log2_fxp_int(2 * n_total - 2 * int(r["_df"]) + 1)
                - log2_fxp_int(2 * int(r["_df"]) + 1),
            )
            for r in dfreq_rows
        ],
        "term string, _idf_fx long",
    )
    # ``repartition_by_query`` (r16 opt, SCOPED to the serve leg by
    # ADVICE r16): hash-partitioning by query_id satisfies BOTH the
    # (query_id, doc_id) agg's clustered distribution (subset rule) and
    # the window's partitionBy — two back-to-back candidate-sized
    # shuffles become one.  That trade is only right when the hit side
    # is KNOWN candidate-sized (the index-serving leg: bounded query
    # batches over pruned postings).  The direct corpus leg (bm25_topk)
    # keeps the default two-exchange plan: its per-(term, doc) hit rows
    # can be corpus-scale for common terms, and the query_id exchange
    # would cap active parallelism at |distinct queries| while losing
    # the map-side partial aggregation.
    scored = (
        hit.join(F.broadcast(qterms), "term")
        .join(F.broadcast(idf), "term")
        .withColumn(
            "_dlr_ppm", F.expr(f"_dl * 1000000 * 1000000 div {avg_ppm}L")
        )
        .withColumn(
            "_den_ppm",
            F.expr(f"tf * 1000000 + {c_sat} + ({c_len} * _dlr_ppm) div 1000000"),
        )
        .withColumn(
            "_tfterm_ppm", F.expr(f"tf * {c_num} * 1000000 div _den_ppm")
        )
    )
    if repartition_by_query:
        scored = scored.repartition("query_id")
    scored = scored.groupBy("query_id", "doc_id").agg(
        F.sum(F.expr("_idf_fx * _tfterm_ppm")).alias("score_fx")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_fx").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score_fx", "rank")
    )


# Rank fusion lives in pipelines/hybrid.py (rrf_fuse) — feed this
# module's bm25_topk output straight into it as one mode alongside a
# dense run (cosine_topk / ivf_query_index), with
# query_cols=("query_id",).  No second RRF implementation here.


# ---------------------------------------------------------------------------
# Standing inverted index (VERDICT r14 item 1): the persisted-artifact
# serving leg of bm25_topk — the minhash_index / ivf_build_index
# pattern applied to lexical retrieval.  bm25_topk re-tokenizes the
# corpus per call; a user serving repeated query batches over a fixed
# corpus builds the index once and pays only postings-sized reads per
# batch.

#: postings partition fan-out: query terms resolve to bucket ids
#: driver-side, so a query batch reads ≤ |distinct terms| of these
#: partitions — partition pruning does for terms what IVF cells do
#: for vectors.
_BM25_DEFAULT_BUCKETS = 64


def _term_buckets(terms: DataFrame, n_buckets: int) -> DataFrame:
    """The ONE bucket function, shared by build and query: pmod of the
    64-bit murmur term hash.  Build writes it as the partition column;
    query evaluates it over the (tiny) distinct query-term frame and
    collects the literal bucket list for partition pruning."""
    return terms.withColumn(
        "tbucket",
        F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"),
    )


def bm25_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = _BM25_DEFAULT_BUCKETS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Build + persist a standing BM25 inverted index at ``path``.

    Components (each a parquet dir, the IVF index layout discipline):

    - ``postings/`` — ``(term, doc_id, tf, dl)`` PARTITIONED BY
      ``tbucket`` (murmur bucket of the term): a query batch prunes to
      the buckets its terms hash into, so the per-batch scan is
      postings-sized, never corpus-sized.  ``dl`` is denormalized into
      the postings (the r15 bm25_topk lesson: doc length arrives with
      the posting, never via a corpus-sized join).
    - ``dfreq/`` — ``(term, df)`` partitioned the same way (idf needs
      only the query terms' rows).
    - ``stats/`` — ONE row ``(n, s, n_buckets)``: corpus doc count,
      total token count, and the bucket fan-out (so queries use the
      same hash fan-out the build wrote).

    One tokenize+explode pass builds postings; dfreq and stats reduce
    from the WRITTEN postings (no second corpus scan).  Returns the
    :func:`bm25_index_stats` of the fresh index.  Building at a path
    that already holds a STORE (pieces / tombstones / manifest — see
    the store-model note above :func:`_resolve_sources`) is a full
    overwrite: the extras are cleared so stale sources cannot leak
    into serving (use :func:`bm25_rebuild` for the atomic in-place
    variant).
    """
    if n_buckets < 1:
        raise ValueError(f"bm25_index: n_buckets must be >= 1: {n_buckets}")
    spark = docs.sparkSession
    _clear_store_extras(path)
    toks = docs.select(
        F.col(id_col).alias("doc_id"), _toks(F.col(text_col)).alias("_t")
    )
    postings = (
        toks.select(
            "doc_id",
            F.size("_t").cast("long").alias("dl"),
            F.explode("_t").alias("term"),
        )
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    postings = _term_buckets(postings, n_buckets)
    postings.write.mode("overwrite").partitionBy("tbucket").parquet(
        f"{path}/postings"
    )
    # Zero-postings corpora (empty, or every doc tokenizes to nothing)
    # are a real edge (ADVICE r15): a zero-row PARTITIONED write leaves
    # no readable parquet behind, so the read-back below would fail
    # with UNABLE_TO_INFER_SCHEMA — and in the streaming loop a
    # token-less micro-batch would be a poison batch (crash, replay,
    # crash).  Detect the empty write from the written dir (no
    # tbucket=* partition dirs — a local listing, no extra Spark job)
    # and replace it with an explicit-schema FLAT zero-row file, which
    # reads back fine (tbucket rides as a normal column, so every
    # downstream filter/union is shape-identical).
    import os as _os

    wrote_rows = any(
        name.startswith("tbucket=")
        for name in _os.listdir(_strip_file_scheme(f"{path}/postings"))
    )
    if not wrote_rows:
        postings.limit(0).write.mode("overwrite").parquet(f"{path}/postings")
        (
            postings.limit(0)
            .groupBy("term", "tbucket")
            .agg(F.count(F.lit(1)).alias("df"))
            .write.mode("overwrite")
            .parquet(f"{path}/dfreq")
        )
        n_total, s_total = docs.count(), 0
        local_df(
            spark, [(int(n_total), 0, n_buckets)], "n long, s long, n_buckets int"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")
        return bm25_index_stats(spark, path)
    written = spark.read.parquet(f"{path}/postings")
    dfreq = written.groupBy("term", "tbucket").agg(
        F.count(F.lit(1)).alias("df")
    )
    dfreq.write.mode("overwrite").partitionBy("tbucket").parquet(
        f"{path}/dfreq"
    )
    # corpus stats without a second tokenize pass: N is a column-pruned
    # count of the raw corpus (docs whose text tokenizes to NOTHING have
    # no postings rows but DO count toward N in bm25_topk), and Σdl
    # reduces from the written postings (empty docs contribute 0 tokens)
    n_total = docs.count()
    s_total = (
        written.groupBy("doc_id")
        .agg(F.first("dl").alias("dl"))
        .agg(F.coalesce(F.sum("dl"), F.lit(0)))
        .first()[0]
    )
    local_df(
        spark, [(int(n_total), int(s_total), n_buckets)],
        "n long, s long, n_buckets int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")
    return bm25_index_stats(spark, path)


def _bm25_read(spark, path: str, comp: str) -> DataFrame:
    """Component read with the one-retry swap-window guard shared with
    the IVF index family."""
    from rhq_metrics_spark.pipelines.similarity import _read_index_component

    return _read_index_component(spark, path, comp)


# ---------------------------------------------------------------------------
# Store model (r16): a BM25 index path is a STORE — root components
# (``postings/ dfreq/ stats/``, optional), committed PIECE dirs
# (``batch-N`` from the streaming loop, ``append-<id>`` from
# :func:`bm25_append`, ``fold-<id>`` from consolidation — each a full
# mini bm25_index whose commit marker is ``stats/_SUCCESS``, written
# last), an optional append-only ``tombstones/`` table (retraction,
# :func:`bm25_delete`), and an optional ``_manifests/`` CAS log
# (``sources/manifest.py`` backends) whose committed state lists the
# live piece set.  Pieces hold DISJOINT documents, so df counts and
# corpus stats ADD and postings concatenate — one exact-merge algebra
# shared by every serving leg.  Readers resolve ONE manifest version
# (or fall back to a marker-gated directory listing on legacy stores),
# which makes consolidation atomic: the fold publishes a new piece +
# manifest commit and never rewrites the root, so a racing reader sees
# the old piece set or the new one, never both (the r15 double-count
# window).  Superseded piece dirs are vacuumed only when no RETAINED
# manifest version references them (the Iceberg snapshot-retention
# pattern), so in-flight readers keep working through a fold.
# Maintenance mutations (renames, vacuums) assume a locally-mounted
# store path, like the rest of the index family; serving is plain
# Spark reads on any filesystem.

_PIECE_PREFIXES = ("batch-", "append-", "fold-")
_MANIFEST_RETAIN = 2


def _strip_file_scheme(p: str) -> str:
    return p[len("file:"):] if p.startswith("file:") else p


def _clear_store_extras(path: str) -> None:
    """Fresh-build overwrite semantics for :func:`bm25_index`: drop
    any store extras (piece dirs, tombstones, manifest log) left at
    the target path so a rebuilt-from-scratch index never serves
    stale sources.  A no-op on virgin paths and on piece dirs
    themselves (pieces contain none of these)."""
    import shutil
    from pathlib import Path

    base = Path(_strip_file_scheme(path))
    if not base.is_dir():
        return
    for child in base.iterdir():
        if child.name in ("tombstones", "_manifests") or (
            child.is_dir() and child.name.startswith(_PIECE_PREFIXES)
        ):
            shutil.rmtree(child, ignore_errors=True)


def _manifest_log(path: str):
    from pathlib import Path

    from rhq_metrics_spark.sources.manifest import ManifestLog, PosixBackend

    return ManifestLog(
        backend=PosixBackend(Path(_strip_file_scheme(path)) / "_manifests")
    )


def _has_manifest(path: str) -> bool:
    log = _manifest_log(path)
    return bool(log._versions())


def _hfs(spark, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _fs_list_pieces(spark, path: str) -> list[str]:
    """Marker-gated directory listing of committed piece NAMES — the
    legacy resolution path (pre-manifest stores) and the seed for the
    first manifest commit.  Hadoop FileSystem listing, not os.listdir —
    serving must work on whatever filesystem Spark is configured for
    (the near-dup twin's ADVICE-r8 lesson)."""
    jvm, fs = _hfs(spark, path)
    root = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not st.isDirectory():
            continue
        if not name.startswith(_PIECE_PREFIXES):
            continue
        if name.startswith("batch-"):
            try:
                int(name.split("-", 1)[1])
            except ValueError:
                continue
        marker = jvm.org.apache.hadoop.fs.Path(
            st.getPath(), "stats/_SUCCESS"
        )
        if fs.exists(marker):
            out.append(name)
    return sorted(out)


def _root_exists(spark, path: str) -> bool:
    """Root-index presence = its ``stats`` component exists — with ONE
    short-pause retry spanning the two-rename swap window of
    ``bm25_rebuild`` (ADVICE r15: a bare exists racing the swap could
    transiently conclude the root is absent and silently serve results
    missing the entire root corpus)."""
    import time as _time

    jvm, fs = _hfs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(f"{path}/stats")
    if fs.exists(p):
        return True
    _time.sleep(0.05)
    return fs.exists(p)


def _resolve_sources(
    spark, path: str, before_batch: int | None = None
) -> list[str]:
    """The committed source set of a store: ``""`` for the root (when
    bootstrapped) plus piece names — ONE manifest resolution when the
    store has a manifest log, else the marker-gated listing.
    ``before_batch`` filters streaming pieces (``batch-N`` with
    ``N >= before_batch`` dropped) — a replay/debug knob; append and
    fold pieces are unaffected."""
    if _has_manifest(path):
        _, state = _manifest_log(path).current()
        pieces = list(state.get("pieces", []))
    else:
        pieces = _fs_list_pieces(spark, path)
    if before_batch is not None:
        kept = []
        for p in pieces:
            if p.startswith("batch-"):
                if int(p.split("-", 1)[1]) >= before_batch:
                    continue
            kept.append(p)
        pieces = kept
    out = [""] if _root_exists(spark, path) else []
    return out + sorted(pieces)


def _commit_pieces(
    spark,
    path: str,
    add: Sequence[str] = (),
    remove: Sequence[str] = (),
) -> None:
    """CAS-commit a piece-set change to the store manifest.  The first
    commit on a legacy store seeds the piece list from the marker-gated
    directory listing, so pre-manifest pieces migrate in.  A commit
    that changes nothing aborts (idempotent replays are no-ops)."""
    log = _manifest_log(path)
    removeset = set(remove)

    def mutate(state: dict) -> dict | None:
        cur = state.get("pieces")
        seeded = cur is None
        pieces = _fs_list_pieces(spark, path) if seeded else list(cur)
        new = [p for p in pieces if p not in removeset]
        for a in add:
            if a not in new:
                new.append(a)
        new = sorted(new)
        if not seeded and new == sorted(pieces):
            return None
        state["pieces"] = new
        return state

    log.commit(mutate)


def _vacuum_pieces(path: str) -> list[str]:
    """Drop manifest versions beyond the retention window and remove
    piece dirs referenced ONLY by the dropped versions.  A dir
    referenced by any retained version stays (in-flight readers hold a
    resolved manifest for at most one fold cycle); a dir referenced by
    NO version is never touched here (it may be an in-flight piece
    between its write and its manifest commit)."""
    import shutil
    from pathlib import Path

    log = _manifest_log(path)
    versions = log._versions()
    if len(versions) <= _MANIFEST_RETAIN:
        return []
    dropping, keeping = (
        versions[:-_MANIFEST_RETAIN],
        versions[-_MANIFEST_RETAIN:],
    )
    refs_drop: set[str] = set()
    refs_keep: set[str] = set()
    for v in dropping:
        refs_drop |= set(log.at(v)[1].get("pieces", []))
    for v in keeping:
        refs_keep |= set(log.at(v)[1].get("pieces", []))
    removable = sorted(refs_drop - refs_keep)
    base = Path(_strip_file_scheme(path))
    for name in removable:
        shutil.rmtree(base / name, ignore_errors=True)
    log.prune(keep=_MANIFEST_RETAIN)
    return removable


def _source_paths(path: str, sources: Sequence[str]) -> list[str]:
    return [path if s == "" else f"{path}/{s}" for s in sources]


def _local_component_rows(
    dirs: Sequence[str],
    columns: Sequence[str],
    require_bases: Sequence[str] = (),
) -> list[dict] | None:
    """Driver-side read of TINY parquet components via pyarrow — no
    Spark job, no executor round trip (serve-path metadata latency was
    dominated by job scheduling, not bytes).  The BM25 store contract
    is already posix-local (the manifest log runs on ``PosixBackend``),
    so a plain filesystem read is the same deployment assumption;
    non-posix URIs, components over the shared driver-read cap
    (:func:`rhq_metrics_spark.localrel.read_parquet_bounded`) or
    unreadable files return ``None`` and the caller falls back to the
    Spark read (which also owns the rename-swap retry semantics).

    ``require_bases``: each listed directory must EXIST or the read
    falls back — distinguishes "component legitimately has no rows for
    these partitions" (missing bucket subdir) from "component vanished
    mid-swap" (missing base dir), which must fail loudly via the Spark
    path instead of silently serving zero rows."""
    import glob as _glob
    import os as _os

    local_dirs = []
    for d in dirs:
        p = _strip_file_scheme(d)
        if "://" in p:
            return None
        local_dirs.append(p)
    for rb in require_bases:
        base = _strip_file_scheme(rb)
        if "://" in base or not _os.path.isdir(base):
            return None
    files = [
        f
        for d in local_dirs
        for f in sorted(_glob.glob(_os.path.join(d, "*.parquet")))
    ]
    try:
        tables = read_parquet_bounded(files, columns=list(columns))
    except Exception:  # noqa: BLE001 — any unreadable component (OSError,
        # pyarrow ArrowInvalid/ArrowIOError on a truncated or corrupt part
        # file, e.g. a store copied non-atomically) falls back to the Spark
        # path, which owns the retry semantics and fails loudly
        return None
    if tables is None:
        return None
    return [row for t in tables for row in t.to_pylist()]


def _read_stats_multi(spark, paths: Sequence[str]) -> DataFrame:
    full = [f"{p}/stats" for p in paths]
    try:
        df = spark.read.parquet(*full)
        df.schema
        return df
    except Exception:
        import time as _time

        _time.sleep(0.05)
        for f in full:
            spark.catalog.refreshByPath(f)
        return spark.read.parquet(*full)


def _store_counts(spark, path: str, paths: Sequence[str]) -> tuple:
    """(n_eff, s_eff, n_buckets, tombstone_rows) across the resolved
    sources: per-source stats ADD (disjoint docs), tombstones SUBTRACT
    (a tombstoned doc's ``dl`` was captured at delete time; token-less
    docs carry 0).  Tombstone rows come back as collected Rows — the
    takedown list is broadcast-bounded by contract (the tombstone dial
    forces a rebuild before it grows past that)."""
    # ONE collect: one stats row per source (bounded by piece count)
    rows = _read_stats_multi(spark, paths).collect()
    n_buckets_set = {int(r["n_buckets"]) for r in rows}
    if len(n_buckets_set) != 1:
        raise ValueError(
            f"bm25 store at {path}: sources disagree on n_buckets: "
            f"{sorted(n_buckets_set)} — rebuild with one fan-out"
        )
    n_total = sum(int(r["n"]) for r in rows)
    s_total = sum(int(r["s"]) for r in rows)
    tomb = _read_tombstone_rows(spark, path)
    t_n = len(tomb)
    t_s = sum(r["dl"] for r in tomb)
    return (
        n_total - t_n,
        s_total - t_s,
        n_buckets_set.pop(),
        tomb,
    )


def _local_tombstone_rows(path: str) -> list | None:
    """Driver-side twin of :func:`_read_tombstone_rows` for posix-local
    stores: a missing ``tombstones/`` dir is the (common) empty case;
    dedup keeps each doc_id's first row (re-deletes append duplicates
    carrying the same dl, so ordering is immaterial).  Returns ``None``
    when the path is not posix-local or unreadable."""
    import os as _os

    base = _strip_file_scheme(path)
    if "://" in base:
        return None
    tdir = _os.path.join(base, "tombstones")
    if not _os.path.isdir(tdir):
        return []
    raw = _local_component_rows([tdir], ["doc_id", "dl"])
    if raw is None:
        return None
    seen: dict = {}
    for r in raw:
        if r["doc_id"] not in seen:
            seen[r["doc_id"]] = r
    return list(seen.values())


def _read_tombstone_rows(spark, path: str) -> list:
    """Collected (doc_id, dl) tombstone rows, deduped by doc_id (a
    re-delete appends a duplicate row with the same dl).  The
    ``tombstones/`` table is append-only — deletes never remove or
    rewrite it (only ``bm25_rebuild`` clears it by superseding the
    whole store), so there is no swap window to retry across and a
    serve racing a delete applies a prefix of that delete's ids —
    each id's retraction is independently exact."""
    jvm, fs = _hfs(spark, path)
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(f"{path}/tombstones")):
        return []
    return (
        spark.read.parquet(f"{path}/tombstones")
        .groupBy("doc_id")
        .agg(F.first("dl").alias("dl"))
        .collect()
    )


#: above this many ids, literal IN-lists switch to broadcast
#: (anti/semi) joins: a 10k-literal predicate costs seconds of
#: Catalyst analysis PER CALL (measured in the r16 smoke: serve ×10
#: read 3.2 with a corpus-proportional takedown list, flat with the
#: join form), while a broadcast join of a driver-bounded id frame is
#: plan-size-constant.  Small lists keep the literal form — it pushes
#: into the parquet scan.
_IDLIST_ISIN_MAX = 64


def _drop_tombstoned(spark, hit: DataFrame, tomb: list) -> DataFrame:
    if not tomb:
        return hit
    if len(tomb) <= _IDLIST_ISIN_MAX:
        return hit.filter(
            ~F.col("doc_id").isin([int(r["doc_id"]) for r in tomb])
        )
    tdf = local_df(
        spark, [(int(r["doc_id"]),) for r in tomb], "doc_id long"
    )
    return hit.join(F.broadcast(tdf), "doc_id", "left_anti")


def bm25_index_stats(spark, path: str) -> dict:
    """Occupancy/staleness panel of a standing BM25 store: the
    EFFECTIVE corpus counts (per-source stats summed, tombstones
    subtracted) plus vocabulary / postings / piece / tombstone sizes.
    Count-aggs over the components — column-pruned scans, no term
    strings move.  ``n_terms`` is the distinct vocabulary across
    sources (vocab-bounded union), ``n_postings`` the resident postings
    rows INCLUDING tombstoned docs' rows (they still occupy the scan —
    that skew is exactly what ``tombstone_ppm`` dials)."""
    sources = _resolve_sources(spark, path)
    if not sources:
        raise FileNotFoundError(f"no bm25 index at {path}")
    paths = _source_paths(path, sources)
    n_eff, s_eff, n_buckets, tomb = _store_counts(spark, path, paths)
    dfreqs = [spark.read.parquet(f"{p}/dfreq").select("term") for p in paths]
    n_terms = _union_all(dfreqs).distinct().count()
    n_postings = sum(
        spark.read.parquet(f"{p}/postings").count() for p in paths
    )
    resident = n_eff + len(tomb)
    return {
        "n_docs": n_eff,
        "sum_dl": s_eff,
        "n_buckets": n_buckets,
        "n_terms": int(n_terms),
        "n_postings": int(n_postings),
        "n_pieces": len(sources) - (1 if sources[0] == "" else 0),
        "n_tombstones": len(tomb),
        "tombstone_ppm": (
            len(tomb) * 1_000_000 // resident if resident else 0
        ),
    }


def _union_all(frames: Sequence[DataFrame]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def bm25_refresh_recommended(
    stats: dict,
    corpus_docs: int,
    max_growth_ppm: int = 200_000,
    max_tombstone_ppm: int = 200_000,
) -> bool:
    """Staleness dial for the maintenance loop: recommend a rebuild
    when the live corpus has drifted more than ``max_growth_ppm``
    (default 20%) from the EFFECTIVE doc count the store serves — in
    EITHER direction (deletes invalidate df/avgdl too) — or when
    accumulated tombstones exceed ``max_tombstone_ppm`` of the
    resident rows (dead postings still occupy every serve scan and the
    tombstone list rides the driver; a rebuild bakes the retractions
    out).  Pure arithmetic on :func:`bm25_index_stats` output."""
    if stats.get("tombstone_ppm", 0) > max_tombstone_ppm:
        return True
    indexed = stats["n_docs"]
    if indexed == 0:
        return corpus_docs > 0
    drift = abs(corpus_docs - indexed) * 1_000_000 // indexed
    return drift > max_growth_ppm


def bm25_rebuild(
    spark,
    path: str,
    docs: DataFrame,
    n_buckets: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Re-build + atomically republish a standing BM25 store IN PLACE
    from the given corpus — the consequence of
    :func:`bm25_refresh_recommended`.  A rebuild SUPERSEDES the whole
    store: the fresh root publishes with the same two-rename
    committed-dir swap as ``ivf_rebuild`` (a reader racing the swap
    sees old, new, or — for the instant between renames — a missing
    component that :func:`_bm25_read` / :func:`_root_exists` retry
    across), the tombstone table is cleared (``docs`` IS the live
    corpus — retractions are baked out), and the piece set that was
    committed when the rebuild started is removed from the manifest
    and from disk (a piece committed by a CONCURRENT stream batch
    mid-rebuild survives — its docs were not in ``docs``; run rebuilds
    from the maintenance loop against a corpus snapshot that covers
    the folded pieces, the standing discipline).  Unlike
    consolidation (fold pieces, root untouched, race-free via the
    manifest), a rebuild rewrites the root in place, so the documented
    racing-reader caveat is scoped HERE — the rare, dial-driven
    maintenance event."""
    import os
    import shutil
    import uuid

    sources_before = _resolve_sources(spark, path)
    pieces_before = [s for s in sources_before if s]
    if n_buckets is None:
        if not sources_before:
            raise FileNotFoundError(f"no bm25 index at {path}")
        first = _source_paths(path, sources_before)[0]
        n_buckets = int(
            spark.read.parquet(f"{first}/stats").first()["n_buckets"]
        )
    staging = f"{path}/_rebuild-{uuid.uuid4().hex}"
    bm25_index(
        docs, staging, n_buckets=n_buckets, id_col=id_col, text_col=text_col
    )
    for comp in ("postings", "dfreq", "stats"):
        live = os.path.join(_strip_file_scheme(path), comp)
        trash = os.path.join(
            _strip_file_scheme(path), f"_trash-{uuid.uuid4().hex}"
        )
        if os.path.exists(live):
            os.rename(live, trash)
        os.rename(os.path.join(_strip_file_scheme(staging), comp), live)
        shutil.rmtree(trash, ignore_errors=True)
        spark.catalog.refreshByPath(live)
    shutil.rmtree(_strip_file_scheme(staging), ignore_errors=True)
    shutil.rmtree(
        os.path.join(_strip_file_scheme(path), "tombstones"),
        ignore_errors=True,
    )
    if pieces_before or _has_manifest(path):
        _commit_pieces(spark, path, remove=pieces_before)
        for p in pieces_before:
            shutil.rmtree(
                os.path.join(_strip_file_scheme(path), p), ignore_errors=True
            )
    return bm25_index_stats(spark, path)


def bm25_append(
    spark,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    append_id: str | None = None,
    check_overlap: bool = False,
) -> dict:
    """Incremental store maintenance: fold NEW documents into a
    standing BM25 store without re-tokenizing the resident corpus, as
    a committed PIECE — one tokenize pass over just the new rows
    builds a full mini-index at ``{path}/append-<id>`` (commit marker
    ``stats/_SUCCESS``, written last), then one CAS manifest commit
    publishes it.  Disjoint doc sets make the serve-time merge pure
    addition, so after append the store serves bit-identically to a
    from-scratch build over the concatenated corpus (pytest-pinned).

    Crash/retry semantics (ADVICE r15 — the previous in-place
    partition-append could leave postings counted in serving with
    stale stats, and a retry duplicated them): a crash before the
    manifest commit leaves an unreferenced piece dir (invisible
    garbage, reclaimed by the next rebuild); a retry with the SAME
    ``append_id`` overwrites its own piece and re-commits a no-op —
    the append CONVERGES instead of corrupting the store.  Pass a
    stable ``append_id`` when the caller may retry (job id, batch id);
    the default is a fresh random id.

    **Doc-id contract** (VERDICT r15 item 7): ``new_docs`` ids MUST be
    disjoint from every resident source — root, earlier appends, and
    streaming pieces INCLUDING ones already folded by
    ``bm25_consolidate`` (a consolidated stream store has no memory of
    which ids its folded batches used; reusing one double-counts that
    doc everywhere).  ``check_overlap=True`` verifies this with one
    postings-scan semi-join (column-pruned doc_ids only) and raises
    before anything is written — the scan costs a corpus read, so it
    is a guard you opt into, not a per-append tax.  The one blind spot
    either way: a resident doc whose text tokenized to NOTHING has no
    postings rows and cannot be detected — its id counts toward ``n``
    twice if reused (keep takedown/append id hygiene upstream, where
    the ids are minted).
    """
    import uuid

    sources = _resolve_sources(spark, path)
    if not sources:
        raise FileNotFoundError(f"no bm25 index at {path}")
    paths = _source_paths(path, sources)
    first_stats = _read_stats_multi(spark, paths[:1]).first()
    n_buckets = int(first_stats["n_buckets"])
    if check_overlap:
        new_ids = new_docs.select(
            F.col(id_col).cast("long").alias("doc_id")
        ).distinct()
        resident = _union_all(
            [spark.read.parquet(f"{p}/postings").select("doc_id") for p in paths]
        )
        clash = [
            r["doc_id"]
            for r in resident.join(F.broadcast(new_ids), "doc_id")
            .select("doc_id").distinct().limit(5).collect()
        ]
        if clash:
            raise ValueError(
                f"bm25_append: new doc ids overlap the resident corpus "
                f"(sample: {sorted(clash)}) — appends require disjoint "
                f"ids; use bm25_delete + rebuild to replace documents"
            )
    piece = f"append-{append_id if append_id is not None else uuid.uuid4().hex}"
    bm25_index(
        new_docs,
        f"{path}/{piece}",
        n_buckets=n_buckets,
        id_col=id_col,
        text_col=text_col,
    )
    _commit_pieces(spark, path, add=[piece])
    return bm25_index_stats(spark, path)


def bm25_delete(
    spark,
    path: str,
    doc_ids: Sequence[int],
) -> dict:
    """Retraction (VERDICT r15 item 2): serve the store as if
    ``doc_ids`` were never indexed, WITHOUT a rebuild — the
    takedown/decontamination flow (the metric-store precedent is
    ``store.py`` tenant/metric deletion).

    Mechanics: the disjoint-docs algebra runs in reverse as
    TOMBSTONES.  One column-pruned postings scan finds each id's doc
    length (token-less docs contribute 0 — ``dl`` is the token count,
    and a doc with no postings HAS none), and ``(doc_id, dl)`` rows
    append to the ``tombstones/`` table — append-only, never rewritten
    in place, so there is no swap window and a re-delete of the same
    id dedups at read time.  Serving subtracts the tombstone counts
    from N/Σdl and drops tombstoned rows from the pruned hit table
    (pushed ``NOT IN`` for small lists, broadcast anti-join past
    ``_IDLIST_ISIN_MAX`` — giant literal lists cost seconds of
    Catalyst analysis per call), so df, avgdl, and every score
    come out EXACTLY as a rebuild without those docs (pytest-pinned
    bit-identical).

    Contract: every id must be resident (an id never indexed would
    decrement ``n`` for a doc that was not counted); the takedown list
    is broadcast-bounded — accumulated tombstone skew (dead postings
    in every serve scan, the list riding the driver) is dialed by
    ``tombstone_ppm`` in :func:`bm25_index_stats`, and
    :func:`bm25_refresh_recommended` fires a rebuild (which bakes the
    retractions out and clears the table) when it passes
    ``max_tombstone_ppm``.
    """
    ids = sorted({int(i) for i in doc_ids})
    if not ids:
        return bm25_index_stats(spark, path)
    sources = _resolve_sources(spark, path)
    if not sources:
        raise FileNotFoundError(f"no bm25 index at {path}")
    paths = _source_paths(path, sources)
    already = {r["doc_id"] for r in _read_tombstone_rows(spark, path)}
    fresh = [i for i in ids if i not in already]
    if not fresh:
        return bm25_index_stats(spark, path)
    ids_df = local_df(spark, [(i,) for i in fresh], "doc_id long")
    resident = _union_all(
        [
            spark.read.parquet(f"{p}/postings").select("doc_id", "dl")
            for p in paths
        ]
    )
    if len(fresh) <= _IDLIST_ISIN_MAX:
        resident = resident.filter(F.col("doc_id").isin(fresh))
    else:
        resident = resident.join(F.broadcast(ids_df), "doc_id", "left_semi")
    found = resident.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    rows = (
        ids_df.join(found, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("dl"), F.lit(0)).alias("dl"))
    )
    rows.coalesce(1).write.mode("append").parquet(f"{path}/tombstones")
    spark.catalog.refreshByPath(f"{path}/tombstones")
    return bm25_index_stats(spark, path)


def bm25_against_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    k1_ppm: int = 1_200_000,
    b_ppm: int = 750_000,
    query_id_col: str = "query_id",
    query_col: str = "query",
    before_batch: int | None = None,
) -> DataFrame:
    """BM25 top-k per query served from a standing :func:`bm25_index`
    STORE — EXACTLY :func:`bm25_topk` over the store's effective
    corpus (every committed source, minus tombstones): same integer
    arithmetic, same exact log2 idf, bit-identical output
    (pytest-pinned), at postings cost instead of corpus cost.

    Plan shape at 100 TB: the distinct query terms resolve to their
    bucket ids in one tiny Spark job (same hash expression the build
    wrote — no driver-side hash reimplementation), and the collected
    literal lists drive BOTH a partition-pruning ``tbucket IN (…)``
    filter and a pushed ``term IN (…)`` row filter on EVERY source's
    postings read — the scan touches ≤ |distinct terms| partitions per
    source of a store that never rewrites per query.  Pieces hold
    disjoint docs, so the merged hit table still has one row per
    (term, doc) and the shared tail's countDistinct recomputes exactly
    the summed per-source dfs (the persisted dfreq components are not
    consulted at serve time — they remain the vocabulary artifacts the
    maintenance legs reduce from).  Tombstoned ids drop via a pushed
    ``NOT IN`` filter and their counts subtract from the persisted
    stats rows, so retractions serve exactly (see :func:`bm25_delete`).
    Everything after the reads is the bm25_topk candidate-sized tail.
    Per-query cost is (query terms' postings) × #sources — piece count
    is the serving dial, folded down by ``bm25_consolidate`` from the
    maintenance loop.
    """
    if k < 1:
        raise ValueError(f"bm25_against_index: k must be >= 1: {k}")
    if not 0 < k1_ppm <= 10_000_000:
        raise ValueError(
            f"bm25_against_index: k1_ppm out of (0, 1e7]: {k1_ppm}"
        )
    if not 0 <= b_ppm <= PPM:
        raise ValueError(f"bm25_against_index: b_ppm out of [0, 1e6]: {b_ppm}")
    c_sat = k1_ppm * (PPM - b_ppm) // PPM
    c_len = k1_ppm * b_ppm // PPM
    c_num = PPM + k1_ppm

    def _empty():
        return local_df(
            spark, [], "query_id long, doc_id long, score_fx long, rank int"
        )

    sources = _resolve_sources(spark, path, before_batch)
    if not sources:
        return _empty()
    paths = _source_paths(path, sources)
    # Metadata resolves DRIVER-side when the store is posix-local (r16
    # opt, guide §5): the per-source stats rows and the tombstone list
    # are a handful of tiny parquet rows, but reading them through a
    # Spark job cost ~0.7 s of scheduling per serve call at local[32].
    # pyarrow reads them in microseconds under the same deployment
    # assumption the manifest log already makes (PosixBackend).  The
    # ONE remaining metadata job tokenizes + xxhash64-hashes the query
    # batch — a LocalRelation-only job (no file reads), kept in Spark
    # so tokenization and the bucket hash stay the build's exact JVM
    # expressions.  Every source must yield its stats rows or the read
    # falls back to the fused Spark path (which owns the rename-swap
    # retry); bucket ids derive driver-side as hash mod n_buckets —
    # Python's % matches pmod for a positive modulus.  No .distinct()
    # exchange either: the query batch is bounded, dedup runs
    # driver-side, and qterms re-materializes as a LOCAL relation so
    # the scoring tail's broadcast needs no job and never re-runs the
    # tokenize subtree.
    per_src = [
        _local_component_rows([f"{p}/stats"], ["n", "s", "n_buckets"])
        for p in paths
    ]
    stat_rows: list | None = None
    tomb: list | None = None
    if all(per_src):
        stat_rows = [r for rs in per_src for r in rs]
        tomb = _local_tombstone_rows(path)
    if stat_rows is not None and tomb is not None:
        term_rows = (
            queries.select(
                F.col(query_id_col).alias("query_id"),
                F.explode(_toks(F.col(query_col))).alias("term"),
            )
            .withColumn("thash", F.xxhash64("term"))
            .collect()
        )
    else:
        # fused fallback: ONE map-only collect resolves the per-source
        # stats rows AND the tokenized query terms together
        stats_plan = _read_stats_multi(spark, paths).select(
            F.lit(0).alias("_k"),
            F.lit(None).cast("long").alias("query_id"),
            F.lit(None).cast("string").alias("term"),
            F.lit(None).cast("long").alias("thash"),
            F.col("n").cast("long").alias("n"),
            F.col("s").cast("long").alias("s"),
            F.col("n_buckets").cast("int").alias("n_buckets"),
        )
        term_plan = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(_toks(F.col(query_col))).alias("term"),
        ).select(
            F.lit(1).alias("_k"),
            "query_id",
            "term",
            F.xxhash64("term").alias("thash"),
            F.lit(None).cast("long").alias("n"),
            F.lit(None).cast("long").alias("s"),
            F.lit(None).cast("int").alias("n_buckets"),
        )
        rows = stats_plan.unionByName(term_plan).collect()
        stat_rows = [r for r in rows if r["_k"] == 0]
        term_rows = [r for r in rows if r["_k"] == 1]
        tomb = _read_tombstone_rows(spark, path)
    n_buckets_set = {int(r["n_buckets"]) for r in stat_rows}
    if len(n_buckets_set) != 1:
        raise ValueError(
            f"bm25 store at {path}: sources disagree on n_buckets: "
            f"{sorted(n_buckets_set)} — rebuild with one fan-out"
        )
    n_buckets = n_buckets_set.pop()
    n_eff = sum(int(r["n"]) for r in stat_rows) - len(tomb)
    s_eff = sum(int(r["s"]) for r in stat_rows) - sum(r["dl"] for r in tomb)
    pairs = sorted({(r["query_id"], r["term"]) for r in term_rows})
    terms = sorted({t for _, t in pairs})
    buckets = sorted({int(r["thash"]) % n_buckets for r in term_rows})
    if not terms:
        return _empty()
    qterms = local_df(spark, pairs, "query_id long, term string")
    # per-source reads unioned (NOT one multi-root read: partition
    # discovery needs a single basePath per root, and per-source reads
    # keep the tbucket partition prune on every source)
    hit = _union_all(
        [
            spark.read.parquet(f"{p}/postings")
            .filter(F.col("tbucket").isin(buckets))
            .filter(F.col("term").isin(terms))
            .select("term", "doc_id", "tf", F.col("dl").alias("_dl"))
            for p in paths
        ]
    )
    hit = _drop_tombstoned(spark, hit, tomb)
    # df from the persisted dfreq components when no tombstones are
    # resident (r16 opt): pieces hold disjoint docs, so per-term df is
    # the SUM of per-source dfs — |terms|·#sources rows read from the
    # bucket-pruned dfreq dirs instead of a second pruned-postings
    # scan (the df agg was ~1/3 of serve latency at sf0.1, and at
    # corpus scale it re-scanned the query terms' postings).  With
    # tombstones resident the exact countDistinct over the merged,
    # tombstone-dropped hit table stays (a tombstoned doc's term set
    # is not recorded, so persisted dfs cannot be corrected cheaply).
    df_rows = None
    if not tomb:
        # driver-side first (r16 opt): the query terms' dfreq slices
        # are |terms|·#sources rows inside the pruned bucket dirs —
        # pyarrow reads them without a Spark job.  Missing bucket
        # subdirs are legitimately empty; a missing dfreq BASE dir
        # (mid-swap) falls back to the Spark read, which fails loudly.
        raw = _local_component_rows(
            [f"{p}/dfreq/tbucket={b}" for p in paths for b in buckets],
            ["term", "df"],
            require_bases=[f"{p}/dfreq" for p in paths],
        )
        if raw is not None:
            tset = set(terms)
            agg: dict[str, int] = {}
            for r in raw:
                if r["term"] in tset:
                    agg[r["term"]] = agg.get(r["term"], 0) + int(r["df"])
            df_rows = [{"term": t, "_df": v} for t, v in sorted(agg.items())]
        else:
            df_rows = (
                _union_all(
                    [
                        spark.read.parquet(f"{p}/dfreq")
                        .filter(F.col("tbucket").isin(buckets))
                        .filter(F.col("term").isin(terms))
                        .select("term", "df")
                        for p in paths
                    ]
                )
                .groupBy("term")
                .agg(F.sum("df").alias("_df"))
                .collect()
            )
    return _score_hits(
        hit, qterms, n_eff, s_eff, k, c_sat, c_len, c_num,
        df_rows=df_rows,
        repartition_by_query=True,
    )
