"""Seeded document corpus for the ``pipelines`` layer of traced runs.

A small corpus of random-token documents with planted structure whose
answers are known from the seed alone:

- exact groups: a document plus copies that differ only in case and
  whitespace, which ``exact_dedup`` must collapse to the smallest id;
- near-duplicate pairs: a document plus a copy with one token replaced
  (word 3-shingle Jaccard about 0.85), which ``minhash_lsh_pairs`` must
  find and ``dup_clusters`` must join;
- query targets: documents carrying a marker token no other document
  has, so each 16-query BM25 batch has a known top-1 per query.

Random documents share almost no 3-shingles (20k-token vocabulary), so
the planted pairs are the only pairs above the threshold.
"""

from __future__ import annotations

import hashlib

import numpy as np

N_BASE = 2000  # random documents; the planted copies come on top
DOC_TOKENS = 40
VOCAB = 20_000
EXACT_GROUPS = 40  # each: the original plus two reformatted copies
NEAR_PAIRS = 40  # each: the original plus one copy, one token replaced
N_QUERIES = 16
SHINGLE_N = 3
NUM_HASHES = 64  # 16 bands of 4 rows: a planted pair is missed with p < 1e-5
BANDS = 16
THRESHOLD = 0.5


def shingles(text: str) -> set[str]:
    toks = " ".join(text.split()).lower().split(" ")
    return {" ".join(toks[i:i + SHINGLE_N]) for i in range(len(toks) - SHINGLE_N + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


class Corpus:
    """Documents ``(doc_id, text)``, queries ``(query_id, query)`` and the
    answers the pipelines must give on them."""

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 2])
        toks = rng.integers(0, VOCAB, (N_BASE, DOC_TOKENS))
        base = [" ".join(f"t{t}" for t in row) for row in toks]
        # disjoint roles among the base documents
        roles = rng.permutation(N_BASE)
        exact_src = roles[:EXACT_GROUPS]
        near_src = roles[EXACT_GROUPS:EXACT_GROUPS + NEAR_PAIRS]
        targets = roles[EXACT_GROUPS + NEAR_PAIRS:
                        EXACT_GROUPS + NEAR_PAIRS + N_QUERIES]
        for k, d in enumerate(targets):
            base[d] = f"marker{k} " + base[d]
        docs = list(enumerate(base))
        next_id = N_BASE
        for d in exact_src:
            for variant in (base[d].upper(), "  " + base[d].replace(" ", "   ") + " "):
                docs.append((next_id, variant))
                next_id += 1
        self.near_pairs = []
        for d in near_src:
            words = base[d].split(" ")
            pos = int(rng.integers(SHINGLE_N, DOC_TOKENS - SHINGLE_N))
            words[pos] = f"x{int(rng.integers(VOCAB))}"
            docs.append((next_id, " ".join(words)))
            self.near_pairs.append((int(d), next_id))
            next_id += 1
        self.docs = docs
        self.queries = []
        self.query_target = {}
        for k, d in enumerate(targets):
            words = base[d].split(" ")[1:]
            picks = rng.choice(len(words), 2, replace=False)
            self.queries.append((k, " ".join([f"marker{k}"] + [words[i] for i in picks])))
            self.query_target[k] = int(d)
        # what the pipeline must return
        self.n_after_exact = N_BASE + NEAR_PAIRS
        self.pair_jaccard = {p: jaccard(dict(docs)[p[0]], dict(docs)[p[1]])
                             for p in self.near_pairs}
        self.n_clusters = self.n_after_exact - NEAR_PAIRS

    def digest(self) -> str:
        h = hashlib.sha256()
        for i, text in self.docs:
            h.update(f"{i}\t{text}\n".encode())
        for i, q in self.queries:
            h.update(f"{i}\t{q}\n".encode())
        return h.hexdigest()[:16]


def run_pipelines(spark, corpus: Corpus, index_dir: str, timer) -> tuple[dict, list[str]]:
    """One exact -> LSH -> clusters pass over the corpus and one BM25
    batch against the standing index at ``index_dir`` (built by
    :func:`build_index`).  ``timer(stage)`` is a context manager timing
    each stage.  Returns the pass's exact counts and the list of
    mismatches against the corpus's known answers (empty when correct).
    """
    from rhq_metrics_spark.pipelines import (
        dup_clusters, exact_dedup, minhash_lsh_pairs)
    from rhq_metrics_spark.pipelines.retrieval import bm25_against_index

    errors = []
    docs = spark.createDataFrame(corpus.docs, "doc_id long, text string")
    with timer("exact"):
        kept = exact_dedup(docs).localCheckpoint(eager=True)
        n_kept = kept.count()
    if n_kept != corpus.n_after_exact:
        errors.append(f"exact_dedup kept {n_kept}, expected {corpus.n_after_exact}")
    with timer("lsh"):
        pairs = minhash_lsh_pairs(kept, n=SHINGLE_N, num_hashes=NUM_HASHES,
                                  bands=BANDS, threshold=THRESHOLD).collect()
    got = {tuple(sorted((r["id_a"], r["id_b"]))): r["jaccard"] for r in pairs}
    if set(got) != set(corpus.pair_jaccard):
        errors.append(f"minhash_lsh_pairs found {len(got)} pairs, expected "
                      f"{len(corpus.pair_jaccard)} planted ones")
    elif any(abs(got[p] - j) > 1e-12 for p, j in corpus.pair_jaccard.items()):
        errors.append("minhash_lsh_pairs jaccard differs from the oracle")
    with timer("clusters"):
        edges = spark.createDataFrame(list(got), "id_a long, id_b long")
        labels = dup_clusters(kept.select("doc_id"), edges).collect()
    cluster = {r["doc_id"]: r["cluster_id"] for r in labels}
    if len(set(cluster.values())) != corpus.n_clusters or any(
            cluster.get(a) != a or cluster.get(b) != a for a, b in corpus.near_pairs):
        errors.append("dup_clusters did not join exactly the planted pairs")
    queries = spark.createDataFrame(corpus.queries, "query_id long, query string")
    with timer("bm25"):
        hits = bm25_against_index(spark, index_dir, queries, k=1).collect()
    top1 = {r["query_id"]: r["doc_id"] for r in hits if r["rank"] == 1}
    if top1 != corpus.query_target:
        errors.append("bm25_against_index top-1 is not each query's target")
    return {"pairs": len(got), "kept": n_kept}, errors


def build_index(spark, corpus: Corpus, index_dir: str) -> None:
    """Standing BM25 index over the corpus, plus one warm-up batch."""
    from rhq_metrics_spark.pipelines.retrieval import bm25_against_index, bm25_index

    docs = spark.createDataFrame(corpus.docs, "doc_id long, text string")
    bm25_index(docs, index_dir)
    queries = spark.createDataFrame(corpus.queries, "query_id long, query string")
    bm25_against_index(spark, index_dir, queries, k=1).collect()
