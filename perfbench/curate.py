"""Corpus curation (the LLM-data batch path), probed by lake_serve's
traced run on the served corpus.

One pass over the generated corpus runs
  1. ``q_corpus_curated_star``: exact dedup -> Gopher -> MinHash star
     clusters -> domain cap,
  2. BPE document token counts (``operators.bpe``) on the survivors,
  3. ``operators.similarity.semdedup_pairs`` on the survivors'
     embeddings.
The curated set must hash-match the query's DuckDB oracle; semdedup
must reach ``RECALL_FLOOR`` of the exact all-pairs cosine pairs.

The traced pass runs the same query with hooks on the engine's module
functions that force each stage's output before the next stage runs,
so a span times the stage's work, not its plan construction.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

import spans
from checks import frame_hash

SEMDEDUP_THRESHOLD = 0.95
SEMDEDUP_SEEDS = 16
RECALL_FLOOR = 0.9
BPE_MERGES = 64


class Curator:
    """The corpus in ``sf`` (``documents``/``embeddings``) and what a
    pass needs; ``oracle`` is the (rows, hash) of the curated set's
    DuckDB oracle."""

    def __init__(self, spark, sf: str, oracle: tuple[int, str]) -> None:
        from data_engineering_spark.catalog import load_table
        from data_engineering_spark.operators.bpe import bpe_merge_loop

        self.spark = spark
        self.sf = sf
        self.oracle = oracle
        docs = pq.read_table(os.path.join(self.sf, "documents.parquet"))
        freqs = Counter(w for t in docs.column("text").to_pylist() for w in t.split())
        self.merges = bpe_merge_loop(sorted(freqs.items()), BPE_MERGES)
        emb = pq.read_table(os.path.join(self.sf, "embeddings.parquet"))
        self.vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
        self.docs = load_table(spark, self.sf, "documents")
        self.emb = load_table(spark, self.sf, "embeddings")

    def downstream(self, curated, tr=None):
        """Steps 2 and 3 on the curated survivors; returns the
        semdedup pairs (pandas) and the survivor ids."""
        from data_engineering_spark.operators.bpe import bpe_doc_token_counts
        from data_engineering_spark.operators.similarity import semdedup_pairs

        ids = sorted(int(x) for x in curated["doc_id"])
        keep = self.spark.createDataFrame([(i,) for i in ids], "doc_id long")
        step = max(len(ids) // SEMDEDUP_SEEDS, 1)
        seeds = ids[::step][:SEMDEDUP_SEEDS]
        with spans.maybe(tr, "operators.bpe.token_counts"):
            bpe_doc_token_counts(
                self.docs.join(keep, "doc_id", "left_semi"), self.merges
            ).write.format("noop").mode("overwrite").save()
        with spans.maybe(tr, "operators.similarity.semdedup") as sp:
            pairs = semdedup_pairs(
                self.emb.join(
                    keep.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left_semi"
                ),
                seeds, SEMDEDUP_THRESHOLD,
            ).select("id_a", "id_b").toPandas()
        if sp is not None:
            sp["counts"] = {"candidate_pairs": _bucket_pairs(self, ids, seeds),
                            "kept_pairs": len(pairs)}
        return pairs, ids

    def verdict(self, curated, pairs, ids) -> tuple[bool, bool, dict]:
        """(curated set matches the oracle, semdedup recall >= floor,
        detail)."""
        cur_ok = frame_hash(curated) == self.oracle
        V = self.vecs[ids].astype(np.float64)
        V /= np.linalg.norm(V, axis=1, keepdims=True)
        S = V @ V.T
        ii, jj = np.nonzero(np.triu(S >= SEMDEDUP_THRESHOLD, k=1))
        arr = np.array(ids)
        exact = set(zip(arr[ii].tolist(), arr[jj].tolist()))
        found = set(zip(pairs["id_a"].tolist(), pairs["id_b"].tolist()))
        recall = len(exact & found) / len(exact) if exact else 0.0
        return cur_ok, recall >= RECALL_FLOOR, {
            "curated": len(curated), "exact_pairs": len(exact),
            "found_pairs": len(found), "recall": recall,
        }


def _bucket_pairs(c: Curator, ids: list[int], seeds: list[int]) -> int:
    """Pairs semdedup scores: sum of n*(n-1)/2 over its nearest-seed
    buckets (inner-product assignment, as the operator does)."""
    V = c.vecs[ids].astype(np.float64)
    S = c.vecs[seeds].astype(np.float64)
    bucket = np.argmax(V @ S.T, axis=1)
    n = np.bincount(bucket)
    return int((n * (n - 1) // 2).sum())


def one_pass(c: Curator):
    from data_engineering_spark.queries import QUERIES

    curated = QUERIES["q_corpus_curated_star"](c.spark, c.sf).toPandas()
    pairs, ids = c.downstream(curated)
    return curated, pairs, ids


def traced_pass(c: Curator, tr: spans.Tracer) -> None:
    """One traced pass: ``q_corpus_curated_star`` as the engine composes
    it, with hooks on the module functions it calls. Each hook forces
    its stage's output (persist + count) inside the stage's span, so a
    span times the stage's work rather than its plan construction, and
    the next stage reads the forced output. The session's cache is
    cleared first (an earlier pass leaves the funnel's persisted frames
    behind, which would serve this pass) and after."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from data_engineering_spark.operators import curation, graph, minhash
    from data_engineering_spark.queries import QUERIES

    def force(df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        return df, df.count()

    def wrap_exact(orig):
        def dedup_exact(df, *a, **kw):
            n_in = df.count()
            with tr.span("operators.dedup.exact") as sp:
                out, n = force(orig(df, *a, **kw))
                sp["counts"] = {"rows_in": n_in, "rows_out": n}
            return out
        return dedup_exact

    def wrap_gopher(orig):
        def gopher_metrics(df, *a, **kw):
            with tr.span("operators.filters.gopher") as sp:
                out, n = force(orig(df, *a, **kw))
                sp["counts"] = {"rows_in": n,
                                "rows_out": out.filter(F.col("keep")).count()}
            return out
        return gopher_metrics

    def wrap_bands(orig):
        def _shingle_sets_and_bands(docs, *a, **kw):
            docs.count()  # the quality survivors, forced before the span
            with tr.span("operators.minhash.bands"):
                docsets, bands = orig(docs, *a, **kw)
                bands.count()
            return docsets, bands
        return _shingle_sets_and_bands

    def wrap_star(orig):
        def star_edges(bands):
            with tr.span("operators.minhash.star_edges") as sp:
                out, n = force(orig(bands))
                sp["counts"] = {"candidate_pairs": n}
            return out
        return star_edges

    def wrap_cc(orig):
        def connected_components(edges, *a, **kw):
            # the edges arrive as the verify join over the star edges
            with tr.span("operators.minhash.verify") as sp:
                edges, n = force(edges)
                sp["counts"] = {"verified_pairs": n}
            ckpts = {"n": 0}

            def counting(orig_ckpt):
                def localCheckpoint(self, *a, **kw):
                    ckpts["n"] += 1
                    return orig_ckpt(self, *a, **kw)
                return localCheckpoint

            with tr.span("operators.graph.cc") as sp, \
                    spans.patched(type(edges), "localCheckpoint", counting):
                out, _ = force(orig(edges, *a, **kw))
            # edge and initial-label checkpoints, then one per round
            sp["counts"] = {"rounds": ckpts["n"] - 2}
            return out
        return connected_components

    def wrap_cap(orig):
        def cap_per_group(df, *a, **kw):
            # the input is the canonical-member window over the clusters
            with tr.span("operators.filters.cap"):
                out, _ = force(orig(df, *a, **kw))
            return out
        return cap_per_group

    c.spark.catalog.clearCache()
    with tr.span("curate.pass", op=0):
        with spans.patched(curation, "dedup_exact", wrap_exact), \
                spans.patched(curation, "gopher_metrics", wrap_gopher), \
                spans.patched(curation, "cap_per_group", wrap_cap), \
                spans.patched(minhash, "_shingle_sets_and_bands", wrap_bands), \
                spans.patched(minhash, "star_edges", wrap_star), \
                spans.patched(graph, "connected_components", wrap_cc):
            curated = QUERIES["q_corpus_curated_star"](c.spark, c.sf).toPandas()
        c.downstream(curated, tr)
    c.spark.catalog.clearCache()


def layer_metrics(tr: spans.Tracer, r) -> None:
    """Per-layer metrics of one traced pass (a tracer of its own)."""
    selfs = tr.self_times()
    by = {s["name"]: s for s in tr.spans}  # one traced pass: one span each

    def dur(name: str) -> float:
        return by[name]["end"] - by[name]["start"]

    def cnt(name: str, key: str) -> float:
        return by[name]["counts"][key]

    r.metric("operators.dedup.exact_s", dur("operators.dedup.exact"), "s")
    r.metric("operators.dedup.exact_rows_out_per_in",
             cnt("operators.dedup.exact", "rows_out")
             / cnt("operators.dedup.exact", "rows_in"), "ratio")
    r.metric("operators.filters.gopher_s", dur("operators.filters.gopher"), "s")
    r.metric("operators.filters.keep_ratio",
             cnt("operators.filters.gopher", "rows_out")
             / cnt("operators.filters.gopher", "rows_in"), "ratio")
    r.metric("operators.minhash.bands_s", dur("operators.minhash.bands"), "s")
    r.metric("operators.minhash.star_edges_s", dur("operators.minhash.star_edges"), "s")
    r.metric("operators.minhash.candidate_pairs",
             cnt("operators.minhash.star_edges", "candidate_pairs"), "count")
    r.metric("operators.minhash.verified_pairs",
             cnt("operators.minhash.verify", "verified_pairs"), "count")
    r.metric("operators.graph.cc_s", dur("operators.graph.cc"), "s")
    r.metric("operators.graph.cc_rounds", cnt("operators.graph.cc", "rounds"), "count")
    r.metric("operators.bpe.token_counts_s", dur("operators.bpe.token_counts"), "s")
    r.metric("operators.similarity.semdedup_s", dur("operators.similarity.semdedup"), "s")
    r.metric("operators.similarity.candidate_pairs",
             cnt("operators.similarity.semdedup", "candidate_pairs"), "count")
    r.metric("operators.similarity.kept_pairs",
             cnt("operators.similarity.semdedup", "kept_pairs"), "count")
    for name, s in by.items():
        r.metric(f"{name}.self_s", selfs[s["id"]], "s")
    r.extra["curate_spans"] = tr.records()


def record(r, c: Curator, out) -> None:
    """Check one pass's outputs; a failure counts as a failed op."""
    cur_ok, rec_ok, detail = c.verdict(*out)
    r.check("curate.curated_matches_oracle", cur_ok, detail)
    r.check("curate.semdedup_recall", rec_ok, detail)
