"""lake_serve: the read path against what cdc_stream writes.

Set-up builds a lake from the same change-log generator (through the
same ``CdcEngine``) and a prebuilt IVF-PQ index artifact over the
corpus embeddings (the vectors, coarse centroids, PQ codebooks and the
encoded vectors, written to parquet and read back). Then one
closed-loop client sends the seeded request script:
``MergeTable.lookup`` key batches, the four named analytical queries,
``ivf_pq_topk`` refine top-k and ``q_doc_hybrid_rrf``. Every response
is checked after its timed interval. The traced run also probes the
corpus-curation layers on the same corpus (curate.py).
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import curate
import gen
import spans
from checks import (
    TABLE_COLUMNS,
    connect,
    frame_hash,
    oracle_hash,
    register_tables,
    replay,
)
from stats import percentile

LAKE_BATCH_FILES = 4
IVF_CLUSTERS = 16
TOPK_K = 10
TOPK_PROBE = 8
RECALL_FLOOR = 0.8  # mean recall@10 of IVF-PQ refine vs exact cosine
TRACE_REQUESTS = 18  # the script's first 18: every request type
QUERY_ID_BASE = 10_000_000  # top-k query ids never collide with corpus ids


def _references(batches, sf: str, curated: bool) -> tuple:
    """Independent answers to check against, computed with DuckDB in a
    set-up thread beside the engine's own set-up: expected lake rows
    (last-write-wins replay of the change log) and the oracle hashes of
    the named queries and, when ``curated`` (the traced run's curation
    probe), of the curated corpus, whose oracle takes ~8 s."""
    from data_engineering_spark.queries import ORACLES

    con = connect()
    try:
        expected = {}
        for name in TABLE_COLUMNS:
            want = replay(con, batches, name)
            expected[name] = want.set_index(TABLE_COLUMNS[name][:3], drop=False)
        register_tables(con, sf)
        oracles = {
            q: oracle_hash(con, ORACLES[q])
            for q in (*gen.SCAN_QUERIES, "q_doc_hybrid_rrf")
            + (("q_corpus_curated_star",) if curated else ())
        }
    finally:
        con.close()
    return expected, oracles


def _exact_topk(X: np.ndarray, qv: np.ndarray) -> dict[int, set]:
    """Exact cosine top-k (numpy, float64) of every seeded query over
    the corpus vectors (row i is vec_id i)."""
    U = X / np.linalg.norm(X, axis=1, keepdims=True)
    exact = {}
    for b in range(qv.shape[0]):
        Q = qv[b].astype(np.float64)
        S = (Q / np.linalg.norm(Q, axis=1, keepdims=True)) @ U.T
        for i in range(len(Q)):
            top = np.argsort(-S[i], kind="stable")[:TOPK_K]
            exact[QUERY_ID_BASE + b * 100 + i] = set(top.tolist())
    return exact


class Server:
    """Everything a request needs, built once at set-up: the lake (the
    change log through ``CdcEngine``) and the prebuilt IVF-PQ index."""

    def __init__(self, r) -> None:
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq
        from tests.cdc_fixtures import ENVELOPE_SCHEMA

        from data_engineering_spark.cdc.pipeline import CdcEngine, LakeConfig

        spark = self.spark = r.spark
        self.sf = os.path.join(r.inputs, "tables")
        self.script = r.info["requests"]
        src = os.path.join(r.inputs, "serve_changelog")
        files = r.info["serve_changelog"]["files"]
        batches = [
            [os.path.join(src, f) for f in files[i:i + LAKE_BATCH_FILES]]
            for i in range(0, len(files), LAKE_BATCH_FILES)
        ]
        self.qvecs = np.load(os.path.join(r.inputs, "topk_queries.npy"))

        with ThreadPoolExecutor(max_workers=1) as pool:
            refs = pool.submit(_references, batches, self.sf, r.trace)
            self.engine = CdcEngine(
                spark, LakeConfig(root=os.path.join(r.work, "lake"))
            )
            for paths in batches:
                self.engine.process_batch(
                    spark.read.schema(ENVELOPE_SCHEMA).parquet(*paths)
                )
            self.columns = {
                n: set(t.read().columns) for n, t in self.engine.tables.items()
            }
            self.expected, self.oracles = refs.result()
        r.step("lake")

        if r.trace:
            # the corpus-curation layers: probed by the traced run only
            # (a checked warm pass, then a traced one), to keep untraced runs
            # inside the benchmark's time budget
            c = curate.Curator(spark, self.sf, self.oracles["q_corpus_curated_star"])
            curate.record(r, c, curate.one_pass(c))
            tr = spans.Tracer(spark)
            curate.traced_pass(c, tr)
            tr.attribute_spark()
            curate.layer_metrics(tr, r)
            r.step("curate")
        X = np.stack(
            pq.read_table(os.path.join(self.sf, "embeddings.parquet"))
            .column("embedding").to_numpy(zero_copy_only=False)
        ).astype(np.float64)
        self._build_index(r, X)
        r.step("index")

    def _build_index(self, r, X: np.ndarray) -> None:
        """The prebuilt IVF-PQ artifact over the corpus vectors ``X``:
        quantizers trained in this process with the engine's numpy k-means,
        vectors encoded by the engine, all written to parquet and read
        back."""
        from pyspark.sql import functions as F

        from data_engineering_spark.catalog import load_table
        from data_engineering_spark.operators.pq import (
            _lloyd,
            build_ivf_pq_index,
            codebook_frame,
            pq_train_matrix,
        )

        spark = self.spark
        idx = os.path.join(r.work, "ivfpq")
        self.e = load_table(spark, self.sf, "embeddings")
        C = _lloyd(X, IVF_CLUSTERS, 15, np.random.default_rng(r.seed))
        cents_df = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(C)],
            "cluster int, centroid array<double>",
        )
        cb_df = codebook_frame(spark, pq_train_matrix(X, 16, 64, r.seed))
        cents, cb, enc = build_ivf_pq_index(
            self.e, n_clusters=IVF_CLUSTERS, m=16, k_codes=64, seed=r.seed,
            centroids_df=cents_df, codebooks=cb_df,
        )
        cents.write.parquet(f"{idx}/centroids")
        cb.write.parquet(f"{idx}/codebooks")
        enc.write.partitionBy("__cluster").parquet(f"{idx}/encoded")
        self.cents = spark.read.parquet(f"{idx}/centroids")
        self.cb = spark.read.parquet(f"{idx}/codebooks")
        self.encoded = spark.read.parquet(f"{idx}/encoded").withColumn(
            "__cluster", F.col("__cluster").cast("int")
        )
        self.cent_matrix = C
        sizes = dict(self.encoded.groupBy("__cluster").count().collect())
        self.cluster_sizes = np.array([sizes.get(i, 0) for i in range(len(C))])
        self.qframes = [
            spark.createDataFrame(
                [(QUERY_ID_BASE + b * 100 + i, [float(x) for x in q])
                 for i, q in enumerate(self.qvecs[b])],
                "vec_id long, embedding array<float>",
            )
            for b in range(self.qvecs.shape[0])
        ]
        self.exact = _exact_topk(X, self.qvecs)

    # -- requests: each returns a check verdict computed after timing --

    def lookup(self, req: dict, tr=None):
        from pyspark.sql import functions as F

        name = req["table"]
        mt = self.engine.tables[name]
        want = self.expected[name]
        keys = [
            tuple(int(x) for x in want.index[int(d * len(want))])
            for d in req["key_draws"]
        ]
        key_cols = TABLE_COLUMNS[name][:3]
        kdf = self.spark.createDataFrame(
            keys, f"{key_cols[0]} int, {key_cols[1]} int, {key_cols[2]} long"
        )
        cols = [
            F.unix_millis("created_at").alias(c) if c == "created_at_ms"
            else F.col(c) if c in self.columns[name]
            else F.lit(None).cast("string").alias(c)
            for c in TABLE_COLUMNS[name]
        ]
        with spans.maybe(tr, "operators.merge.lookup") as sp:
            got = mt.lookup(kdf).select(*cols).toPandas()
        if sp is not None:
            sp["counts"] = {"keys": len(set(keys))}
        return lambda: frame_hash(got) == frame_hash(
            want.loc[sorted(set(keys))][TABLE_COLUMNS[name]].reset_index(drop=True)
        )

    def scan(self, req: dict, tr=None):
        from data_engineering_spark.queries import QUERIES

        q = req["query"]
        with spans.maybe(tr, "queries.build"):
            df = QUERIES[q](self.spark, self.sf)
        with spans.maybe(tr, "queries.exec"):
            got = df.toPandas()
        return lambda: frame_hash(got) == self.oracles[q]

    def topk(self, req: dict, tr=None):
        from data_engineering_spark.operators.pq import ivf_pq_topk

        b = req["batch"]
        with spans.maybe(tr, "operators.pq.ivf_pq_topk") as sp:
            got = ivf_pq_topk(
                self.cents, self.cb, self.encoded, self.qframes[b],
                k=TOPK_K, n_probe=TOPK_PROBE, refine=self.e, refine_factor=4,
            ).select("query_id", "neighbor_id").toPandas()
        if sp is not None:
            sp["counts"] = {"queries": self.qvecs.shape[1],
                            "rows_probed": self.rows_probed(b)}

        def verdict():
            rec = [
                len(self.exact[qid] & set(g["neighbor_id"])) / TOPK_K
                for qid, g in got.groupby("query_id")
            ]
            return (len(rec) == self.qvecs.shape[1]
                    and statistics.mean(rec) >= RECALL_FLOOR)
        return verdict

    def rrf(self, req: dict, tr=None):
        from data_engineering_spark.queries import QUERIES

        got = QUERIES["q_doc_hybrid_rrf"](self.spark, self.sf).toPandas()
        return lambda: frame_hash(got) == self.oracles["q_doc_hybrid_rrf"]

    def rows_probed(self, b: int) -> int:
        """Corpus codes in the probed clusters, summed over the batch's
        queries (the probe rule of ivf_pq_topk: n_probe nearest
        centroids by squared L2)."""
        Q = self.qvecs[b].astype(np.float64)
        C = self.cent_matrix
        d2 = (Q**2).sum(1)[:, None] - 2 * Q @ C.T + (C**2).sum(1)[None, :]
        probed = np.argsort(d2, axis=1, kind="stable")[:, :TOPK_PROBE]
        return int(self.cluster_sizes[probed].sum())

    def serve(self, req: dict, tr=None):
        return getattr(self, req["type"])(req, tr)


def _send(srv: Server, r, reqs: list[tuple[int, dict]], lat: dict,
           bad: list[int], tr=None) -> None:
    """Send ``reqs`` back to back (one closed-loop client); latencies
    go to ``lat`` by request type, ids of wrong responses to ``bad``."""
    for i, req in reqs:
        r.attempted += 1
        t0 = time.perf_counter()
        try:
            if tr is None:
                verdict = srv.serve(req)
            else:
                with tr.span(f"serve.{req['type']}", op=i):
                    verdict = srv.serve(req, tr)
        except Exception as exc:  # noqa: BLE001 - a failed request is counted
            r.failed += 1
            print(f"request {i} failed: {exc!r}")
            continue
        lat.setdefault(req["type"], []).append(time.perf_counter() - t0)
        if not verdict():
            r.failed += 1
            bad.append(i)


def _traced(srv: Server, r, reqs, bad) -> tuple[spans.Tracer, dict]:
    from data_engineering_spark.operators import fusion as fusion_ops
    from data_engineering_spark.queries import fusion, relational

    tr = spans.Tracer(r.spark)
    legs: list = []

    def wrap_load(orig):
        def load_table(spark, sf_dir, name):
            with tr.span("catalog.load_table"):
                return orig(spark, sf_dir, name)
        return load_table

    def wrap_rrf(orig):
        def rrf_fuse(a, b, *args, **kw):
            with tr.span("operators.fusion.legs"):
                a, b = a.persist(), b.persist()
                legs.extend((a, b))
                a.count()
                b.count()
            out = orig(a, b, *args, **kw)
            with tr.span("operators.fusion.rrf"):
                out.write.format("noop").mode("overwrite").save()
            return out
        return rrf_fuse

    lat: dict[str, list[float]] = {}
    with spans.patched(relational, "load_table", wrap_load), \
            spans.patched(fusion, "load_table", wrap_load), \
            spans.patched(fusion_ops, "rrf_fuse", wrap_rrf):
        _send(srv, r, reqs, lat, bad, tr)
    for df in legs:
        df.unpersist()
    tr.attribute_spark()
    return tr, lat


def _layer_metrics(tr: spans.Tracer, r) -> None:
    selfs = tr.self_times()
    by: dict[str, list[dict]] = {}
    for s in tr.spans:
        by.setdefault(s["name"], []).append(s)

    def mean_dur(name: str) -> float:
        xs = [s["end"] - s["start"] for s in by.get(name, [])]
        return statistics.mean(xs) if xs else 0.0

    looks = by.get("operators.merge.lookup", [])
    r.metric("operators.merge.lookup_s", mean_dur("operators.merge.lookup"), "s")
    if looks:
        files = spans.sql_metric_total(
            r.spark, {j for s in looks for j in s["spark"]["job_ids"]},
            "number of files read",
        )
        r.metric("operators.merge.lookup_files_read", files / len(looks), "count")
        r.metric("operators.merge.lookup_bytes_read",
                 statistics.mean(s["spark"]["input_bytes"] for s in looks), "bytes")
    r.metric("catalog.load_table_s", mean_dur("catalog.load_table"), "s")
    scans = by.get("serve.scan", [])
    r.metric("queries.build_s", mean_dur("queries.build"), "s")
    r.metric("queries.exec_s", mean_dur("queries.exec"), "s")
    if scans:
        r.metric("queries.jobs_per_op",
                 statistics.mean(s["spark"]["jobs"] for s in scans), "count")
        r.metric("queries.shuffle_bytes",
                 statistics.mean(s["spark"]["shuffle_bytes"] for s in scans), "bytes")
    topks = by.get("operators.pq.ivf_pq_topk", [])
    r.metric("operators.pq.ivf_pq_topk_s", mean_dur("operators.pq.ivf_pq_topk"), "s")
    if topks:
        r.metric("operators.pq.rows_probed_per_query",
                 sum(s["counts"]["rows_probed"] for s in topks)
                 / sum(s["counts"]["queries"] for s in topks), "count")
    r.metric("operators.fusion.rrf_s", mean_dur("operators.fusion.rrf"), "s")
    for name, ss in by.items():
        r.metric(f"{name}.self_s",
                 statistics.mean(selfs[s["id"]] for s in ss), "s")
    roots = [s for s in tr.spans if s["parent"] is None]
    r.metric("spark.gc_s", sum(s["spark"]["gc_s"] for s in roots), "s")
    r.metric("spark.spill_bytes", sum(s["spark"]["spill_bytes"] for s in roots), "bytes")
    r.metric("spark.shuffle_bytes", sum(s["spark"]["shuffle_bytes"] for s in roots), "bytes")
    r.extra["spans"] = tr.records()


def run(r) -> None:
    srv = Server(r)
    script = list(enumerate(srv.script))
    # warm-up: every request shape once (each scan, one top-k batch,
    # rrf, then a 16-key lookup per table, as the script's requests
    # are); latencies are steady from the next request
    draws = [(i + 0.5) / gen.LOOKUP_KEYS for i in range(gen.LOOKUP_KEYS)]
    for req in (
        [{"type": "scan", "query": q} for q in gen.SCAN_QUERIES]
        + [{"type": "topk", "batch": 0}, {"type": "rrf"}]
        + [{"type": "lookup", "table": t, "key_draws": draws}
           for t in ("orders", "accounts")]
    ):
        srv.serve(req)
    r.step("warmup")

    pos = 0
    traced_lat: dict = {}
    bad: list[int] = []
    if r.trace:
        tr, traced_lat = _traced(srv, r, script[:TRACE_REQUESTS], bad)
        pos = TRACE_REQUESTS
    lat: dict[str, list[float]] = {}
    t0 = time.perf_counter()
    r.mark_timed_start()
    while time.perf_counter() - t0 < r.seconds and pos < len(script):
        _send(srv, r, script[pos:pos + 1], lat, bad)
        pos += 1
    wall = time.perf_counter() - t0
    n_ok = sum(len(v) for v in lat.values())
    every = [x for v in lat.values() for x in v]
    topk = lat.get("topk", []) + lat.get("rrf", [])
    for k, v in lat.items():
        r.samples[f"{k}_s"] = v
    r.samples["request_s"] = every
    if r.trace:
        _layer_metrics(tr, r)
        for name, xs in (("lookup", lat.get("lookup", [])),
                         ("scan", lat.get("scan", [])), ("topk", topk)):
            if xs:
                r.metric(f"serve.{name}_p50_s", percentile(xs, 50), "s")
        common = [k for k in traced_lat if lat.get(k)]
        r.metric("trace.overhead_s", statistics.mean(
            statistics.median(traced_lat[k]) - statistics.median(lat[k])
            for k in common) if common else 0.0, "s")
    else:
        r.metric("throughput_per_s", n_ok / wall, "1/s")
        r.metric("op_p50_s", percentile(every, 50), "s")
        r.metric("op_p90_s", percentile(every, 90), "s")
    # wrong responses were counted as failed requests already
    r.checks.append({"name": "serve.responses", "ok": not bad,
                     "detail": {"requests": pos, "wrong": bad}})
