"""cdc_stream: the write path, the paper's core job.

The seeded change log is landed into a landing directory (file order =
modification-time order) and drained by ONE ``availableNow`` query:
``streaming.runner.run_cdc_stream`` over ``file_envelope_stream(...,
max_files_per_trigger=1)`` into a copy-on-write ``CdcEngine`` lake, so
each trigger is one log file. The first ``WARMUP_FILES`` triggers warm
up; in a traced run the next ``TRACE_FILES`` run with spans; then
triggers are timed until ``--seconds`` are spent, when the sink stops
the query before it starts the next batch. Per-trigger latency and
events per second come from the streaming progress events.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import gen
import spans
from checks import check_lake, quarantined_rows
from stats import percentile

WARMUP_FILES = gen.CDC_WARMUP_FILES
TRACE_FILES = 6


class _Stop(Exception):
    """Raised by the sink, before a batch starts, once time is up."""


class Lake:
    """The stream under test: landing dir, checkpoint and engine."""

    def __init__(self, r) -> None:
        from data_engineering_spark.cdc.pipeline import CdcEngine, LakeConfig

        self.r = r
        self.src = os.path.join(r.inputs, "changelog")
        self.files = r.info["changelog"]["files"]
        self.malformed = r.info["changelog"]["malformed"]
        self.landing = os.path.join(r.work, "landing")
        self.root = os.path.join(r.work, "lake")
        self.ckpt = os.path.join(r.work, "checkpoint")
        os.makedirs(self.landing)
        self.engine = CdcEngine(r.spark, LakeConfig(root=self.root))
        t0 = int(time.time()) - 100_000
        for i, name in enumerate(self.files):
            dst = os.path.join(self.landing, name)
            shutil.copyfile(os.path.join(self.src, name), dst)
            os.utime(dst, (t0 + 10 * i, t0 + 10 * i))

    def drain(self, sink) -> None:
        """Run the availableNow query with ``sink`` in place of the
        engine's batch body until it stops itself or the log is done."""
        from pyspark.errors import StreamingQueryException
        from tests.cdc_fixtures import ENVELOPE_SCHEMA

        from data_engineering_spark.streaming.runner import (
            file_envelope_stream,
            run_cdc_stream,
        )

        stream = file_envelope_stream(
            self.r.spark, self.landing, ENVELOPE_SCHEMA, max_files_per_trigger=1
        )
        from data_engineering_spark.cdc import pipeline

        def counting(orig):
            def with_retry(fn, *a, **kw):
                attempts = [0]

                def attempt():
                    attempts[0] += 1
                    return fn()
                try:
                    return orig(attempt, *a, **kw)
                finally:
                    # merges of one batch run in parallel threads
                    sink.retries.append(attempts[0] - 1)
            return with_retry

        self.engine.process_batch = sink
        try:
            with spans.patched(pipeline, "with_retry", counting):
                q = run_cdc_stream(self.engine, stream, self.ckpt, raw_kafka=False)
                try:
                    q.awaitTermination()
                except StreamingQueryException:
                    if not sink.stopped:
                        raise
            self.progress = {p.batchId: p for p in q.recentProgress}
        finally:
            del self.engine.process_batch

    def input_bytes(self, n: int) -> int:
        return sum(os.path.getsize(os.path.join(self.src, f)) for f in self.files[:n])


class Sink:
    """The engine's batch body, phased: warm-up, traced, timed."""

    def __init__(self, lake: Lake, r, tracing) -> None:
        self.body = lake.engine.process_batch
        self.r = r
        self.tracing = tracing
        self.n_traced = TRACE_FILES if tracing is not None else 0
        self.done: list[tuple[str, int]] = []  # (phase, batch id)
        self.t_timed = None
        self.t_timed_ms = None
        self.stopped = False
        self.retries: list[int] = []  # extra attempts, one entry per merge

    def __call__(self, raw, batch_id: int = 0):
        k = len(self.done)
        phase = (
            "warmup" if k < WARMUP_FILES
            else "traced" if k < WARMUP_FILES + self.n_traced
            else "timed"
        )
        if phase != "warmup":
            self.r.mark_timed_start()
        if phase == "timed":
            if self.t_timed is None:
                self.t_timed = time.perf_counter()
                self.t_timed_ms = time.time() * 1000.0
            elif time.perf_counter() - self.t_timed >= self.r.seconds:
                self.stopped = True
                raise _Stop()
        if phase != "warmup":
            self.r.attempted += 1
        first = len(self.retries)
        if phase == "traced":
            self.tracing.batch(self.body, raw, batch_id)
        else:
            self.body(raw, batch_id)
        retried = sum(self.retries[first:])
        if phase == "traced":
            self.tracing.retries += retried
        if phase != "warmup" and retried:
            self.r.failed += 1  # a retried batch counts as a failed op
        self.done.append((phase, batch_id))

    def batch_ids(self, phase: str) -> list[int]:
        return [b for p, b in self.done if p == phase]


def _dir_files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dp, _, fns in os.walk(path):
        for fn in fns:
            p = os.path.join(dp, fn)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _content_bytes(path: str) -> int:
    """Column-chunk bytes of a parquet file, less the load-time column:
    ``__dp_update_ts`` holds the wall clock of the write, so its pages
    (and their checksums) differ between two runs of one seed while
    every other column's bytes repeat exactly."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    return sum(
        md.row_group(g).column(c).total_compressed_size
        for g in range(md.num_row_groups)
        for c in range(md.num_columns)
        if md.row_group(g).column(c).path_in_schema != "__dp_update_ts"
    )


def _space_amp(lake: Lake, r) -> float:
    """Lake table bytes on disk over one fresh write of their content."""
    on_disk = fresh = 0
    for name, mt in lake.engine.tables.items():
        on_disk += sum(s for s, _ in _dir_files(mt.path).values())
        dest = os.path.join(r.work, "fresh", name)
        w = mt.read().write.mode("overwrite")
        if mt.partition_by:
            w = w.partitionBy(mt.partition_by)
        w.parquet(dest)
        fresh += sum(s for s, _ in _dir_files(dest).values())
    return on_disk / fresh


class Tracing:
    """Spans around the engine's layers for the traced batches: the
    hooks are installed for one batch at a time."""

    def __init__(self, lake: Lake, r) -> None:
        self.lake = lake
        self.tr = spans.Tracer(r.spark)
        self.retries = 0
        self.pending: list = []
        self.quarantine_rows = 0

    def batch(self, body, raw, batch_id: int) -> None:
        from data_engineering_spark.cdc import pipeline
        from data_engineering_spark.operators.merge import MergeTable

        tr, pending = self.tr, self.pending

        def wrap_discovery(orig):
            def batch_table_schemas(raw):
                with tr.span("cdc.envelope.discovery"):
                    return orig(raw)
            return batch_table_schemas

        def wrap_lww(orig):
            def keep_last_agg(df, keys, order_col, tiebreakers=()):
                n_in = df.count()
                with tr.span("operators.dedup.lww") as sp:
                    out = orig(df, keys, order_col, tiebreakers).persist()
                    pending.append(out)
                    sp["counts"] = {"rows_in": n_in, "rows_out": out.count()}
                return out
            return keep_last_agg

        def wrap_parse(orig):
            def parse_envelope_batch(raw, inferred):
                out = orig(raw, inferred)
                with tr.span("cdc.envelope.parse"):
                    out.write.format("noop").mode("overwrite").save()
                return out
            return parse_envelope_batch

        def wrap_merge(orig):
            def merge(self, source, *a, **kw):
                before = _dir_files(self.path)
                with tr.span("operators.merge.merge") as sp:
                    orig(self, source, *a, **kw)
                written = {
                    p: s for p, s in _dir_files(self.path).items()
                    if p.endswith(".parquet") and before.get(p) != s
                }
                parts = {
                    os.path.relpath(os.path.dirname(p), self.path) for p in written
                }
                sp["counts"] = {
                    "files_written": len(written),
                    "bytes_written": sum(_content_bytes(p) for p in written),
                    "partitions_rewritten": len(parts),
                }
            return merge

        root = self.lake.root
        q0 = sum(quarantined_rows(root, t) for t in gen.KEY_COL)
        with spans.patched(pipeline, "batch_table_schemas", wrap_discovery), \
                spans.patched(pipeline, "keep_last_agg", wrap_lww), \
                spans.patched(pipeline, "parse_envelope_batch", wrap_parse), \
                spans.patched(MergeTable, "merge", wrap_merge), \
                tr.span("cdc.pipeline.process_batch", op=batch_id):
            try:
                body(raw, batch_id)
            finally:
                while pending:
                    pending.pop().unpersist()
        self.quarantine_rows += sum(quarantined_rows(root, t) for t in gen.KEY_COL) - q0


def _layer_metrics(t: Tracing, prog: list, r) -> None:
    tr, n = t.tr, len(prog)
    selfs = tr.self_times()
    by: dict[str, list[dict]] = {}
    for s in tr.spans:
        by.setdefault(s["name"], []).append(s)

    def per_batch(name: str) -> float:
        return sum(s["end"] - s["start"] for s in by.get(name, [])) / n

    def total(name: str, key: str) -> float:
        return sum(s["counts"].get(key, 0) for s in by.get(name, []))

    roots = by.get("cdc.pipeline.process_batch", [])
    trig = [p.durationMs["triggerExecution"] / 1000.0 for p in prog]
    over = [
        (p.durationMs["triggerExecution"] - p.durationMs.get("addBatch", 0)) / 1000.0
        for p in prog
    ]
    r.metric("streaming.runner.trigger_s", statistics.median(trig), "s")
    r.metric("streaming.runner.overhead_s", statistics.median(over), "s")
    r.metric("cdc.pipeline.process_batch_s", per_batch("cdc.pipeline.process_batch"), "s")
    r.metric("cdc.pipeline.jobs_per_batch",
             sum(s["spark"]["jobs"] for s in roots) / n, "count")
    r.metric("cdc.pipeline.tasks_per_batch",
             sum(s["spark"]["tasks"] for s in roots) / n, "count")
    r.metric("cdc.pipeline.quarantine_rows", t.quarantine_rows, "count")
    r.metric("cdc.envelope.discovery_s", per_batch("cdc.envelope.discovery"), "s")
    r.metric("cdc.envelope.parse_s", per_batch("cdc.envelope.parse"), "s")
    r.metric("operators.dedup.lww_s", per_batch("operators.dedup.lww"), "s")
    r.metric("operators.dedup.lww_rows_out_per_in",
             total("operators.dedup.lww", "rows_out")
             / max(total("operators.dedup.lww", "rows_in"), 1), "ratio")
    r.metric("operators.merge.merge_s", per_batch("operators.merge.merge"), "s")
    for key in ("partitions_rewritten", "files_written", "bytes_written"):
        r.metric(f"operators.merge.{key}", total("operators.merge.merge", key),
                 "bytes" if key == "bytes_written" else "count")
    r.metric("operators.merge.shuffle_bytes",
             sum(s["spark"]["shuffle_bytes"] for s in by.get("operators.merge.merge", [])),
             "bytes")
    r.metric("operators.merge.retries", t.retries, "count")
    for name in by:
        r.metric(f"{name}.self_s",
                 sum(selfs[s["id"]] for s in by[name]) / n, "s")
    r.metric("spark.gc_s", sum(s["spark"]["gc_s"] for s in roots), "s")
    r.metric("spark.spill_bytes", sum(s["spark"]["spill_bytes"] for s in roots), "bytes")
    r.metric("spark.shuffle_bytes", sum(s["spark"]["shuffle_bytes"] for s in roots), "bytes")
    r.extra["spans"] = tr.records()


def run(r) -> None:
    lake = Lake(r)
    tracing = Tracing(lake, r) if r.trace else None
    sink = Sink(lake, r, tracing)
    lake.drain(sink)

    ids = sink.batch_ids("timed")
    timed = [lake.progress[b] for b in ids if b in lake.progress]
    if len(timed) != len(ids):
        r.failed += 1  # a timed batch without its progress event
    trig = [p.durationMs["triggerExecution"] / 1000.0 for p in timed]
    r.samples["trigger_s"] = trig
    if r.trace:
        traced = [lake.progress[b] for b in sink.batch_ids("traced")]
        tracing.tr.attribute_spark()
        _layer_metrics(tracing, traced, r)
        jobs, stages = spans.spark_jobs_and_stages(r.spark)
        t1_ms = max(p_end_ms(p) for p in timed)
        written = spans.sum_counters(
            spans.jobs_in_window(jobs, sink.t_timed_ms, t1_ms), stages
        )["output_bytes"]
        first = WARMUP_FILES + TRACE_FILES
        in_bytes = lake.input_bytes(first + len(timed)) - lake.input_bytes(first)
        r.metric("cdc.write_amp", written / in_bytes, "ratio")
        r.metric("cdc.space_amp", _space_amp(lake, r), "ratio")
        r.metric("trace.overhead_s", statistics.median(
            p.durationMs["triggerExecution"] / 1000.0 for p in traced
        ) - statistics.median(trig), "s")
    else:
        r.metric("throughput_per_s",
                 sum(p.numInputRows for p in timed) / sum(trig), "1/s")
        r.metric("op_p50_s", percentile(trig, 50), "s")
        r.metric("op_p90_s", percentile(trig, 90), "s")

    n = len(sink.done)
    planted: dict[str, int] = {}
    for counts in lake.malformed[:n]:
        for t, k in counts.items():
            planted[t] = planted.get(t, 0) + k
    batches = [[os.path.join(lake.landing, f)] for f in lake.files[:n]]
    evolve = gen.EVOLVE_FILE if n > gen.EVOLVE_FILE else None
    check_lake(r, lake.engine.tables, batches, lake.root, planted, evolve)


def p_end_ms(p) -> float:
    """Wall-clock end of a trigger, from its progress event."""
    from datetime import datetime

    start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
    return start.timestamp() * 1000.0 + p.durationMs["triggerExecution"]
