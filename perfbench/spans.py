"""Span tracing and Spark-counter attribution for the traced run.

Spans are recorded from the benchmark's own files, around its calls
into the engine's modules. Each span sets a Spark job group in the
calling thread, so the status store attributes every job the span
submits (and that job's stages: tasks, shuffle, spill, GC, input and
output bytes) to it. Worker threads started by the engine do not
inherit a job group, so a root span (one batch, one request, one
pipeline iteration — never concurrent with another root) takes every
job submitted inside its time window instead.

Spans are kept in memory; the run writes them into its artifact when
it ends.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time

_GROUP_PREFIX = "perfbench-span-"


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._root: dict | None = None

    @contextlib.contextmanager
    def span(self, name: str, op=None):
        """Time the body as span ``name``; yields the span dict, whose
        ``counts`` the caller may fill. ``op`` ties spans of one
        operation together (inherited from the parent when omitted)."""
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        parent = stack[-1] if stack else self._root
        sid = next(self._ids)
        sp = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent or {}).get("op"),
            "thread": threading.get_ident(),
            "counts": {},
        }
        is_root = parent is None
        if is_root:
            self._root = sp
        sc = self.spark.sparkContext
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", f"{_GROUP_PREFIX}{sid}")
        stack.append(sp)
        sp["start"] = time.perf_counter()
        sp["start_wall_ms"] = time.time() * 1000.0
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            sp["end_wall_ms"] = time.time() * 1000.0
            stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", prev_group)
            if is_root:
                self._root = None
            with self._lock:
                self.spans.append(sp)

    # -- derived figures -------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of its interval that child spans
        cover (children of one span may overlap: merge threads)."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def attribute_spark(self) -> None:
        """Fill ``spark`` counters on every span from the status store:
        own jobs (by job group) plus descendants'; root spans take every
        job submitted in their window."""
        jobs, stages = spark_jobs_and_stages(self.spark)
        by_group: dict[int, list[dict]] = {}
        for j in jobs:
            g = j["group"]
            if g and g.startswith(_GROUP_PREFIX):
                by_group.setdefault(int(g[len(_GROUP_PREFIX):]), []).append(j)
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s["id"])

        def subtree_jobs(sid: int) -> list[dict]:
            out = list(by_group.get(sid, []))
            for k in kids.get(sid, []):
                out.extend(subtree_jobs(k))
            return out

        for s in self.spans:
            if s["parent"] is None:
                # wall clock has ms resolution on both sides
                mine = jobs_in_window(
                    jobs, s["start_wall_ms"] - 1, s["end_wall_ms"] + 1
                )
            else:
                mine = subtree_jobs(s["id"])
            s["spark"] = sum_counters(mine, stages)

    def records(self) -> list[dict]:
        """The spans as plain dicts with their self times, by start."""
        selfs = self.self_times()
        return [
            {k: v for k, v in s.items() if k != "thread"} | {"self_s": selfs[s["id"]]}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    """A Scala Seq over py4j as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def spark_jobs_and_stages(spark) -> tuple[list[dict], dict[int, dict]]:
    """Every job and stage the status store retains, as plain dicts
    (read over py4j after the listener bus has drained)."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = []
    for j in _seq(store.jobsList(None)):
        sub = _opt(j.submissionTime())
        ids = j.stageIds()
        jobs.append({
            "id": j.jobId(),
            "group": _opt(j.jobGroup()),
            "submit_ms": sub.getTime() if sub is not None else None,
            "stage_ids": _seq(ids),
            "tasks": j.numTasks(),
        })
    stages: dict[int, dict] = {}
    gw = spark.sparkContext._gateway
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    for st in _seq(store.stageList(None, False, False, no_quantiles, None)):
        d = stages.setdefault(st.stageId(), {
            "shuffle_bytes": 0, "spill_bytes": 0, "gc_ms": 0,
            "input_bytes": 0, "input_rows": 0, "output_bytes": 0, "tasks": 0,
        })
        d["shuffle_bytes"] += st.shuffleWriteBytes()
        d["spill_bytes"] += st.diskBytesSpilled()
        d["gc_ms"] += st.jvmGcTime()
        d["input_bytes"] += st.inputBytes()
        d["input_rows"] += st.inputRecords()
        d["output_bytes"] += st.outputBytes()
        d["tasks"] += st.numCompleteTasks()
    return jobs, stages


def sum_counters(jobs: list[dict], stages: dict[int, dict]) -> dict:
    """Jobs, tasks run and stage byte/GC totals over ``jobs`` (a stage
    shared by two jobs counts once)."""
    seen: set[int] = set()
    out = {"jobs": len(jobs), "job_ids": [j["id"] for j in jobs], "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0,
           "gc_s": 0.0, "input_bytes": 0, "input_rows": 0, "output_bytes": 0}
    for j in jobs:
        for sid in j["stage_ids"]:
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            st = stages[sid]
            out["tasks"] += st["tasks"]
            out["shuffle_bytes"] += st["shuffle_bytes"]
            out["spill_bytes"] += st["spill_bytes"]
            out["gc_s"] += st["gc_ms"] / 1000.0
            out["input_bytes"] += st["input_bytes"]
            out["input_rows"] += st["input_rows"]
            out["output_bytes"] += st["output_bytes"]
    return out


def jobs_in_window(jobs: list[dict], t0_ms: float, t1_ms: float) -> list[dict]:
    return [
        j for j in jobs
        if j["submit_ms"] is not None and t0_ms <= j["submit_ms"] <= t1_ms
    ]


def maybe(tr: Tracer | None, name: str):
    """``tr.span(name)`` when tracing; a no-op (yielding None) otherwise."""
    return tr.span(name) if tr is not None else contextlib.nullcontext()


@contextlib.contextmanager
def patched(obj, name: str, make_wrapper):
    """Replace ``obj.name`` with ``make_wrapper(original)`` for the
    duration of the block (the traced run's hook into a module)."""
    orig = getattr(obj, name)
    setattr(obj, name, make_wrapper(orig))
    try:
        yield
    finally:
        setattr(obj, name, orig)


def sql_metric_total(spark, job_ids: set[int], metric: str) -> int:
    """Sum of SQL plan metric ``metric`` (e.g. "number of files read")
    over the SQL executions that ran any of ``job_ids``."""
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0
    for ex in _seq(store.executionsList()):
        jmap = ex.jobs()
        it = jmap.keys().iterator()
        hit = False
        while it.hasNext():
            if int(it.next()) in job_ids:
                hit = True
                break
        if not hit:
            continue
        values = store.executionMetrics(ex.executionId())
        for m in _seq(ex.metrics()):
            if m.name() != metric:
                continue
            v = values.get(m.accumulatorId())
            if v.isDefined():
                txt = v.get().split("\n")[0].replace(",", "").strip()
                try:
                    total += int(float(txt.split()[0]))
                except (ValueError, IndexError):
                    pass
    return total
