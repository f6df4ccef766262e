"""The engine's benchmark of record.

    python3 perfbench/run.py --workload cdc_stream --seed 1 --seconds 12 --trace 0

Run from the repository root. Each run is one fresh process on Spark
``local[nproc]``: ``SPARK_GRAFT_CPUS`` = nproc, ``SPARK_GRAFT_DRIVER_MEM``
sized from MemTotal, ``SPARK_LOCAL_DIRS`` and ``TMPDIR`` under
``.perfbench/run`` (everything the run writes stays there).

Per run: generate the seeded inputs, start the session, build the
workload's state, warm up, then measure for ``--seconds``. Output
checks run outside the timed intervals. The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones from a traced pass (see spans.py). Lines before it
give every figure with its sample count and the host-noise record; the
full artifact (spans included) goes to ``.perfbench/<workload>-s<seed>-t<trace>.json``.

End-to-end metrics, one meaning per workload:
- ``setup_s``: process start to first timed operation, as measured.
- ``throughput_per_s``: events/s (cdc_stream), requests/s (lake_serve).
- ``op_p50_s`` / ``op_p90_s``: per-trigger latency (cdc_stream),
  per-request latency over all request types (lake_serve). A run has
  about ten samples, too few for any tail with ten samples beyond it,
  so ``op_p90_s`` is close to the run's maximum; the lines before the
  result give each sample set's size.
- ``retained_mb``: what the run holds at its end — Spark JVM heap in
  use after a full collection plus this Python process's resident set.
  (Peak RSS swings by a quarter between identical runs with the JVM's
  heap sizing, so it is a per-layer figure, ``peak_rss_mb``.)
- ``ok_op_ratio``: operations that neither failed, retried nor failed
  their check, over operations attempted.

Exit status: 0 when every operation succeeded and every check passed,
1 when a check or an operation failed, 2 when the engine's sources are
not in the working directory.
"""

from __future__ import annotations

import time

T_PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

from stats import percentile, supported_tail  # noqa: E402

WORKLOADS = ("cdc_stream", "lake_serve")


class Run:
    """What a workload module gets: the session, its seed and budget,
    its directories, and the result sheet it fills."""

    def __init__(self, spark, args, work: str, inputs: str, info: dict) -> None:
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.inputs = inputs
        self.info = info
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []
        self.samples: dict[str, list[float]] = {}
        self.metrics: dict[str, tuple[float, str]] = {}
        self.extra: dict = {}
        self.first_timed_op: float | None = None
        self.steps: dict[str, float] = {}
        self._last_step = time.perf_counter()

    def step(self, name: str) -> None:
        """Record how long the set-up step ``name`` took (since the
        previous step, or since the session was ready)."""
        now = time.perf_counter()
        self.steps[name] = now - self._last_step
        self._last_step = now

    def mark_timed_start(self) -> None:
        if self.first_timed_op is None:
            self.first_timed_op = time.perf_counter()

    def check(self, name: str, ok: bool, detail=None) -> bool:
        """Record an output check; a failed one counts as a failed op."""
        self.attempted += 1
        self.checks.append({"name": name, "ok": bool(ok), "detail": detail})
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)
        return bool(ok)

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)


def _regime(work: str) -> None:
    """Cores, heap and local dirs, all through the environment, set
    before the engine reads them at import."""
    import host

    cpus = len(os.sched_getaffinity(0))
    heap_gb = max(1, min(4, int(host.mem_total_gb() // 4)))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # no JVM shared-memory perf file under /tmp (launcher and session)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _session(work: str):
    from data_engineering_spark.session import get_session

    tmp = os.environ["TMPDIR"]
    return get_session(
        app_name="perfbench",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={tmp} -XX:-UsePerfData",
        },
    )


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    owns) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - must not leave the JVM behind
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "data_engineering_spark", "__init__.py")):
        print("perfbench: run from the repository root (data_engineering_spark/ "
              "not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    out_root = os.path.join(root, ".perfbench")
    work = os.path.join(out_root, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _regime(work)

    import gen
    import host

    rec = host.HostRecord()
    inputs = os.path.join(work, "inputs")
    t_generate = time.perf_counter()
    info = gen.generate(args.seed, inputs, args.workload)
    t_session = time.perf_counter()
    spark = _session(work)
    t_session_ready = time.perf_counter()
    run = Run(spark, args, work, inputs, info)
    module = importlib.import_module(args.workload)
    crashed = None
    try:
        module.run(run)
    except Exception as exc:  # noqa: BLE001 - reported as a failed run
        import traceback

        traceback.print_exc()
        crashed = repr(exc)
        run.failed += 1
        run.attempted = max(run.attempted, 1)
    finally:
        t_run_end = time.perf_counter()
        hostrec = rec.finish()
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        peak_rss = host.peak_rss_mb(os.getpid()) + host.peak_rss_mb(jvm_pid)
        retained = host.rss_mb(os.getpid()) + host.jvm_live_heap_mb(spark)
        _stop(spark)

    attempted = max(run.attempted, 1)
    run.extra["wall_s"] = {
        "to_run_end": t_run_end - T_PROCESS_START,
        "stopped": time.perf_counter() - T_PROCESS_START,
    }
    setup = None  # no timed operation ran: reported as a missing metric
    if run.first_timed_op is not None:
        setup = run.first_timed_op - T_PROCESS_START
        run.extra["setup_parts_s"] = {
            "generate": t_session - t_generate,
            "to_session": t_session - T_PROCESS_START,
            "session_start": t_session_ready - t_session,
            "workload_setup_and_warmup": run.first_timed_op - t_session_ready,
        }
    if args.trace:
        run.metric("failed_op_ratio", run.failed / attempted, "ratio")
        run.metric("peak_rss_mb", peak_rss, "MB")
    else:
        if setup is not None:
            run.metric("setup_s", setup, "s")
        run.metric("retained_mb", retained, "MB")
        run.metric("ok_op_ratio", 1.0 - run.failed / attempted, "ratio")
    run.extra["memory_mb"] = {"peak_rss": peak_rss, "retained": retained}
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    unknown = set(run.metrics) - {m["name"] for m in spec}
    missing = [m for m in spec if m["name"] not in run.metrics]
    if args.trace:
        # a layer this workload bypasses did no work
        for m in missing:
            run.metric(m["name"], 0.0, m["unit"])
        missing = []
    ok_names = not unknown and not missing
    if not ok_names:
        print(f"metric names differ from BENCHMARK.json: unknown {sorted(unknown)}, "
              f"missing {[m['name'] for m in missing]}", file=sys.stderr)
    correct = (crashed is None and run.failed == 0 and ok_names
               and all(c["ok"] for c in run.checks))

    for name, xs in sorted(run.samples.items()):
        n = len(xs)
        if n:
            print(f"samples {name}: n={n} p50={percentile(xs, 50):.4f} "
                  f"p90={percentile(xs, 90):.4f} "
                  f"p{supported_tail(n)}={percentile(xs, supported_tail(n)):.4f}")
    for name, (v, unit) in sorted(run.metrics.items()):
        print(f"metric {name} = {v:.6g} {unit}")
    print("host " + json.dumps(hostrec))
    run.extra["setup_steps_s"] = run.steps
    print("phases " + json.dumps({**run.extra.get("setup_parts_s", {}),
                                  **run.steps, **run.extra["wall_s"]}))
    for c in run.checks:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'}")
    os.makedirs(out_root, exist_ok=True)
    artifact = os.path.join(
        out_root, f"{args.workload}-s{args.seed}-t{args.trace}.json"
    )
    with open(artifact, "w") as fh:
        json.dump({
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "metrics": run.metrics, "samples": run.samples,
            "checks": run.checks, "host": hostrec, "crashed": crashed,
            **run.extra,
        }, fh, default=str)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": run.failed,
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in sorted(run.metrics.items())
        },
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
