"""Closed-loop benchmark of the engine's public functions.

    python3 perfbench/run.py --workload dashboard|cdc --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout.  One client issues requests back to
back for ``--seconds`` (the request in flight at the deadline finishes);
every request builds its DataFrames fresh and runs them to completion.
With ``--trace 0`` the last stdout line is a JSON object holding every
end-to-end metric named in BENCHMARK.json; with ``--trace 1`` it holds
every per-layer metric, read from spans recorded around each layer call
and Spark counters attributed to those spans by time window.  Spans
and a full report go to ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ecommerce_data_pipeline_23a91a05i4_spark"
SETUP_REPEATS = 3

sys.path.insert(0, HERE)

import probes  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


class Ctx:
    """What a workload sees: the session, the tracer, the seed and time
    budget, and the recorders for checks and metrics."""

    def __init__(self, args, spark, tracer, work: str, pids: list[int]) -> None:
        self.seed, self.seconds = args.seed, args.seconds
        self.spark, self.tracer, self.work = spark, tracer, work
        self.pids = pids
        self.session_cpu = self.cpu_s()
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, float] = {}
        self.per_layer: dict[str, float] = {}
        self.samples: dict[str, dict] = {}
        self.refresh: list[dict] = []
        self.setup_reps: list[float] = []
        self.setup_cpu: list[float] = []
        self.window_s = 0.0
        self.requests = 0
        self.counters = probes.SparkCounters(spark) if tracer.enabled else None
        self.jobs: list[dict] = []
        self.trace_read_s: list[float] = []

    median = staticmethod(stats.median)

    @staticmethod
    def log(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)

    def count(self, ok: bool, problem: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(problem)

    def setup(self, once):
        """Run the workload's input generation and table build
        ``SETUP_REPEATS`` times; keep the last result."""
        for _ in range(SETUP_REPEATS):
            t0, c0 = time.perf_counter(), self.cpu_s()
            result = once()
            self.setup_reps.append(time.perf_counter() - t0)
            self.setup_cpu.append(self.cpu_s() - c0)
        return result

    def window(self, request) -> None:
        """Closed loop: call ``request()`` back to back until ``seconds``
        have elapsed; at least one request completes."""
        if self.counters:
            self.counters.mark()
        while self.window_s < self.seconds:
            self.settle()
            self.tracer.request = self.requests
            t0 = time.perf_counter()
            request()
            self.window_s += time.perf_counter() - t0
            self.requests += 1
            if self.counters:
                t1 = time.perf_counter()
                for rec in self.counters.drain():
                    self.jobs.append(rec)
                self.trace_read_s.append(time.perf_counter() - t1)
        self.tracer.request = None

    def settle(self) -> None:
        """Collect garbage in the driver and the JVM, outside the timing,
        so that no request pays for the heap its predecessors left."""
        gc.collect()
        self.spark._jvm.System.gc()

    def cpu_s(self) -> float:
        """CPU seconds used so far by the driver, the JVM and its workers."""
        return probes.cpu_s(self.pids)

    def clock(self) -> tuple:
        """Wall, CPU and machine tick counters now; pass to ``cost``."""
        return (time.perf_counter(), self.cpu_s(), *probes.host_ticks())

    def cost(self, since: tuple) -> dict:
        """Wall and CPU seconds since ``clock()`` returned ``since``, and
        the share of the machine's CPU time the hypervisor stole."""
        now = self.clock()
        return {"wall": now[0] - since[0], "cpu": now[1] - since[1],
                "steal": (now[2] - since[2]) / max(1, now[3] - since[3])}

    def end_to_end(self, refresh: list[dict], request: list[dict]) -> None:
        """``refresh``: the cost of each full refresh; ``request``: the
        cost of each user request inside them."""
        self.refresh = refresh
        net = [c["cpu"] * (1.0 - c["steal"]) for c in refresh]
        prefix = "traced." if self.tracer.enabled else ""
        self.metrics[prefix + "refresh_cpu_s"] = stats.median(net)
        self.metrics["setup_s"] = self.session_cpu + stats.median(self.setup_cpu)
        for metric, xs, k in (("refresh_wall_s", refresh, "wall"),
                              ("refresh_cpu_raw_s", refresh, "cpu"),
                              ("request_wall_s", request, "wall"),
                              ("request_cpu_s", request, "cpu")):
            v = [c[k] for c in xs]
            self.samples[metric] = stats.summarize(v)
            self.per_layer[metric] = stats.median(v)
        self.samples["refresh_cpu_s"] = stats.summarize(net)
        self.per_layer["host.steal_share"] = stats.median([c["steal"] for c in refresh])

    # ---------------------------------------------------------- per layer
    def _timed_spans(self) -> list[spans.Span]:
        return [s for s in self.tracer.spans if s.request is not None]

    def layer_span_median(self, metric: str, name: str) -> None:
        d = [s.end - s.start for s in self._timed_spans() if s.name == name]
        self.per_layer[metric] = stats.median(d) if d else 0.0

    def _job_owner(self) -> list[spans.Span | None]:
        sp = self._timed_spans()
        by_id = {s.id: s for s in sp}
        owners = spans.attribute([j["t"] for j in self.jobs], sp)
        return [by_id.get(o) for o in owners]

    def layer_jobs(self, metric: str, *names: str) -> None:
        """Median per request of the jobs attributed to spans named
        ``names`` themselves (not to their children)."""
        per_req = [0] * self.requests
        for job, owner in zip(self.jobs, self._job_owner()):
            if owner is not None and owner.name in names:
                per_req[owner.request] += 1
        self.per_layer[metric] = stats.median(per_req)

    def request_counters(self, request_span: str) -> None:
        """Spark counters per request (median over requests), self time
        per layer per request, and the tracing cost."""
        per_req = [dict.fromkeys(probes.COUNTERS, 0) for _ in range(self.requests)]
        for job, owner in zip(self.jobs, self._job_owner()):
            if owner is not None:
                for k in probes.COUNTERS:
                    per_req[owner.request][k] += job[k]
        for k in probes.COUNTERS:
            self.per_layer[f"spark.{k}"] = stats.median([r[k] for r in per_req])
        sp = self._timed_spans()
        st = spans.self_times(sp)
        layers: dict[str, list[float]] = {}
        for s in sp:
            layers.setdefault(s.layer, [0.0] * self.requests)[s.request] += st[s.id]
        for layer, per in layers.items():
            if layer != request_span.split(".")[0]:
                self.per_layer[f"{layer}.self_s"] = stats.median(per)
        self.per_layer["trace.read_s"] = stats.median(self.trace_read_s)


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall through to kill
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"engine package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench", "out")
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # Python workers (change-feed data source, UDFs) must import the
    # package whatever the working directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # every JVM, Spark's launcher included, keeps its files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, ROOT)

    rss = probes.RssSampler().start()
    t0 = time.perf_counter()
    from ecommerce_data_pipeline_23a91a05i4_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # No JVM thread may burn CPU at random points of a run: C1
            # only (a run is too short for C2 to finish warming up), the
            # serial collector (no concurrent GC threads) and no code-cache
            # sweeping (freshly generated classes churn the cache), with
            # room enough that the cache never fills
            "spark.driver.extraJavaOptions": " ".join((
                "-XX:TieredStopAtLevel=1", "-XX:+UseSerialGC",
                "-XX:-UseCodeCacheFlushing", "-XX:ReservedCodeCacheSize=512m",
            )),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    rss.jvm_pid = spark.sparkContext._gateway.proc.pid

    tracer = spans.Tracer(bool(args.trace))
    ctx = Ctx(args, spark, tracer, work, [os.getpid()])
    try:
        __import__(args.workload).run(ctx)
    finally:
        _stop_session(spark)
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    ctx.per_layer["peak_rss_mb"] = rss.peak_total
    ctx.per_layer["session.start_s"] = session_s
    ctx.per_layer["driver_rss_mb"] = rss.peak_driver
    ctx.per_layer["jvm_rss_mb"] = rss.peak_jvm
    if args.trace:
        ctx.per_layer.update(ctx.metrics)  # traced end-to-end values
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = ctx.per_layer if args.trace else ctx.metrics
    metrics = {}
    for m in wanted:
        if not args.trace and m["name"] not in source:
            raise RuntimeError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": float(source.get(m["name"], 0.0)),
                              "unit": m["unit"]}

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "requests": ctx.requests, "window_s": ctx.window_s,
        "samples": ctx.samples, "refresh": ctx.refresh, "setup_wall_s": ctx.setup_reps,
        "setup_cpu_s": ctx.setup_cpu, "session_wall_s": session_s,
        "session_cpu_s": ctx.session_cpu, "problems": ctx.problems,
        "failed_ratio": stats.failed_ratio(ctx.failed, ctx.attempted),
        "metrics": {**ctx.metrics, **ctx.per_layer},
    }
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    if args.trace:
        tracer.write(os.path.join(out_dir, f"{tag}.spans.json"))

    for name, v in sorted(metrics.items()):
        print(f"{name:<40} {v['value']:>16.6f} {v['unit']}")
    for name, s in sorted(ctx.samples.items()):
        print(f"{name:<40} {json.dumps(s)}")
    print(f"checks: {ctx.attempted - ctx.failed}/{ctx.attempted} passed"
          + "".join(f"\n  FAILED: {p}" for p in ctx.problems[:20]))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
