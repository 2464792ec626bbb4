"""Benchmark runner for the validation engine.

    python3 perfbench/run.py --workload corpus_validate --seed 1 --seconds 10 --trace 0

Runs one workload (see perfbench/workloads.py) in this process on a local
Spark session sized to the host, and prints as its last stdout line one
JSON object: ``correct``, ``attempted`` and ``failed`` passes, and the
metrics. ``--trace 0`` reports the end-to-end metrics:

- ``setup_s``: process start until the session is up, plus the median of
  several repeats of reading the input, compiling the TableSpec and
  building the dimension tables. Input generation is not included.
- ``rows_per_s``: input rows over the median timed-pass seconds.
- ``peak_rss_mb``: peak resident memory of this process, the JVM and the
  Python workers together (see ``tracing.tree_rss_bytes``). The session
  factory starts the JVM with a fixed, pre-touched heap (``-Xms`` equal to
  the 4g driver memory), so the whole heap is resident from the start:
  this metric moves with off-heap and Python-worker memory, never with how
  much of the heap the engine uses. The traced run reports the heap the
  engine keeps alive as ``spark.old_gen_peak_mb``.

The error rate is ``failed / attempted``: a pass fails when it raises or
when its counts differ from the input's closed-form counts.

``--trace 1`` alternates traced and untraced passes and reports per-layer
metrics from spans around each public call; the spans and their
status-store counters are written to ``perfbench/.work/traces/``.

Protocol: generate the input of the seed's variant, or reuse it; set up;
run one untimed cold pass (class loading, code generation, the first JIT
tiers) and the workload's ``warm_passes`` untimed warm passes; then run
timed passes and report the median of the first ``timed_passes`` of them
(in a traced run, of the untraced ones among them: it alternates traced
and untraced passes, starting with a traced one). Pass times
still fall for several passes while the JIT settles; a fixed set of pass
positions keeps the median on the same point of that curve in every run,
however fast a pass is. Passes after those positions only fill
``--seconds``: they are checked and counted, but not timed into the
median. Every pass is checked.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOAD_NAMES = ("corpus_validate", "json_ingest")

# A 4g heap fits a 15 GB, 4-core host next to the Python workers; the session
# factory's 16g pre-touched default cannot start on such a host.
DRIVER_MEMORY = "4g"
SETUP_REPEATS = 3
# The seed picks one of this many inputs (seed mod INPUT_VARIANTS). Making
# an input takes 7-10 s, mostly the first Spark job of a cold JVM; with a
# fresh input per seed that is an eighth of a run, so a run reuses the
# cached input of its variant instead.
INPUT_VARIANTS = 4

# span name -> per-layer metric of its duration
SPAN_METRICS = {
    "sources.scan": "sources.scan_s",
    "plans.row_pass": "plans.row_pass_s",
    "plans.violations": "plans.violations_s",
    "operators.uniqueness": "operators.uniqueness_s",
    "operators.referential": "operators.referential_s",
    "operators.profile": "operators.profile_s",
    "operators.gate": "operators.gate_s",
    "plans.quarantine_write": "plans.quarantine_write_s",
}
UNITS = {"_s": "s", "_mb": "MB", "_rows": "count", "_tasks": "count"}
END_TO_END = {"setup_s": "s", "rows_per_s": "rows/s", "peak_rss_mb": "MB"}


def unit_of(name: str) -> str:
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "ratio")


def parse_args(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment() -> dict:
    """Spark's scratch space, Python workers and JVM temp files all stay
    under the benchmark's work directory."""
    local, tmp = os.path.join(WORK, "spark-local"), os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


class Passes:
    """Runs, times and checks passes; keeps one record per pass."""

    def __init__(self, workload, ctx, tracer=None):
        self.workload, self.ctx, self.tracer = workload, ctx, tracer
        self.records: list[dict] = []
        self.layers: list[dict] = []

    def run(self, phase: str, traced: bool = False) -> dict:
        wl, ctx = self.workload, self.ctx
        record = {"phase": phase, "traced": traced}
        t0 = time.perf_counter()
        try:
            if traced:
                result, layers = self._traced()
            else:
                result = wl.run_pass(ctx)
            record["seconds"] = time.perf_counter() - t0
            mismatch = wl.check(wl.observe(ctx, result), ctx)
            if mismatch:
                record["error"] = f"counts differ (observed, expected): {mismatch}"
            elif traced:
                self.layers.append(layers)
        except Exception:  # a failed pass is counted, and the run goes on
            record.setdefault("seconds", time.perf_counter() - t0)
            record["error"] = traceback.format_exc(limit=3)
        self.records.append(record)
        return record

    def _traced(self):
        from perfbench import inputs

        tracer, wl, ctx = self.tracer, self.workload, self.ctx
        first = len(tracer.spans)
        with tracer.span("sources.scan"):
            wl.bare_scan(ctx)
        result, layers = wl.traced_pass(ctx, tracer)
        # counted after the pass span closed, from the parquet footers, so
        # the traced pass runs the same Spark jobs as an untraced one
        layers["plans.violation_rows"] = inputs.parquet_rows(
            os.path.join(ctx.out_dir, "violations")
        )
        spans = tracer.spans[first:]
        for span in spans:
            if span.name in SPAN_METRICS:
                layers[SPAN_METRICS[span.name]] = span.duration
            if span.name == "operators.uniqueness":
                layers["operators.uniqueness_shuffle_mb"] = (
                    span.counters["shuffle_write_bytes"] / 1e6
                )
            if span.name == "plans.quarantine_write":
                layers["sources.output_mb"] = span.counters["output_bytes"] / 1e6
        root = next(s for s in spans if s.name == "pass")
        layers["sources.input_mb"] = wl.scan_bytes(ctx) / 1e6
        if "plans.row_pass_s" in layers:
            # the row pass re-reads what the bare scan read; the rest is the checks
            layers["compiler.checks_self_s"] = layers["plans.row_pass_s"] - layers["sources.scan_s"]
        layers["spark.task_s"] = root.counters["task_ms"] / 1e3
        layers["spark.gc_s"] = root.counters["gc_ms"] / 1e3
        layers["spark.failed_tasks"] = root.counters["failed_tasks"]
        layers["trace.pass_s"] = root.duration
        return result, layers

    def untraced_seconds(self, positions: range) -> list:
        """Seconds of the passes at ``positions`` that ran untraced and passed."""
        return [
            r["seconds"] for r in self.records[positions.start:positions.stop]
            if not r["traced"] and "error" not in r
        ]


def timed(passes: Passes, seconds: float, trace: bool) -> range:
    """Runs the timed passes; returns the positions the median is taken over."""
    n = passes.workload.timed_passes
    first = len(passes.records)
    t0 = time.perf_counter()
    k = 0
    while k < n or time.perf_counter() - t0 < seconds:
        # the traced run alternates traced and untraced passes, so the
        # tracing overhead is measured on the same warm process
        passes.run("timed", traced=trace and k % 2 == 0)
        k += 1
    return range(first, first + n)


def measure(spark, wl, args, session_s: float) -> dict:
    from perfbench import inputs, tracing

    cache_dir = os.path.join(WORK, "inputs")
    input_seed = args.seed % INPUT_VARIANTS
    t0 = time.perf_counter()
    path = wl.prepare(spark, cache_dir, input_seed)
    generate_s = time.perf_counter() - t0

    out_dir = os.path.join(WORK, "results", wl.name)
    setups = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        ctx = wl.setup(spark, path, out_dir)
        setups.append((time.perf_counter() - t0, ctx.compile_s))
    setup_s = session_s + statistics.median(s for s, _ in setups)

    tracer = None
    if args.trace:
        counters = tracing.StatusCounters(spark)
        tracer = tracing.Tracer(counters.snapshot)
    passes = Passes(wl, ctx, tracer)
    passes.run("cold")
    for _ in range(wl.warm_passes):
        passes.run("warm")
    positions = timed(passes, args.seconds, bool(args.trace))

    untraced = passes.untraced_seconds(positions) or [
        r["seconds"] for r in passes.records
    ]
    pass_s = statistics.median(untraced)
    failed = sum("error" in r for r in passes.records)
    report = {
        "workload": wl.name,
        "seed": args.seed,
        "input_seed": input_seed,
        "rows": wl.rows,
        "input_bytes": inputs.input_bytes(path),
        "generate_s": generate_s,
        "session_s": session_s,
        "compile_s": statistics.median(c for _, c in setups),
        "setup_s": setup_s,
        "pass_s": pass_s,
        "rows_per_s": wl.rows / pass_s,
        "attempted": len(passes.records),
        "failed": failed,
        "error_rate": failed / len(passes.records),
        "passes": passes.records,
    }
    if tracer is not None:
        layers = {
            name: statistics.median(d[name] for d in passes.layers)
            for name in sorted({n for d in passes.layers for n in d})
        }
        layers["sources.session_s"] = session_s
        layers["plans.compile_s"] = report["compile_s"]
        layers["spark.old_gen_peak_mb"] = tracing.old_gen_peak_bytes(spark) / 1e6
        if "trace.pass_s" in layers:
            layers["trace.slowdown"] = layers.pop("trace.pass_s") / pass_s
        report["layers"] = layers
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK, "traces", f"{wl.name}_seed{args.seed}.json")
        tracer.write(trace_path, extra={k: v for k, v in report.items() if k != "layers"})
        report["trace_file"] = os.path.relpath(trace_path, ROOT)
    return report


def per_layer_metrics(layers: dict) -> dict:
    names = [
        "sources.session_s", "plans.compile_s", "sources.scan_s", "sources.input_mb",
        "plans.row_pass_s", "compiler.checks_self_s", "plans.violations_s",
        "plans.violation_rows", "operators.uniqueness_s", "operators.uniqueness_shuffle_mb",
        "operators.referential_s", "operators.profile_s", "operators.gate_s",
        "operators.gate_rows", "plans.quarantine_write_s", "sources.output_mb",
        "spark.task_s", "spark.gc_s", "spark.failed_tasks", "spark.old_gen_peak_mb",
        "trace.slowdown",
    ]
    # a layer the workload does not run reports 0
    return {n: {"value": layers.get(n, 0), "unit": unit_of(n)} for n in names}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "jsonschema_spark")):
        print("perfbench: no jsonschema_spark package beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    env = pin_environment()

    from jsonschema_spark.sources.session import get_spark
    from perfbench import tracing, workloads

    wl = workloads.WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        conf["spark.ui.liveUpdate.period"] = "0"  # status store written per task
    with tracing.PeakRss() as rss:
        spark = get_spark(app_name=f"perfbench-{wl.name}", cores=cores, extra_conf=conf)
        session_s = time.perf_counter() - PROCESS_START
        try:
            report = measure(spark, wl, args, session_s)
        finally:
            stop_spark(spark)
    report["peak_rss_mb"] = rss.peak / 1e6
    report["settings"] = {
        "master": f"local[{cores}]",
        "env": {k: (os.path.relpath(v, ROOT) if v.startswith(ROOT) else v) for k, v in env.items()},
        "extra_conf": conf,
    }

    print(json.dumps({k: v for k, v in report.items() if k != "passes"}, indent=1))
    for r in report["passes"]:
        status = "ok" if "error" not in r else "FAILED: " + r["error"].strip().splitlines()[-1]
        print(f"pass {r['phase']:6} traced={int(r['traced'])} {r['seconds']:8.3f} s  {status}")
    print(f"error_rate {report['error_rate']:.4f} ({report['failed']}/{report['attempted']} passes)")
    if args.trace:
        metrics = per_layer_metrics(report["layers"])
    else:
        metrics = {n: {"value": report[n], "unit": u} for n, u in END_TO_END.items()}
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
