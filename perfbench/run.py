"""KG-construction benchmark.

    python3 perfbench/run.py --workload kg_batch --seed 42 --seconds 5 --trace 0

Run from the root of a source checkout. One run builds a Spark session
with ``local[<cores>]``, makes the workload's inputs from ``--seed``,
makes one untimed cold pass, then runs timed passes in a closed loop
until ``--seconds`` have passed, at least one. Every timed pass's output
is checked. Times are CPU seconds of the whole process tree (this
process, the Spark JVM, the Python workers); a pass's time leaves out the
JVM's JIT compilation, which the set-up time includes. Wall seconds are
logged and traced. The last line of standard output is one JSON object:
``correct``, ``attempted`` and ``failed`` passes, and ``metrics``. With
``--trace 0`` these are the end-to-end metrics of ``BENCHMARK.json``;
with ``--trace 1`` the run also makes one traced pass and reports its
per-layer metrics instead. Progress and failure details go to standard
error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "semanticrelationextractionpolish_spark"
WORKLOAD_NAMES = ("kg_batch", "link_stream")
DRIVER_MEMORY = "2g"


START = time.perf_counter()


def log(msg: str) -> None:
    elapsed = time.perf_counter() - START
    print(f"perfbench {elapsed:6.1f}s: {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> dict[str, str]:
    """Keep every file the run writes inside the checkout, and put the
    package on the path of the driver and of Spark's Python workers."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "events", "out")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    return dirs


def make_session(dirs: dict[str, str], trace: bool):
    from semanticrelationextractionpolish_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": os.path.join(dirs["tmp"], "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # JIT compiler threads that live as long as the JVM, so that
        # proctree.cpu_times can count their CPU time apart
        "spark.driver.defaultJavaOptions": (
            f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": dirs["events"],
                # readable with the standard library (the default codec is zstd)
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "true",
            }
        )
    cores = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the driver JVM: it exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Tally:
    """Passes attempted and failed (an exception or a failed check)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, what: str, fn, *args):
        from workloads import Pass

        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = fn(*args)
        except Exception:  # a failed pass is counted and the run goes on
            self.failed += 1
            log(f"{what} raised:\n{traceback.format_exc()}")
            return Pass(time.perf_counter() - t0, 0.0, 0.0, 0.0, ["raised"])
        errors = result.errors if isinstance(result, Pass) else result
        if errors:
            self.failed += 1
            log(f"{what} failed its checks: {errors}")
        return result


def end_to_end(setup_s: float, passes: list, peak_mb: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "cpu_s": statistics.median(p.cpu_s for p in passes),
        "peak_rss_mb": peak_mb,
        "quality_f1": min(p.quality for p in passes),
    }


def per_layer(tracer, dirs, setup_wall_s: float, passes: list) -> dict[str, float]:
    import tracing

    values, tasks_failed = tracing.layer_metrics(tracer, dirs["events"])
    for name in tracing.EXTRA_NAMES:
        values[name] = tracer.extras.get(name, 0)
    for kind in ("new", "repeat"):
        kind_s = [p.batches[kind] for p in passes if kind in p.batches]
        values[f"streaming.merge.{kind}_batch_s"] = (
            statistics.median(kind_s) if kind_s else 0.0
        )
    busy = sum(tracer.busy_s.values())
    wall_s = statistics.median(p.seconds for p in passes)
    values["setup_wall_s"] = setup_wall_s
    values["wall_s"] = wall_s
    values["jit_cpu_s"] = statistics.median(p.jit_s for p in passes)
    values["layers_busy_s"] = busy
    values["trace_overhead_s"] = busy - wall_s
    values["tasks_failed"] = tasks_failed
    return values


def with_units(values: dict[str, float], declared: list[dict]) -> dict:
    names = [m["name"] for m in declared]
    if sorted(names) != sorted(values):
        raise RuntimeError(
            f"metrics {sorted(set(values) ^ set(names))} differ from BENCHMARK.json"
        )
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}


def run(args, dirs, memory) -> dict:
    import tracing
    from proctree import cpu_times
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    tally = Tally()
    t0, cpu0 = time.perf_counter(), cpu_times()[0]
    spark = make_session(dirs, bool(args.trace))
    session = (time.perf_counter() - t0, cpu_times()[0] - cpu0)
    try:
        wl = WORKLOADS[args.workload](spark, dirs["out"], ROOT, args.seed)
        t0, cpu0 = time.perf_counter(), cpu_times()[0]
        wl.build_inputs()
        inputs = (time.perf_counter() - t0, cpu_times()[0] - cpu0)
        cold = tally.run("cold pass", wl.run_pass, 0, False)
        cold_cpu_s = cold.cpu_s + cold.jit_s
        setup_wall_s = session[0] + inputs[0] + cold.seconds
        setup_s = session[1] + inputs[1] + cold_cpu_s
        log(
            f"setup {setup_wall_s:.2f}s cpu {setup_s:.2f}s: "
            f"session {session[0]:.2f}s cpu {session[1]:.2f}s, "
            f"inputs {inputs[0]:.2f}s cpu {inputs[1]:.2f}s, "
            f"cold pass {cold.seconds:.2f}s cpu {cold_cpu_s:.2f}s"
        )
        # closed loop: each pass starts when the previous one and its
        # checks have finished, until --seconds have passed; a traced run
        # makes one untraced pass to compare the traced one against
        passes = []
        t0 = time.perf_counter()
        while not passes or (
            not args.trace and time.perf_counter() - t0 < args.seconds
        ):
            n = len(passes) + 1
            passes.append(tally.run(f"pass {n}", wl.run_pass, n))
            p = passes[-1]
            log(
                f"pass {n}: {p.seconds:.3f}s cpu {p.cpu_s:.2f}s "
                f"jit {p.jit_s:.2f}s {p.batches or ''}"
            )
        if args.trace:
            tracer = tracing.Tracer(spark)
            tally.run("traced pass", wl.traced_pass, tracer)
        peak_mb = memory.peak_mb()
    finally:
        stop_session(spark)
    log("session stopped")
    if args.trace:
        metrics = with_units(
            per_layer(tracer, dirs, setup_wall_s, passes), spec["per_layer"]
        )
    else:
        metrics = with_units(
            end_to_end(setup_s, passes, peak_mb), spec["end_to_end"]
        )
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"no {PACKAGE} package under {ROOT}; run from a source checkout")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    dirs = prepare_env(work)
    from proctree import PeakMemory, reap_descendants

    memory = PeakMemory()
    memory.start()
    try:
        result = run(args, dirs, memory)
    finally:
        memory.stop()
        reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
