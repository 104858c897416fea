"""Per-layer attribution for the traced run.

The benchmark wraps each call into a program layer in ``Tracer.layer``:
the span's wall time is the layer's busy time, and every Spark job the
layer submits carries the job description ``layer:<name>``. Spark's event
log (enabled for the traced run only) records the task metrics of those
jobs; ``task_metrics_by_layer`` groups them by that description.

Spans nest: a span opened inside another pauses the outer span's clock,
so each layer reports its self time and the layers add up to the traced
pass.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = (
    "segment",
    "mentions",
    "pairs",
    "score",
    "linking.lsh",
    "linking.cc",
    "linking.edges",
    "materialize.write_graph",
    "dedup.minhash",
    "streaming.merge",
    "streaming.state",
)

# layers that run (or are planned to run) a Python kernel; the others
# never cross into Python workers, so their py_* metrics are left out
PY_LAYERS = ("segment", "pairs", "linking.lsh", "dedup.minhash", "streaming.merge")

TASK_METRICS = (
    "cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)
# layers whose rows are counted from the records their tasks read and
# write rather than at a materialized boundary
TASK_ROW_LAYERS = ("streaming.state",)
PY_METRICS = ("py_sent_bytes", "py_returned_bytes", "py_run_s")

# SQL metric names of the Python exec nodes, as the event log spells them
_PY_ACCUMULABLES = {
    "data sent to Python workers": ("py_sent_bytes", 1.0),
    "data returned from Python workers": ("py_returned_bytes", 1.0),
    "time to run Python workers": ("py_run_s", 1e-3),  # ms
}

_PREFIX = "layer:"

# figures reported beside the layer x metric grid: useful-work ratios,
# state-store counts, the two stream batch kinds, and the trace's own cost
EXTRA_NAMES = (
    "score.yield",
    "linking.lsh.yield",
    "streaming.state.buckets_rewritten",
    "streaming.state.segments_max",
    "streaming.state.manifest_bytes",
    "streaming.merge.new_batch_s",
    "streaming.merge.repeat_batch_s",
    "layers_busy_s",
    "trace_overhead_s",
    "tasks_failed",
)


def layer_metric_names() -> list[str]:
    names = []
    for layer in LAYERS:
        suffixes = ["busy_s", "rows_in", "rows_out", *TASK_METRICS]
        if layer in PY_LAYERS:
            suffixes += PY_METRICS
        names += [f"{layer}.{s}" for s in suffixes]
    return names


class Tracer:
    """Layer spans and row counts of one traced pass."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.busy_s: dict[str, float] = defaultdict(float)
        self.rows_in: dict[str, int] = defaultdict(int)
        self.rows_out: dict[str, int] = defaultdict(int)
        # ratios and counts a workload reports beside the layer totals
        self.extras: dict[str, float] = {}
        self._stack: list[str] = []
        self._since = 0.0

    @contextmanager
    def layer(self, name: str):
        if name not in LAYERS:
            raise ValueError(f"unknown layer {name!r}")
        now = time.perf_counter()
        if self._stack:
            self.busy_s[self._stack[-1]] += now - self._since
        self._stack.append(name)
        self._since = now
        self._sc.setJobDescription(_PREFIX + name)
        try:
            yield
        finally:
            now = time.perf_counter()
            self.busy_s[self._stack.pop()] += now - self._since
            self._since = now
            self._sc.setJobDescription(
                _PREFIX + self._stack[-1] if self._stack else None
            )

    def rows(self, name: str, rows_in: int, rows_out: int) -> None:
        self.rows_in[name] += int(rows_in)
        self.rows_out[name] += int(rows_out)

    def layer_yield(self, name: str, ratio: float) -> None:
        """Useful outcomes per attempt of a layer that can waste work."""
        self.extras[f"{name}.yield"] = ratio

    def layer_extra(self, name: str, value: float) -> None:
        self.extras[name] = value


def _event_files(event_dir: str) -> list[str]:
    """The rolling event-log files (``eventlog_v2_<app>/events_<n>_<app>``)
    in write order."""
    files = glob.glob(os.path.join(event_dir, "eventlog_v2_*", "events_*"))

    def index(path: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    return sorted(files, key=index)


def task_metrics_by_layer(event_dir: str) -> tuple[dict, int]:
    """Sum task metrics per layer over every job labelled ``layer:<name>``.

    Returns ``({layer: {metric: value}}, tasks_failed)``. Read the log
    after the session has stopped, when Spark has flushed and closed it.
    """
    files = _event_files(event_dir)
    if not files:
        raise FileNotFoundError(f"no rolling event log under {event_dir}")
    stage_layer: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    failed = 0
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    if desc and desc.startswith(_PREFIX):
                        stage_layer[ev["Stage Info"]["Stage ID"]] = desc[len(_PREFIX):]
                elif kind == "SparkListenerTaskEnd":
                    layer = stage_layer.get(ev["Stage ID"])
                    if layer is None:
                        continue
                    info = ev.get("Task Info") or {}
                    if info.get("Failed") or ev["Task End Reason"]["Reason"] != "Success":
                        failed += 1
                    _add_task(out[layer], ev.get("Task Metrics") or {}, info)
    return out, failed


def _add_task(acc: dict, m: dict, info: dict) -> None:
    shuffle_read = m.get("Shuffle Read Metrics") or {}
    shuffle_write = m.get("Shuffle Write Metrics") or {}
    acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9  # ns
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3  # ms
    acc["shuffle_read_bytes"] += shuffle_read.get(
        "Remote Bytes Read", 0
    ) + shuffle_read.get("Local Bytes Read", 0)
    acc["shuffle_write_bytes"] += shuffle_write.get("Shuffle Bytes Written", 0)
    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    acc["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    acc["records_written"] += (m.get("Output Metrics") or {}).get(
        "Records Written", 0
    )
    for a in info.get("Accumulables") or []:
        hit = _PY_ACCUMULABLES.get(a.get("Name"))
        if hit and a.get("Update") is not None:
            acc[hit[0]] += float(a["Update"]) * hit[1]


def layer_metrics(tracer: Tracer, event_dir: str) -> tuple[dict[str, float], int]:
    """Every per-layer metric name with its value (0 for layers the
    workload does not run), plus the failed-task count."""
    by_layer, failed = task_metrics_by_layer(event_dir)
    values: dict[str, float] = {}
    for name in layer_metric_names():
        layer, suffix = name.rsplit(".", 1)
        if suffix == "busy_s":
            values[name] = tracer.busy_s.get(layer, 0.0)
        elif layer in TASK_ROW_LAYERS and suffix in ("rows_in", "rows_out"):
            # the state store's rows are the records its jobs read and write
            key = "records_read" if suffix == "rows_in" else "records_written"
            values[name] = by_layer.get(layer, {}).get(key, 0)
        elif suffix == "rows_in":
            values[name] = tracer.rows_in.get(layer, 0)
        elif suffix == "rows_out":
            values[name] = tracer.rows_out.get(layer, 0)
        else:
            values[name] = by_layer.get(layer, {}).get(suffix, 0.0)
    return values, failed
