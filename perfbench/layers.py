"""Layer timing from outside the engine.

Spans are recorded around calls into the engine's public functions, by
wrapping them at run time; nothing inside the engine changes.  A span has a
name, a start, an end, a parent and the id of the operation it belongs to.
Spans stay in memory and are written out when the run ends; self times
(a span minus the spans below it) are derived from them afterwards.

Wrapped boundaries:

* ``io``: ``DataFrameReader.parquet`` (operators bind ``io.load_table`` by
  name, so the reader is the one place every table read passes through);
* ``plans.pipeline.compile_pipeline`` and ``sources.sinks.write_sink``.

Per-stage execution numbers (jobs, stages, tasks, shuffle bytes, spill,
executor run time) come from Spark's own uncompressed event log, attributed
to an operation by the wall-clock window of its span.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import sys
import time
from collections import defaultdict


class Tracer:
    """In-memory span recorder.  Inactive spans cost one attribute test."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.active = False
        self.op: str | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "op": self.op,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "wall": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _rebind(original, replacement) -> None:
    """Point every engine module's binding of ``original`` at ``replacement``
    (operators import engine functions by name)."""
    for name, mod in list(sys.modules.items()):
        if name.startswith("etl_suite_spark") and mod is not None:
            for attr, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, attr, replacement)


def install(tracer: Tracer) -> None:
    """Wrap the layer boundaries listed in the module docstring."""
    from pyspark.sql.readwriter import DataFrameReader

    from etl_suite_spark.plans import pipeline
    from etl_suite_spark.sources import sinks

    read_parquet = DataFrameReader.parquet

    def parquet(self, *paths, **options):
        with tracer.span("io.read"):
            return read_parquet(self, *paths, **options)

    DataFrameReader.parquet = parquet

    compile_pipeline = pipeline.compile_pipeline

    def traced_compile(*args, **kwargs):
        with tracer.span("pipeline.compile"):
            return compile_pipeline(*args, **kwargs)

    _rebind(compile_pipeline, traced_compile)

    write_sink = sinks.write_sink

    def traced_write_sink(*args, **kwargs):
        with tracer.span("sink.write"):
            return write_sink(*args, **kwargs)

    _rebind(write_sink, traced_write_sink)


def within(spans: list[dict], ancestor: int) -> list[dict]:
    """All spans below ``ancestor`` (spans are recorded parent-first)."""
    inside, out = {ancestor}, []
    for s in spans:
        if s["parent"] in inside:
            inside.add(s["id"])
            out.append(s)
    return out


def event_log_stats(log_dir: str, windows: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Per-operation execution totals from the event log in ``log_dir``.

    ``windows`` maps an operation id to its (start, end) wall-clock seconds.
    A job belongs to the operation whose window holds its submission time;
    the benchmark is a single client in a closed loop, so nothing else
    submits jobs while an operation runs.
    """
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    stats = {op: defaultdict(float) for op in windows}
    ordered = sorted(windows.items(), key=lambda kv: kv[1][0])
    stage_op: dict[int, str] = {}

    def owner(ms: int) -> str | None:
        t = ms / 1000.0
        for op, (a, b) in ordered:
            if a <= t <= b:
                return op
        return None

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    op = owner(ev["Submission Time"])
                    if op is not None:
                        stats[op]["jobs"] += 1
                        for sid in ev["Stage IDs"]:
                            stage_op[sid] = op
                elif kind == "SparkListenerStageCompleted":
                    op = stage_op.get(ev["Stage Info"]["Stage ID"])
                    if op is not None:
                        stats[op]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if op is None or not m:
                        continue
                    st = stats[op]
                    st["tasks"] += 1
                    st["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    rd = m.get("Shuffle Read Metrics", {})
                    st["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    st["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return stats
