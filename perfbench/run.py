"""Benchmark entry point.

    python3 perfbench/run.py --workload {queries,etl_ticks}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  The run builds its inputs from the seed
(see gen.py), times each operation on its own in a single-client closed
loop, checks every result, and prints as its last stdout line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  The line
before it holds the run's detail (per-operation medians, wall-clock
latencies, set-up phases and the noise record: host probe, stolen time,
load average, nproc).

``--trace 0`` reports the end-to-end metrics, both in CPU seconds of the
benchmark's process tree (the Python driver, the JVM, the Python workers):
``op_cpu_s``, the mean CPU an operation costs, and ``setup_s``, the CPU
from process start to the first timed operation.  CPU seconds leave out
the time a shared host makes the run wait for a core, which moves wall-clock
latencies of the same code by a third or more from one run to the next.
Wall-clock latency, throughput and peak RSS are per-layer metrics.

``--trace 1`` reports the per-layer metrics: it alternates untraced and
traced passes (ticks), wraps
the engine's layer boundaries during the traced ones (layers.py), enables
Spark's uncompressed event log for the whole run, and writes the spans to
``.perfbench_out/`` at exit.

Each run gets its own scratch root under ``.perfbench_run/``: TMPDIR,
SPARK_LOCAL_DIRS, java.io.tmpdir, the working directory, the inputs and the
sink all live there.  What the engine leaves in TMPDIR is reported as
``leak.tmp_dirs``, then the root is deleted.
"""

from __future__ import annotations

import os
import sys
import time


def _process_start() -> float:
    """Wall-clock time this process started (set-up is timed from it)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


PROCESS_START = _process_start()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

import gen  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="etl_suite_spark benchmark")
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(run_dir: str, trace: bool) -> None:
    """Point every scratch location of the engine and Spark into ``run_dir``."""
    shutil.rmtree(run_dir, ignore_errors=True)  # a killed run's leftovers under a reused pid
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local, os.path.join(run_dir, "eventlog")):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # JIT compiler threads that come and go would take their CPU with them
    # when they end; kept alive, it stays attributable (see op_cpu_s)
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    ).strip()
    submit = "--conf spark.ui.showConsoleProgress=false"
    if trace:
        submit += (
            " --conf spark.eventLog.enabled=true"
            " --conf spark.eventLog.compress=false"
            " --conf spark.eventLog.rolling.enabled=false"
            f" --conf spark.eventLog.dir=file://{run_dir}/eventlog"
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit + " pyspark-shell"
    os.chdir(run_dir)


def peak_rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every process below it (the
    JVM, the Python workers), children already reaped included.

    Time the hypervisor steals and time spent waiting for a core are not
    in it, so it measures the work an operation costs, not how busy the host
    is while it runs."""
    children: dict[int, list[int]] = {}
    used: dict[int, int] = {}
    for e in os.listdir("/proc"):
        if not e.isdigit():
            continue
        try:
            with open(f"/proc/{e}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        pid = int(e)
        children.setdefault(int(fields[1]), []).append(pid)
        used[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


# What a JVM thread does, by the start of its name.
JVM_THREADS = (("GC Thread", "gc"), ("G1 ", "gc"), ("VM Thread", "gc"),
               ("C1 Compiler", "jit"), ("C2 Compiler", "jit"),
               ("Executor task", "tasks"))
JVM_PARTS = ("gc", "jit", "tasks", "other")


def jvm_threads(pid: int) -> dict[int, tuple[str, float]]:
    """Each live thread of the JVM: what it does and its CPU seconds so far."""
    out = {}
    tick = os.sysconf("SC_CLK_TCK")
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:  # the thread ended while we looked
            continue
        name = raw[raw.index("(") + 1:raw.rindex(")")]
        fields = raw.rsplit(")", 1)[1].split()
        part = next((p for prefix, p in JVM_THREADS if name.startswith(prefix)), "other")
        out[int(tid)] = (part, (int(fields[11]) + int(fields[12])) / tick)
    return out


def jvm_cpu_between(before: dict, after: dict) -> dict[str, float]:
    """CPU seconds the JVM's threads used between two snapshots, by part."""
    out = dict.fromkeys(JVM_PARTS, 0.0)
    for tid, (part, cpu) in after.items():
        out[part] += cpu - before.get(tid, (part, 0.0))[1]
    return out


def op_cpu_s(rec: dict) -> float:
    """The CPU an operation costs: every thread that runs it, the Python
    driver and workers and the JVM's, but not the JIT compilers, which work
    in the background on their own clock long after warm-up."""
    return rec["cpu"] - rec["jvm"]["jit"]


def steal_s() -> float:
    """CPU seconds the hypervisor has stolen from this machine so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def tmp_entries() -> set[str]:
    # the materialize_once root is a per-process cache swept at exit, not a leak
    return {e for e in os.listdir(os.environ["TMPDIR"]) if not e.startswith("etl_mat_run")}


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    def __init__(self, args, run_dir: str) -> None:
        self.args = args
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.sf_dir = os.path.join(run_dir, "inputs")
        self.tracer = layers.Tracer()
        self.ops: list[dict] = []  # timed operations
        self.failures: list[str] = []
        self.attempted = 0
        self.phases: dict[str, float] = {}
        self.probes: list[float] = []
        self.spark = None
        self.pid = os.getpid()
        self.pids: list[int] = [self.pid]

    # -- one operation -------------------------------------------------------

    def _op(self, op_id: str, name: str, traced: bool, body) -> dict:
        """Time ``body`` as one operation; record failures, never raise."""
        tr = self.tracer
        tr.active, tr.op = traced, op_id
        self.attempted += 1
        rec = {"id": op_id, "name": name, "traced": traced, "ok": False}
        rec["wall0"] = time.time()
        j0 = jvm_threads(self.jvm_pid)
        c0 = tree_cpu_s(self.pid)
        t0 = time.perf_counter()
        try:
            with tr.span("op", op_name=name):
                err = body()
        except Exception as e:  # an operation that raises counts as failed
            err = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
        rec["s"] = time.perf_counter() - t0
        rec["cpu"] = tree_cpu_s(self.pid) - c0
        rec["jvm"] = jvm_cpu_between(j0, jvm_threads(self.jvm_pid))
        rec["wall1"] = time.time()
        tr.active = False
        rec["ok"] = err is None
        if err is not None:
            self.failures.append(f"{op_id} {name}: {err}")
        self.probes.append(workloads.host_probe())
        return rec

    def query_body(self, name: str):
        from etl_suite_spark.registry import QUERIES

        tr = self.tracer
        pin = self.pins.get(name)

        def body():
            with tr.span("construct"):
                df = QUERIES[name](self.spark, self.sf_dir)
            frame = workloads.checksum_frame(df)
            if tr.active:
                with tr.span("plan"):
                    frame._jdf.queryExecution().executedPlan()
            with tr.span("execute"):
                row = frame.collect()[0]
            got = {"rows": row["rows"], "checksum": row["checksum"]}
            if got != pin:
                return f"result {got} != pinned {pin}"
            return None

        return body

    # -- workloads -----------------------------------------------------------

    def start(self) -> None:
        from etl_suite_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.phases["session.start_s"] = time.perf_counter() - t
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.pids.append(self.jvm_pid)
        self.tmp0 = tmp_entries()
        self.threads0 = threading.active_count()
        if self.trace:
            layers.install(self.tracer)
        self.pins = workloads.load_pins()

    def run_queries(self) -> None:
        t = time.perf_counter()
        gen.write_base(self.sf_dir, workloads.SF)
        self.phases["inputs_s"] = time.perf_counter() - t
        t = time.perf_counter()
        for k in range(workloads.WARM_PASSES):
            for name in workloads.QUERY_MIX:
                self._op(f"warm{k}-{name}", name, self.trace, self.query_body(name))
        self.phases["warmup_s"] = time.perf_counter() - t
        self.begin_timed()
        passes = workloads.schedule(
            self.args.seed, workloads.n_units("queries", self.args.seconds, self.trace)
        )
        i = 0
        for p, names in enumerate(passes):
            for name in names:
                # traced runs trace each query in every other pass, half the
                # queries per pass, so drift during the run hits both sides
                traced = self.trace and (workloads.QUERY_MIX.index(name) + p) % 2 == 1
                self.ops.append(self._op(f"op{i}", name, traced, self.query_body(name)))
                i += 1
        self.end_timed()

    def run_ticks(self) -> None:
        from etl_suite_spark.plans.incremental import advance_watermark
        from etl_suite_spark.plans.pipeline import run_pipeline

        tr = self.tracer
        t = time.perf_counter()
        events_dir = os.path.join(self.sf_dir, "events.parquet")
        os.makedirs(events_dir)
        base = gen.base_tables(workloads.SF)["events"]
        gen.write_table(base, os.path.join(events_dir, "part-base.parquet"))
        n_users = gen.n_users(workloads.SF)
        sink = os.path.join(self.run_dir, "sink", "daily_events")
        state = os.path.join(self.run_dir, "watermark.json")
        hi = max(base.column("ts").to_pylist())
        advance_watermark(state, hi.strftime("%Y-%m-%d %H:%M:%S.%f"))
        spec = workloads.tick_spec(sink, state)
        oracle = workloads.TickOracle(sink, state)
        self.phases["inputs_s"] = time.perf_counter() - t
        next_id = base.num_rows
        n_ticks = workloads.n_units("etl_ticks", self.args.seconds, self.trace)

        def tick(i: int, op_id: str, traced: bool) -> dict:
            nonlocal next_id
            b = workloads.batch(self.args.seed, i, next_id, n_users)
            next_id += workloads.TICK_ROWS
            path = os.path.join(events_dir, f"batch-{i:05d}.parquet")
            gen.write_table(b, path)
            oracle.land(path)
            files0 = workloads.files_and_bytes(sink)

            def body():
                with tr.span("pipeline.run"):
                    run_pipeline(self.spark, self.sf_dir, spec)
                return None

            rec = self._op(op_id, "etl_tick", traced, body)
            files1 = workloads.files_and_bytes(sink)
            rec["sink_files"] = files1[0] - files0[0]
            rec["sink_bytes"] = files1[1] - files0[1]
            bad = oracle.check() if rec["ok"] else None
            if bad is not None:
                rec["ok"] = False
                self.failures.append(f"{op_id} etl_tick: {bad}")
            return rec

        t = time.perf_counter()
        for i in range(workloads.WARM_TICKS):
            tick(i, f"warm{i}", self.trace)
        self.phases["warmup_s"] = time.perf_counter() - t
        self.begin_timed()
        for j in range(n_ticks):
            i = workloads.WARM_TICKS + j
            self.ops.append(tick(i, f"op{j}", self.trace and j % 2 == 1))
        self.end_timed()

    def begin_timed(self) -> None:
        self.setup_wall_s = time.time() - PROCESS_START
        self.setup_cpu_s = tree_cpu_s(self.pid)
        self.steal0 = steal_s()

    def end_timed(self) -> None:
        self.steal_s = steal_s() - self.steal0
        self.rss_mb = peak_rss_mb(self.pids)
        self.leak_tmp = len(tmp_entries() - self.tmp0) / self.attempted
        self.leak_threads = (threading.active_count() - self.threads0) / self.attempted

    # -- results -------------------------------------------------------------

    def end_to_end(self) -> dict:
        return {
            "setup_s": {"value": self.setup_cpu_s, "unit": "s"},
            "op_cpu_s": {"value": statistics.fmean(op_cpu_s(r) for r in self.ops), "unit": "s"},
        }

    def per_layer(self) -> dict:
        spans = self.tracer.spans
        traced = [r for r in self.ops if r["traced"]]
        plain = [r for r in self.ops if not r["traced"]]
        n = len(traced)
        by_op: dict[str, list[dict]] = {}
        for s in spans:
            by_op.setdefault(s["op"], []).append(s)

        totals = dict.fromkeys(
            ("io.parquet_reads", "io.read_s", "construct.self_s", "plan_s", "execute_s",
             "pipeline.compile_s", "sink.write_s", "watermark_s"),
            0.0,
        )
        for r in traced:
            ss = by_op.get(r["id"], [])
            dur = {s["id"]: s["end"] - s["start"] for s in ss}
            for s in ss:
                name = s["name"]
                if name == "io.read":
                    totals["io.parquet_reads"] += 1
                    totals["io.read_s"] += dur[s["id"]]
                elif name == "construct":
                    reads = sum(dur[c["id"]] for c in layers.within(ss, s["id"])
                                if c["name"] == "io.read")
                    totals["construct.self_s"] += dur[s["id"]] - reads
                elif name in ("plan", "execute"):
                    totals[f"{name}_s"] += dur[s["id"]]
                elif name == "sink.write":
                    totals["sink.write_s"] += dur[s["id"]]
                elif name == "pipeline.compile":
                    # a tick compiles twice: the job, then, after the sink,
                    # the watermark probe that watermark_s already covers
                    if not any(c["name"] == "sink.write" and c["end"] <= s["start"] for c in ss):
                        totals["pipeline.compile_s"] += dur[s["id"]]
                elif name == "pipeline.run":
                    sink_end = max((c["end"] for c in layers.within(ss, s["id"])
                                    if c["name"] == "sink.write"), default=None)
                    if sink_end is not None:
                        totals["watermark_s"] += s["end"] - sink_end
        m = {k: v / n for k, v in totals.items()}
        windows = {r["id"]: (r["wall0"], r["wall1"]) for r in traced}
        ex = layers.event_log_stats(os.path.join(self.run_dir, "eventlog"), windows)
        for key, scale, name in (
            ("jobs", 1, "exec.jobs"), ("stages", 1, "exec.stages"), ("tasks", 1, "exec.tasks"),
            ("executor_run_s", 1, "exec.executor_run_s"),
            ("shuffle_read_bytes", 2**-20, "exec.shuffle_read_mb"),
            ("shuffle_write_bytes", 2**-20, "exec.shuffle_write_mb"),
            ("spill_bytes", 2**-20, "exec.spill_mb"),
        ):
            m[name] = sum(ex[r["id"]][key] for r in traced) * scale / n
        m["sink.files"] = sum(r.get("sink_files", 0) for r in traced) / n
        m["sink.bytes"] = sum(r.get("sink_bytes", 0) for r in traced) / n
        m["session.start_s"] = self.phases["session.start_s"]
        m["setup_wall_s"] = self.setup_wall_s
        m["op_p50_s"] = statistics.median(r["s"] for r in plain)
        m["ops_per_s"] = len(plain) / sum(r["s"] for r in plain)
        m["peak_rss_mb"] = self.rss_mb
        for part in JVM_PARTS:
            m[f"cpu.jvm_{part}_s"] = statistics.fmean(r["jvm"][part] for r in plain)
        m["cpu.python_s"] = statistics.fmean(r["cpu"] - sum(r["jvm"].values()) for r in plain)
        m["host.probe_s"] = statistics.median(self.probes)
        m["host.loadavg_1m"] = os.getloadavg()[0]
        m["host.nproc"] = len(os.sched_getaffinity(0))
        m["host.steal_s"] = self.steal_s
        m["leak.tmp_dirs"] = self.leak_tmp
        m["leak.threads"] = self.leak_threads
        m["trace.overhead_ratio"] = (
            statistics.median(r["s"] for r in traced) / statistics.median(r["s"] for r in plain)
        )
        names = workloads.QUERY_MIX + ["etl_tick"]
        for name in names:
            lat = [r["s"] for r in plain if r["name"] == name]
            m[f"op.{name}.p50_s"] = statistics.median(lat) if lat else 0.0
        units = {"io.parquet_reads": "count", "exec.jobs": "count", "exec.stages": "count",
                 "exec.tasks": "count", "sink.files": "count", "sink.bytes": "B",
                 "host.loadavg_1m": "load", "host.nproc": "count", "leak.tmp_dirs": "count",
                 "leak.threads": "count", "trace.overhead_ratio": "ratio", "ops_per_s": "1/s"}
        return {
            k: {"value": v, "unit": units.get(k, "MB" if k.endswith("_mb") else "s")}
            for k, v in m.items()
        }


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "etl_suite_spark")):
        print("perfbench: no etl_suite_spark package next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-s{args.seed}-{os.getpid()}")
    isolate(run_dir, bool(args.trace))
    load0 = os.getloadavg()
    run = Run(args, run_dir)
    try:
        import etl_suite_spark  # noqa: F401  (registry side effects)

        run.start()
        if args.workload == "etl_ticks":
            run.run_ticks()
        else:
            run.run_queries()
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
    if args.trace:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        run.tracer.dump(os.path.join(out, f"trace-{args.workload}-s{args.seed}.json"))
        metrics = run.per_layer()
    else:
        metrics = run.end_to_end()
    os.chdir(ROOT)
    shutil.rmtree(run_dir, ignore_errors=True)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "sf": workloads.SF,
        "ops": len(run.ops), "phases": run.phases, "failures": run.failures[:20],
        "host.probe_s": statistics.median(run.probes) if run.probes else None,
        "loadavg_start": load0, "loadavg_end": os.getloadavg(),
        "steal_s": run.steal_s, "leak.tmp_dirs": run.leak_tmp, "leak.threads": run.leak_threads,
        "nproc": len(os.sched_getaffinity(0)),
        "setup_wall_s": run.setup_wall_s,
        "setup_cpu_s": run.setup_cpu_s,
        # each timed operation: name, wall s, CPU s, of which JIT compilers
        "per_op": [[r["name"], round(r["s"], 4), round(r["cpu"], 2), round(r["jvm"]["jit"], 2)]
                   for r in run.ops],
        "op_p50_s": {
            n: statistics.median(r["s"] for r in run.ops if r["name"] == n)
            for n in sorted({r["name"] for r in run.ops})
        },
        "op_cpu_p50_s": {
            n: statistics.median(op_cpu_s(r) for r in run.ops if r["name"] == n)
            for n in sorted({r["name"] for r in run.ops})
        },
        "wall_p50_s": statistics.median(r["s"] for r in run.ops),
        "ops_per_s": len(run.ops) / sum(r["s"] for r in run.ops),
        "peak_rss_mb": run.rss_mb,
        "cpu_parts": {
            **{k: statistics.fmean(r["jvm"][k] for r in run.ops) for k in JVM_PARTS},
            "python": statistics.fmean(r["cpu"] - sum(r["jvm"].values()) for r in run.ops),
        },
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
