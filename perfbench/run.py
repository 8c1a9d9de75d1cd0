#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from the seed under
``.perfbench/`` (the only place the benchmark writes). The run

1. sets the resource envelope (``local[nproc/2]``, driver memory, JVM
   flags, local and temp dirs, one thread per worker) and starts the
   session;
2. runs three warm passes; the first checks every result against an
   independent reference: DuckDB oracles for queries, the mock API's
   own state for the ETL pipeline. Session start plus the warm passes
   is ``setup_s`` (wall time);
3. runs timed passes for ``--seconds`` (at least one), verifying every
   op against the result that passed the check. Each op is timed on
   two clocks: wall time, and the CPU time of this process and all its
   descendants (the JVM, the Python UDF workers);
4. prints one report line per metric (name, value, unit, samples) and,
   last, one JSON object with ``correct``, ``attempted``, ``failed`` and
   ``metrics``: the end-to-end metrics, or with ``--trace 1`` the
   per-layer metrics of ``BENCHMARK.json``.

The end-to-end metrics besides ``setup_s`` and ``peak_rss_mb`` are CPU
times (``pass_cpu_s``, ``op_cpu_p50_s``, ``op_cpu_p90_s``,
``op_cpu_geomean_s``). The wall-clock ones (``pass_s``, ``op_p50_s``,
``op_p90_s``, ``op_geomean_s``) are printed too, but on a shared
virtual host they follow the hypervisor: with 10-15% of the host's CPU
time stolen a pass took 1.5-2x as long, while its CPU time (which the
kernel accounts without the stolen time) moved by a few percent.

The traced run (``--trace 1``) alternates untraced passes (the base of
``trace.overhead``) with traced passes. In a traced pass the layers'
public functions are rebound to span-recording wrappers and every span
runs under its own Spark job group; Spark's event log (switched on
through launch conf) is reduced per span when the session stops. Spans go to
``.perfbench/out/spans-<workload>-<seed>.json``. Per-layer values are
per timed pass.

``--smoke`` runs every workload at its smallest size, untraced and
traced, and checks that every metric of ``BENCHMARK.json`` is reported.
``analytics`` is not listed in ``BENCHMARK.json`` (see ``workloads.py``)
but runs the same way.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path
from typing import NamedTuple

from spans import NullTracer, Tracer, count_exchanges, reduce_event_log

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
STATE_DIR = ROOT / ".perfbench"
DRIVER_MEMORY = "2g"
# Untimed passes charged to setup_s. The second and third warm passes
# still took 10-25% more CPU than the settled passes after them.
WARM_PASSES = 3
WORKLOAD_NAMES = ("analytics", "llm_corpus", "etl_rawzone")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def task_slots(cores: int) -> int:
    """Spark task slots: half the cores. The other half run the driver's
    own threads (this Python client, the JVM's JIT compiler and service
    threads, the Python UDF workers' feeders), so a timed op measures the engine
    rather than the scheduler of an oversubscribed host."""
    return max(1, cores // 2)


def set_envelope(work_dir: Path, traced: bool) -> dict:
    """Pin cores, memory, dirs and thread counts before Spark starts."""
    cores = nproc()
    slots = task_slots(cores)
    tmp = work_dir / "tmp"
    conf_dir = work_dir / "conf"
    for d in (tmp, conf_dir, work_dir / "local", work_dir / "events"):
        d.mkdir(parents=True, exist_ok=True)
    defaults = {
        "spark.local.dir": work_dir / "local",
        "spark.sql.warehouse.dir": work_dir / "warehouse",
        # A fixed-size heap; no more GC threads than task slots. Only
        # the JIT's client compiler: with the server compiler the JVM
        # was still compiling a minute into a run and a pass's CPU time
        # fell by half over the run (12.4 s to 6.4 s), so runs measured
        # the JIT's progress rather than the engine.
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} "
                                         f"-XX:-UsePerfData -XX:ParallelGCThreads={slots} "
                                         "-XX:ConcGCThreads=1 -XX:TieredStopAtLevel=1",
        "spark.eventLog.enabled": str(traced).lower(),
        "spark.eventLog.dir": work_dir / "events",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    (conf_dir / "spark-defaults.conf").write_text(
        "".join(f"{k} {v}\n" for k, v in defaults.items())
    )
    (conf_dir / "log4j2.properties").write_text(
        "rootLogger.level = error\nrootLogger.appenderRef.stderr.ref = console\n"
        "appender.console.type = Console\nappender.console.name = console\n"
        "appender.console.target = SYSTEM_ERR\n"
        "appender.console.layout.type = PatternLayout\n"
        "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
    )
    env = {
        "SPARK_GRAFT_CPUS": str(slots),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": str(work_dir / "local"),
        "SPARK_CONF_DIR": str(conf_dir),
        # The short-lived launcher JVM that spark-submit starts first.
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join([str(ROOT), str(BENCH_DIR)]),
        "TMPDIR": str(tmp),
        # Spark runs one task per core; each task's native libraries get
        # one thread, so tasks never run more threads than cores.
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
    }
    os.environ.update(env)
    os.environ.pop("SPARK_MASTER", None)
    import tempfile

    tempfile.tempdir = str(tmp)
    return {"nproc": cores, "task_slots": slots, "driver_memory": DRIVER_MEMORY, "clients": 1}


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat CPU counters (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def record_envelope(base: dict, seed: int) -> dict:
    import duckdb
    import pyspark

    return {
        **base,
        "seed": seed,
        "loadavg": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
    }


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --------------------------------------------------------------------------


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant (the JVM, the Python worker daemon and its workers),
    including the children they have reaped. On kernels with paravirtual
    steal accounting, time the hypervisor stole from the guest is not in
    it."""
    ppid, cpu = {}, {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                data = fh.read()
        except OSError:  # the process ended meanwhile
            continue
        fields = data[data.rindex(")") + 2:].split()
        pid = int(entry.name)
        ppid[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    mine, frontier = set(), {os.getpid()}
    while frontier:
        mine |= frontier
        frontier = {pid for pid, parent in ppid.items() if parent in frontier} - mine
    return sum(cpu.get(pid, 0) for pid in mine) / os.sysconf("SC_CLK_TCK")


class OpTime(NamedTuple):
    name: str
    wall: float
    cpu: float
    ok: bool


class Pass:
    def __init__(self) -> None:
        self.ops: list[OpTime] = []

    @property
    def wall(self) -> float:
        return sum(o.wall for o in self.ops)

    @property
    def cpu(self) -> float:
        return sum(o.cpu for o in self.ops)


def run_pass(workload, spark, tracer, warm: bool = False) -> Pass:
    """One pass: untimed ``before``, timed ``run``, untimed ``verify``.
    Each pass starts from collected heaps, so no pass pays for garbage
    an earlier one left."""
    gc.collect()
    spark._jvm.System.gc()
    p = Pass()
    for op in workload.pass_ops(spark, tracer, warm):
        op.before()
        ok, result = True, None
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with tracer.op(op.name):
                result = op.run()
        except Exception as exc:  # an op that raises is a failed op
            ok = False
            print(f"# op {op.name} raised {type(exc).__name__}: {exc}", file=sys.stderr)
        elapsed = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        if ok:
            ok = bool(op.verify(result))
            plan = op.plan_of(result)
            if tracer.enabled and plan is not None:
                workload.counters["exchanges"] = (
                    workload.counters.get("exchanges", 0) + count_exchanges(plan)
                )
        if not ok:
            print(f"# op {op.name} failed its check", file=sys.stderr)
        p.ops.append(OpTime(op.name, elapsed, cpu, ok))
    return p


def op_stats(passes: list[Pass], clock: str, prefix: str) -> dict:
    """Pass median, pooled op p50/p90 and the geometric mean of per-op
    medians of one clock (``wall`` or ``cpu``)."""
    times = [getattr(o, clock) for p in passes for o in p.ops]
    by_op: dict[str, list[float]] = {}
    for p in passes:
        for o in p.ops:
            by_op.setdefault(o.name, []).append(getattr(o, clock))
    geo = math.exp(statistics.fmean(math.log(statistics.median(v)) for v in by_op.values()))
    return {
        f"pass{prefix}_s": (statistics.median(getattr(p, clock) for p in passes), "s", len(passes)),
        f"op{prefix}_p50_s": (statistics.median(times), "s", len(times)),
        f"op{prefix}_p90_s": (statistics.quantiles(times, n=10, method="inclusive")[-1], "s",
                              len(times)),
        f"op{prefix}_geomean_s": (geo, "s", len(by_op)),
    }


def end_to_end(setup_s: float, passes: list[Pass], rss: float) -> dict:
    """The metrics of BENCHMARK.json's ``end_to_end``: set-up wall time,
    CPU time per pass and per op, peak memory."""
    return {
        "setup_s": (setup_s, "s", 1),
        **op_stats(passes, "cpu", "_cpu"),
        "peak_rss_mb": (rss, "MB", 1),
    }


def per_layer(workload, session_s, warm_s, spans, groups, passes, untraced) -> dict:
    """Per-pass layer metrics from the spans and the reduced event log.

    Which end-to-end metric each layer should move, and where:

    * session: setup_s, every workload;
    * io: op_cpu_geomean_s / pass_cpu_s on analytics, little on
      llm_corpus, unused by etl_rawzone;
    * plans (builder self time, build-time jobs): pass_cpu_s /
      op_cpu_p90_s on llm_corpus, less on analytics;
    * caching: pass_cpu_s and peak_rss_mb on llm_corpus only;
    * catalyst: op_cpu_geomean_s on analytics;
    * exec: pass_cpu_s everywhere; shuffle and spill mainly llm_corpus;
    * pyworker: op_cpu_p90_s on llm_corpus;
    * etl: pass_cpu_s, op_cpu_p90_s and write_amp on etl_rawzone.
    """
    n = len(passes)
    by_id = {s.id: s for s in spans}

    def dur(s):
        return s.end - s.start

    def total(layer, pred=lambda s: True):
        return sum(dur(s) for s in spans if s.layer == layer and pred(s))

    def under(span, layer_prefix):
        """True if ``span`` is, or descends from, a span of the layer."""
        while span is not None:
            if span.layer.startswith(layer_prefix):
                return True
            span = by_id.get(span.parent)
        return False

    def sum_groups(key, pred=lambda s: True):
        return sum(c.get(key, 0) for sid, c in groups.items()
                   if sid is not None and pred(by_id[sid]))

    children: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            children[s.parent] = children.get(s.parent, 0) + dur(s)
    build_spans = [s for s in spans if s.layer == "plans.build"]
    op_time = total("op")
    cache_spans = [s for s in spans if s.layer == "caching"]
    builds = [s for s in cache_spans if s.built]
    c = workload.counters
    merge_op = lambda s: s.op == "merge_into_snapshot_table"  # noqa: E731
    m = {
        "session.start_s": (session_s, "s"),
        "session.warmup_s": (warm_s, "s"),
        "io.load_calls": (sum(1 for s in spans if s.layer == "io.load") / n, "count"),
        "io.load_s": (total("io.load") / n, "s"),
        "io.load_jobs": (sum_groups("jobs", lambda s: under(s, "io.load")) / n, "count"),
        "io.adaptive_partitions_s": (total("io.adaptive_partitions") / n, "s"),
        "plans.build_s": (sum(dur(s) - children.get(s.id, 0) for s in build_spans) / n, "s"),
        "plans.build_jobs": (sum_groups("jobs", lambda s: under(s, "plans.build")) / n, "count"),
        "plans.build_share": (sum(dur(s) for s in build_spans) / op_time if op_time else 0.0, "ratio"),
        "caching.calls": (len(cache_spans) / n, "count"),
        "caching.builds": (len(builds) / n, "count"),
        "caching.hit_ratio": (1 - len(builds) / len(cache_spans) if cache_spans else 0.0, "ratio"),
        "caching.build_s": (sum(dur(s) for s in builds) / n, "s"),
        "catalyst.plan_s": (total("catalyst.plan") / n, "s"),
        "catalyst.exchanges": (c.get("exchanges", 0) / n, "count"),
        "exec.action_s": (total("exec.action") / n, "s"),
        "exec.jobs": (sum_groups("jobs") / n, "count"),
        "exec.stages": (sum_groups("stages") / n, "count"),
        "exec.tasks": (sum_groups("tasks") / n, "count"),
        "exec.task_cpu_s": (sum_groups("task_cpu_s") / n, "s"),
        "exec.gc_s": (sum_groups("gc_s") / n, "s"),
        "exec.files_read": (sum_groups("files_read") / n, "count"),
        "exec.input_bytes": (sum_groups("input_bytes") / n, "B"),
        "exec.shuffle_write_bytes": (sum_groups("shuffle_write_bytes") / n, "B"),
        "exec.shuffle_read_bytes": (sum_groups("shuffle_read_bytes") / n, "B"),
        "exec.spill_bytes": (sum_groups("spill_bytes") / n, "B"),
        "pyworker.worker_s": (sum_groups("py_worker_s") / n, "s"),
        "pyworker.boot_s": (sum_groups("py_boot_s") / n, "s"),
        "pyworker.bytes_sent": (sum_groups("py_bytes_sent") / n, "B"),
        "etl.extract_s": (total("etl.extract") / n, "s"),
        "etl.api_requests": (c.get("api_requests", 0) / n, "count"),
        "etl.files_written": (c.get("files_written", 0) / n, "count"),
        "etl.bytes_written": (c.get("bytes_written", 0) / n, "B"),
        "etl.snapshot_s": (total("etl.snapshot") / n, "s"),
        "etl.export_s": (total("etl.export") / n, "s"),
        "etl.merge_s": (total("op", lambda s: s.name == "merge_into_snapshot_table") / n, "s"),
        "etl.merge_files_read": (sum_groups("files_read", merge_op) / n, "count"),
        "etl.merge_read_ratio": (
            sum_groups("scan_rows", merge_op) / c["merge_batch_rows"]
            if c.get("merge_batch_rows") else 0.0, "ratio"),
        "etl.write_amp": (write_amp(c), "ratio"),
        "trace.pass_s": (statistics.median(p.wall for p in passes), "s"),
        "trace.overhead": (statistics.median(p.wall for p in passes)
                           / statistics.median(p.wall for p in untraced), "ratio"),
    }
    return m


def write_amp(counters: dict) -> float:
    payload = counters.get("payload_bytes", 0)
    return counters.get("bytes_written", 0) / payload if payload else 0.0


# --------------------------------------------------------------------------


def run(workload_name: str, seed: int, seconds: float, traced: bool, size: str) -> int:
    work_dir = STATE_DIR / "work" / f"{workload_name}-{seed}-{os.getpid()}"
    shutil.rmtree(work_dir, ignore_errors=True)
    try:
        return _run(work_dir, workload_name, seed, seconds, traced, size)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def _run(work_dir: Path, workload_name: str, seed: int, seconds: float, traced: bool,
         size: str) -> int:
    clock = {"start": time.perf_counter()}
    ticks = cpu_ticks()
    base = set_envelope(work_dir, traced)
    sys.path[:0] = [str(ROOT), str(BENCH_DIR)]
    try:
        from workloads import WORKLOADS

        from etl_spark.session import get_spark, tune_session
        import etl_spark.plans  # noqa: F401  (registers every query)
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    envelope = record_envelope(base, seed)
    workload = WORKLOADS[workload_name](work_dir / "data", seed, size)
    clock["inputs"] = time.perf_counter()
    spark = None
    try:
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        spark = tune_session(get_spark(f"perfbench-{workload_name}"))
        session_s = time.perf_counter() - t0

        null = NullTracer()
        # The first warm pass checks every result against its reference;
        # the others let the JIT settle before timing starts.
        warm = [run_pass(workload, spark, null, warm=True)]
        warm += [run_pass(workload, spark, null) for _ in range(WARM_PASSES - 1)]
        warm_s = sum(p.wall for p in warm)
        setup_s = session_s + warm_s
        setup_cpu_s = tree_cpu_s() - c0
        print("# warm cpu " + " ".join(f"{p.cpu:.3f}" for p in warm))
        clock["setup_and_check"] = time.perf_counter()

        # The traced run alternates untraced and traced passes; their
        # median walls give trace.overhead.
        tracer = Tracer(spark) if traced else null
        passes: list[Pass] = []
        untraced: list[Pass] = []
        workload.counters.clear()
        t_measure = time.perf_counter()
        while not passes or time.perf_counter() - t_measure < seconds:
            if traced:
                counters = dict(workload.counters)
                untraced.append(run_pass(workload, spark, null))
                workload.counters = counters
                tracer.pass_no = len(passes)
                tracer.install()
            passes.append(run_pass(workload, spark, tracer))
            if traced:
                tracer.uninstall()
        rss = peak_rss_mb(spark)
        clock["measure"] = time.perf_counter()
    finally:
        if spark is not None:
            stop_session(spark)
    clock["stop"] = time.perf_counter()

    attempted = sum(len(p.ops) for p in warm + passes)
    failed = sum(1 for p in warm + passes for o in p.ops if not o.ok)
    e2e = end_to_end(setup_s, passes, rss)
    # Wall-clock figures are reported but not part of end_to_end: on a
    # shared host they follow the hypervisor (see the module docstring).
    shown = {**e2e, "setup_cpu_s": (setup_cpu_s, "s", 1), **op_stats(passes, "wall", "")}
    report = {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in shown.items()}
    report["error_rate"] = {"value": failed / attempted, "unit": "ratio", "samples": attempted}
    if workload_name == "etl_rawzone":
        report["write_amp"] = {"value": write_amp(workload.counters), "unit": "ratio",
                               "samples": len(passes)}
    metrics = {k: {"value": report[k]["value"], "unit": report[k]["unit"]} for k in e2e}

    if traced:
        (log,) = (work_dir / "events").iterdir()
        groups = reduce_event_log(str(log))
        layer = per_layer(workload, session_s, warm_s, tracer.spans, groups, passes, untraced)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        span_file = STATE_DIR / "out" / f"spans-{workload_name}-{seed}.json"
        span_file.parent.mkdir(parents=True, exist_ok=True)
        tracer.write_spans(str(span_file), {"workload": workload_name, "envelope": envelope,
                                            "passes": len(passes)}, groups)
        print(f"# spans: {span_file.relative_to(ROOT)}")

    delta = [b - a for a, b in zip(ticks, cpu_ticks())]
    envelope["host_steal_share"] = delta[7] / sum(delta) if sum(delta) else 0.0
    marks = list(clock.items())
    phases = {b[0]: round(b[1] - a[1], 3) for a, b in zip(marks, marks[1:])}
    print("# envelope " + json.dumps({**envelope, "workload": workload_name, "size": size,
                                      "inputs": workload.inputs(), "phases_s": phases}))
    print("# pass walls " + " ".join(f"{p.wall:.3f}" for p in passes))
    print("# pass cpu " + " ".join(f"{p.cpu:.3f}" for p in passes))
    for k, v in report.items():
        print(f"# {workload_name} {k} = {v['value']:.6g} {v['unit']} (n={v['samples']})")
    if traced:
        for k, v in metrics.items():
            print(f"# {workload_name} {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


def smoke() -> int:
    """Every workload at its smallest size, untraced and traced; every
    metric of BENCHMARK.json must be present."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ok = True
    for name in WORKLOAD_NAMES:
        for trace_flag, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, str(BENCH_DIR / "run.py"), "--workload", name,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace_flag),
                   "--size", "smoke"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines else {}
            missing = [m["name"] for m in spec[key] if m["name"] not in result.get("metrics", {})]
            good = proc.returncode == 0 and result.get("correct") and not missing
            ok &= bool(good)
            print(f"smoke {name} trace={trace_flag}: "
                  f"{'ok' if good else 'FAIL'} rc={proc.returncode} missing={missing}")
            if not good:
                print(proc.stderr[-3000:], file=sys.stderr)
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--smoke", action="store_true", help="run the smoke check")
    args = ap.parse_args(argv)
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    return run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)


if __name__ == "__main__":
    sys.exit(main())
