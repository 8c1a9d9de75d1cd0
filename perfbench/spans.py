"""Per-layer tracing for the benchmark's traced run.

The engine carries no instrumentation of its own, so the tracer works
from outside it:

* ``install`` rebinds the layers' public functions, in every
  ``etl_spark`` module that holds a reference to them, to wrappers that
  record a span (name, layer, start, end, parent, op) and run the call
  under a Spark job group named after the span. ``uninstall`` restores
  the originals.
* Spark's event log (switched on through launch conf) records every
  job with its job group, so ``reduce_event_log`` can attribute jobs,
  stages, task metrics and SQL metrics to the innermost span that
  started them.

Spans stay in memory until ``write_spans``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import sys
import time
from collections import defaultdict

# (module, attribute) of each wrapped function -> layer name.
TRACED = (
    ("etl_spark.io", "load", "io.load"),
    ("etl_spark.io", "adaptive_partitions", "io.adaptive_partitions"),
    ("etl_spark.operators.caching", "session_cached", "caching"),
    ("etl_spark.operators.caching", "session_checkpointed", "caching"),
    ("etl_spark.etl.pipeline", "extract_snapshot", "etl.extract"),
    ("etl_spark.etl.pipeline", "snapshot_records", "etl.snapshot"),
    ("etl_spark.etl.pipeline", "export_csv", "etl.export"),
    ("etl_spark.etl.merge", "load_extraction", "etl.merge"),
    ("etl_spark.etl.merge", "init_snapshot_table", "etl.merge"),
    ("etl_spark.etl.merge", "merge_into_snapshot_table", "etl.merge"),
)


class Span:
    __slots__ = ("id", "parent", "layer", "name", "op", "pass_no", "start", "end", "built")

    def __init__(self, sid, parent, layer, name, op, pass_no):
        self.id, self.parent, self.layer, self.name, self.op = sid, parent, layer, name, op
        self.pass_no = pass_no
        self.start = time.perf_counter()
        self.end = None
        self.built = False  # caching spans: the call ran its build()

    def as_dict(self) -> dict:
        return {s: getattr(self, s) for s in self.__slots__}


class NullTracer:
    """Untraced runs: the same calls, no spans, no job groups."""

    enabled = False

    def span(self, layer, name=""):
        return contextlib.nullcontext()

    def op(self, name):
        return contextlib.nullcontext()


class Tracer:
    enabled = True

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._originals: list[tuple[object, str, object]] = []
        self.pass_no = 0

    # -- spans ---------------------------------------------------------
    def _open(self, layer: str, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        op = parent.op if parent else name
        span = Span(len(self.spans), parent.id if parent else None, layer, name, op,
                    self.pass_no)
        self.spans.append(span)
        self._stack.append(span)
        self._sc.setJobGroup(f"span-{span.id}", f"{op}:{layer}")
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            outer = self._stack[-1]
            self._sc.setJobGroup(f"span-{outer.id}", f"{outer.op}:{outer.layer}")
        else:
            self._sc.setJobGroup("untraced", "untraced")

    @contextlib.contextmanager
    def span(self, layer: str, name: str = ""):
        span = self._open(layer, name)
        try:
            yield span
        finally:
            self._close(span)

    def op(self, name: str):
        return self.span("op", name)

    # -- rebinding -----------------------------------------------------
    def _wrap(self, fn, layer: str):
        tracer = self

        if layer == "caching":
            @functools.wraps(fn)
            def cached(name, spark, sf_dir, build):
                with tracer.span(layer, name) as span:
                    def counted_build():
                        span.built = True
                        return build()
                    return fn(name, spark, sf_dir, counted_build)
            return cached

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(layer, fn.__name__):
                return fn(*args, **kwargs)
        return wrapper

    def install(self) -> None:
        for mod_name, attr, layer in TRACED:
            original = getattr(sys.modules[mod_name], attr)
            wrapper = self._wrap(original, layer)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith("etl_spark"):
                    continue
                for key, value in list(vars(mod).items()):
                    if value is original:
                        setattr(mod, key, wrapper)
                        self._originals.append((mod, key, original))

    def uninstall(self) -> None:
        for mod, key, original in reversed(self._originals):
            setattr(mod, key, original)
        self._originals.clear()

    def write_spans(self, path: str, extra: dict, groups: dict) -> None:
        """Write every span with the Spark counters of its job group."""
        spans = [{**s.as_dict(), "spark": groups.get(s.id, {})} for s in self.spans]
        with open(path, "w") as fh:
            json.dump({**extra, "spans": spans}, fh)


_EXCHANGE_LINE = re.compile(r"^[\s:+\-]*(\*\(\d+\) )?(Exchange|BroadcastExchange) ")


def count_exchanges(df) -> int:
    """Exchange nodes in the plan ``df`` last executed (the final
    adaptive plan once an action has run)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return sum(1 for line in plan.toString().splitlines() if _EXCHANGE_LINE.match(line))


# --------------------------------------------------------------------------
# Event-log reduction

_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"], m.get("metricType", "sum"))
    for child in node.get("children", []):
        _plan_metrics(child, out)


def reduce_event_log(path: str) -> dict:
    """Group the event log by job group (``span-<id>``).

    Returns ``{"groups": {span_id: counters}, "unattributed": counters}``
    where counters hold jobs, stages, tasks, task CPU/GC/run time,
    input/shuffle/spill bytes and the SQL metrics the per-layer report
    uses (scan rows and files, Python-worker time and bytes).
    """
    job_group: dict[int, int | None] = {}
    stage_group: dict[int, int | None] = {}
    exec_group: dict[int, int | None] = {}
    metric_info: dict[int, tuple[str, str, str]] = {}
    task_updates: list[tuple[int | None, int, float]] = []
    accum_updates: list[tuple[int, int, float]] = []
    groups: dict = defaultdict(lambda: defaultdict(float))

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                gid = props.get("spark.jobGroup.id", "")
                span = int(gid[5:]) if gid.startswith("span-") else None
                job_group[ev["Job ID"]] = span
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, span)
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_group.setdefault(int(eid), span)
                groups[span]["jobs"] += 1
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                groups[stage_group.get(info["Stage ID"])]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                span = stage_group.get(ev["Stage ID"])
                c = groups[span]
                c["tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                c["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                c["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                c["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                c["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                rd = tm.get("Shuffle Read Metrics") or {}
                c["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                c["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Metadata") == "sql" and "Update" in acc:
                        task_updates.append((span, acc["ID"], float(acc["Update"])))
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metrics(ev["sparkPlanInfo"], metric_info)
            elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                for m in ev.get("sqlPlanMetrics", []):
                    metric_info[m["accumulatorId"]] = ("", m["name"], m.get("metricType", "sum"))
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev["accumUpdates"]:
                    accum_updates.append((ev["executionId"], acc_id, float(value)))

    def add_sql(span, acc_id, value):
        node, name, mtype = metric_info.get(acc_id, ("", "", "sum"))
        value *= _TIME_SCALE.get(mtype, 1.0)
        c = groups[span]
        if node.startswith("Scan") and name == "number of output rows":
            c["scan_rows"] += value
        elif node.startswith("Scan") and name == "number of files read":
            c["files_read"] += value
        elif name == "time to run Python workers":
            c["py_worker_s"] += value
        elif name == "time to start Python workers":
            c["py_boot_s"] += value
        elif name == "data sent to Python workers":
            c["py_bytes_sent"] += value

    for span, acc_id, value in task_updates:
        add_sql(span, acc_id, value)
    for eid, acc_id, value in accum_updates:
        add_sql(exec_group.get(eid), acc_id, value)
    return {k: dict(v) for k, v in groups.items()}
