"""Per-layer tracing for the benchmark's traced run.

Spans are recorded around calls into the program's public functions by
wrapping them from here (the program itself is not instrumented). Each
span sets a Spark job group ``bench|<op>|<layer>``, so the jobs, stages
and tasks in Spark's event log can be folded back onto the span that
launched them. Plan-phase times come from the QueryExecution tracker and
py4j traffic from a counter on the gateway client.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import json
import os
import statistics
import time
from collections import defaultdict

# (module, attribute, layer): the public functions whose calls are spans.
# pipeline.py imports its stages by name, so they are wrapped where the
# pipeline looks them up.
WRAPPED = (
    ("comix_etl_spark.session", "load_tables", "session.load_tables"),
    ("comix_etl_spark.plans.queries", "load_tables", "session.load_tables"),
    ("comix_etl_spark.pipeline", "normalize_comics", "sources.json_source.normalize_comics"),
    ("comix_etl_spark.pipeline", "batch_guardrail", "operators.quality.batch_guardrail"),
    ("comix_etl_spark.pipeline", "upsert_selective", "operators.merge.upsert_selective"),
    ("comix_etl_spark.pipeline", "safe_overwrite_parquet", "sinks.writers.safe_overwrite_parquet"),
    ("comix_etl_spark.operators.audit", "EtlRun.append_to", "operators.audit.append_to"),
)

JOB_LAYERS = ("session.load_tables", "plans.build", "operators.quality.batch_guardrail",
              "sinks.writers.safe_overwrite_parquet", "operators.audit.append_to", "pipeline")
MS_LAYERS = ("session.load_tables", "sources.json_source.normalize_comics",
             "operators.quality.batch_guardrail", "operators.merge.upsert_selective",
             "sinks.writers.safe_overwrite_parquet", "operators.audit.append_to")
EXEC_FIELDS = ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms",
               "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
BATCH_PREFIXES = ("sources.", "operators.", "sinks.", "pipeline.")
PY_SENT, PY_RETURNED = "data sent to Python workers", "data returned from Python workers"

# Every per-layer metric and its unit, in report order.
LAYER_METRICS = {
    **{f"{layer}.ms": "ms" for layer in MS_LAYERS},
    "plans.build.ms": "ms", "pipeline.self_ms": "ms", "exec.ms": "ms",
    **{f"{layer}.jobs": "count" for layer in JOB_LAYERS},
    "py4j.calls": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    **{f"exec.{f}": ("ms" if f.endswith("_ms") else "bytes" if f.endswith("bytes")
                     else "count") for f in EXEC_FIELDS if f != "jobs"},
    "exec.jobs": "count",
    "python_udf.bytes_sent": "bytes", "python_udf.bytes_returned": "bytes",
    "python_udf.rows_returned": "count",
    "sinks.writers.safe_overwrite_parquet.bytes_written": "bytes",
    "sinks.write_amp": "ratio",
}


class Tracer:
    """Spans for one process; ``install`` wraps the program's functions."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []  # op, layer, start, end (epoch s)
        self.ops: list[dict] = []  # op, start, end, py4j, phases, batch_bytes
        self._stack: list[str] = []
        self._op: int | None = None
        self._py4j = 0
        self._restore: list[tuple] = []

    # --- instrumentation ------------------------------------------------
    def install(self) -> None:
        for mod_name, attr, layer in WRAPPED:
            owner = importlib.import_module(mod_name)
            for part in attr.split(".")[:-1]:
                owner = getattr(owner, part)
            name = attr.split(".")[-1]
            orig = getattr(owner, name)
            setattr(owner, name, self._wrap(orig, layer))
            self._restore.append((owner, name, orig))
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counting_send(*a, **k):
            self._py4j += 1
            return send(*a, **k)
        client.send_command = counting_send
        self._restore.append((client, "send_command", None))

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._restore):
            if orig is None:
                delattr(owner, name)  # instance override over the class method
            else:
                setattr(owner, name, orig)
        self._restore.clear()

    def _wrap(self, fn, layer):
        tracer = self

        def traced(*args, **kwargs):
            if tracer._op is None:
                return fn(*args, **kwargs)
            with tracer.span(layer):
                return fn(*args, **kwargs)
        traced.__wrapped__ = fn
        return traced

    def _set_group(self, layer: str | None) -> None:
        calls = self._py4j  # the tracer's own gateway traffic is not counted
        if layer is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"bench|{self._op}|{layer}", layer)
        self._py4j = calls

    @contextlib.contextmanager
    def span(self, layer: str):
        self._stack.append(layer)
        self._set_group(layer)
        start = time.time()
        try:
            yield
        finally:
            self.spans.append({"op": self._op, "layer": layer, "start": start,
                               "end": time.time()})
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    @contextlib.contextmanager
    def op(self, **extra):
        self._op = len(self.ops)
        rec = {"op": self._op, "start": time.time(), "phases": {}, **extra}
        calls = self._py4j
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["py4j"] = self._py4j - calls
            self.ops.append(rec)
            self._op = None

    def record_phases(self, rec: dict, df) -> None:
        """Plan-phase times of ``df``'s QueryExecution (planning forced)."""
        calls = self._py4j
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            rec["phases"][kv._1()] = kv._2().durationMs()
        self._py4j = calls


# --- folding ----------------------------------------------------------


def _read_event_log(log_dir: str) -> list[dict]:
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    with open(paths[0]) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _python_row_accumulators(plan: dict, out: set) -> None:
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if PY_SENT in metrics and "number of output rows" in metrics:
        out.add(metrics["number of output rows"])
    for child in plan.get("children", []):
        _python_row_accumulators(child, out)


def fold(tracer: Tracer, log_dir: str) -> dict[str, float]:
    """Per-op layer figures from spans + event log, reduced over the
    traced ops."""
    events = _read_event_log(log_dir)
    ops = {o["op"]: o for o in tracer.ops}
    per_op: dict[int, dict[str, float]] = {o: defaultdict(float) for o in ops}

    def owner(props: dict, when_ms: float) -> tuple[int | None, str | None]:
        group = (props or {}).get("spark.jobGroup.id") or ""
        if group.startswith("bench|"):
            _, op, layer = group.split("|", 2)
            return int(op), layer
        # jobs Spark starts on its own threads (streaming micro-batches)
        # carry another group: attribute them by time to the open op
        for o in tracer.ops:
            if o["start"] * 1000 <= when_ms <= o["end"] * 1000:
                return o["op"], "exec"
        return None, None

    stage_owner: dict[int, tuple] = {}
    py_rows: set = set()
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            op, layer = owner(ev.get("Properties"), ev["Submission Time"])
            if op is None:
                continue
            for sid in ev["Stage IDs"]:
                stage_owner[sid] = (op, layer)
            per_op[op][f"{layer}.jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            o = stage_owner.get(ev["Stage Info"]["Stage ID"])
            if o:
                per_op[o[0]][f"{o[1]}.stages"] += 1
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _python_row_accumulators(ev.get("sparkPlanInfo", {}), py_rows)
        elif kind == "SparkListenerTaskEnd":
            o = stage_owner.get(ev["Stage ID"])
            if not o:
                continue
            m = ev.get("Task Metrics") or {}
            shuffle_read = m.get("Shuffle Read Metrics", {})
            vals = {
                "tasks": 1,
                "task_run_ms": m.get("Executor Run Time", 0),
                "task_cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_read_bytes": shuffle_read.get("Remote Bytes Read", 0)
                + shuffle_read.get("Local Bytes Read", 0),
                "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "bytes_written": m.get("Output Metrics", {}).get("Bytes Written", 0),
            }
            for k, v in vals.items():
                per_op[o[0]][f"{o[1]}.{k}"] += v
            for acc in ev["Task Info"].get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if not isinstance(upd, (int, float, str)):
                    continue
                if name == PY_SENT:
                    per_op[o[0]]["python_udf.bytes_sent"] += int(upd)
                elif name == PY_RETURNED:
                    per_op[o[0]]["python_udf.bytes_returned"] += int(upd)
                elif acc.get("ID") in py_rows:
                    per_op[o[0]]["python_udf.rows_returned"] += int(upd)

    for s in tracer.spans:
        if s["op"] is not None:
            per_op[s["op"]][f"span.{s['layer']}"] += (s["end"] - s["start"]) * 1000

    rows = {"query": [], "batch": []}
    for op_id, acc in per_op.items():
        o = ops[op_id]
        row = {name: 0.0 for name in LAYER_METRICS}
        for layer in MS_LAYERS:
            row[f"{layer}.ms"] = acc[f"span.{layer}"]
        for layer in JOB_LAYERS:
            row[f"{layer}.jobs"] = acc[f"{layer}.jobs"]
        row["plans.build.ms"] = acc["span.plans.build"] - acc["span.session.load_tables"]
        children = sum(acc[f"span.{layer}"] for layer in MS_LAYERS
                       if layer != "session.load_tables")
        row["pipeline.self_ms"] = max(0.0, acc["span.pipeline"] - children) if acc["span.pipeline"] else 0.0
        row["py4j.calls"] = o["py4j"]
        for phase in ("analysis", "optimization", "planning"):
            row[f"catalyst.{phase}_ms"] = o["phases"].get(phase, 0)
        row["exec.ms"] = acc["span.exec"]  # a query's noop write
        for f in EXEC_FIELDS:
            row[f"exec.{f}"] = acc[f"exec.{f}"]
        for k in ("bytes_sent", "bytes_returned", "rows_returned"):
            row[f"python_udf.{k}"] = acc[f"python_udf.{k}"]
        written = acc["sinks.writers.safe_overwrite_parquet.bytes_written"]
        row["sinks.writers.safe_overwrite_parquet.bytes_written"] = written
        if o.get("batch_bytes"):
            row["sinks.write_amp"] = written / o["batch_bytes"]
        rows["batch" if "batch_bytes" in o else "query"].append(row)
    return {name: _reduce(name, rows) for name in LAYER_METRICS}


def _reduce(name: str, rows: dict[str, list[dict]]) -> float:
    """A layer's figure over the ops it belongs to: ETL layers over the
    batches, the rest over the queries; 0 when the deck has none."""
    kind = "batch" if name.startswith(BATCH_PREFIXES) else "query"
    values = [r[name] for r in rows[kind]]
    if not values:
        return 0.0
    # medians, except Python-worker traffic: most queries send none, so
    # its median is 0 whatever the UDF queries do; the mean keeps their volume
    return (statistics.mean if name.startswith("python_udf.") else statistics.median)(values)
