"""Per-layer tracing from the benchmark's side.

``LayerTracer`` wraps each layer's public function where the program calls
it (a module attribute swap for the duration of one op; no program file
changes). Inside a wrapped call the benchmark:

* opens a span named after the layer and tags every Spark job started in it
  with the local property ``perfbench.layer``;
* materializes the layer's output (``cache()`` + ``count()``), so the Spark
  work of the layer runs inside its span and its output row count is known.

Stages that the program would overlap inside one Spark job run one after
another here, so a traced op is slower than an untraced one; the benchmark
reports the difference as the tracing overhead. A layer's self time is its
span time minus the time of spans opened inside it; the op's own span
(``pipeline``) holds the glue between layers.

``event_log_metrics`` reads the Spark event log written during the run and
sums, per layer, jobs, task time, shuffle bytes and the Python UDF metrics
of the SQL operators (data sent to Python, worker start / init / run time).
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import time
from contextlib import contextmanager

LAYER_PROP = "perfbench.layer"
OP_PROP = "perfbench.op"
ROOT = "pipeline"

PIPE = "dedup_domains_spark.plans.pipeline"
# (layer, module, function); the first entry of a layer gives its rows_out
CODE_LAYERS = [
    ("identity", PIPE, "with_row_identity"),
    ("exact", PIPE, "exact_dedup"),
    ("signatures", PIPE, "add_signatures"),
    ("candidates", PIPE, "fused_candidate_pairs"),
    ("verify", PIPE, "verify_pairs_estimate"),
    ("containment", PIPE, "contained_pairs"),
    ("containment", "dedup_domains_spark.operators.containment",
     "containment_candidates"),
    ("cc", PIPE, "connected_components"),
    ("election", PIPE, "elect_representatives"),
    ("sink", "dedup_domains_spark.sources.sinks", "write_results"),
]
DNSBL_LAYERS = [
    ("parse", "dedup_domains_spark.sources.dnsbl", "load_dnsbl_files"),
    ("domain", "dedup_domains_spark.operators.domain_mode", "dedup_dnsbl"),
    ("regex", "dedup_domains_spark.operators.regex_kill", "regex_kill"),
    ("regex", "dedup_domains_spark.operators.regex_kill", "collect_patterns"),
    ("sink", "dedup_domains_spark.sources.sinks", "write_survivor_text_files"),
]
LAYERS = ["identity", "exact", "signatures", "candidates", "verify",
          "containment", "cc", "election", "parse", "domain", "regex", "sink"]
PY_LAYERS = ["signatures", "containment"]
LAYER_METRICS = [("wall_s", "s"), ("jobs", "count"), ("task_s", "s"),
                 ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"),
                 ("rows_out", "rows")]
PY_METRICS = [("py_sent_mb", "MB"), ("py_init_s", "s"), ("py_run_s", "s")]


def _materialize(out, cached: list):
    """Run the Spark work behind a layer's return value; return its rows."""
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame):
        cached.append(out.cache())
        return out.count()
    for attr in ("cluster_map", "survivors"):  # exact / domain-mode results
        df = getattr(out, attr, None)
        if isinstance(df, DataFrame):
            return _materialize(df, cached)
    if isinstance(out, dict):                   # code sink manifest
        return out.get("metrics", {}).get("survivors", 0)
    if isinstance(out, (list, tuple)):
        return len(out)
    return int(out) if isinstance(out, int) else 0


class LayerTracer:
    """Spans for one traced op: ``with tracer.op(sc, layers, op_id): ...``."""

    def __init__(self):
        self.self_s: dict[str, float] = {}
        self.rows: dict[str, int] = {}      # layer -> rows out
        self.fn_rows: dict[str, int] = {}   # function -> rows out
        self.wall_s = 0.0
        self.window_ms = (0, 0)
        self.cached: list = []
        self._stack: list[list] = []   # [start, seconds in child spans]
        self._sc = None

    @contextmanager
    def span(self, layer: str):
        sc = self._sc
        prev = sc.getLocalProperty(LAYER_PROP)
        sc.setLocalProperty(LAYER_PROP, layer)
        frame = [time.perf_counter(), 0.0]
        self._stack.append(frame)
        try:
            yield
        finally:
            self._stack.pop()
            dur = time.perf_counter() - frame[0]
            self.self_s[layer] = self.self_s.get(layer, 0.0) + dur - frame[1]
            if self._stack:
                self._stack[-1][1] += dur
            sc.setLocalProperty(LAYER_PROP, prev)

    def _wrap(self, layer: str, fn, primary: bool):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                out = fn(*args, **kwargs)
                n = _materialize(out, self.cached)
                self.fn_rows[fn.__name__] = n
                if primary and layer not in self.rows:
                    self.rows[layer] = n
            return out
        return traced

    @contextmanager
    def op(self, sc, layers, op_id: str):
        """Install the layer wrappers and time one op as the root span."""
        self._sc = sc
        saved, seen = [], set()
        for layer, mod_name, fn_name in layers:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, fn_name, None)
            if fn is None:
                continue
            saved.append((mod, fn_name, fn))
            setattr(mod, fn_name, self._wrap(layer, fn, layer not in seen))
            seen.add(layer)
        sc.setLocalProperty(OP_PROP, op_id)
        t0, e0 = time.perf_counter(), time.time()
        try:
            with self.span(ROOT):
                yield self
        finally:
            self.wall_s = time.perf_counter() - t0
            self.window_ms = (e0 * 1000, time.time() * 1000)
            sc.setLocalProperty(OP_PROP, None)
            for mod, fn_name, fn in saved:
                setattr(mod, fn_name, fn)

    def release(self):
        for df in self.cached:
            df.unpersist()
        self.cached = []


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def event_log_conf(log_dir: str) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node.get("nodeName", ""), m["name"],
                                   m.get("metricType", "sum"))
    for child in node.get("children", []):
        _plan_metrics(child, out)


_PY_NAMES = {
    "data sent to Python workers": "py_sent",
    "time to start Python workers": "py_init",
    "time to initialize Python workers": "py_init",
    "time to run Python workers": "py_run",
}
_TIME_SCALE = {"nsTiming": 1e-9, "timing": 1e-3}


def event_log_metrics(log_dir: str, op_id: str) -> dict:
    """Per-layer job metrics of the jobs tagged ``op_id`` in the event logs
    under ``log_dir`` (read after the SparkContext stopped).

    Returns {layer: {jobs, task_s, shuffle_write_mb, shuffle_read_mb,
    py_sent_mb, py_init_s, py_run_s, generate_rows}} plus the op's job
    intervals under the key ``None``. Job and stage ids restart with each
    SparkContext, so each log file is read on its own."""
    out: dict = {None: []}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            _add_log(f, op_id, out)
    return out


def _add_log(lines, op_id: str, out: dict) -> None:
    acc: dict[int, tuple] = {}
    job_layer: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    intervals: dict[int, list] = {}
    tasks = []
    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if props.get(OP_PROP) != op_id:
                continue
            jid = ev["Job ID"]
            job_layer[jid] = props.get(LAYER_PROP) or ROOT
            intervals[jid] = [ev["Submission Time"], None]
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in intervals:
            intervals[ev["Job ID"]][1] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _plan_metrics(ev.get("sparkPlanInfo", {}), acc)
    for ev in tasks:
        jid = stage_job.get(ev["Stage ID"])
        if jid is None:
            continue
        m = out.setdefault(job_layer[jid], {})
        tm = ev.get("Task Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        m["task_s"] = m.get("task_s", 0.0) + tm.get("Executor Run Time", 0) / 1e3
        m["shuffle_write_mb"] = (m.get("shuffle_write_mb", 0.0)
                                 + sw.get("Shuffle Bytes Written", 0) / 1e6)
        m["shuffle_read_mb"] = m.get("shuffle_read_mb", 0.0) + (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 1e6
        for a in (ev.get("Task Info") or {}).get("Accumulables", []):
            node, name, mtype = acc.get(a.get("ID"), ("", a.get("Name"), "sum"))
            try:
                val = float(a.get("Update", 0))
            except (TypeError, ValueError):
                continue
            key = _PY_NAMES.get(name)
            if key == "py_sent":
                m["py_sent_mb"] = m.get("py_sent_mb", 0.0) + val / 1e6
            elif key:
                k = key + "_s"
                m[k] = m.get(k, 0.0) + val * _TIME_SCALE.get(mtype, 1e-3)
            elif node == "Generate" and name == "number of output rows":
                m["generate_rows"] = m.get("generate_rows", 0.0) + val
    for jid, layer in job_layer.items():
        m = out.setdefault(layer, {})
        m["jobs"] = m.get("jobs", 0) + 1
    out[None] += [tuple(v) for v in intervals.values() if v[1] is not None]


def busy_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
