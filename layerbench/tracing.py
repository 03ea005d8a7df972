"""The traced run's instruments: spans around the package's public
functions, a py4j command counter, Spark job tagging, and the event-log
parser that turns Spark's own accounting into per-pass, per-layer numbers.

Nothing here changes the program. ``install`` replaces each public function
of the measured modules with a :class:`Traced` wrapper *before*
``__spark_entry__`` is imported, so the contract's ``from … import``
bindings pick the wrappers up; bindings already made between package
modules are re-pointed by identity.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

from stats import self_time

PACKAGE = "data_pipeline_ine_spark"
# measured modules, named as layers by their path inside the package; every
# other ``operators.*`` module is the ``operators.other`` layer
LAYERS = ("session", "operators.similarity", "operators.text", "operators.graph",
          "operators.pixels", "functions.lineage", "sources.registry",
          "sources.observation_csv", "plans.pipeline", "plans.builder",
          "sources.sinks", "sources.ivf_index")
INDEX_PREFIX = "/tmp/spark_graft_"
RELEASE = "m\nd\n"  # py4j memory-delete: an object release, not a call


class Span:
    __slots__ = ("name", "layer", "pass_no", "op", "start", "end", "parent",
                 "calls", "children")

    def __init__(self, name, layer, pass_no, op, parent):
        self.name, self.layer, self.pass_no, self.op = name, layer, pass_no, op
        self.parent, self.calls, self.children = parent, 0, []
        self.start = self.end = time.perf_counter()


class Tracer:
    """Spans in memory; py4j commands counted against the innermost span."""

    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.releases: Counter = Counter()
        self.index_paths: dict[tuple, set] = defaultdict(set)
        self.pass_no = None
        self.op = None
        self._quiet = 0
        self._sc = None
        self._layer_prop = None

    # -- py4j ---------------------------------------------------------------
    def on_command(self, command: str) -> None:
        if self._quiet or not self.enabled:
            return
        if command.startswith(RELEASE):
            self.releases[self.pass_no] += 1
        elif self.stack:
            self.stack[-1].calls += 1

    @contextmanager
    def quiet(self):
        """py4j calls the benchmark itself makes are not counted."""
        self._quiet += 1
        try:
            yield
        finally:
            self._quiet -= 1

    def _local(self, key: str, value) -> None:
        if self._sc is not None:
            with self.quiet():
                self._sc.setLocalProperty(key, value)

    def _tag_layer(self, layer) -> None:
        if layer != self._layer_prop:
            self._layer_prop = layer
            self._local("layerbench.layer", layer)

    # -- spans --------------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str):
        parent = self.stack[-1] if self.stack else None
        s = Span(name, layer, self.pass_no, self.op, parent)
        self.spans.append(s)
        if parent is not None:
            parent.children.append(s)
        self.stack.append(s)
        self._tag_layer(layer)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            self._tag_layer(self.stack[-1].layer if self.stack else None)

    def bind(self, sc) -> None:
        self._sc = sc

    def start_pass(self, pass_no, enabled: bool) -> None:
        self.pass_no, self.enabled = pass_no, enabled
        self._local("layerbench.pass", None if pass_no is None else str(pass_no))

    @contextmanager
    def phase(self, op: str, phase: str):
        """One op's construct/plan/execute phase: a span plus a job group."""
        self.op = op
        if not self.enabled:
            yield
            return
        if self._sc is not None:
            with self.quiet():
                self._sc.setJobGroup(f"{op}:{phase}", f"{op} {phase}")
        with self.span(op, f"{'contract' if phase == 'construct' else 'spark'}.{phase}"):
            yield


class Traced:
    """A public package function that opens a span when tracing is on.

    It pickles as the plain function (through ``functools.partial``), so a
    closure shipped to Python workers never needs this module there."""

    def __init__(self, fn, layer: str, tracer: Tracer):
        functools.update_wrapper(self, fn)
        self._fn, self._layer, self._tracer = fn, layer, tracer

    def __call__(self, *args, **kwargs):
        t = self._tracer
        if not t.enabled:
            return self._fn(*args, **kwargs)
        if self._layer == "sources.ivf_index":
            for a in args:
                if isinstance(a, str) and a.startswith(INDEX_PREFIX):
                    t.index_paths[(t.pass_no, t.op)].add(a)
        with t.span(self._fn.__name__, self._layer):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return (functools.partial, (self._fn,))


def layer_of(module_name: str) -> str | None:
    rel = module_name[len(PACKAGE) + 1:]
    if rel in LAYERS:
        return rel
    if rel.startswith("operators."):
        return "operators.other"
    return None


def install(tracer: Tracer) -> int:
    """Wrap every public function of the measured modules; returns how many."""
    import py4j.java_gateway as jg

    original_send = jg.GatewayClient.send_command

    def counting_send(self, command, *args, **kwargs):
        tracer.on_command(command)
        return original_send(self, command, *args, **kwargs)

    jg.GatewayClient.send_command = counting_send

    pkg = importlib.import_module(PACKAGE)
    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        if layer_of(info.name):
            importlib.import_module(info.name)
    wrapped: dict[int, Traced] = {}
    for name, mod in list(sys.modules.items()):
        layer = layer_of(name) if name.startswith(PACKAGE + ".") else None
        if not layer:
            continue
        for attr, fn in vars(mod).items():
            if (not attr.startswith("_") and inspect.isfunction(fn)
                    and fn.__module__ == name):
                wrapped[id(fn)] = Traced(fn, layer, tracer)
    for name, mod in list(sys.modules.items()):
        if name == PACKAGE or name.startswith(PACKAGE + "."):
            for attr, value in list(vars(mod).items()):
                w = wrapped.get(id(value))
                if w is not None and w._fn is value:
                    setattr(mod, attr, w)
    return len(wrapped)


def write_spans(tracer: Tracer, path: str) -> None:
    """One JSON line per span, parents by line number, times in seconds
    from the first span."""
    ids = {id(s): i for i, s in enumerate(tracer.spans)}
    t0 = tracer.spans[0].start if tracer.spans else 0.0
    with open(path, "w", encoding="utf-8") as f:
        for i, s in enumerate(tracer.spans):
            f.write(json.dumps({
                "id": i, "parent": ids.get(id(s.parent)), "name": s.name,
                "layer": s.layer, "pass": s.pass_no, "op": s.op,
                "start": s.start - t0, "end": s.end - t0, "py4j_calls": s.calls,
            }) + "\n")


# -- span arithmetic -----------------------------------------------------------
def self_seconds(span: Span) -> float:
    return self_time(span.start, span.end, [(c.start, c.end) for c in span.children])


def subtree_calls(span: Span) -> int:
    return span.calls + sum(subtree_calls(c) for c in span.children)


def per_pass_layers(tracer: Tracer) -> dict:
    """pass -> {layer: {"self_s", "total_s", "calls", "count"}}, plus the
    ``contract.total`` pseudo-layer: whole construct spans and every py4j
    call made under them."""
    out: dict = defaultdict(lambda: defaultdict(
        lambda: {"self_s": 0.0, "total_s": 0.0, "calls": 0, "count": 0}))
    for s in tracer.spans:
        rec = out[s.pass_no][s.layer]
        rec["self_s"] += self_seconds(s)
        rec["total_s"] += s.end - s.start
        rec["calls"] += s.calls
        rec["count"] += 1
        if s.layer == "contract.construct":
            tot = out[s.pass_no]["contract.total"]
            tot["self_s"] += s.end - s.start
            tot["total_s"] += s.end - s.start
            tot["calls"] += subtree_calls(s)
            tot["count"] += 1
    return out


# -- Spark event log -------------------------------------------------------------
def parse_event_log(path: str) -> dict:
    """Per pass: job counts by layer tag and by job-group phase, and task
    totals (run, CPU, GC time; shuffle write; spill) from a plain,
    uncompressed, non-rolling event log."""
    stage_props: dict[int, dict] = {}
    passes: dict = defaultdict(lambda: {
        "jobs": 0, "jobs_by_layer": Counter(), "jobs_by_phase": Counter(),
        "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_write_mb": 0.0, "spill_mb": 0.0,
    })
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                for sid in ev.get("Stage IDs", []):
                    stage_props.setdefault(sid, props)
                p = passes[props.get("layerbench.pass")]
                p["jobs"] += 1
                p["jobs_by_layer"][props.get("layerbench.layer")] += 1
                group = props.get("spark.jobGroup.id") or ""
                p["jobs_by_phase"][group.rsplit(":", 1)[-1] if ":" in group else None] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_props[info["Stage ID"]] = ev.get("Properties") or {}
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                props = stage_props.get(ev.get("Stage ID"), {})
                p = passes[props.get("layerbench.pass")]
                p["tasks"] += 1
                p["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                p["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                p["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                p["shuffle_write_mb"] += (
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20)
                p["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20
    return passes
