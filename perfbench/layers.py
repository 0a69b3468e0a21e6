"""Layer tracing for the benchmark's traced run, and /proc readers.

Spans are recorded from the benchmark's side of each layer boundary: the
tracer rebinds the package's public layer functions to timing wrappers,
sets one Spark job group per span so every job can be attributed to the
span that started it, and counts py4j round trips by wrapping the gateway
client's `send_command`. Nothing inside `purescript_ifrit_spark` changes;
`uninstall()` restores every rebinding.

Layers and the calls that open their spans:

    operators        the registry entry's build call (its self time is the
                     operator's own DataFrame construction)
    sources          sources.tables.load_table
    compile.lex      lexer.tokenize
    compile.parse    parser.parse
    compile.analyze  analyzer.analyze
    planner          planner.build
    catalyst         queryExecution().executedPlan() on the built DataFrame
    exec             the noop write

A span's self time is its duration minus the time its child spans cover;
py4j calls are charged to the innermost open span.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import time
from contextlib import contextmanager
from typing import Callable, Dict, List, Optional

PACKAGE = "purescript_ifrit_spark"

# (module, function) -> layer
WRAPPED = {
    (f"{PACKAGE}.sources.tables", "load_table"): "sources",
    (f"{PACKAGE}.lexer", "tokenize"): "compile.lex",
    (f"{PACKAGE}.parser", "parse"): "compile.parse",
    (f"{PACKAGE}.analyzer", "analyze"): "compile.analyze",
    (f"{PACKAGE}.planner", "build"): "planner",
}
# pure-Python layers: they cannot start a Spark job, so they get no job
# group (setting one costs two py4j round trips per microsecond-scale call)
NO_JOB_GROUP = {"compile.lex", "compile.parse", "compile.analyze"}
CATALYST_PHASES = ("analysis", "optimization", "planning")

_TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc readers
# ---------------------------------------------------------------------------


def _stat_fields(pid: int) -> List[str]:
    with open(f"/proc/{pid}/stat") as fh:
        # the command name may contain spaces; fields resume after its ')'
        return fh.read().rsplit(")", 1)[1].split()


def proc_cpu_ms(pid: int) -> float:
    """User + system CPU of one process, in ms."""
    f = _stat_fields(pid)
    return (int(f[11]) + int(f[12])) * _TICK_MS


def descendants(pid: int) -> List[int]:
    """Every live descendant of `pid`."""
    children: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(entry))[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def descendants_cpu_ms(pid: int) -> float:
    """CPU of every descendant of `pid`, including reaped children's time
    (cutime/cstime), in ms. For the JVM these are the Python workers."""
    total = 0.0
    for p in descendants(pid):
        try:
            total += sum(int(x) for x in _stat_fields(p)[11:15]) * _TICK_MS
        except OSError:
            continue
    return total


def _status_mb(field: str, pid: Optional[int]) -> float:
    with open(f"/proc/{pid or 'self'}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"{field} missing from /proc status")


def rss_mb(pid: Optional[int] = None) -> float:
    """Resident set size (VmRSS) of a process, in MB."""
    return _status_mb("VmRSS", pid)


def rss_peak_mb(pid: Optional[int] = None) -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    return _status_mb("VmHWM", pid)


def trim_own_memory() -> None:
    """Hand memory this process has freed back to the OS: Python garbage,
    Arrow's pool and glibc's heap. Without it the RSS a run starts its
    window with depends on when the allocators last happened to release
    what the correctness gate allocated."""
    import ctypes
    import gc

    import pyarrow as pa

    gc.collect()
    pa.default_memory_pool().release_unused()
    ctypes.CDLL("libc.so.6").malloc_trim(0)


def reset_rss_peak(pid: Optional[int] = None) -> None:
    """Restart a process's VmHWM accounting (writing 5 to clear_refs)."""
    with open(f"/proc/{pid or 'self'}/clear_refs", "w") as fh:
        fh.write("5")


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Span:
    __slots__ = ("id", "parent", "op", "layer", "start", "end", "child_s", "py4j", "attrs")

    def __init__(self, id_, parent, op, layer, attrs):
        self.id, self.parent, self.op, self.layer = id_, parent, op, layer
        self.start = self.end = 0.0
        self.child_s = 0.0
        self.py4j = 0
        self.attrs = attrs

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "parent": self.parent,
            "op": self.op,
            "layer": self.layer,
            "start": self.start,
            "end": self.end,
            "self_ms": self.self_s * 1e3,
            "py4j": self.py4j,
            **self.attrs,
        }


class Tracer:
    """Records spans in memory; `op_metrics` turns one op's spans into its
    per-layer numbers."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc
        self._stack: List[Span] = []
        self._next_id = 0
        self._paused = 0
        self.spans: List[Span] = []
        self._restore: List[Callable[[], None]] = []
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    # -- install / uninstall -------------------------------------------------

    def install(self) -> None:
        client = self._sc._gateway._gateway_client
        send = client.send_command

        @functools.wraps(send)
        def counted(*args, **kwargs):
            if not self._paused and self._stack:
                self._stack[-1].py4j += 1
            return send(*args, **kwargs)

        client.send_command = counted
        self._restore.append(lambda: delattr(client, "send_command"))

        modules = [m for n, m in list(sys.modules.items()) if n.startswith(PACKAGE) and m]
        for (mod_name, attr), layer in WRAPPED.items():
            orig = getattr(importlib.import_module(mod_name), attr)
            wrapper = self._wrap(layer, orig)
            for mod in modules:
                for name, value in list(vars(mod).items()):
                    if value is orig:
                        setattr(mod, name, wrapper)
                        self._restore.append(functools.partial(setattr, mod, name, orig))

    def uninstall(self) -> None:
        while self._restore:
            self._restore.pop()()

    def _wrap(self, layer: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self._stack:  # outside an op (set-up): not a layer call of interest
                return fn(*args, **kwargs)
            with self.span(layer) as sp:
                out = fn(*args, **kwargs)
                if layer == "compile.lex":
                    sp.attrs["tokens"] = len(out)
                return out

        return traced

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def paused(self):
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    def _set_group(self, span: Optional[Span]) -> None:
        with self.paused():
            if span is None:
                self._jsc.clearJobGroup()
            else:
                self._sc.setJobGroup(span.group, span.layer)

    def _group_owner(self) -> Optional[Span]:
        for sp in reversed(self._stack):
            if sp.layer not in NO_JOB_GROUP:
                return sp
        return None

    @contextmanager
    def span(self, layer: str, op: Optional[int] = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            self._next_id,
            parent.id if parent else None,
            op if op is not None else parent.op,
            layer,
            attrs,
        )
        self._next_id += 1
        grouped = layer not in NO_JOB_GROUP
        if grouped:
            self._set_group(sp)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.child_s += sp.end - sp.start
            if grouped:
                self._set_group(self._group_owner())
            self.spans.append(sp)

    # -- per-op numbers --------------------------------------------------------

    def catalyst_phases(self, jdf) -> Dict[str, float]:
        """Force physical planning of `jdf` inside a catalyst span and return
        the QueryPlanningTracker's phase durations in ms."""
        with self.span("catalyst"):
            qe = jdf.queryExecution()
            qe.executedPlan()
        with self.paused():
            phases = qe.tracker().phases()
            return {
                p: float(phases.apply(p).durationMs()) if phases.contains(p) else 0.0
                for p in CATALYST_PHASES
            }

    def _jobs(self, spans: List[Span]) -> List[int]:
        tracker = self._sc.statusTracker()
        return [j for sp in spans for j in tracker.getJobIdsForGroup(sp.group)]

    def _stage_stats(self, job_ids: List[int]) -> Dict[str, float]:
        tracker = self._sc.statusTracker()
        store = self._jsc.sc().statusStore()
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(
            (
                "stages",
                "skipped_stages",
                "single_task_stages",
                "tasks",
                "executor_run_ms",
                "executor_cpu_ms",
                "shuffle_read_bytes",
                "shuffle_write_bytes",
            ),
            0.0,
        )
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                out["skipped_stages"] += 1
                continue
            out["stages"] += 1
            out["single_task_stages"] += st.numTasks() == 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_ms"] += st.executorRunTime()
            out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        return out

    def op_metrics(self, op: int, extra: Dict[str, float]) -> Dict[str, float]:
        """Per-layer numbers of one finished op. `extra` carries what the
        caller sampled around the op (catalyst phases, /proc deltas)."""
        spans = [sp for sp in self.spans if sp.op == op]
        by_layer: Dict[str, List[Span]] = {}
        for sp in spans:
            by_layer.setdefault(sp.layer, []).append(sp)

        def self_ms(*layers):
            return sum(sp.self_s for l in layers for sp in by_layer.get(l, ())) * 1e3

        def py4j(*layers):
            return sum(sp.py4j for l in layers for sp in by_layer.get(l, ()))

        with self.paused():
            self._jsc.sc().listenerBus().waitUntilEmpty()
            exec_jobs = self._jobs(by_layer.get("exec", []) + by_layer.get("catalyst", []))
            m = {
                "sources.load_ms": self_ms("sources"),
                "sources.jobs": len(self._jobs(by_layer.get("sources", []))),
                "compile.lex_us": self_ms("compile.lex") * 1e3,
                "compile.parse_us": self_ms("compile.parse") * 1e3,
                "compile.analyze_us": self_ms("compile.analyze") * 1e3,
                "compile.tokens": sum(
                    sp.attrs.get("tokens", 0) for sp in by_layer.get("compile.lex", ())
                ),
                "planner.build_ms": self_ms("planner"),
                "planner.py4j_calls": py4j("planner"),
                "operators.construct_ms": self_ms("operators"),
                "operators.eager_jobs": len(
                    self._jobs(by_layer.get("operators", []) + by_layer.get("planner", []))
                ),
                "operators.py4j_calls": py4j("operators"),
                "exec.ms": self_ms("exec"),
                "exec.jobs": len(exec_jobs),
            }
            for k, v in self._stage_stats(exec_jobs).items():
                m[f"exec.{k}"] = v
        m.update(extra)
        return m

    def dump(self) -> List[dict]:
        return [sp.as_dict() for sp in self.spans]
