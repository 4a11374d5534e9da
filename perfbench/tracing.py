"""Tracing for the benchmark's traced run.

Three sources, all kept in memory until the run ends:

- spans recorded by wrappers that the benchmark installs around the
  public functions of the engine's layer modules (``install``);
- Catalyst's phase timings from the returned frame's
  ``queryExecution().tracker()`` (``catalyst_phases``);
- Spark's own event log, parsed after the session stops
  (``parse_event_log``), with jobs attributed to ops by job group.

Nothing here changes engine code: the wrappers replace module
attributes in the running process only.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "relational_query_engine_sql_spark"

# (module, attribute, span name). Query modules bind these with
# ``from … import``, so ``install`` runs before ``plans`` is imported
# and also rebinds every reference already taken by a loaded module.
WRAPPED = [
    ("sources.catalog", "load_table", "sources.load_table"),
    ("operators.trading", "apply_trades", "trading.apply_trades"),
    ("operators.mutation", "cascade_delete", "mutation.cascade_delete"),
    ("operators.stats_cache", "cached_portfolio_statistics", "stats_cache.probe"),
    ("operators.graph", "connected_components", "graph.connected_components"),
    ("datapipe.dedup", "bucket_pairs", "dedup.bucket_pairs"),
    ("datapipe.dedup", "lsh_candidates", "dedup.lsh_candidates"),
    ("datapipe.dedup", "jaccard_pairs", "dedup.jaccard_pairs"),
]
# The commit protocol's two storage primitives, wrapped on the class
# every TxnLogTable uses unless a caller passes another backend.
COMMIT_METHODS = [
    ("put_if_absent", "txnlog.put_if_absent"),
    ("publish_atomic", "txnlog.publish_atomic"),
]
# Spans of the operators and datapipe layers, pooled into one self time
# because each workload reaches only some of them.
OPERATOR_SPANS = [span for _, _, span in WRAPPED if not span.startswith("sources.")] + [
    span for _, span in COMMIT_METHODS
]
# Spans whose self time is reported; "op", "plans.fn" and
# "plans.collect" are recorded by the benchmark loop itself.
SELF_TIME_SPANS = (
    ["op", "plans.fn", "plans.collect"]
    + [span for _, _, span in WRAPPED]
    + [span for _, span in COMMIT_METHODS]
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None


@dataclass
class Tracer:
    """Span store shared by every wrapper of one run.

    ``enabled`` is switched per round, so one traced process can time
    rounds with and without recording and report the difference.
    """

    enabled: bool = False
    op_id: int | None = None
    spans: list[Span] = field(default_factory=list)
    cache_probes: int = 0
    cache_hits: int = 0
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def span(self, name: str):
        """Record a span around the block while recording is enabled."""
        return self._record(name) if self.enabled else contextlib.nullcontext()

    @contextlib.contextmanager
    def _record(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                Span(name, time.perf_counter(), 0.0, stack[-1] if stack else None, self.op_id)
            )
        stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            stack.pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        wrapper.__wrapped_by_perfbench__ = fn
        return wrapper

    def wrap_cache_probe(self, fn, name: str):
        """Counts a hit when the probe returns without calling compute()."""

        @functools.wraps(fn)
        def wrapper(cache, portfolio_id, start_date, end_date, compute):
            if not self.enabled:
                return fn(cache, portfolio_id, start_date, end_date, compute)
            called = []

            def counted_compute():
                called.append(True)
                return compute()

            with self.span(name):
                out = fn(cache, portfolio_id, start_date, end_date, counted_compute)
            self.cache_probes += 1
            self.cache_hits += not called
            return out

        wrapper.__wrapped_by_perfbench__ = fn
        return wrapper


def install(tracer: Tracer) -> None:
    """Wrap the layer functions, then import ``plans`` and rebind every
    engine-module reference to an original so it calls the wrapper."""
    import importlib

    originals = {}
    for mod_name, attr, span in WRAPPED:
        mod = importlib.import_module(f"{PKG}.{mod_name}")
        fn = getattr(mod, attr)
        wrap = tracer.wrap_cache_probe if span == "stats_cache.probe" else tracer.wrap
        originals[id(fn)] = wrap(fn, span)
    txnlog = importlib.import_module(f"{PKG}.operators.txnlog")
    for meth, span in COMMIT_METHODS:
        fn = getattr(txnlog.LocalCommitBackend, meth)
        setattr(txnlog.LocalCommitBackend, meth, tracer.wrap(fn, span))
    rebind(originals)
    importlib.import_module(f"{PKG}.plans")
    rebind(originals)


def rebind(originals: dict) -> None:
    """Point every engine-module reference to an original at its wrapper."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PKG or name.startswith(PKG + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            wrapper = originals.get(id(val))
            if wrapper is not None and wrapper.__wrapped_by_perfbench__ is val:
                setattr(mod, attr, wrapper)


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning ms of the frame's QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(s.end - s.start - covered)
    return out


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------
_PY_SENT = "data sent to Python workers"


@dataclass
class OpEngineStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    output_bytes: int = 0
    py_bytes_sent: int = 0


def parse_event_log(
    log_dir: str, windows: dict[str, tuple[int, float, float]]
) -> tuple[dict[int, OpEngineStats], int, float]:
    """Attribute jobs, stages and task metrics to ops.

    ``windows`` maps a job-group id to ``(op_id, start, end)`` in epoch
    seconds. A job carrying one of those groups belongs to that op; a
    job without a group (launched from a thread that did not inherit
    it) is attributed by its submission time and counted as untagged.
    Returns per-op stats, the untagged job count and the peak JVM heap
    in MiB seen by any executor-metrics record.
    """
    by_op: dict[int, OpEngineStats] = {}
    stage_op: dict[int, int] = {}
    untagged = 0
    peak_heap = 0
    spans = sorted((s, e, op) for op, s, e in windows.values())

    def op_at(ms: int) -> int | None:
        t = ms / 1000.0
        for s, e, op in spans:
            if s <= t <= e:
                return op
        return None

    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group in windows:
                        op = windows[group][0]
                    else:
                        op = op_at(ev["Submission Time"])
                        if op is None:
                            continue
                        untagged += 1
                    by_op.setdefault(op, OpEngineStats()).jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_op.setdefault(sid, op)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_op:
                        by_op[stage_op[sid]].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev["Stage ID"])
                    peak_heap = max(
                        peak_heap,
                        (ev.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0),
                    )
                    if op is None:
                        continue
                    _add_task(by_op[op], ev)
                elif kind == "SparkListenerStageExecutorMetrics":
                    peak_heap = max(
                        peak_heap,
                        (ev.get("Executor Metrics") or {}).get("JVMHeapMemory", 0),
                    )
    return by_op, untagged, peak_heap / 2**20


def _event_files(log_dir: str) -> list[str]:
    """Event-log files in write order: a plain ``<appId>`` file, or the
    ``events_<n>_<appId>`` parts of a rolling ``eventlog_v2_*`` dir."""
    plain = [p for p in glob.glob(f"{log_dir}/*") if os.path.isfile(p)]
    parts = glob.glob(f"{log_dir}/eventlog_v2_*/events_*")
    return plain + sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))


def _add_task(st: OpEngineStats, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    st.tasks += 1
    sr = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    st.run_ms += m.get("Executor Run Time", 0)
    st.gc_ms += m.get("JVM GC Time", 0)
    st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        if acc.get("Name") == _PY_SENT:
            st.py_bytes_sent += int(acc.get("Update", 0))
