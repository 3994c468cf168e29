"""Measurement plumbing kept outside the program under test.

- :class:`Tracer` records spans around the benchmark's calls into the
  program's public functions.  Spans stay in memory and are written
  once, at the end of a traced run.  With tracing off every span is a
  no-op.
- :func:`plan_metrics` reads Spark's own SQL metrics from the executed
  plan of a DataFrame the benchmark built and ran itself.
- :class:`StatusWindow` reads the JVM status store for the jobs that
  ran inside a call whose internals the benchmark cannot see
  (``run_etl``).
- :class:`RssSampler` tracks the peak resident memory of this process
  and every descendant (the JVM and its Python workers).
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext


class Tracer:
    """In-memory span recorder: (name, start, end, parent, op)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    def span(self, name: str, op: str | None = None):
        return self._span(name, op) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str, op: str | None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"name": name, "start": time.perf_counter() - self._t0,
               "end": None, "parent": parent, "op": op}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def layers(self) -> dict[str, dict]:
        """Per span name: call count, total seconds and self seconds
        (duration minus the part covered by child spans)."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            dur = s["end"] - s["start"]
            covered, last = 0.0, s["start"]
            for c in sorted(children[i], key=lambda c: c["start"]):
                lo, hi = max(c["start"], last), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "layers": self.layers(), **extra}, f, indent=1)


# --------------------------------------------------------------- plans


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _plan_nodes(node) -> list:
    """Physical operators of an executed plan, AQE stages unwrapped;
    reused exchanges are skipped so their work is counted once."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _plan_nodes(node.executedPlan())
    if name.endswith("QueryStageExec"):
        return _plan_nodes(node.plan())
    if name == "ReusedExchangeExec":
        return []
    out = [node]
    for child in _seq(node.children()):
        out.extend(_plan_nodes(child))
    return out


def plan_metrics(df) -> dict[str, dict[str, int]]:
    """{node name: {metric name: summed value}} over the executed plan
    of ``df``, read after an action ran on ``df`` itself."""
    out: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
    for node in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            out[node.nodeName()][kv._1()] += int(kv._2().value())
    return out


def metric_sum(metrics: dict, key: str, node_prefix: str = "") -> int:
    return sum(m.get(key, 0) for n, m in metrics.items() if n.startswith(node_prefix))


# -------------------------------------------------------- status store


class StatusWindow:
    """Totals over the Spark jobs that ran between :meth:`mark` and
    :meth:`since`.  The benchmark is its only client, so every job in
    the window belongs to the call it brackets."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        gw = spark.sparkContext._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._all_tasks = gw.jvm.java.util.ArrayList()

    def _store(self):
        # the store is fed asynchronously by the listener bus
        self._sc.listenerBus().waitUntilEmpty()
        return self._sc.statusStore()

    def mark(self) -> int:
        return max((j.jobId() for j in _seq(self._store().jobsList(None))), default=-1)

    def since(self, mark: int) -> dict[str, float]:
        store = self._store()
        jobs = [j for j in _seq(store.jobsList(None)) if j.jobId() > mark]
        stage_ids = {s for j in jobs for s in _seq(j.stageIds())}
        stages = [
            s
            for s in _seq(store.stageList(None, False, False, self._no_quantiles, self._all_tasks))
            if s.stageId() in stage_ids and s.status().toString() == "COMPLETE"
        ]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s.numCompleteTasks() for s in stages),
            "executor_run_s": sum(s.executorRunTime() for s in stages) / 1e3,
            "executor_cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "spill_bytes": sum(s.diskBytesSpilled() for s in stages),
            "output_bytes": sum(s.outputBytes() for s in stages),
        }


# ------------------------------------------------------------- process


def _descendants(root_pid: int) -> set[int]:
    """``root_pid`` and every process below it."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def _pss(pid: int) -> tuple[str, int] | None:
    """(command name, proportional set size in bytes); PSS splits
    shared pages among their sharers, so forked Python workers are not
    counted twice."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            name = f.read().strip()
        with open(f"/proc/{pid}/smaps_rollup") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
    except (OSError, StopIteration):
        return None
    return name, kb * 1024


class RssSampler:
    """Peak summed resident memory (PSS) of this process and its
    descendants, sampled on a background thread.

    A process is counted from its second sample on: a child the JVM
    forks to run a helper lives for milliseconds, and a sample that
    reads the parent before the fork and the child after it would
    count the shared heap twice."""

    def __init__(self, interval_s: float = 0.5):
        self.peak = 0
        self.by_name: dict[str, int] = {}
        self._interval = interval_s
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        pids = _descendants(os.getpid())
        stable, self._seen = pids & (self._seen | {os.getpid()}), pids
        by_name: dict[str, int] = defaultdict(int)
        for name, size in filter(None, map(_pss, stable)):
            by_name[name] += size
        total = sum(by_name.values())
        if total > self.peak:
            self.peak, self.by_name = total, dict(by_name)

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
