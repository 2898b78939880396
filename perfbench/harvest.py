"""Spans plus Spark status-store counters, for the benchmark's traced runs.

A ``Tracer`` keeps spans in memory: name, start, end, parent and run id,
recorded by wrapping calls in ``with tracer.span(name):``.  Nothing is
read from Spark while spans are open.  After the traced work is done,
``attribute`` reads Spark's own status stores once, over py4j, and
credits every job, stage and SQL execution to the spans whose interval
holds its submission time:

* the core ``AppStatusStore`` gives per-stage task counts, task run
  time (``task_s``), CPU and GC time, shuffle-write bytes and spill;
* the SQL status store gives the ``MapInPandas`` node metrics: time to
  start, initialize and run Python workers, and bytes sent to and
  returned from them.

Both stores work with ``spark.ui.enabled=false``.  The module imports
nothing from the program under test, so a production run report can
adopt it unchanged.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
from typing import Dict, Iterator, List, Optional

COUNTERS = ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
            "shuffle_bytes", "spill_bytes", "py_start_s", "py_init_s",
            "py_run_s", "py_bytes")

# SQL metric name on a MapInPandas / ArrowEvalPython node -> counter
_PY_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "py_bytes",
    "data returned from Python workers": "py_bytes",
}
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1.0,
          "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: List[Dict] = []
        self._open: List[Dict] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Dict]:
        s = {"name": name, "run_id": self.run_id,
             "parent": self._open[-1]["name"] if self._open else None,
             "start": time.time(), "end": None}
        self._open.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._open.pop()
            self.spans.append(s)

    def add(self, name: str, start: float, end: float,
            parent: Optional[str] = None) -> None:
        """Record a span timed elsewhere (a streaming micro-batch)."""
        self.spans.append({"name": name, "run_id": self.run_id,
                           "parent": parent, "start": start, "end": end})

    def get(self, name: str) -> Dict:
        return next(s for s in self.spans if s["name"] == name)

    def duration(self, name: str) -> float:
        s = self.get(name)
        return s["end"] - s["start"]

    def self_times(self) -> Dict[str, float]:
        """Duration minus the part covered by direct children (children
        of one parent never overlap: one operation is in flight)."""
        out = {s["name"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def write(self, path: str, extra: Optional[Dict] = None) -> None:
        selfs = self.self_times()
        spans = [dict(s, self_s=selfs[s["name"]]) for s in
                 sorted(self.spans, key=lambda s: s["start"])]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": spans,
                       **(extra or {})}, f, indent=1)


def maybe_span(tracer: Optional[Tracer], name: str):
    """``tracer.span(name)``, or no span when tracing is off."""
    return tracer.span(name) if tracer else contextlib.nullcontext()


def _parse_metric(text: str) -> float:
    """A formatted SQL metric -> seconds or bytes.  Multi-task metrics
    read 'total (min, med, max ...)\\n8.0 s (1.7 s, ...)'; single-task
    ones read '287 ms'.  The total is the first value after any
    header line."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _opt_ms(opt) -> Optional[int]:
    """scala.Option[java.util.Date] -> epoch ms."""
    return opt.get().getTime() if opt.isDefined() else None


def _seq(scala_seq) -> Iterator:
    for i in range(scala_seq.size()):
        yield scala_seq.apply(i)


def _stages(spark) -> List[Dict]:
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                             sc._gateway.new_array(jvm.double, 0),
                             jvm.java.util.ArrayList())
    out = []
    for s in _seq(stages):
        status = s.status().toString()
        if status not in ("COMPLETE", "FAILED"):
            continue                       # skipped (reused) or still open
        out.append({
            "t": _opt_ms(s.submissionTime()), "tasks": s.numTasks(),
            "task_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "shuffle_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled()})
    return out


def _jobs(spark) -> List[int]:
    store = spark.sparkContext._jsc.sc().statusStore()
    return [_opt_ms(j.submissionTime()) for j in _seq(store.jobsList(None))]


def _python_metrics(spark, lo: int, hi: int) -> List[Dict]:
    """One dict per SQL execution submitted in [lo, hi] epoch ms: its
    submission time and the summed Python-worker metrics of every
    Python node in its plan.  A cached subtree shows up again in the
    plan of every later action that scans it, with the accumulators of
    the run that filled the cache, so each accumulator counts once."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = sorted((e for e in _seq(store.executionsList())
                    if lo <= e.submissionTime() <= hi),
                   key=lambda e: e.executionId())
    seen = set()
    out = []
    for e in execs:
        eid = e.executionId()
        vals = store.executionMetrics(eid)
        got = dict.fromkeys(("py_start_s", "py_init_s", "py_run_s",
                             "py_bytes"), 0.0)
        for node in _seq(store.planGraph(eid).allNodes()):
            name = node.name()
            if "Python" not in name and "Pandas" not in name:
                continue
            for m in _seq(node.metrics()):
                key = _PY_METRICS.get(m.name())
                if key is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = vals.get(m.accumulatorId())
                if v.isDefined():
                    got[key] += _parse_metric(v.get())
        out.append({"t": e.submissionTime(), **got})
    return out


def attribute(spark, tracer: Tracer) -> Dict[str, Dict[str, float]]:
    """Counters per span name, inclusive of child spans: every job,
    stage and SQL execution submitted inside a span's interval counts
    toward that span."""
    if not tracer.spans:
        return {}
    execs = _python_metrics(
        spark, int(min(s["start"] for s in tracer.spans) * 1000),
        int(max(s["end"] for s in tracer.spans) * 1000) + 1)
    stages, jobs = _stages(spark), _jobs(spark)
    out = {}
    for s in tracer.spans:
        lo, hi = int(s["start"] * 1000), int(s["end"] * 1000) + 1

        def inside(t):
            return t is not None and lo <= t <= hi
        c = dict.fromkeys(COUNTERS, 0.0)
        c.update(jobs=sum(1 for t in jobs if inside(t)), stages=0, tasks=0)
        for st in stages:
            if inside(st["t"]):
                c["stages"] += 1
                for k in ("tasks", "task_s", "cpu_s", "gc_s",
                          "shuffle_bytes", "spill_bytes"):
                    c[k] += st[k]
        for ex in execs:
            if inside(ex["t"]):
                for k in ("py_start_s", "py_init_s", "py_run_s", "py_bytes"):
                    c[k] += ex[k]
        out[s["name"]] = c
    return out
