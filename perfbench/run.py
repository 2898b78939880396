"""Benchmark entry point.

    python3 perfbench/run.py --workload bio_batch --seed 1 --seconds 10 --trace 0

Workloads: ``bio_batch`` and ``bio_stream`` (perfbench/bio.py) and
``registry_heavy`` (perfbench/registry.py); perfbench/README.md lists
their metrics.  Run it from the repository root.  Inputs are generated
from ``--seed`` and cached, and everything the run writes (inputs, Spark
scratch, sink output, trace files) stays under ``.perfbench/`` in the
repository root.

The last line of standard output is one JSON object::

    {"correct": true, "attempted": 8, "failed": 0,
     "metrics": {"run_s": {"value": 13.81, "unit": "s"}, ...}}

With ``--trace 0`` its metrics are ``END_TO_END``, from untraced timed
runs; with ``--trace 1`` they are ``PER_LAYER``, from a traced run.
Every metric the run computed, including those outside the JSON
object, is printed before it as ``name = value unit``.  The exit code
is 0 when every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# The metrics of the JSON result line: those every listed workload
# measures steadily (BENCHMARK.json); the rest are printed only.
END_TO_END = ["run_s", "setup_s"]
PER_LAYER = ["session.start_s", "op.jobs", "op.stages", "op.tasks",
             "op.cpu_s", "op.gc_s", "op.shuffle_bytes", "op.busy_core_s"]


def isolate() -> None:
    """Point every scratch location of Python, Spark and the JVM into
    the work directory, and make the repository importable."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "pyspark-shell")
    sys.path.insert(0, ROOT)


# ----------------------------------------------------- process-tree RSS

def _children() -> dict:
    kids: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def descendants(root: int) -> list:
    kids, out, todo = _children(), [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class PeakRss(threading.Thread):
    """Samples the summed RSS of this process and all its descendants
    (the JVM and its Python workers) every ``period`` seconds."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period, self.peak = period, 0
        self._halt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._halt.is_set():
            total = sum(_rss_bytes(p) for p in [me] + descendants(me))
            self.peak = max(self.peak, total)
            self._halt.wait(self.period)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak / 2 ** 20


# ------------------------------------------------------------- the run

class Run:
    """State shared by a workload: session, operation counts, metrics."""

    def __init__(self, args):
        self.workload, self.seed = args.workload, args.seed
        self.seconds, self.trace = args.seconds, bool(args.trace)
        self.cores = len(os.sched_getaffinity(0))
        self.master = f"local[{self.cores}]"
        self.cache = os.path.join(WORK, "cache")
        self.spark = None
        self.attempted = self.failed = 0
        self.metrics: dict = {}          # name -> (value, unit)
        self.notes: list = []
        self._dirs = 0
        self.run_id = f"{self.workload}-s{self.seed}-{os.getpid()}"
        self.run_dir = os.path.join(WORK, "runs", self.run_id)
        os.makedirs(self.run_dir)

    # -- bookkeeping
    def fresh_dir(self, tag: str) -> str:
        self._dirs += 1
        return os.path.join(self.run_dir, f"{tag}-{self._dirs}")

    def op(self, name: str, ok: bool, detail: str = "") -> bool:
        """Count one operation; a failed output check fails it."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"FAILED {name} {detail}".rstrip())
        return ok

    def put(self, name: str, value, unit: str) -> None:
        self.metrics[name] = (value, unit)

    def put_cpu(self, cpu: dict) -> None:
        """Machine-wide busy core-seconds and steal during the first
        operation (bench.py's _region_cpu): context, not compared."""
        self.put("busy_core_s", cpu["busy_core_s"], "s")
        self.put("steal_pct", cpu["steal_pct"], "%")

    def put_runs(self, times: list) -> None:
        """run_s is the first, cold operation of the session; later ones
        (when --seconds allows them) are warm."""
        self.put("run_s", times[0], "s")
        if len(times) > 1:
            self.put("run_s.warm", statistics.median(times[1:]), "s")

    def put_tail(self, samples: list) -> None:
        value, pct, n = tail(samples)
        self.put("batch_tail_s", value, "s")
        self.put("batch_tail_pct", pct, "percentile")
        self.put("batch_tail_n", n, "samples")

    def put_op(self, counters: dict, cpu: dict) -> None:
        """The status-store counters of one traced operation (a
        production call on bio_batch, a round of leaves on
        registry_heavy) and the machine's CPU use during it."""
        for key, value in counters.items():
            unit = ("count" if key in ("jobs", "stages", "tasks") else
                    "bytes" if key.endswith("bytes") else "s")
            self.put(f"op.{key}", value, unit)
        self.put("op.busy_core_s", cpu["busy_core_s"], "s")
        self.put("op.steal_pct", cpu["steal_pct"], "%")

    def note_untraced(self, inputs: str, run_s: float) -> None:
        """Keep an untraced run's run_s beside its cached inputs, for the
        tracing overhead of a later traced run of the same seed."""
        with open(os.path.join(inputs, "untraced_run_s.json"), "w") as f:
            json.dump(run_s, f)

    def put_overhead(self, inputs: str, traced_s: float) -> None:
        """trace.run_s is the traced operation; trace.overhead_s is it
        minus the run_s of the last untraced run of the same seed in this
        checkout, when there was one."""
        self.put("trace.run_s", traced_s, "s")
        path = os.path.join(inputs, "untraced_run_s.json")
        if not os.path.exists(path):
            print("trace.overhead_s: no untraced run of this seed yet; "
                  "run --trace 0 with the same seed first")
            return
        with open(path) as f:
            plain_s = json.load(f)
        self.put("run_s.untraced", plain_s, "s")
        self.put("trace.overhead_s", traced_s - plain_s, "s")

    def write_trace(self, tracer, extra: dict) -> None:
        """Spans with self times, plus ``extra``, to
        .perfbench/trace/<workload>-s<seed>.json."""
        trace_dir = os.path.join(WORK, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(os.path.join(trace_dir,
                                  f"{self.workload}-s{self.seed}.json"),
                     dict(extra, metrics={k: v[0] for k, v in
                                          self.metrics.items()}))

    # -- session
    def setup(self) -> None:
        """setup_s: one ``get_spark`` in this fresh process, JVM launch
        included, up to its first finished job.  The workload's timed
        operation is the session's first real work, as in a one-shot
        job such as tools/submit_job.py."""
        from bern2_spark.session import get_spark
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=self.master)
        self.spark.range(1).collect()
        self.put("setup_s", time.perf_counter() - t0, "s")
        self.put("session.start_s", self.metrics["setup_s"][0], "s")

    def teardown(self) -> None:
        """Stop the session and the JVM, and wait for every process this
        run started to end."""
        if self.spark is not None:
            from pyspark import SparkContext
            gateway = SparkContext._gateway
            self.spark.stop()
            self.spark = None
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
        deadline = time.time() + 30
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def tail(values: list) -> tuple:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, samples); with fewer than eleven samples, the
    maximum (percentile 100)."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return xs[-1], 100, n
    pct = int(100 * (n - 10) / n)
    return statistics.quantiles(xs, n=100, method="inclusive")[pct - 1], pct, n


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bio_batch", "bio_stream", "registry_heavy"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    for need in ("bern2_spark", "bench.py", "tests/golden"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found in {ROOT}; run the benchmark "
                  "from a checkout of the repository", file=sys.stderr)
            return 2
    isolate()

    from perfbench import bio, registry
    workload = {"bio_batch": bio.bio_batch, "bio_stream": bio.bio_stream,
                "registry_heavy": registry.registry_heavy}[args.workload]
    run = Run(args)
    rss = PeakRss()
    rss.start()
    try:
        workload(run)
    finally:
        t_down = time.perf_counter()
        run.teardown()
        print(f"teardown {time.perf_counter() - t_down:.2f} s", file=sys.stderr)
        peak = rss.stop()
    run.put("peak_rss_mb", peak, "MB")
    if run.failed == 0:
        import shutil
        shutil.rmtree(run.run_dir, ignore_errors=True)

    run.put("failed_frac", run.failed / max(1, run.attempted), "ratio")
    for note in run.notes:
        print(note)
    for name, (value, unit) in run.metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    keys = PER_LAYER if run.trace else END_TO_END
    out = {"correct": run.failed == 0, "attempted": run.attempted,
           "failed": run.failed,
           "metrics": {k: {"value": run.metrics[k][0],
                           "unit": run.metrics[k][1]} for k in keys}}
    print(json.dumps(out), flush=True)
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
