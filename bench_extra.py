"""Extra measurement harness for optimization rounds (bench.py is
frozen for the driver's measurement; this file carries the per-query
isolation runs the optimization guide §1.4 asks for).

Modes:
  python bench_extra.py time  <sf_dir> <query> [query ...] [--noop] [--reps N]
  python bench_extra.py plan  <sf_dir> <query> [query ...] --out DIR --suffix SFX
  python bench_extra.py rows  <sf_dir> <query> --out FILE
      (collect the query's full result, normalized+sorted, to a file —
       for exact before/after equivalence diffs)

Timing uses bench.py's session (local[$SPARK_GRAFT_CPUS or all cores],
shuffle partitions 4x cpus, 8g fixed heap) and the same count()
materialization by default; --noop uses the noop sink (computes every
column).  One warm pass at sf0.001 per query shape first.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _session():
    import bench
    from bern2_spark.session import default_cpus
    bench._pin_allocators()
    return bench._session(default_cpus())


def _materialize(df, noop: bool) -> int:
    if noop:
        df.write.format("noop").mode("overwrite").save()
        return -1
    return df.count()


def main() -> None:
    mode = sys.argv[1]
    sf_dir = sys.argv[2]
    args = sys.argv[3:]
    flags = [a for a in args if a.startswith("--")]
    names = [a for a in args if not a.startswith("--")]
    noop = "--noop" in flags
    reps = 1
    if "--reps" in args:
        reps = int(args[args.index("--reps") + 1])
        names = [n for n in names if n != str(reps)]
    out = None
    if "--out" in args:
        out = args[args.index("--out") + 1]
        names = [n for n in names if n != out]
    suffix = "before"
    if "--suffix" in args:
        suffix = args[args.index("--suffix") + 1]
        names = [n for n in names if n != suffix]

    from bern2_spark.queries import QUERIES
    spark = _session()
    sc = spark.sparkContext

    if mode == "plan":
        os.makedirs(out, exist_ok=True)
        for name in names:
            df = QUERIES[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(out, f"{name}_{suffix}.txt"), "w") as f:
                f.write(plan)
            print(f"wrote {name}_{suffix}.txt")
        spark.stop()
        return

    if mode == "rows":
        name = names[0]
        df = QUERIES[name](spark, sf_dir)
        rows = sorted(repr(tuple(r)) for r in df.collect())
        with open(out, "w") as f:
            f.write("\n".join(rows))
        print(f"{name}: {len(rows)} rows -> {out}")
        spark.stop()
        return

    # mode == time
    warm_dir = "/root/testdata/sf0.001"
    results = {}
    for name in names:
        # warm the operator shape at tiny sf (JIT/codegen/worker spawn)
        try:
            _materialize(QUERIES[name](spark, warm_dir), noop)
        except Exception as e:
            print(f"warm {name} FAILED: {e}", file=sys.stderr)
        samples = []
        for _ in range(reps):
            sc.setJobDescription(f"time:{name}")
            t0 = time.perf_counter()
            n = _materialize(QUERIES[name](spark, sf_dir), noop)
            samples.append(round(time.perf_counter() - t0, 3))
            sc.setJobDescription(None)
        results[name] = {"samples": samples, "min": min(samples),
                         "rows": n}
        print(f"{name}: {samples} rows={n}", flush=True)
    print(json.dumps({"sf_dir": sf_dir, "noop": noop,
                      "results": {k: v["min"] for k, v in results.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
