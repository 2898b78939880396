"""Round-5 flagship ablation: per-component steady-state cost at sf0.1.

Re-baselines the flagship after the round-4 sieve expansion (VERDICT r4
next-round #4): times the full KG pipeline and each ablation
(neural fallback off, abbreviation retry off, both off) at
sf0.1/local[32], two steal-gated passes per config, min reported with
per-pass busy/steal telemetry so the artifact is weather-interpretable.
Prints one JSON line; tools/collect_r05.sh-style usage:

    python3 tools/profile_r5.py > BENCH/profile_r5_ablation.json
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402  (repo-root module; reuses session/steal helpers)

CONFIGS = {
    "full": dict(neural=True, abbreviations=True),
    "no_neural": dict(neural=False, abbreviations=True),
    "no_abbrev": dict(neural=True, abbreviations=False),
    "base": dict(neural=False, abbreviations=False),
}


def _run(spark, sf_dir, cfg) -> int:
    from bern2_spark import corpus
    from bern2_spark.pipeline import pipeline_input, run_pipeline
    docs = pipeline_input(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    res = run_pipeline(docs, corpus.DRIVER_VOCAB_LEXICON, spark, **cfg)
    with res:
        return res.triples.count()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    bench._pin_allocators()
    from bern2_spark.session import default_cpus
    cpus = default_cpus()
    spark = bench._session(cpus)
    warm_dir = "/root/testdata/sf0.001"
    # warm every config's plan shape at the smallest sf (JIT/codegen/
    # python-worker spawn paid outside the timed region)
    for cfg in CONFIGS.values():
        _run(spark, warm_dir if os.path.isdir(warm_dir) else sf_dir, cfg)
    out = {"sf_dir": sf_dir, "cpus": cpus, "configs": {}}
    for name, cfg in CONFIGS.items():
        passes, triples = [], None
        for tag in ("a", "b"):
            bench._wait_quiet(max_wait=60)
            t0 = bench._cpu_ticks()
            w0 = time.perf_counter()
            triples = _run(spark, sf_dir, cfg)
            wall = time.perf_counter() - w0
            cpu = bench._region_cpu(t0, wall)
            passes.append({"pass": tag, "sec": round(wall, 3),
                           "busy_core_s": cpu["busy_core_s"],
                           "steal_pct": cpu["steal_pct"]})
        out["configs"][name] = {
            "sec": min(p["sec"] for p in passes),
            "triples": triples, "passes": passes}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
