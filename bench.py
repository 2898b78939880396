"""Benchmark harness: the headline queries.

Runs the HEADLINE queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS, default: all cores]
and prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "triples": n, "triples_per_sec": r}.

    python bench.py
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "kg_pipeline_triples",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_lsh_verified",
    "dedup_paragraph",
    "dedup_substring_spans",
    "ann_topk_bruteforce",
    "ann_lsh_bucketed",
    "ann_lsh_multiprobe",
    "ann_ivf_pq",  # compressed-store ANN (added r5)
    "qc_quality_score",
    "tpch_q1ish",
    # graph family (added r5): new first-class surface a KG user hits
    "kg_pagerank",
    "kg_triangles",
    "kg_khop",
    # code-corpus curation (added r5 session 3)
    "code_stack_filters",
    "code_fork_detection",
    "qc_curation_funnel",
    # composed code-KG pipeline: curate -> extract -> link -> triples
    # (added r5 session 4) — the north rule's sentence as one plan
    "kg_code_pipeline",
    # repo-similarity projection (added r5 final session; ~2 s at
    # sf0.1 — totals are not comparable to 19-query artifacts)
    "kg_shared_pkg_graph",
    # session-6 code-corpus additions: bitext mining, function-level
    # clone dedup, subtoken vocab (the three heaviest new plans —
    # totals are not comparable to 20-query artifacts)
    "kg_docstring_pairs",
    "dedup_function_clones",
    "code_subtoken_vocab",
    # session-8 additions: lexical retrieval + the graph-analytics
    # tail (2.3-3.4 s each at sf0.1/local[32]; totals are not
    # comparable to 23-query artifacts)
    "code_bm25_search",
    "kg_label_propagation",
    "kg_personalized_pagerank",
    "kg_dep_hits",
    # session-8 tail: entity resolution, WL roles, link prediction,
    # hybrid retrieval (1.1-1.9 s each at sf0.1/local[32]; totals are
    # not comparable to 27-query artifacts)
    "kg_surface_variants",
    "kg_wl_labels",
    "kg_adamic_adar",
    "code_hybrid_search",
    # session-8 last pair: alias-table materialize (components over
    # variant pairs, 3.2 s) and the 1-row assortativity diagnostic
    # (0.9 s) — 33 queries total now
    "kg_alias_table",
    "kg_assortativity",
    # session-8 second tail: containment dedup, TextRank, Halstead,
    # unused-import lint, PMI collocations (0.3-3.1 s each at
    # sf0.1/local[32]) — 38 queries total now
    "dedup_containment",
    "qc_textrank_keywords",
    "qc_halstead_metrics",
    "qc_unused_imports",
    "qc_pmi_collocations",
    # session-9: fuzzy linking, gap-fill, Z-order layout, mojibake,
    # k-core (0.3-1.8 s each at sf0.1/local[32]) — 43 queries total
    "kg_fuzzy_link",
    "events_gapfill",
    "layout_zorder",
    "qc_mojibake",
    "kg_kcore",
    # session-9 second batch: range search, rolling anomaly scores,
    # curriculum order, token entropy, Zipf fit (0.4-1.1 s each at
    # sf0.1/local[32]) — 48 queries total
    "ann_range_search",
    "events_anomaly",
    "mix_curriculum_order",
    "qc_token_entropy",
    "qc_zipf_fit",
    # session-9 third batch: dead functions, Markov transitions,
    # readability, RFM, transitive reduction (0.2-5.0 s each at
    # sf0.1/local[32]) — 53 queries total
    "code_dead_functions",
    "events_markov",
    "qc_readability",
    "events_rfm",
    "kg_transitive_reduction",
    # session-9 fourth batch: license conflicts, A/B lift, TPC-H
    # Q5-ish star join, length-bucket batching (0.4-1.4 s each at
    # sf0.1/local[32]) — 57 queries total
    "kg_license_conflicts",
    "events_ab_test",
    "tpch_q5ish",
    "mix_length_buckets",
    # session-9 fifth batch: predicate functionality, domain JS
    # divergence, sliding windows, MinHash calibration (0.4-6.9 s
    # each at sf0.1/local[32]) — 61 queries total
    "kg_pred_functionality",
    "mix_domain_divergence",
    "events_sliding",
    "dedup_minhash_calibration",
    # session-9 sixth batch: audio-window plumbing (0.5 s at
    # sf0.1/local[32]) — 62 queries total; dedup_funnel is registered
    # with a driver oracle but NOT headlined (it re-runs the whole
    # verified-dedup subtree, ~17 s, all already timed above)
    "mm_audio_windows",
    # session-9 seventh batch: PQ quantization-error audit — 63
    # queries total
    "ann_pq_distortion",
    # session-9 eighth batch: TransE link scoring (1.1 s at
    # sf0.1/local[32]) — 64 queries total
    "kg_transe_scores",
    # session-9 ninth batch: soft-dedup weights, IVF cell balance,
    # language-metadata agreement — 67 queries total
    "mix_soft_dedup_weights",
    "ann_ivf_balance",
    "qc_lang_agreement",
    # session-9 tenth batch: Deequ-style profiling + constraint
    # suite, cluster-size histogram, docstring coverage — 71 queries
    "qc_profile_documents",
    "qc_constraints",
    "dedup_cluster_sizes",
    "code_doc_coverage",
    # session-9 eleventh batch: entropy secret scan, DAU/WAU
    # stickiness — 73 queries
    "code_entropy_secrets",
    "events_stickiness",
    # session-9 twelfth batch: degree-distribution shape,
    # boilerplate-line report — 75 queries
    "kg_degree_distribution",
    "qc_boilerplate_lines",
    # session-9 thirteenth batch: dedup threshold curve, source
    # datasheet — 77 queries
    "dedup_threshold_curve",
    "mix_source_datasheet",
    # session-9 fourteenth batch: weighted shortest paths, schema
    # drift — 79 queries
    "kg_shortest_paths",
    "qc_schema_drift",
]


def _materialize(df) -> int:
    """Force full execution; returns row count via a cheap agg."""
    return df.count()


def _run_once(spark, sf_dir: str, names) -> tuple[dict, dict, dict]:
    """Fault-isolated: one broken query records {"err": ...} and the
    rest still get timed — a single regression must never erase the
    whole round's perf evidence (the round-3 BENCH failure mode)."""
    from bern2_spark.queries import QUERIES
    times, counts, errs = {}, {}, {}
    for name in names:
        t0 = time.perf_counter()
        try:
            counts[name] = _materialize(QUERIES[name](spark, sf_dir))
            times[name] = round(time.perf_counter() - t0, 3)
        except Exception as e:  # noqa: BLE001 — isolation is the point
            times[name] = None
            counts[name] = None
            errs[name] = f"{type(e).__name__}: {e}"[:300]
            print(f"bench: query {name} FAILED: {errs[name]}",
                  file=sys.stderr)
    return times, counts, errs


def _session(cpus: int):
    from bern2_spark.session import get_spark
    # shuffle granularity follows the core count (4 waves-worth): AQE
    # coalesces the excess on small shuffles, so over-provisioning is
    # free — the same rule a real cluster uses (partitions ~ 2-4x
    # total cores).
    # Fixed heap (-Xms = -Xmx): this sandbox is a microVM with virtio
    # free-page reporting — pages the JVM gives back to the kernel are
    # unmapped by the hypervisor and cost ~20us to fault back in, so a
    # heap that balloons under load turns cache-build stages into
    # kernel-time fault storms (measured: the SAME 6.09M-row persist
    # stage cost 19.5 CPU-s at local[2] but 1,646 CPU-s at local[8]
    # before this fix, 84x, all minor-fault sys time). A pre-sized heap
    # never returns pages, which is also standard practice for
    # production executors (fixed heap per container).
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    return get_spark(
        f"bern2-bench-{cpus}", master=f"local[{cpus}]",
        extra_conf={"spark.sql.shuffle.partitions": str(4 * cpus),
                    "spark.driver.extraJavaOptions": f"-Xms{mem}"})


def _pin_allocators() -> None:
    """The -Xms fix (see _session) keeps the JVM from returning heap
    pages to this free-page-reporting hypervisor; python UDF workers
    have the same failure mode through their allocators (glibc trim /
    mmap'd large blocks / Arrow pool decay all MADV/munmap freed pages,
    which the host then unmaps — ~20us to fault back in).  Worker
    counts scale with cores, so high-core sessions pay
    disproportionally (measured: the identical tag stage burned 110-160
    busy core-s at pinned local[4] vs up to 578 at local[16]).  Pin the
    allocators: never trim, keep large allocations in the arena, use
    the (glibc) system pool for Arrow.  Workers inherit this env
    through the gateway JVM, so call it before the session starts, in
    EVERY bench mode."""
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_ARENA_MAX", "4")
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")


def _sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _pin_allocators()
    from bern2_spark.session import default_cpus
    cpus = default_cpus()
    spark = _session(cpus)
    # warm the JVM / python-worker / Arrow paths of EVERY query shape at
    # the smallest sf so the sf_dir measurement is steady-state
    warm_dir = "/root/testdata/sf0.001"
    _run_once(spark, warm_dir if os.path.isdir(warm_dir) else sf_dir,
              HEADLINE)
    # best-of-2 at the target sf: first execution of a new plan pays
    # JIT/codegen/persist setup; steady-state is the honest throughput.
    # Each timed pass is steal-gated and carries its own CPU telemetry:
    # this microVM's host time-slices cores in storms (measured 2-3x
    # wall-clock swings at ZERO steal on identical plans minutes apart),
    # so the recorded steal/busy numbers are what makes any one JSON
    # line interpretable against the PROFILE_r4.md steady-state band.
    telemetry = []

    def _timed_pass(tag):
        _wait_quiet()
        t0 = _cpu_ticks()
        w0 = time.perf_counter()
        res = _run_once(spark, sf_dir, HEADLINE)
        cpu = _region_cpu(t0, time.perf_counter() - w0)
        telemetry.append({"pass": tag,
                          "busy_core_s": cpu["busy_core_s"],
                          "steal_pct": cpu["steal_pct"]})
        return res

    times_a, counts, errs_a = _timed_pass("a")
    times_b, counts_b, errs_b = _timed_pass("b")
    counts = {k: counts[k] if counts[k] is not None else counts_b[k]
              for k in counts}
    times = {k: min([t for t in (times_a[k], times_b[k])
                     if t is not None], default=None)
             for k in times_a}
    errs = {k: errs_a.get(k) or errs_b.get(k)
            for k in set(errs_a) | set(errs_b)
            if times[k] is None}
    total = round(sum(t for t in times.values() if t is not None), 3)
    kg_sec = times["kg_pipeline_triples"]
    triples = counts["kg_pipeline_triples"]
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": _sf_of(sf_dir),
        "cpus": cpus,
        "triples": triples,
        "triples_per_sec": (round(triples / kg_sec, 1)
                            if kg_sec and triples else None),
        "telemetry": telemetry,
    }
    if errs:
        out["errors"] = errs
    print(json.dumps(out))
    spark.stop()


def _cpu_ticks() -> tuple[int, int]:
    """(busy, steal) jiffies from /proc/stat, whole machine.

    Loadavg cannot distinguish our own runnable threads from external
    pressure on this isolated microVM — the hypervisor's CPU STEAL
    counter can (measured bursts up to ~16% of machine time mid-run).
    Deltas around each timed region turn a mystery-slow run into an
    attributable one: high steal = the host took the cores; high
    busy-per-second vs the run's core budget = the engine burned extra
    core-seconds (oversubscription/GC), not the neighbors."""
    try:
        with open("/proc/stat") as f:
            p = f.readline().split()
        v = list(map(int, p[1:9]))
        busy = v[0] + v[1] + v[2] + v[4] + v[5] + v[6]
        return busy, v[7]
    except OSError:  # non-Linux fallback: telemetry reads as zero
        return 0, 0


def _region_cpu(t0_ticks: tuple[int, int], wall_s: float) -> dict:
    """busy/steal core-seconds spent machine-wide during a timed region
    (jiffy = 1/100 s; the box runs nothing else, so machine-wide ≈ us)."""
    b1, s1 = _cpu_ticks()
    return {"busy_core_s": round((b1 - t0_ticks[0]) / 100.0, 1),
            "steal_core_s": round((s1 - t0_ticks[1]) / 100.0, 1),
            "steal_pct": round(
                100.0 * (s1 - t0_ticks[1]) /
                max(1.0, (b1 - t0_ticks[0]) + (s1 - t0_ticks[1])), 1)}


def _spin_pool() -> list:
    """Eight busy subprocesses that make the hypervisor show its hand: the
    host only time-slices vCPUs that demand cycles, so an idle probe
    systematically under-reads (a window that read 0.4% idle stole 16%
    from the very next timed run). Caller must _reap() the pool."""
    import subprocess
    return [subprocess.Popen(
        [sys.executable, "-c", "while True: pass"],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        for _ in range(8)]


def _reap(procs: list) -> None:
    # kill() alone leaves zombies until the interpreter happens to
    # collect them; wait() reaps each child deterministically
    for p in procs:
        p.kill()
    for p in procs:
        p.wait()


def _steal_pct(procs: list) -> float:
    """Hypervisor CPU-steal over a 5 s window, % of granted+stolen,
    sampled while the ``procs`` spinner pool (see _spin_pool) keeps
    every core busy. Spinner core-seconds are burned OUTSIDE every
    timed region."""
    b0, s0 = _cpu_ticks()
    time.sleep(5.0)
    b1, s1 = _cpu_ticks()
    return 100.0 * (s1 - s0) / max(1.0, (b1 - b0) + (s1 - s0))


def _wait_quiet() -> None:
    """Block until hypervisor CPU-steal is under 2% (this isolated microVM
    has no neighbor PROCESSES — loadavg only reflects our own runs —
    but the host time-slices its cores: steal bursts up to ~16% were
    measured mid-run). Gives up after 60 s and proceeds; the
    per-pass steal telemetry in the headline JSON exposes any
    still-noisy window. One spinner pool lives across all poll
    iterations (spawn once, reap once)."""
    t0 = time.time()
    procs = _spin_pool()
    try:
        time.sleep(1.0)
        while _steal_pct(procs) > 2.0 and time.time() - t0 < 60:
            time.sleep(5)
    finally:
        _reap(procs)


if __name__ == "__main__":
    main()
