"""The ``registry_heavy`` workload: JVM shuffle- and join-heavy leaves
of the ``queries.QUERIES`` registry (dataprep/dedup, dataprep/codeqc,
dataprep/codekg and operators/graph), which the flagship pipeline never
reaches: the ROADMAP performance candidates.

Inputs are seeded tables in the star-schema shapes of the test data
(perfbench/gen.py ``registry_tables``).  Timed: a round runs every
leaf once, materialized into parquet (``count()`` would prune
projections).  ``run_s`` is the first round, in a session that has run
no other query, as a registry sweep runs each leaf once; rounds repeat until
``--seconds`` have passed.  An operation is one leaf execution.  Check: each
leaf's files, read back, must equal its DuckDB oracle
(``queries.ORACLES``, the SQL ``__spark_entry__.oracle_sql()`` serves)
and be non-empty.

The traced run (``--trace 1``) is the same round with a span per leaf
inside an ``op`` span, followed by one read of Spark's status stores;
its tracing overhead is the traced round minus the untraced run_s of the
same seed, when an untraced run of that seed came first in the checkout.
"""

from __future__ import annotations

import math
import os
import statistics
import time

from perfbench import gen, harvest

LEAVES = ["code_fork_detection", "dedup_minhash_calibration",
          "kg_transitive_reduction", "dedup_containment", "kg_code_pipeline"]
SF = 0.01


def _norm_cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if type(v).__name__ == "Decimal":
        return round(float(v), 6)
    return v


def _normalize(rows, cols) -> list:
    """Order-insensitive rows with columns in name order and floats
    rounded to 6 places, as the repository's oracle tests compare."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def _round(run, queries, sf_dir, out_dir, tracer=None) -> dict:
    """Every leaf once, written to ``out_dir/<leaf>``; seconds per leaf."""
    out = {}
    for leaf in LEAVES:
        t = time.perf_counter()
        with harvest.maybe_span(tracer, leaf):
            (queries[leaf](run.spark, sf_dir)
             .write.mode("overwrite").parquet(os.path.join(out_dir, leaf)))
        out[leaf] = time.perf_counter() - t
    return out


def _check(run, oracles, sf_dir, out_dir) -> None:
    """Each leaf's written rows against its DuckDB oracle."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for t in ("documents", "part", "lineitem"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(sf_dir, t)}.parquet'")
    for leaf in LEAVES:
        table = pq.read_table(os.path.join(out_dir, leaf))
        got = _normalize([tuple(r.values()) for r in table.to_pylist()],
                         table.column_names)
        res = con.sql(oracles[leaf])
        want = _normalize(res.fetchall(), res.columns)
        run.op(f"{leaf}.oracle", got == want and len(got) > 0,
               f"{len(got)} rows vs {len(want)} oracle rows")
    con.close()


def registry_heavy(run) -> None:
    from bench import _cpu_ticks, _region_cpu
    from bern2_spark.queries import ORACLES, QUERIES
    tables = gen.registry_tables(run.cache, run.seed, SF)
    run.setup()
    tracer = harvest.Tracer(run.run_id) if run.trace else None
    rounds = []
    start = time.perf_counter()
    while not rounds or (not run.trace
                         and time.perf_counter() - start < run.seconds):
        out_dir = run.fresh_dir("leaves")
        ticks = _cpu_ticks()
        t = time.perf_counter()
        with harvest.maybe_span(tracer, "op"):
            leaf_s = _round(run, QUERIES, tables, out_dir, tracer)
        rounds.append(time.perf_counter() - t)
        cpu = _region_cpu(ticks, rounds[-1])
        print(f"round {len(rounds)}: {rounds[-1]:.3f} s, cpu {cpu}")
        _check(run, ORACLES, tables, out_dir)
        if len(rounds) == 1:
            run.put_cpu(cpu)
            for leaf, s in leaf_s.items():
                run.put(f"{leaf}.s", s, "s")
            run.put("batch_p50_s", statistics.median(leaf_s.values()), "s")
            run.put_tail(list(leaf_s.values()))
    if not run.trace:
        run.put_runs(rounds)
        run.note_untraced(tables, rounds[0])
        return
    t = time.perf_counter()
    counters = harvest.attribute(run.spark, tracer)
    run.put("trace.harvest_s", time.perf_counter() - t, "s")
    for leaf in LEAVES:
        run.put(f"{leaf}.shuffle_bytes", counters[leaf]["shuffle_bytes"],
                "bytes")
        run.put(f"{leaf}.jobs", counters[leaf]["jobs"], "count")
    run.put_op(counters["op"], cpu)
    run.put_overhead(tables, rounds[0])
    run.write_trace(tracer, {"counters": counters})
