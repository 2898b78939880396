"""Rewrite fixtures/bio_pool_triples.parquet: the triples the pipeline
produces for every document of the bio pool (gen.py), by pool index.

    python3 perfbench/make_expected.py

Run it from the repository root when the pool generator changes, or when
a change to the program is meant to change its triples, and review the
counts it prints before committing the file.  The bio workloads check
every run's triples against this file.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import WORK, isolate  # noqa: E402


def main() -> int:
    isolate()
    import pyarrow as pa
    import pyarrow.parquet as pq
    from bern2_spark.pipeline import run_pipeline
    from bern2_spark.session import get_spark
    from perfbench import gen

    pool = gen.bio_pool()
    index = {hashlib.sha256(r[4].encode()).hexdigest(): gen.pool_index(r[1])
             for r in pool}
    assert len(index) == len(pool), "pool documents must differ"
    docs = os.path.join(WORK, "pool_docs.parquet")
    gen.write_docs_parquet(pool, docs)

    spark = get_spark("perfbench-expected",
                      master=f"local[{len(os.sched_getaffinity(0))}]")
    try:
        res = run_pipeline(spark.read.parquet(docs), gen.bio_lexicon(), spark)
        t = res.triples.select("subj", "pred", "obj").toArrow()
        res.release()
    finally:
        spark.stop()
    rows = sorted((index[s], p, o) for s, p, o in zip(
        *(t.column(c).to_pylist() for c in t.column_names)))
    idx, pred, obj = zip(*rows)
    pq.write_table(pa.table({"idx": pa.array(idx, pa.int32()),
                             "pred": pa.array(pred, pa.string()),
                             "obj": pa.array(obj, pa.string())}),
                   gen.POOL_TRIPLES, compression="zstd")
    by_pred: dict = {}
    for p in pred:
        by_pred[p] = by_pred.get(p, 0) + 1
    print(f"{len(rows)} triples from {len(set(idx))} of {len(pool)} docs:",
          dict(sorted(by_pred.items())))
    return 0


if __name__ == "__main__":
    sys.exit(main())
