"""Streaming end-to-end KG construction: a document stream drained
through the FULL flagship pipeline (preprocess -> multi-type tagging ->
mutation battery -> sieve normalization -> neural fallback ->
canonicalize -> triples), micro-batch by micro-batch.

This is the north rule's batch job in its incremental deployment
shape: new repository files arrive continuously, and the triples table
grows per micro-batch instead of being rebuilt.  It works because the
flagship pipeline is per-document independent end-to-end — every
window partitions by doc, every lookup joins a broadcast lexicon, and
no stage aggregates across documents — so triples(A ∪ B) ==
triples(A) ∪ triples(B), which the test asserts against a batch run
over the unioned corpus (tests/test_streaming.py).

Idempotency follows the module convention (streaming/ann.py,
streaming/sketch.py): each micro-batch OVERWRITES its own
``triples/batch=<id>`` partition directory, so a crash/retry replay
rewrites identical files instead of double-appending.
``PipelineResult.release()`` runs after each batch's write — without
it the per-batch persists (preprocess subtree) accumulate across the
stream's lifetime.

The reference serves one request at a time over HTTP
(bern2/server.py); continuous ingestion is a Spark-first addition
mandated by the build brief, not a port.
"""

from __future__ import annotations

import os
from typing import Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession

from bern2_spark.pipeline import run_pipeline


def stream_kg_triples(spark: SparkSession, input_dir: str,
                      out_dir: str, schema,
                      lexicon_rows: Sequence[Tuple[str, str, str]]) -> None:
    """Drain ``input_dir`` (json files of (repo, path, commit, lang,
    content) rows) through the full KG pipeline; triples land under
    ``triples/batch=<id>`` (overwrite = replay-idempotent), the O5
    quarantine side-output under ``quarantine/batch=<id>``."""
    triples_dir = os.path.join(out_dir, "triples")
    quar_dir = os.path.join(out_dir, "quarantine")

    def process_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        result = run_pipeline(batch_df, lexicon_rows,
                              spark=batch_df.sparkSession)
        try:
            (result.triples.write.mode("overwrite").format("parquet")
             .save(os.path.join(triples_dir, f"batch={batch_id}")))
            (result.quarantine.write.mode("overwrite").format("parquet")
             .save(os.path.join(quar_dir, f"batch={batch_id}")))
        finally:
            result.release()

    q = (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", "1")   # force multi-batch
         .json(input_dir)
         .writeStream.foreachBatch(process_batch)
         .option("checkpointLocation", os.path.join(out_dir, "ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def read_stream_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    base = os.path.join(out_dir, "triples")
    return (spark.read.option("basePath", base)
            .parquet(os.path.join(base, "batch=*")))


def stream_code_kg(spark: SparkSession, input_dir: str, out_dir: str,
                   schema) -> None:
    """Streaming CODE-entity KG construction: (repo, path, ..., lang,
    content) files arrive continuously; each micro-batch is curated
    (the Stack-quality gate), mention-detected (the multi-language
    import/declaration battery), entity-linked, and written as PARTIAL
    per-(repo, entity) triples under ``code_triples/batch=<id>``
    (overwrite = replay-idempotent, the module convention).

    Unlike the bio pipeline above — per-document independent, so
    streamed triples union directly — code triples AGGREGATE across a
    repo's files, which can straddle micro-batches.  The store is
    therefore merge-on-read (the streaming/sketch.py convention):
    each batch persists its partial ``n_mentions``/``n_files`` counts
    and ``read_code_triples`` sums them.  merged == batch-recompute
    holds because every file arrives exactly once: ``n_mentions`` is a
    plain count, and ``n_files`` (count of distinct paths) splits
    losslessly across batches with disjoint path sets
    (tests/test_streaming.py asserts the law on a straddling repo)."""
    from bern2_spark.dataprep.codekg import (code_triples, extract_defs,
                                             extract_imports)
    from bern2_spark.dataprep.codeqc import stack_quality_features
    triples_dir = os.path.join(out_dir, "code_triples")

    def process_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cur = (stack_quality_features(batch_df)
               .filter("passes").select(*batch_df.columns))
        t = code_triples(extract_imports(cur), extract_defs(cur))
        (t.write.mode("overwrite").format("parquet")
         .save(os.path.join(triples_dir, f"batch={batch_id}")))

    q = (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", "1")   # force multi-batch
         .json(input_dir)
         .writeStream.foreachBatch(process_batch)
         .option("checkpointLocation", os.path.join(out_dir, "ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def read_code_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    """Merge-on-read over the partial per-batch code triples: one
    groupBy on the triple key sums the partials; only ~50-byte
    aggregate rows are ever read or shuffled, never content."""
    from pyspark.sql import functions as F
    base = os.path.join(out_dir, "code_triples")
    part = (spark.read.option("basePath", base)
            .parquet(os.path.join(base, "batch=*")))
    return (part.groupBy("subj", "pred", "obj")
            .agg(F.sum("n_mentions").alias("n_mentions"),
                 F.sum("n_files").alias("n_files")))
