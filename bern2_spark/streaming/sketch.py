"""Streaming cardinality maintenance via a bottom-k (KMV) sketch.

Maintains "distinct values per group so far" over an unbounded ingest
WITHOUT unbounded state: each micro-batch writes only its own
``groups x k`` bottom-k minima to a ``batch=<id>`` partition
directory, and the reader merges all batch sketches into the global
bottom-k at query time (merge-on-read, like streaming/kg.py's code
triples).

Why this shape is exactly right for a sketch:

* bottom-k merge is set-union + k-min — associative, commutative,
  and IDEMPOTENT — so a replayed micro-batch that overwrites its own
  ``batch=<id>`` directory (or even double-contributes identical
  minima through a torn read) cannot change the merged estimate;
* no read-modify-write: the batch effect never depends on prior
  state, so there is no cross-batch ordering hazard at all;
* storage is bounded by batches x groups x k 16-byte rows, and the
  read-side merge shuffles only that.

The reference has no streaming surface (batch HTTP server,
bern2/server.py); this composes the round-5 KMV sketch
(dataprep/sketch.py) with the ingest pattern the build brief mandates.
"""

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bern2_spark.dataprep.sketch import kmv_estimate, uniform_hash_col


def stream_kmv_sketch(spark: SparkSession, input_dir: str,
                      out_dir: str, schema,
                      value_col: str = "text",
                      group_col: str = "lang", k: int = 32) -> None:
    """Drain ``input_dir`` (json files) into per-batch bottom-k minima
    under ``out_dir/mins/batch=<id>`` (overwrite mode — replay
    rewrites the same files). The per-batch collect_set is bounded by
    the micro-batch size, and its persisted result by groups x k."""
    mins_dir = os.path.join(out_dir, "mins")

    def process_batch(batch_df, batch_id: int) -> None:
        hashed = batch_df.select(
            F.col(group_col).cast("string").alias(group_col),
            uniform_hash_col(F.col(value_col)).alias("u"))
        mins = (hashed.groupBy(group_col)
                .agg(F.slice(F.array_sort(F.collect_set("u")), 1, k)
                     .alias("us"))
                .select(group_col, F.explode("us").alias("u")))
        (mins.write.mode("overwrite").format("parquet")
         .save(os.path.join(mins_dir, f"batch={batch_id}")))

    query = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", "1")   # force multi-batch
             .json(input_dir)
             .writeStream
             .foreachBatch(process_batch)
             .option("checkpointLocation", os.path.join(out_dir, "_ckpt"))
             .trigger(availableNow=True)
             .start())
    query.awaitTermination()


def read_kmv_estimate(spark: SparkSession, out_dir: str,
                      group_col: str = "lang",
                      k: int = 32) -> DataFrame:
    """(group, kmv_distinct) over everything ingested so far: merge
    every batch's minima into the global bottom-k and estimate. By
    sketch mergeability this equals the batch ``kmv_distinct`` over
    the union of all ingested rows — the streaming test asserts that
    equality, value for value."""
    mins_dir = os.path.join(out_dir, "mins")
    minima = (spark.read.option("basePath", mins_dir)
              .parquet(os.path.join(mins_dir, "batch=*"))
              .select(group_col, "u"))
    return kmv_estimate(minima, group_col, k)
