"""Streaming ANN index maintenance — embeddings stream INTO the IVF
store.

A 100-TB corpus doesn't re-embed and re-index nightly; new documents
arrive continuously and must become searchable without rebuilding the
index. The IVF layout makes that an append problem: the index IS a
cell-partitioned table (dataprep/similarity.py ivf_topk reads cells,
not a monolith), so maintaining it is per-batch centroid assignment +
an overwrite-partition write — no global state, no rebuild.

Per micro-batch:
* assign each vector to its nearest centroid (``ivf_assign`` — the
  centroid list is a plan literal, zero shuffle);
* write under ``cells/batch=<id>/cell=<c>/`` in overwrite mode, so a
  replayed micro-batch (crash/retry) rewrites the same files instead
  of double-appending — the same idempotency contract as
  streaming/kg.py and streaming/sketch.py.

Queries read the accumulated store with cell-partition pruning: a
probe of n_probe cells scans n_probe/n_centroids of every batch's
data, exactly like the batch path. Centroid drift is handled the way
production systems do (faiss/ScaNN alike): centroids stay FROZEN
between offline retrains — a retrain writes a new index generation
(new base dir), never mutates a live one.

The reference's index is a pickled in-process faiss IVFFlat rebuilt
offline (normalizers/neural_normalizer.py:144-166); streaming
maintenance is a Spark-first addition mandated by the build brief.
"""

from __future__ import annotations

import os
from typing import List

from pyspark.sql import DataFrame, SparkSession

from bern2_spark.dataprep.similarity import ivf_assign


def stream_ivf_index(spark: SparkSession, input_dir: str, index_dir: str,
                     centroids: List[List[float]], schema,
                     vec_col: str = "embedding") -> None:
    """Drain ``input_dir`` (json files of (vec_id, embedding)) into the
    cell-partitioned IVF store at ``index_dir``."""
    cells_dir = os.path.join(index_dir, "cells")

    def process_batch(batch_df, batch_id: int) -> None:
        assigned = ivf_assign(batch_df, centroids, vec_col=vec_col)
        # batch=<id> via directory (idempotent overwrite), cell=<c> via
        # partitionBy (pruned at query time); format pinned to parquet
        # because read_ivf_index reads .parquet() — a session whose
        # spark.sql.sources.default differs must not change the layout
        (assigned.write.mode("overwrite").format("parquet")
         .partitionBy("cell")
         .save(os.path.join(cells_dir, f"batch={batch_id}")))

    query = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", "1")
             .json(input_dir)
             .writeStream
             .foreachBatch(process_batch)
             .option("checkpointLocation", os.path.join(index_dir, "_ckpt"))
             .trigger(availableNow=True)
             .start())
    query.awaitTermination()


def read_ivf_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """The accumulated (vec_id, embedding, cell) store. Filters on
    ``cell`` prune partitions — the probe path scans only probed
    cells."""
    cells_dir = os.path.join(index_dir, "cells")
    return (spark.read.option("basePath", cells_dir)
            .parquet(os.path.join(cells_dir, "batch=*")))
