"""S5/S8 — partitioned sink with per-stage checkpoints and anti-join
resume.

The reference memo-caches whole results per pmid in MongoDB and evicts
corrupt entries (bern2/bern2.py:92-98, 130-157). The batch equivalent:
each stage writes a snapshot directory (parquet + manifest — the same
layout an Iceberg snapshot-per-stage deployment would give; on a
cluster with an Iceberg catalog, swap ``parquet`` for
``writeTo(...).append()``), and a re-run anti-joins input doc_ids
against already-committed output, processing only the remainder.

Output layout under ``base_dir``:
    annotations/_run=<k>/           partitioned by obj (entity type)
    triples/_run=<k>/               partitioned by pred
    <stage>/_run=<k>/_lineage/      one row count per data file of that
                                    snapshot, read from the file's
                                    parquet footer (committed atomically
                                    with it — orphans invisible)
    manifests/<stage>.json
"""

from __future__ import annotations

import json
import os
import time
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    """Capability probe: is the Iceberg Spark runtime on the session
    classpath? (org.apache.iceberg.spark.SparkCatalog — the class a
    spark.sql.catalog.<name> Iceberg catalog config names.) This
    sandbox ships no Iceberg jars, so the probe returns False here —
    asserted and documented in tests/test_sources.py; the table sink
    below still exercises the identical writeTo code path against the
    built-in V2-capable session catalog."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class CheckpointedSink:
    """Each write_stage call commits a NEW snapshot subdirectory
    (``<stage>/run-<k>``) and appends it to the stage manifest — never
    overwriting committed data, so a resumed run's writes ADD the
    remainder instead of replacing the full output (the Iceberg
    snapshot-append discipline on plain parquet). read_stage unions all
    committed snapshots; uncommitted (crashed) run dirs are invisible
    because only the manifest names readable snapshots.

    With ``catalog`` set (e.g. ``my_iceberg.db`` where ``my_iceberg``
    is a configured Iceberg SparkCatalog, or ``spark_catalog.default``
    for the built-in catalog), stages write through the V2
    ``writeTo(...).append()`` API instead — a real catalog-managed
    snapshot append; the manifest then records table identifiers and
    the catalog owns commit atomicity (Iceberg's snapshot log)."""

    def __init__(self, base_dir: str, catalog: Optional[str] = None):
        self.base_dir = base_dir
        self.catalog = catalog
        os.makedirs(os.path.join(base_dir, "manifests"), exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    def manifest_path(self, stage: str) -> str:
        return os.path.join(self.base_dir, "manifests", f"{stage}.json")

    def _manifest(self, stage: str) -> dict:
        p = self.manifest_path(stage)
        if not os.path.exists(p):
            return {"stage": stage, "runs": []}
        with open(p) as f:
            return json.load(f)

    def is_committed(self, stage: str) -> bool:
        return bool(self._manifest(stage)["runs"])

    def committed_paths(self, stage: str) -> List[str]:
        """Filesystem run dirs only: catalog-mode runs record a
        "table" identifier and no "path" (lineage then belongs to the
        catalog's snapshot log), so they are skipped rather than
        raising on a mixed or catalog-mode base_dir."""
        return [r["path"] for r in self._manifest(stage)["runs"]
                if "path" in r]

    def committed_rows(self, stage: str) -> Optional[int]:
        """Rows across the stage's committed runs, summed from the
        manifest (no Spark job); None when a run recorded no count
        (written with ``lineage=False`` or through a catalog)."""
        rows = [r["rows"] for r in self._manifest(stage)["runs"]]
        return None if None in rows else sum(rows)

    def write_stage(self, df: DataFrame, stage: str,
                    partition_by: Optional[List[str]] = None,
                    lineage: bool = True) -> str:
        """Write one snapshot + lineage rows, then commit by appending
        the run to the manifest LAST: a crash mid-write leaves an
        unreferenced run dir, so resume re-runs the stage — all-or-
        nothing per snapshot, like an Iceberg snapshot commit."""
        if self.catalog is not None:
            return self._write_stage_table(df, stage, partition_by)
        manifest = self._manifest(stage)
        run_id = len(manifest["runs"])
        # key=value dir name: snapshots read back as one partitioned
        # table (basePath = stage root) with _run as a lineage column
        path = os.path.join(self._path(stage), f"_run={run_id}")
        writer = df.write
        if partition_by:
            # AQE's write rebalance: rows clustered by the partition
            # columns, small partitions coalesced and skewed ones split,
            # so each partition value gets a few files instead of one
            # per (task, value)
            writer = (df.hint("rebalance", *partition_by).write
                      .partitionBy(*partition_by))
        writer.mode("overwrite").parquet(path)
        # lineage lives INSIDE the run dir (underscore-prefixed, so data
        # reads skip it): a crash before the manifest commit leaves the
        # rows as invisible as the uncommitted snapshot, and a retried
        # run's overwrite wipes them — no double counting (lineage
        # readers go through read_lineage, which only sees
        # manifest-committed runs)
        n_rows = _write_file_lineage(path, stage) if lineage else None
        manifest["runs"].append({
            "run_id": run_id, "path": path, "rows": n_rows,
            "partition_by": partition_by or [],
            "committed_at": time.time()})
        with open(self.manifest_path(stage), "w") as f:
            json.dump(manifest, f)
        return path

    def _write_stage_table(self, df: DataFrame, stage: str,
                           partition_by: Optional[List[str]] = None) -> str:
        """S8 catalog path — snapshot append via the DataFrameWriterV2
        API: ``create()`` on first commit, ``append()`` after. The SAME
        call sequence runs against an Iceberg SparkCatalog on a real
        cluster (BASELINE's named sink) and against the built-in
        session catalog here (sandbox has no Iceberg runtime — see
        iceberg_available); commit atomicity then belongs to the
        catalog (Iceberg's snapshot log), and the manifest is kept as
        run-level lineage, not as the commit gate."""
        ident = f"{self.catalog}.{stage}"
        manifest = self._manifest(stage)
        run_id = len(manifest["runs"])
        writer = df.writeTo(ident)
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        if df.sparkSession.catalog.tableExists(ident):
            writer.append()
        else:
            writer.create()
        manifest["runs"].append({
            "run_id": run_id, "table": ident, "rows": None,
            "partition_by": partition_by or [],
            "committed_at": time.time()})
        with open(self.manifest_path(stage), "w") as f:
            json.dump(manifest, f)
        return ident

    def read_lineage(self, spark: SparkSession,
                     stage: Optional[str] = None) -> DataFrame:
        """Union of lineage rows across manifest-COMMITTED runs only
        (all stages, or one). Orphan rows from crashed attempts never
        appear: they live under run dirs no manifest references."""
        stages = ([stage] if stage is not None else
                  [f[:-5] for f in
                   os.listdir(os.path.join(self.base_dir, "manifests"))
                   if f.endswith(".json")])
        paths = [os.path.join(p, "_lineage")
                 for s in stages for p in self.committed_paths(s)
                 if os.path.exists(os.path.join(p, "_lineage"))]
        if not paths:
            return spark.createDataFrame(
                [], "stage string, partition_id int, rows long")
        return spark.read.parquet(*paths)

    def read_stage(self, spark: SparkSession, stage: str,
                   with_run: bool = False) -> DataFrame:
        if self.catalog is not None:
            return spark.read.table(f"{self.catalog}.{stage}")
        paths = self.committed_paths(stage)
        if not paths:
            # spark.read.parquet(*[]) raises an opaque analysis error;
            # fail with the actual condition instead
            raise ValueError(
                f"stage {stage!r} has no committed filesystem runs "
                f"under {self.base_dir!r}")
        df = (spark.read.option("basePath", self._path(stage))
              .parquet(*paths))
        return df if with_run else df.drop("_run")

    def resume_filter(self, docs: DataFrame, stage: str,
                      doc_col: str = "doc_id") -> DataFrame:
        """S5 — left anti-join of input docs against doc ids already in
        a committed stage: only unprocessed docs flow. The done-set is
        a distinct projection of one column read straight off the
        partitioned parquet (column-pruned scan)."""
        if not self.is_committed(stage):
            return docs
        done = (self.read_stage(docs.sparkSession, stage)
                .select(F.col(self._doc_column(stage)).alias(doc_col))
                .distinct())
        return docs.join(done, doc_col, "left_anti")

    @staticmethod
    def _doc_column(stage: str) -> str:
        return "subj" if stage == "triples" else "doc_id"


def _write_file_lineage(path: str, stage: str) -> int:
    """Lineage from what the write committed: one (stage, partition_id,
    rows) row per data file, ``partition_id`` the file's ordinal in
    sorted path order and ``rows`` its parquet footer's row count (the
    record_count an Iceberg manifest keeps per data file). Written
    with pyarrow, so no Spark job reads the snapshot back. Returns the
    snapshot's total row count."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq
    # dataset discovery skips '_'/'.'-prefixed paths, as Spark's reader
    # does: _SUCCESS, checksums and _lineage are not data files
    files = sorted(ds.dataset(path, format="parquet").files)
    counts = [pq.read_metadata(f).num_rows for f in files]
    os.makedirs(os.path.join(path, "_lineage"))
    pq.write_table(pa.table({
        "stage": pa.array([stage] * len(counts), pa.string()),
        "partition_id": pa.array(range(len(counts)), pa.int32()),
        "rows": pa.array(counts, pa.int64())}),
        os.path.join(path, "_lineage", "part-00000.parquet"))
    return sum(counts)


def write_outputs(sink: CheckpointedSink, annotations: DataFrame,
                  triples: DataFrame,
                  docs: Optional[DataFrame] = None,
                  quarantine: Optional[DataFrame] = None) -> None:
    sink.write_stage(annotations, "annotations", partition_by=["obj"])
    sink.write_stage(triples, "triples", partition_by=["pred"])
    if quarantine is not None:
        # O5 — per-doc error side-output (reference short-circuits with
        # error_code, bern2/bern2.py:108-116)
        sink.write_stage(quarantine, "quarantine", lineage=False)
    if docs is not None:
        # the resume ledger: INPUT doc ids, not output doc ids — a doc
        # that legitimately produced zero annotations must still count
        # as done, or resume re-processes it forever
        sink.write_stage(docs.select("doc_id").distinct(), "processed_docs",
                         lineage=False)


def resume_docs(sink: CheckpointedSink, docs: DataFrame) -> DataFrame:
    """Filter the input table down to not-yet-processed docs."""
    return sink.resume_filter(docs, "processed_docs")


def read_input(spark: SparkSession, source: str):
    """Resolve the job's input: a CATALOG TABLE when ``source`` names
    one (``catalog.db.table`` / ``db.table`` — the north rule's
    Iceberg source-table shape; the built-in ``spark_catalog`` works
    the same way, which is what the test drives), else a parquet
    path.  The heuristic is explicit, not a try/except — a path like
    ``/data/x.parquet`` must never be mistaken for a table name, and
    a misspelled table must fail as a table, not silently fall back
    to a path read.

    Catalyst treats both identically downstream: ``spark.read.table``
    on an Iceberg catalog gets snapshot isolation, hidden-partition
    pruning, and min/max file skipping from the table format; the
    parquet path gets the same predicate/column pushdown from the
    file source.  Pipeline code never needs to know which one fed
    it."""
    looks_like_path = ("/" in source or "\\" in source
                       or source.endswith(".parquet"))
    if not looks_like_path:
        return spark.read.table(source)
    return spark.read.parquet(source)
