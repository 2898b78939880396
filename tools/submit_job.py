"""The production entry point — the job the north rule ships via
``spark-submit --py-files``:

    spark-submit --master <cluster> \
        --py-files /tmp/bern2_spark_pyfiles.zip \
        tools/submit_job.py --input <docs parquet> --output <dir> \
        [--resume] [--pipeline bio|code]

``--pipeline code`` runs the code-KG construction instead (curate ->
import/def extraction -> root-package linking -> (repo, pred, entity)
triples, dataprep/codekg.py) over the same
(repo, path, commit, lang, content) input shape.

Reads the documents table, runs the full KG pipeline (preprocess ->
tag -> mutations -> sieve normalize -> neural fallback -> canonicalize),
and writes one stage, ``triples`` (partitioned by pred), through
CheckpointedSink: a parquet snapshot, per-file lineage rows, and the
manifest commit LAST so a crash mid-write is invisible to resume.
Emits one JSON metrics line on stdout.

``--resume`` works per stage: when ``triples`` is already committed in
the manifest the job skips the run and reports the committed row
count; otherwise it runs the whole job again.

Unlike tests/bench (which build their session through
bern2_spark.session.get_spark), this script takes the session
spark-submit hands it — master, executor conf, and --py-files come from
the LAUNCHER, the cluster deployment mode.  tests/test_submit.py runs
it through a real ``spark-submit`` subprocess to prove the deployment
path (zip-only imports on executors, no repo cwd).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="documents parquet path OR catalog table "
                         "name (catalog.db.table — the Iceberg "
                         "source-table shape; doc_id/text or "
                         "repo/path/commit/lang/content columns)")
    ap.add_argument("--output", required=True,
                    help="sink base dir (snapshots + manifests)")
    ap.add_argument("--resume", action="store_true",
                    help="skip stages already committed in the manifest")
    ap.add_argument("--pipeline", choices=["bio", "code"], default="bio",
                    help="bio: BERN2-style NER+normalize over content; "
                         "code: curate -> import/def extraction -> "
                         "root-package linking -> (repo, pred, entity) "
                         "triples (dataprep/codekg.py)")
    args = ap.parse_args(argv)

    # spark-submit owns the session: no master/conf set here beyond
    # what the pipeline requires semantically (Arrow for the UDFs).
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.appName("bern2-kg-construct")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())

    from bern2_spark import corpus
    from bern2_spark.pipeline import pipeline_input, run_pipeline
    from bern2_spark.sources.sink import CheckpointedSink

    sink = CheckpointedSink(args.output)
    t0 = time.time()
    if args.resume and sink.is_committed("triples"):
        out = {"resumed": True,
               "triples": sink.committed_rows("triples"),
               "sec": round(time.time() - t0, 2)}
        print(json.dumps(out))
        return 0

    from bern2_spark.sources.sink import read_input
    docs = read_input(spark, args.input)
    if "content" not in docs.columns:
        docs = pipeline_input(docs)
    if args.pipeline == "code":
        from bern2_spark.dataprep.codekg import (code_triples,
                                                 extract_defs,
                                                 extract_imports)
        from bern2_spark.dataprep.codeqc import stack_quality_features
        cur = (stack_quality_features(docs).filter("passes")
               .select(*docs.columns))
        triples = code_triples(extract_imports(cur), extract_defs(cur))
    else:
        res = run_pipeline(docs, corpus.DRIVER_VOCAB_LEXICON, spark)
        triples = res.triples
    sink.write_stage(triples, "triples", partition_by=["pred"])
    print(json.dumps({"resumed": False,
                      "triples": sink.committed_rows("triples"),
                      "sec": round(time.time() - t0, 2)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
