"""The flagship workloads: ``bio_batch`` and ``bio_stream``.

bio_batch
    One seeded corpus through ``pipeline.run_pipeline``, then
    ``CheckpointedSink.write_stage`` of the triples (partitioned by
    ``pred``) and annotations (partitioned by ``obj``) into a fresh
    directory: the production job of tools/submit_job.py, timed from its
    first call in a fresh session, as that tool runs it.
bio_stream
    A corpus drawn from the same pool (the draw is salted by workload
    name, so it differs from bio_batch's for a seed), split into files that
    ``streaming.kg.stream_kg_triples`` drains one file per micro-batch,
    so every batch pays the pipeline's fixed per-call cost.  Warm-up
    and check: one production call over all the documents, whose
    triples the union of the streamed triples must equal.  Not in
    BENCHMARK.json (its runs do not fit the time budget); bio_batch's
    traced run measures the same stream layer.

Every production call's triples must equal, exactly (P = R = 1), the
committed triples of the pool documents the seed drew (gen.py).

The traced run (``--trace 1``, bio_batch) makes the untraced run's cold
production call with spans only around the calls, then composes the
same module calls as ``run_pipeline``, in order: each layer's inputs
are persisted and materialized before its span opens, and the span
holds the call plus the persisting materialization of its output.  The
composition's digest must equal the production call's.  It runs warm,
after the production call, so its layer self-times sum to less than
the cold call they are set against.  Last, the sf0.01 test documents
are drained as a two-file stream, one span per micro-batch, and the
union of the streamed triples must equal
tests/golden/kg_triples_sf0.01.parquet exactly (P = R = 1): the golden
check and the stream-equals-batch check in one pipeline pass, which
untraced runs cannot afford.  Spark's status stores are read once at
the end (perfbench/harvest.py).  The tracing overhead is the traced
production call minus the untraced run_s of the same seed, when an
untraced run of that seed came first in the checkout.
"""

from __future__ import annotations

import datetime
import json
import os
import statistics
import time

from perfbench import gen, harvest

BATCH_DOCS = 6000
STREAM_DOCS = 600
STREAM_FILES = 4
GOLDEN_FILES = 2
GOLDEN_TRIPLES = os.path.join(os.path.dirname(gen.HERE), "tests", "golden",
                              "kg_triples_sf0.01.parquet")
LAYERS = ["preprocess", "tagging", "mutations", "normalize",
          "abbrev", "neural", "canonicalize", "postprocess", "sink"]
LAYER_BAR = 0.15        # layer self-times must sum to within this of run_s


def _stream_schema():
    from pyspark.sql.types import StringType, StructField, StructType
    return StructType([StructField(c, StringType()) for c in gen.DOC_COLUMNS])


def digest(triples) -> list:
    """[distinct triples, bit_xor(xxhash64(subj, pred, obj))]; ANSI-safe."""
    from pyspark.sql import functions as F
    r = (triples.select("subj", "pred", "obj").distinct()
         .select(F.count(F.lit(1)).alias("n"),
                 F.bit_xor(F.xxhash64("subj", "pred", "obj")).alias("x"))
         .first())
    return [r["n"], r["x"] or 0]


def check(run, name: str, triples, inp) -> list:
    """Count one operation: ``triples`` must equal the committed
    triples of the corpus's documents exactly.  Returns their digest."""
    t = triples.select("subj", "pred", "obj").toArrow()
    got = set(zip(*(t.column(c).to_pylist() for c in t.column_names)))
    want = gen.expected_triples(inp["docs"])
    run.op(name, got == want and len(want) > 0,
           f"{len(got)} triples vs {len(want)} expected: "
           f"{len(got - want)} unexpected, {len(want - got)} missing")
    return digest(triples)


def produce(spark, docs, lexicon, sink_dir, tracer=None):
    """One production call: run_pipeline, then both sink writes."""
    from bern2_spark.pipeline import run_pipeline
    from bern2_spark.sources.sink import CheckpointedSink
    with harvest.maybe_span(tracer, "pipeline"):
        with harvest.maybe_span(tracer, "pipeline.plan"):
            res = run_pipeline(docs, lexicon, spark)
        sink = CheckpointedSink(sink_dir)
        with harvest.maybe_span(tracer, "pipeline.sink"):
            sink.write_stage(res.triples, "triples", partition_by=["pred"])
            sink.write_stage(res.annotations, "annotations",
                             partition_by=["obj"])
        res.release()
    return sink


# ------------------------------------------------------------ bio_batch

def bio_batch(run) -> None:
    from bench import _cpu_ticks, _region_cpu
    inp = gen.bio_corpus(run.cache, "bio_batch", run.seed, BATCH_DOCS)
    print("inputs", json.dumps(inp["props"], sort_keys=True))
    run.setup()
    spark = run.spark
    if run.trace:
        _traced(run, inp)
        return

    times = []
    start = time.perf_counter()
    while not times or time.perf_counter() - start < run.seconds:
        ticks = _cpu_ticks()
        t0 = time.perf_counter()
        sink = produce(spark, spark.read.parquet(inp["docs"]),
                       inp["lexicon"], run.fresh_dir("sink"))
        times.append(time.perf_counter() - t0)
        cpu = _region_cpu(ticks, times[-1])
        if len(times) == 1:
            run.put_cpu(cpu)
        d = check(run, "bio_batch.run", sink.read_stage(spark, "triples"), inp)
        print(f"run {len(times)}: {times[-1]:.3f} s, triples {d[0]}, cpu {cpu}")
    run.put_runs(times)
    run.note_untraced(inp["dir"], times[0])
    run.put("docs_per_s", inp["props"]["docs"] / times[0], "docs/s")
    run.put("batch_p50_s", statistics.median(times), "s")
    run.put_tail(times)


# ------------------------------------------------------------ bio_stream

class _Progress:
    """Collects one record per non-empty micro-batch of a streaming
    query (a StreamingQueryListener)."""

    def __new__(cls):
        from pyspark.sql.streaming import StreamingQueryListener

        class Listener(StreamingQueryListener):
            def __init__(self):
                import threading
                self.batches, self.ended = [], threading.Event()

            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows > 0:
                    ms = p.durationMs
                    start = datetime.datetime.fromisoformat(
                        p.timestamp.replace("Z", "+00:00")).timestamp()
                    self.batches.append({
                        "batch": p.batchId, "rows": p.numInputRows,
                        "start": start,
                        "trigger_s": ms.get("triggerExecution", 0) / 1e3,
                        "addbatch_s": ms.get("addBatch", 0) / 1e3})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                self.ended.set()

        return Listener()


def _stream_round(run, in_dir, lexicon):
    """Drain ``in_dir`` once into a fresh directory; the output
    directory, the per-batch records and the wall time of the drain."""
    from bern2_spark.streaming.kg import stream_kg_triples
    spark = run.spark
    listener = _Progress()
    spark.streams.addListener(listener)
    out = run.fresh_dir("stream")
    try:
        t0 = time.perf_counter()
        stream_kg_triples(spark, in_dir, out, _stream_schema(), lexicon)
        wall = time.perf_counter() - t0
        listener.ended.wait(30)
    finally:
        spark.streams.removeListener(listener)
    return out, sorted(listener.batches, key=lambda b: b["batch"]), wall


def _check_stream(run, out, batches, want, n_files) -> None:
    """The union of a drain's triples must equal the batch run's, in
    one micro-batch per input file; each batch is one operation."""
    from bern2_spark.streaming.kg import read_stream_triples
    got = digest(read_stream_triples(run.spark, out))
    ok = got == want and len(batches) == n_files
    for b in batches or [{"batch": "none"}]:
        run.op(f"stream.batch{b['batch']}", ok,
               f"union {got} vs batch run {want}, {len(batches)} batches")


def _put_stream_layer(run, batches) -> None:
    run.put("stream.batches", len(batches), "count")
    for key in ("trigger_s", "addbatch_s"):
        run.put(f"stream.{key}", statistics.median(
            b[key] for b in batches), "s")
    run.put("stream.overhead_s", statistics.median(
        b["trigger_s"] - b["addbatch_s"] for b in batches), "s")


def bio_stream(run) -> None:
    inp = gen.bio_corpus(run.cache, "bio_stream", run.seed, STREAM_DOCS,
                         files=STREAM_FILES)
    print("inputs", json.dumps(inp["props"], sort_keys=True))
    run.setup()
    spark = run.spark

    t0 = time.perf_counter()
    sink = produce(spark, spark.read.parquet(inp["docs"]), inp["lexicon"],
                   run.fresh_dir("sink"))
    want = check(run, "bio_stream.batch_reference",
                 sink.read_stage(spark, "triples"), inp)
    run.put("warmup_s", time.perf_counter() - t0, "s")

    walls, trig = [], []
    start = time.perf_counter()
    while not walls or time.perf_counter() - start < run.seconds:
        out, batches, wall = _stream_round(run, inp["stream_in"],
                                           inp["lexicon"])
        walls.append(wall)
        trig += [b["trigger_s"] for b in batches]
        _check_stream(run, out, batches, want, STREAM_FILES)
        print(f"round {len(walls)}: {wall:.3f} s, batches "
              f"{[round(b['trigger_s'], 3) for b in batches]}")
    run_s = statistics.median(walls)
    run.put("run_s", run_s, "s")
    run.put("docs_per_s", STREAM_DOCS / run_s, "docs/s")
    run.put("batch_p50_s", statistics.median(trig), "s")
    run.put_tail(trig)
    _put_stream_layer(run, batches)


# ------------------------------------------------------------ the trace

def _golden_stream(run, tracer) -> list:
    """Drain the sf0.01 test documents as a stream, one span per
    micro-batch; the union of the streamed triples must equal
    tests/golden/kg_triples_sf0.01.parquet, a batch run over the same
    documents, exactly.  Returns the per-batch records."""
    import pyarrow.parquet as pq
    from bern2_spark.corpus import DRIVER_VOCAB_LEXICON
    from bern2_spark.streaming.kg import read_stream_triples
    with tracer.span("stream"):
        out, batches, _ = _stream_round(
            run, gen.golden_stream(run.cache, GOLDEN_FILES),
            DRIVER_VOCAB_LEXICON)
    for b in batches:
        tracer.add(f"stream.batch{b['batch']}", b["start"],
                   b["start"] + b["trigger_s"], parent="stream")
    got = sorted(tuple(r) for r in read_stream_triples(run.spark, out)
                 .select("subj", "pred", "obj").collect())
    want = sorted(tuple(r.values()) for r in pq.read_table(
        GOLDEN_TRIPLES, columns=["subj", "pred", "obj"]).to_pylist())
    ok = got == want and len(batches) == GOLDEN_FILES
    for b in batches or [{"batch": "none"}]:
        run.op(f"golden_stream.batch{b['batch']}", ok,
               f"{len(got)} streamed triples vs {len(want)} golden, "
               f"{len(batches)} batches")
    return batches


def _sink_size(path: str) -> tuple:
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(path):
        if "_lineage" in root:
            continue
        for f in files:
            if f.endswith(".parquet"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(root, f))
    return n_bytes, n_files


def _compose(run, docs, lexicon, sink_dir, tracer) -> dict:
    """run_pipeline's module calls in order, one span per layer.  A
    layer's span holds its call and the persisting noop-sink
    materialization of its output; its inputs were materialized by the
    spans before it, so it times the layer's own work and nothing
    upstream.  Returns the layer row counts and the triples' digest."""
    from pyspark.sql import functions as F
    from bern2_spark.corpus import TAG_ONLY
    from bern2_spark.operators.abbrev import (
        abbreviation_table, apply_abbreviation_level, expand_cuiless_mentions)
    from bern2_spark.operators.canonicalize import (
        resolve_overlap, union_mutations)
    from bern2_spark.operators.filters import filter_species_human
    from bern2_spark.operators.mutations import detect_mutations
    from bern2_spark.operators.neural import NEURAL_TYPES, neural_normalize
    from bern2_spark.operators.normalize import (
        build_lookup_tables, normalize_mentions)
    from bern2_spark.operators.postprocess import to_annotations, to_triples
    from bern2_spark.operators.preprocess import preprocess, quarantine
    from bern2_spark.operators.tagging import extract_mentions
    from bern2_spark.schemas import CUI_LESS
    from bern2_spark.sources.sink import CheckpointedSink
    spark = run.spark
    kept = []

    def keep(df):
        df = df.persist()
        kept.append(df)
        df.write.format("noop").mode("overwrite").save()
        return df

    def layer(name, build):
        with tracer.span(f"layers.{name}"):
            out = build()
            if isinstance(out, tuple):
                return tuple(keep(df) for df in out)
            return keep(out)

    norm_rows = [r for r in lexicon if r[1] != TAG_ONLY]
    lexicon_df = spark.createDataFrame(
        norm_rows, "ent_type string, cui string, name string")
    if len(docs.inputFiles()) < spark.sparkContext.defaultParallelism:
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
    docs = keep(docs)
    with tracer.span("layers"):
        pre = layer("preprocess", lambda: preprocess(docs))
        ner = layer("tagging", lambda: filter_species_human(
            extract_mentions(pre, lexicon)))
        muts = layer("mutations", lambda: detect_mutations(pre))
        lut = build_lookup_tables(lexicon_df)
        ner_norm = layer("normalize", lambda: normalize_mentions(
            ner, lexicon_df, lut=lut))
        abbr_kept = []
        abbr = layer("abbrev", lambda: apply_abbreviation_level(
            ner_norm, lexicon_df, abbreviation_table(pre),
            track_persisted=abbr_kept, lut=lut))
        kept.extend(abbr_kept)
        neu = layer("neural", lambda: neural_normalize(abbr, norm_rows))
        mut_norm = (muts
                    .withColumn("cui", F.coalesce(
                        F.element_at(F.split("normalized_name", ";"), 1),
                        F.lit(CUI_LESS)))
                    .withColumn("is_neural_normalized", F.lit(False)))
        canonical = layer("canonicalize", lambda: union_mutations(
            resolve_overlap(neu), mut_norm))

        def postprocess():
            a = to_annotations(canonical)
            return a, to_triples(a)
        annotations, triples = layer("postprocess", postprocess)
        with tracer.span("layers.sink"):
            sink = CheckpointedSink(sink_dir)
            sink.write_stage(triples, "triples", partition_by=["pred"])
            sink.write_stage(annotations, "annotations", partition_by=["obj"])

    # layer counts, read off the persisted outputs after the spans closed
    cuiless = F.col("cui") == CUI_LESS
    retry = (expand_cuiless_mentions(ner_norm, abbr_kept[0])
             .filter(cuiless & F.col("long_form").isNotNull())
             .select("mention_id"))
    n_retry = retry.count()
    n_neural_in = abbr.filter(cuiless & F.col("ent_type").isin(
        list(NEURAL_TYPES))).count()
    parts = [r[1] for r in canonical.groupBy(F.spark_partition_id())
             .count().collect()]
    n_ner = ner.count()
    counts = {
        "preprocess.rows_out": pre.count(),
        "preprocess.quarantine_rows": quarantine(pre).count(),
        "tagging.rows_out": n_ner,
        "mutations.rows_out": muts.count(),
        "normalize.rows_in": n_ner,
        "normalize.hit_ratio": ner_norm.filter(~cuiless).count()
        / max(1, n_ner),
        "abbrev.table_rows": abbr_kept[0].count(),
        "abbrev.retry_rows": n_retry,
        "abbrev.resolved_ratio": abbr.join(retry, "mention_id")
        .filter(~cuiless).count() / max(1, n_retry),
        "neural.rows_in": n_neural_in,
        "neural.linked_ratio": neu.filter("is_neural_normalized").count()
        / max(1, n_neural_in),
        "canonicalize.rows_out": sum(parts),
        "canonicalize.skew": max(parts) / statistics.median(parts)
        if parts else 0.0,
        "postprocess.triples": triples.count(),
    }
    counts["sink.bytes"], counts["sink.files"] = _sink_size(sink_dir)
    counts["digest"] = digest(sink.read_stage(spark, "triples"))
    for df in kept:
        df.unpersist()
    return counts


_UNITS = {"ratio": ("hit_ratio", "resolved_ratio", "linked_ratio", "skew"),
          "bytes": ("sink.bytes",), "count": ("sink.files",)}


def _unit(name: str) -> str:
    return next((u for u, keys in _UNITS.items()
                 if any(name.endswith(k) for k in keys)), "rows")


def _traced(run, inp) -> None:
    """The untraced run's cold production call with spans around its
    calls, the layer composition, the golden stream drain, then one
    read of Spark's status stores."""
    from bench import _cpu_ticks, _region_cpu
    spark = run.spark
    lexicon = inp["lexicon"]

    def read():
        return spark.read.parquet(inp["docs"])

    tracer = harvest.Tracer(run.run_id)
    ticks = _cpu_ticks()
    sink = produce(spark, read(), lexicon, run.fresh_dir("sink"), tracer)
    cpu = _region_cpu(ticks, tracer.duration("pipeline"))
    want = check(run, "bio_batch.run", sink.read_stage(spark, "triples"), inp)

    counts = _compose(run, read(), lexicon, run.fresh_dir("layers"), tracer)
    got = counts.pop("digest")
    run.op("trace.drift_guard", got == want,
           f"composition {got} vs run_pipeline {want}")

    _put_stream_layer(run, _golden_stream(run, tracer))

    t = time.perf_counter()
    c = harvest.attribute(spark, tracer)
    run.put("trace.harvest_s", time.perf_counter() - t, "s")
    selfs = tracer.self_times()
    for layer in LAYERS:
        run.put(f"{layer}.s", selfs[f"layers.{layer}"], "s")
    for name, value in counts.items():
        run.put(name, value, _unit(name))
    lc = {layer: c[f"layers.{layer}"] for layer in LAYERS}
    for key in ("py_run_s", "py_start_s", "py_init_s"):
        run.put(f"tagging.{key}", lc["tagging"][key], "s")
    run.put("tagging.py_bytes", lc["tagging"]["py_bytes"], "bytes")
    run.put("normalize.jobs", lc["normalize"]["jobs"], "count")
    run.put("abbrev.shuffle_bytes", lc["abbrev"]["shuffle_bytes"], "bytes")
    run.put("abbrev.py_run_s", lc["abbrev"]["py_run_s"], "s")
    run.put("neural.py_run_s", lc["neural"]["py_run_s"], "s")
    run.put("canonicalize.spill_bytes", lc["canonicalize"]["spill_bytes"],
            "bytes")
    run.put("sink.s", selfs["layers.sink"], "s")
    run.put("sink.jobs", lc["sink"]["jobs"], "count")
    p = c["pipeline"]
    run.put("pipeline.plan_s", selfs["pipeline.plan"], "s")
    for key in ("jobs", "stages", "tasks"):
        run.put(f"pipeline.{key}", p[key], "count")
    for key in ("cpu_s", "gc_s"):
        run.put(f"pipeline.{key}", p[key], "s")
    for key in ("shuffle_bytes", "spill_bytes"):
        run.put(f"pipeline.{key}", p[key], "bytes")
    run.put_op(p, cpu)

    cold_s = tracer.duration("pipeline")
    run.put_overhead(inp["dir"], cold_s)
    share = sum(selfs[f"layers.{x}"] for x in LAYERS) / cold_s
    run.put("trace.layer_share", share, "ratio")
    print(f"layer self-times sum to {share:.1%} of the traced cold call; "
          f"the bar is 100% +- {LAYER_BAR:.0%}: "
          f"{'met' if abs(share - 1) <= LAYER_BAR else 'NOT met'}")
    run.write_trace(tracer, {"counters": c})
