"""End-to-end KG-construction plan (SURVEY §3's lifecycle, Spark-first):

    read -> P1..P5 project -> [fused segment+tag+decode (M1/W2) ||
    mutation regex battery (M3)] -> P6/P7 filter -> sieve normalize
    (J1-J4) -> neural fallback (A2/M5/J5/J7) -> W1 dedup || U1 union ->
    P9/P10 post-process -> triples + annotations + metrics.

One logical plan, two shuffles total on the fact table (W1's window and
the final doc-partitioned sort); every lookup is a broadcast join.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bern2_spark.operators.canonicalize import (
    resolve_overlap, union_mutations,
)
from bern2_spark.operators.filters import filter_species_human
from bern2_spark.operators.mutations import detect_mutations
from bern2_spark.operators.normalize import normalize_mentions
from bern2_spark.operators.neural import neural_normalize
from bern2_spark.operators.postprocess import to_annotations, to_triples
from bern2_spark.operators.preprocess import preprocess
from bern2_spark.operators.tagging import extract_mentions


@dataclass
class PipelineResult:
    docs: DataFrame
    mentions: DataFrame
    normalized: DataFrame
    annotations: DataFrame
    triples: DataFrame
    # O5 — error side-output (doc_id, error_code) for docs the reference
    # would short-circuit
    quarantine: DataFrame
    # DataFrames persisted during plan construction; callers that run
    # the pipeline repeatedly (streaming foreachBatch, benches) must
    # release() after the consuming actions or cached RDDs accumulate.
    _persisted: list = field(default_factory=list)

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def __enter__(self) -> "PipelineResult":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def pipeline_input(documents: DataFrame) -> DataFrame:
    """Test-corpus documents (doc_id, text, lang, source, ...) in the
    (repo, path, commit, lang, content) shape run_pipeline consumes."""
    did = F.col("doc_id").cast("string")
    return documents.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("docs/"), did, F.lit(".txt")).alias("path"),
        F.sha2(did, 256).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"))


def run_pipeline(documents: DataFrame,
                 lexicon_rows: Sequence[Tuple[str, str, str]],
                 spark: Optional[SparkSession] = None,
                 neural: bool = True) -> PipelineResult:
    """documents: (repo, path, commit, lang, content)."""
    spark = spark or documents.sparkSession
    # TAG_ONLY rows feed the tagger gazetteer but not the normalization
    # lexicon (tagger coverage > dictionary coverage, like real corpora)
    from bern2_spark.corpus import TAG_ONLY
    norm_rows = [r for r in lexicon_rows if r[1] != TAG_ONLY]
    lexicon_df = spark.createDataFrame(norm_rows,
                                       "ent_type string, cui string, name string")

    # A single small input file scans as ONE partition, serializing the
    # regex preprocess + sha256 + tagging UDF onto one core. Fan out to
    # the cluster's parallelism BEFORE the first heavy projection
    # (SURVEY §4: repartition before M1 — round-robin keeps Arrow
    # batches dense and balanced). The probe counts scan FILES
    # (inputFiles: driver metadata only — df.rdd.getNumPartitions()
    # would silently convert the whole plan); at real multi-file scale
    # the scan is already wide and no repartition is added.
    documents = _fan_out_narrow_scan(documents, spark)

    # Four caches, one per subtree that more than one consumer reads:
    # * pre — the tagger, the mutation battery, the abbreviation table
    #   and the quarantine side-output all scan it; unpersisted, each
    #   re-runs the scan + preprocess + fan-out shuffle;
    # * the abbreviation table (apply_abbreviation_level);
    # * ner_norm after the abbreviation level — the neural stage reads
    #   it for distinct surfaces AND as its join-back left side;
    # * annotations — both sink writes (triples and annotations) read
    #   it, so the neural pass, W1 and to_annotations run once.
    # The main sieve and the abbreviation retry share one plan (no
    # cache between them), so the retry reuses the LUT's broadcast.
    # MEMORY_AND_DISK: at real scale the corpus spills instead of OOMing.
    from pyspark import StorageLevel
    persisted = []
    pre = preprocess(documents).persist(StorageLevel.MEMORY_AND_DISK)
    persisted.append(pre)

    # O1 — the reference fans out tmvar ∥ gnormplus ∥ mtner processes
    # (bern2/bern2.py:363-372); here they are two branches of one plan.
    ner = extract_mentions(pre, lexicon_rows)
    ner = filter_species_human(ner)
    muts = detect_mutations(pre)

    # Stage 4+5 on NER mentions; mutations carry tmVar normalization.
    # The sieve's one LUT plan is built ONCE and shared between the
    # main sieve and the abbreviation retry: its 14 probes then read
    # one broadcast (13 ReusedExchanges) built by one groupBy.
    # (Deliberately NOT persisted: caching the tiny LUT replaces free
    # exchange reuse with per-run cache-materialization jobs — measured
    # 2x worse on the flagship.)
    from bern2_spark.operators.normalize import build_lookup_tables
    lut = build_lookup_tables(lexicon_df)
    ner_norm = normalize_mentions(ner, lexicon_df, lut=lut)
    # M4/J3 abbreviation level: Schwartz–Hearst short->long forms,
    # CUI-less short-form mentions retry the sieve with long forms
    from bern2_spark.operators.abbrev import (
        abbreviation_table, apply_abbreviation_level,
    )
    ner_norm = apply_abbreviation_level(
        ner_norm, lexicon_df, abbreviation_table(pre),
        track_persisted=persisted, lut=lut).persist()
    persisted.append(ner_norm)
    if neural:
        # the neural index must see only the NORMALIZATION lexicon
        # (norm_rows): tag-only gazetteer rows carry a sentinel cui
        # that must never be emitted as a real object id
        ner_norm = neural_normalize(ner_norm, norm_rows)
    # mutations never consult the lexicons (tmVar already normalized
    # them, P12) — skip the four sieve joins on that branch entirely
    mut_norm = (muts
                .withColumn("cui", F.coalesce(
                    F.element_at(F.split("normalized_name", ";"), 1),
                    F.lit("CUI-less")))
                .withColumn("is_neural_normalized", F.lit(False)))

    # Stage 6 — W1 on typed mentions, then U1 mutation union.
    canonical = union_mutations(resolve_overlap(ner_norm), mut_norm)

    annotations = to_annotations(canonical).persist(
        StorageLevel.MEMORY_AND_DISK)
    persisted.append(annotations)
    triples = to_triples(annotations)

    from bern2_spark.operators.preprocess import quarantine as _quarantine
    mentions_all = ner.unionByName(muts)
    return PipelineResult(docs=pre, mentions=mentions_all,
                          normalized=ner_norm, annotations=annotations,
                          triples=triples, quarantine=_quarantine(pre),
                          _persisted=persisted)


def _fan_out_narrow_scan(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Repartition to the session's parallelism when the source scans
    fewer files than cores (single-file parquet, local relations).
    Persisted inputs are trusted as already distributed — re-sharding a
    cached table would add a full shuffle for nothing."""
    if df.is_cached:
        return df
    target = spark.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    return df.repartition(target) if n_files < target else df

