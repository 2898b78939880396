"""Substring-level (token k-gram) duplicate-span detection — the
"deduplicating training data" operator of Lee et al. 2022 ("Deduplicating
Training Data Makes Language Models Better"), re-expressed relationally:
instead of a suffix array over the concatenated corpus, duplicated
regions are found as token k-grams shared across documents, then merged
into maximal spans with a gaps-and-islands window.

Why this shape at 100 TB:

* the only wide artifact that shuffles is ``(doc_id, start, gram_hash)``
  — a fixed ~24-byte row per token position.  Document TEXT never
  shuffles; the hash groupBy that finds corpus-wide duplicate grams is
  map-side-combinable (most grams are unique, so partial aggregation
  collapses them to count=1 rows before the exchange).
* the flag-back join is a shuffle equi-join on ``gram_hash`` — both
  sides already hash-partitioned by the groupBy, so AQE reuses the
  exchange; duplicated-gram hashes are a small fraction of positions,
  and the span merge is a per-document window (one shuffle on doc_id,
  the same partitioning every per-doc stage downstream wants).
* no suffix array means no global sort of the corpus — the k-gram
  relaxation finds every duplicated run of >= k tokens (a run of
  length L >= k contains L-k+1 duplicated k-grams, which the island
  merge reassembles into the single maximal [start, end] span).

Reference seam: BERN2 has no corpus-dedup story (its dedup ends at
per-request caching, bern2/bern2.py:93-116); this operator is part of
the mandated training-data-pipeline extension (SURVEY.md §2.12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _ws_toks(col):
    """whitespace tokens of lower(text) — identical to the oracle's
    list_filter(string_split(lower(text), ' '), x -> x != '')."""
    return F.filter(F.split(F.lower(col), " "), lambda t: t != "")


def kgram_table(docs: DataFrame, text_col: str = "text",
                k: int = 5) -> DataFrame:
    """(doc_id, start, gram_hash) for every token k-gram.  ``start`` is
    the 1-based token index; docs shorter than k tokens yield no rows.
    The gram hash is xxhash64 of the space-joined k tokens — content-
    pure (no RNG), reproducible on any engine, and 8 bytes instead of
    a 32-hex md5 string through every downstream exchange (duplicate
    detection is unchanged modulo 2^-64 collisions, which the span
    oracle would expose)."""
    # tokens are materialized once per row as a multi-referenced alias:
    # HOF lambda bodies re-evaluate captured subtrees per element, so
    # slicing the raw split expression re-tokenized the doc once per
    # k-gram position (O(tokens^2) per doc)
    toks = F.col("_kg_toks")
    grams = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(k - 1)),
            lambda i: F.struct(
                i.cast("int").alias("start"),
                F.xxhash64(F.array_join(F.slice(toks, i, k), " "))
                 .alias("gram_hash")))
    ).otherwise(F.array().cast(
        "array<struct<start:int,gram_hash:bigint>>"))
    return (docs
            .withColumn("_kg_toks", _ws_toks(F.col(text_col)))
            .select("doc_id", F.explode(grams).alias("g"))
            .select("doc_id", F.col("g.start").alias("start"),
                    F.col("g.gram_hash").alias("gram_hash")))


def duplicate_kgram_spans(docs: DataFrame, text_col: str = "text",
                          k: int = 5, min_docs: int = 2) -> DataFrame:
    """Maximal duplicated token spans per document.

    A k-gram is *duplicated* when it occurs in >= ``min_docs`` distinct
    documents.  Per document, overlapping/adjacent duplicated k-grams
    (next.start - prev.start <= k) merge into one island; each island
    is emitted as ``(doc_id, span_start, span_end, n_tokens)`` in
    1-based inclusive token indices.  This recovers exactly the maximal
    duplicated runs the suffix-array formulation finds, for runs of
    length >= k.  The gram table feeds both the duplicate-hash
    aggregation and the flag-back join, so the corpus is scanned and
    tokenized twice.
    """
    grams = kgram_table(docs, text_col, k)
    dup = (grams.groupBy("gram_hash")
           .agg(F.count_distinct("doc_id").alias("nd"))
           .filter(F.col("nd") >= min_docs)
           .select("gram_hash"))
    flagged = grams.join(dup, "gram_hash").select("doc_id", "start")

    w = Window.partitionBy("doc_id").orderBy("start")
    isl = (flagged
           .withColumn(
               "new_isl",
               F.when(F.col("start") - F.lag("start").over(w) > k, 1)
                .otherwise(F.when(F.lag("start").over(w).isNull(), 1)
                            .otherwise(0)))
           .withColumn("island", F.sum("new_isl").over(
               w.rowsBetween(Window.unboundedPreceding, 0))))
    return (isl.groupBy("doc_id", "island")
            .agg(F.min("start").alias("span_start"),
                 (F.max("start") + F.lit(k - 1)).alias("span_end"))
            .select("doc_id", "span_start", "span_end",
                    (F.col("span_end") - F.col("span_start") + 1)
                    .cast("bigint").alias("n_tokens")))


def duplication_ratio(docs: DataFrame, text_col: str = "text",
                      k: int = 5, min_docs: int = 2) -> DataFrame:
    """Per-doc fraction of tokens inside duplicated spans —
    ``(doc_id, total_tokens, dup_tokens, dup_ratio)`` for every doc
    with >= k tokens (shorter docs cannot host a k-gram and are
    reported with ratio 0).  The corpus-cleaning policy knob: docs
    above a ratio threshold get their spans cut or are dropped."""
    spans = (duplicate_kgram_spans(docs, text_col, k, min_docs)
             .groupBy("doc_id")
             .agg(F.sum("n_tokens").alias("dup_tokens")))
    base = docs.select(
        "doc_id",
        F.size(_ws_toks(F.col(text_col))).cast("bigint")
         .alias("total_tokens"))
    return (base.join(spans, "doc_id", "left")
            .select("doc_id", "total_tokens",
                    F.coalesce("dup_tokens", F.lit(0)).cast("bigint")
                     .alias("dup_tokens"))
            .withColumn(
                "dup_ratio",
                F.round(F.col("dup_tokens")
                        / F.greatest("total_tokens", F.lit(1)), 6)))
