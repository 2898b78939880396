"""Lexical retrieval over the code corpus — BM25 ranking as a pure
DataFrame plan.

A KG-construction / training-data deployment needs retrieval long
before it needs embeddings: curation pulls exemplars by keyword,
decontamination teams audit "which files mention this benchmark",
and RAG corpora are seeded by lexical search.  This module scores
documents with Okapi BM25 (Robertson & Zaragoza 2009, the Lucene
``k1``/``b`` variant with the +1-smoothed idf) entirely in Spark
column expressions — no UDF, no driver-side index.

100-TB posture
--------------
The corpus-proportional work is ONE content scan: tokenize in-row
(``split`` + ``array_remove`` — the token array never leaves the
row), take ``size()`` for the document length, then explode and
IMMEDIATELY prune to the query's terms — the only rows that reach
the (doc, term) count shuffle are query-term hits, ∝ hits not ∝
corpus.  Document frequency is a window over that pruned table (no
second corpus scan); N and avgdl are a scan-fused global aggregate
broadcast back as one row; the final top-k is a
TakeOrderedAndProject, never a full sort.  At 10^12 files a real
deployment materializes the (term, doc, tf) table once (bucketed by
term, ``DataFrameWriter.bucketBy``) and this plan's score/join stages run
unchanged against it.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Shared with the DuckDB oracle verbatim (string_split_regex twin):
# lowercase, split on runs of anything outside [a-z0-9_] so
# identifiers survive whole, drop empty fragments.
TOKEN_SPLIT_RE = "[^a-z0-9_]+"


def bm25_rank(files: DataFrame,
              query_terms: Sequence[str],
              content_col: str = "content",
              id_cols: Sequence[str] = ("repo", "path"),
              k1: float = 1.2,
              b: float = 0.75,
              topk: int = 10) -> DataFrame:
    """Top-``topk`` documents for a bag-of-words query under BM25.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).

    Returns ``(*id_cols, bm25)`` ordered by (bm25 DESC, *id_cols) —
    the tie-break makes the selected set deterministic across
    engines.  Query terms absent from the corpus contribute nothing
    (their (doc, term) rows don't exist).  ``bm25`` is rounded to 6
    places so both engines hash identically despite sum-order ulps.
    """
    ids = [F.col(c) for c in id_cols]
    toks = F.array_remove(
        F.split(F.lower(F.col(content_col)), TOKEN_SPLIT_RE), "")
    # One tokenize pass: the query-term hits are filtered IN-ROW (the
    # explode only generates hit rows, not one row per corpus token),
    # and the narrow per-doc table (ids, _dl, _hits) is localCheckpoint'd
    # lazily so the stats branch and the tf branch share a single
    # content scan instead of re-tokenizing the corpus twice.
    d = (files.select(*ids, toks.alias("_toks"))
         .select(*id_cols, F.size("_toks").alias("_dl"),
                 F.filter(F.col("_toks"),
                          lambda t: t.isin(*query_terms)).alias("_hits"))
         .localCheckpoint(eager=False))
    # 1-row corpus stats, broadcast back via crossJoin.
    stats = d.agg(F.count("*").alias("_n"), F.avg("_dl").alias("_avgdl"))
    tf = (d.select(*id_cols, "_dl", F.explode("_hits").alias("term"))
          .groupBy(*id_cols, "_dl", "term")
          .agg(F.count("*").alias("_tf")))
    # df(t): tf has one row per (doc, term), so a per-term row count
    # over the pruned table IS the document frequency — no rejoin, no
    # second scan of the corpus subtree.
    tf = tf.withColumn(
        "_df", F.count("*").over(Window.partitionBy("term")))
    n, avgdl = F.col("_n"), F.col("_avgdl")
    idf = F.log(F.lit(1.0)
                + (n - F.col("_df") + 0.5) / (F.col("_df") + 0.5))
    w = (idf * F.col("_tf") * (k1 + 1.0)
         / (F.col("_tf")
            + k1 * (1.0 - b + b * F.col("_dl") / avgdl)))
    return (tf.crossJoin(F.broadcast(stats))
            .withColumn("_w", w)
            .groupBy(*id_cols)
            .agg(F.round(F.sum("_w"), 6).alias("bm25"))
            .orderBy(F.desc("bm25"), *id_cols)
            .limit(topk))


def rrf_fuse(rankings: Sequence[DataFrame],
             id_cols: Sequence[str] = ("doc_id",),
             rank_col: str = "rank",
             k: float = 60.0,
             topk: int = 10) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009):
    combine N rankers by score(d) = Σ_r 1/(k + rank_r(d)), the
    standard hybrid-search merge (lexical BM25 + embedding cosine)
    that needs NO score calibration — only ranks cross the ranker
    boundary, so heterogeneous scorers fuse safely.

    Each input carries ``id_cols`` + an integer ``rank_col``
    (1-based); a document absent from a ranker's list simply
    contributes no term, the conventional top-k-list semantics.
    Shape: the inputs are already tiny (top-k lists), so the union +
    groupBy shuffles O(N·topk) rows regardless of corpus size; the
    final cut is a TakeOrderedAndProject with a deterministic
    (score DESC, *id_cols) tie-break."""
    scored = None
    for r in rankings:
        s = r.select(*id_cols,
                     (F.lit(1.0) / (F.lit(k) + F.col(rank_col)))
                     .alias("_c"))
        scored = s if scored is None else scored.unionByName(s)
    return (scored.groupBy(*id_cols)
            .agg(F.round(F.sum("_c"), 9).alias("rrf_score"))
            .orderBy(F.desc("rrf_score"), *id_cols)
            .limit(topk))
