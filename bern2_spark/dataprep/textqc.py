"""Text analysis for training-data pipelines: language id, quality
scoring, token counting, document fingerprinting. All pure column
expressions (JVM-side) so they fold into the document scan."""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bern2_spark.dataprep.dedup import norm_tokens

# Tiny per-language stopword signatures for the n-gram/stopword-ratio
# heuristic (deterministic; a real deployment would ship fastText — the
# plumbing is identical: a column in, a label out).
LANG_SIGNATURES = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit"],
    "es": ["el", "la", "de", "que", "y", "los", "es", "una", "por"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans", "que", "pour"],
}


def whitespace_token_count(col) -> Column:
    """Tokens by whitespace split (the cheap counter)."""
    return F.size(F.filter(F.split(col, r"\s+"), lambda t: t != ""))


def bpe_ish_token_count(col) -> Column:
    """BPE-like subword proxy: alnum runs + punctuation marks each count
    as one token (regexp_count is a scan-fused native op)."""
    return F.regexp_count(col, F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"))


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / uppercase ratios + a composite
    quality score in [0,1].

    The token array is materialized once as a multi-referenced alias
    (``_toks``): higher-order functions are CodegenFallback, so Spark's
    runtime subexpression elimination never dedups them — building the
    ratios from repeated ``norm_tokens`` subtrees re-ran the split +
    filter several times per row.  CollapseProject keeps a non-cheap
    multi-referenced alias in its own projection, so the tokenize now
    runs exactly once per row; every derived value is unchanged."""
    c = F.col(text_col)
    toks = F.col("_toks")
    n_tok = F.col("n_tokens")
    n_chars = F.col("n_chars")
    stop_hits = F.size(F.filter(
        toks, lambda t: t.isin(*LANG_SIGNATURES["en"])))
    punct = F.regexp_count(c, F.lit(r"[^\w\s]"))
    upper = F.regexp_count(c, F.lit(r"[A-Z]"))
    out = (docs
           .withColumn("_toks", norm_tokens(c))
           .withColumn("n_chars", F.length(c))
           .withColumn("n_tokens", F.size(toks))
           .withColumn("punct_ratio",
                       F.when(n_chars > 0, punct / n_chars).otherwise(0.0))
           .withColumn("upper_ratio",
                       F.when(n_chars > 0, upper / n_chars).otherwise(0.0))
           .withColumn("stopword_ratio",
                       F.when(n_tok > 0, stop_hits / n_tok).otherwise(0.0))
           .withColumn("mean_word_len",
                       F.when(n_tok > 0,
                              F.aggregate(toks, F.lit(0),
                                          lambda a, t: a + F.length(t))
                              / n_tok).otherwise(0.0)))
    score = (
        F.least(F.col("n_tokens") / 20.0, F.lit(1.0)) * 0.4
        + (1.0 - F.least(F.col("punct_ratio") * 4, F.lit(1.0))) * 0.3
        + F.least(F.col("stopword_ratio") * 3, F.lit(1.0)) * 0.3)
    return out.withColumn("quality_score", F.round(score, 6)).drop("_toks")


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-signature language ID: argmax over per-language hit
    counts, 'und' (undetermined) when nothing matches.

    ``_lid_toks`` / ``_lid_best`` are materialized as multi-referenced
    aliases for the same CodegenFallback-CSE reason as
    quality_features: the naive form re-tokenized the text once per
    language per branch of the WHEN (8x per row)."""

    def hits(sig):
        # NB: a 1-arg lambda is required — Spark treats a second python
        # parameter as the element-index lambda argument
        return F.size(F.filter(F.col("_lid_toks"),
                               lambda t: t.isin(*sig)))

    scores = [
        F.struct(hits(sig).alias("hits"), F.lit(lang).alias("lang"))
        for lang, sig in sorted(LANG_SIGNATURES.items())
    ]
    best = F.col("_lid_best")
    return (docs
            .withColumn("_lid_toks", norm_tokens(F.col(text_col)))
            .withColumn("_lid_best", F.array_max(F.array(*scores)))
            .withColumn(
                "lang_pred",
                F.when(best["hits"] > 0, best["lang"])
                .otherwise(F.lit("und")))
            .drop("_lid_toks", "_lid_best"))


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalized-content fingerprint: md5 over the lowercase token
    stream — whitespace/punctuation-insensitive identity (the rolling-
    hash equivalent for whole-doc identity)."""
    return docs.withColumn(
        "fingerprint",
        F.md5(F.array_join(norm_tokens(F.col(text_col)), " ")))


def repetition_features(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Gopher-style within-document repetition signals: the fraction of
    sentences that are duplicates of another sentence in the same doc,
    and the share of the doc's word bigrams taken by its single most
    frequent bigram.  High values mark boilerplate/generated text.

    Two explode->groupBy aggregations keyed on (doc_id, unit); at
    100 TB both shuffles carry short strings with map-side combine, and
    the final per-doc reduce emits one row per doc.  Empty docs yield
    zero fractions."""
    from bern2_spark.dataprep.dedup import word_bigrams_from
    c = F.col(text_col)
    sents = F.filter(F.split(c, r"\.\s+|\.$"),
                     lambda s: F.trim(s) != "")

    sent_stats = (docs
                  .select(id_col, F.explode_outer(sents).alias("sent"))
                  .groupBy(id_col, "sent").agg(F.count("*").alias("n"))
                  .groupBy(id_col)
                  .agg((F.coalesce(
                           F.sum(F.when((F.col("n") > 1)
                                        & F.col("sent").isNotNull(),
                                        F.col("n"))), F.lit(0))
                        / F.greatest(F.sum(F.when(F.col("sent").isNotNull(),
                                                  F.col("n"))), F.lit(1)))
                       .alias("dup_sent_frac")))
    bi_stats = (docs
                .withColumn("_wb_toks", norm_tokens(c))
                .select(id_col,
                        F.explode_outer(
                            word_bigrams_from(F.col("_wb_toks")))
                        .alias("bg"))
                .groupBy(id_col, "bg").agg(F.count("*").alias("n"))
                .groupBy(id_col)
                .agg((F.coalesce(F.max(F.when(F.col("bg").isNotNull(),
                                              F.col("n"))), F.lit(0))
                      / F.greatest(F.sum(F.when(F.col("bg").isNotNull(),
                                                F.col("n"))), F.lit(1)))
                     .alias("top_bigram_frac")))
    return (docs.select(id_col)
            .join(sent_stats, id_col, "left")
            .join(bi_stats, id_col, "left")
            .fillna({"dup_sent_frac": 0.0, "top_bigram_frac": 0.0}))


# PII patterns: RE2-compatible (no lookaround) so the same regexes run
# in Spark (Java) and the DuckDB oracle verbatim.
PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\+?\d{3}[- ]\d{3}[- ]\d{4}\b", "<PHONE>"),
)


def scrub_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / IPv4s / phone-shaped numbers in place and count
    redactions per doc.  Pure chained regexp_replace — scan-fused,
    zero shuffle; order matters (emails first so user@host never
    half-matches as a phone)."""
    c = F.col(text_col)
    n = F.lit(0)
    for pat, _ in PII_PATTERNS:
        n = n + F.regexp_count(c, F.lit(pat))
    scrubbed = c
    for pat, tag in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, tag)
    return (docs
            .withColumn("n_redactions", n.cast("long"))
            .withColumn(text_col, scrubbed))


def tfidf_keywords(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", k: int = 5,
                   round_to: int = 9) -> DataFrame:
    """Top-k TF-IDF keywords per document: (id, token, score, rank).
    tf = token count / doc length, idf = ln((N+1)/(df+1)) + 1
    (smoothed); docs with no tokens emit no rows.

    Ranking happens on the ROUNDED score (then token asc) — a double
    computed in two engines can differ in the last ulp, and ranking on
    the raw value would let near-ties order differently; rounding
    first makes the top-k set itself deterministic, not just the
    printed digits.

    Scale shape: explode -> groupBy(doc, token) combines map-side; the
    df table is vocabulary-sized and joins on token (co-partitioned
    with its own aggregation); the top-k window partitions per doc —
    bounded by document length, never corpus size."""
    from bern2_spark.dataprep.dedup import norm_tokens
    from pyspark.sql import Window
    n_docs = docs.count()
    tok = (docs.select(id_col,
                       F.explode(norm_tokens(F.col(text_col)))
                       .alias("token")))
    tf = tok.groupBy(id_col, "token").agg(F.count("*").alias("_n"))
    doc_len = tok.groupBy(id_col).agg(F.count("*").alias("_len"))
    df_t = (tf.groupBy("token")
            .agg(F.count("*").alias("_df")))
    idf = F.log((F.lit(float(n_docs + 1))) / (F.col("_df") + F.lit(1.0))) \
        + F.lit(1.0)
    scored = (tf.join(doc_len, id_col).join(df_t, "token")
              .withColumn("score",
                          F.round((F.col("_n") / F.col("_len")) * idf,
                                  round_to)))
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("token").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(id_col, "token", "score", "rank"))


# Gopher quality-rule constants (Rae et al. 2021, Table A1 — the
# published corpus-filtering thresholds; bounds tightened/loosened per
# deployment, these are the paper's)
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have",
                    "with"]


def gopher_rules(docs: DataFrame, text_col: str = "text",
                 min_words: int = 50, max_words: int = 100_000,
                 min_mean_len: float = 3.0, max_mean_len: float = 10.0,
                 min_alpha_frac: float = 0.80,
                 min_stopwords: int = 2) -> DataFrame:
    """Gopher-style document quality rules as pure column expressions
    (whole-stage codegen; zero UDF, zero shuffle — the filter fuses
    into the corpus scan, which is exactly what a 100-TB cleaning pass
    needs):

    * word count within [min_words, max_words];
    * mean word length within [min_mean_len, max_mean_len];
    * fraction of words containing an alphabetic char >= min_alpha_frac;
    * at least min_stopwords stopword hits (the gibberish screen).

    Emits the per-doc metrics AND the verdict so the thresholds stay
    auditable downstream (keep the columns, filter on ``passes``)."""
    c = F.col(text_col)
    toks = F.filter(F.split(c, " "), lambda t: t != "")
    n_words = F.size(toks)
    mean_len = (F.aggregate(toks, F.lit(0),
                            lambda acc, t: acc + F.length(t))
                .cast("double") / F.greatest(n_words, F.lit(1)))
    alpha_frac = (F.size(F.filter(toks,
                                  lambda t: t.rlike("[A-Za-z]")))
                  .cast("double") / F.greatest(n_words, F.lit(1)))
    stops = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    stop_hits = F.size(F.filter(
        toks, lambda t: F.array_contains(stops, F.lower(t))))
    passes = ((n_words >= min_words) & (n_words <= max_words)
              & (mean_len >= min_mean_len) & (mean_len <= max_mean_len)
              & (alpha_frac >= min_alpha_frac)
              & (stop_hits >= min_stopwords))
    return docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(alpha_frac, 6).alias("alpha_frac"),
        stop_hits.cast("bigint").alias("stopword_hits"),
        passes.alias("passes"))


def group_quantiles_disc(df, value_col: str, group_col: str,
                         qs=(0.25, 0.5, 0.75),
                         id_col: str = "doc_id"):
    """Exact discrete quantiles per group (percentile_disc semantics:
    the value at rank ceil(q*n), no interpolation — deterministic on
    any engine, which interpolating percentile() is not once float
    arithmetic differs). Output: (group, q, value).

    Plan: ONE per-group sort serves every requested quantile — the
    window ranks once, a single pass marks the rows whose rank equals
    any ceil(q*n). Scale note: per-group sort is the exact path;
    at 10^12 rows per group use percentile_approx (t-digest) and
    accept engine-specific sketches — exactness and boundedness trade
    here, so both postures stay available."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(group_col).orderBy(value_col, id_col)
    ranked = (df.select(group_col, value_col, id_col)
              .withColumn("rn", F.row_number().over(w))
              .withColumn("n", F.count("*").over(
                  Window.partitionBy(group_col))))
    # one row per (group, q): explode the q list and keep rank hits
    # (ties across q values each emit their own row, e.g. n=1)
    qarr = F.array(*[F.lit(float(q)) for q in qs])
    return (ranked
            .withColumn("q", F.explode(qarr))
            .filter(F.ceil(F.col("q") * F.col("n")) == F.col("rn"))
            .select(group_col, "q", F.col(value_col).alias("value")))


def c4_rules(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """C4 heuristic cleaning verdict (Raffel et al. 2020 §2.2, the
    public colossal-clean-crawled-corpus rules): a line survives when
    it has >=5 words AND ends in terminal punctuation; the document
    survives when >=3 lines remain and it contains neither
    'lorem ipsum' nor a curly brace (the code-in-web-text tell).

    Adds n_lines, kept_lines, has_lorem, has_brace, passes.  All
    higher-order array expressions over split lines — the line array
    never explodes into rows, so the filter fuses into the document
    scan at any corpus size."""
    c = F.col(text_col)
    lines = F.split(c, "\n")
    kept = F.filter(
        lines,
        lambda x: (F.size(F.filter(F.split(x, " "),
                                   lambda w: w != "")) >= 5)
        & x.rlike(r'[.!?"]\s*$'))
    lt = F.lower(c)
    has_lorem = lt.contains("lorem ipsum")
    has_brace = lt.contains("{")
    kept_n = F.size(kept).cast("bigint")
    return (docs
            .withColumn("n_lines", F.size(lines).cast("bigint"))
            .withColumn("kept_lines", kept_n)
            .withColumn("has_lorem", has_lorem)
            .withColumn("has_brace", has_brace)
            .withColumn("passes",
                        (kept_n >= 3) & ~has_lorem & ~has_brace))


def oov_rate(docs: DataFrame, vocab: DataFrame,
             text_col: str = "text", group_col: str = "lang",
             vocab_col: str = "token") -> DataFrame:
    """Tokenizer-fit report: per-group share of token OCCURRENCES not
    covered by the vocabulary — the number that decides whether a
    tokenizer needs retraining before a corpus is usable.  Output:
    (group, n_tokens, oov_tokens, oov_rate).

    The vocabulary is broadcast (vocabularies are bounded by
    construction); the corpus explodes to token occurrences and
    aggregates with map-side combine — one shuffle of |groups| rows."""
    from pyspark.sql.functions import broadcast

    toks = docs.select(
        group_col,
        F.explode(F.filter(F.split(F.col(text_col), " "),
                           lambda t: t != "")).alias("_tok"))
    v = vocab.select(F.col(vocab_col).alias("_tok")).distinct() \
        .withColumn("_in_v", F.lit(1))
    j = toks.join(broadcast(v), "_tok", "left")
    return (j.groupBy(group_col)
            .agg(F.count("*").alias("n_tokens"),
                 F.sum(F.when(F.col("_in_v").isNull(), 1)
                        .otherwise(0)).alias("oov_tokens"))
            .withColumn("oov_rate",
                        F.round(F.col("oov_tokens").cast("double")
                                / F.col("n_tokens"), 6)))


def compression_ratio(docs: DataFrame,
                      text_col: str = "text") -> DataFrame:
    """zlib compression ratio per document — the classic
    low-information-content signal (template/boilerplate/repetitive
    text compresses far below prose; CCNet/RefinedWeb-style pipelines
    gate on it).  No SQL twin exists (zlib is not expressible in
    either engine's SQL), so this is an Arrow-batched mapInPandas
    operator with property-based tests instead of a DuckDB oracle —
    the same evidence class as the multimodal decode plumbing.

    Adds ``compressed_ratio`` = deflate_len / max(raw_len, 1), rounded
    6.  Vectorized per Arrow batch; zlib level 6 pinned so the number
    is deterministic across zlib builds in practice (the format, not
    the exact length, is standardized — hence property tests, not
    hash tests)."""
    import zlib
    from typing import Iterator

    import pandas as pd

    fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                       for f in docs.schema.fields)
    schema = f"{fields}, compressed_ratio double"

    def score(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            raw = pdf[text_col].fillna("").str.encode("utf-8")
            ratio = [
                round(len(zlib.compress(b, 6)) / max(len(b), 1), 6)
                for b in raw]
            out = pdf.copy()
            out["compressed_ratio"] = ratio
            yield out

    return docs.mapInPandas(score, schema=schema)


def lm_cross_entropy(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", bucket_hex: int = 3,
                     smoothing: float = 1.0, round_to: int | None = 9
                     ) -> DataFrame:
    """Per-doc cross-entropy under a hashed-bigram LM estimated from
    the corpus itself — the CCNet/KenLM-style perplexity quality
    signal (Wenzek et al. 2020): fluent text full of common
    continuations scores low, gibberish and boilerplate-soup score
    high (perplexity = exp of the returned ``lm_xent``).

    The model is add-``smoothing`` conditional probability in hashed
    space: p(w2|w1) ~= (c[bucket(w1 w2)] + s) / (c[bucket(w1)] + s*V)
    with V = 16**``bucket_hex`` buckets (md5-hex prefixes, the same
    engine-portable keys as DSIR's importance weights — this operator
    is the absolute-likelihood half of that ratio).  Hashing makes the
    normalization approximate (bigram buckets are not nested under
    prefix buckets) — standard hashed-LM trade, same as DSIR's.
    Docs with <2 tokens score 0.

    Scale shape (the importance_weights posture): the exploded
    (doc, bigram-bucket, prefix-bucket) table is the only volume; both
    count tables collapse to at most V rows via map-side combine and
    join back BROADCAST, so scoring is narrow and the corpus text
    never shuffles.  The exploded table has two consumers (counting
    and scoring); it is recomputed for each (cheap: the scan is the
    tokenizer, all codegen)."""
    from pyspark.sql.functions import broadcast

    from bern2_spark.dataprep.dedup import (norm_tokens,
                                            word_bigrams_from)

    n_buckets = 16 ** bucket_hex
    s = float(smoothing)
    feats = (docs
             .withColumn("_wb_toks", norm_tokens(F.col(text_col)))
             .select(id_col,
                     F.explode(word_bigrams_from(F.col("_wb_toks")))
                     .alias("_gram"))
             .select(id_col,
                     F.substring(F.md5("_gram"), 1,
                                 bucket_hex).alias("_bb"),
                     F.substring(
                         F.md5(F.element_at(F.split("_gram", " "), 1)),
                         1, bucket_hex).alias("_pb")))
    bc = feats.groupBy("_bb").agg(F.count("*").alias("_cb"))
    pc = feats.groupBy("_pb").agg(F.count("*").alias("_cp"))
    nll = F.log((F.col("_cp") + F.lit(s * n_buckets))
                / (F.col("_cb") + F.lit(s)))
    scores = (feats
              .join(broadcast(bc), "_bb")
              .join(broadcast(pc), "_pb")
              .groupBy(id_col).agg(F.avg(nll).alias("_x")))
    out = (docs.select(id_col)
           .join(scores, id_col, "left")
           .select(id_col,
                   F.coalesce("_x", F.lit(0.0)).alias("lm_xent")))
    if round_to is not None:
        out = out.select(id_col,
                         F.round("lm_xent", round_to).alias("lm_xent"))
    return out


def pmi_collocations(docs: DataFrame, text_col: str = "text",
                     min_count: int = 5,
                     round_to: int = 6) -> DataFrame:
    """Pointwise-mutual-information collocations (Church & Hanks
    1990): ORDERED adjacent word pairs scored by
    ln(P(a,b) / (P(a)·P(b))) with P(a,b) over the bigram table and
    P(·) over the unigram table — the statistic phrase mining,
    tokenizer-merge selection, and stop-phrase lists are built on.

    Scale shape: tokens explode once; bigrams are built IN-ROW
    (arrays_zip of two slices) before their map-side-combined count;
    the unigram table is vocabulary-bounded, so its two attach joins
    broadcast at any realistic vocab (co-partitioned on the word key
    beyond that); the two scalar totals are 1-row broadcasts.  All
    counts integral — the single ln of exact ratios rounds
    identically in both engines.  Output:
    ``(word_a, word_b, n_ab, pmi)`` for pairs seen >= min_count."""
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "),
                    lambda t: t != "")
    d = docs.select(toks.alias("toks"))
    uni = (d.select(F.explode("toks").alias("w"))
           .groupBy("w").agg(F.count("*").alias("n_w")))
    n_tok = uni.agg(F.sum("n_w").alias("_nt"))
    big0 = (d.select(F.explode(F.arrays_zip(
        F.expr("slice(toks, 1, greatest(size(toks) - 1, 0))"),
        F.expr("slice(toks, 2, greatest(size(toks) - 1, 0))")))
        .alias("p"))
        .select(F.col("p")["0"].alias("word_a"),
                F.col("p")["1"].alias("word_b"))
        .groupBy("word_a", "word_b")
        .agg(F.count("*").alias("n_ab")))
    # the bigram total is over ALL bigrams — the probability space —
    # not just the pairs that survive min_count
    n_big = big0.agg(F.sum("n_ab").alias("_nb"))
    big = big0.filter(F.col("n_ab") >= min_count)
    ua = uni.select(F.col("w").alias("word_a"),
                    F.col("n_w").alias("_na"))
    ub = uni.select(F.col("w").alias("word_b"),
                    F.col("n_w").alias("_nb_w"))
    pmi = F.log((F.col("n_ab") / F.col("_nb"))
                / ((F.col("_na") / F.col("_nt"))
                   * (F.col("_nb_w") / F.col("_nt"))))
    return (big.join(F.broadcast(ua), "word_a")
            .join(F.broadcast(ub), "word_b")
            .crossJoin(F.broadcast(n_tok))
            .crossJoin(F.broadcast(n_big))
            .select("word_a", "word_b", "n_ab",
                    F.round(pmi, round_to).alias("pmi")))


# Classic UTF-8-decoded-as-Latin-1/Windows-1252 artifacts.  The lead
# bytes of multi-byte UTF-8 sequences decode to these characters, so
# their presence is a high-precision mojibake signal; U+FFFD is the
# decoder's own giving-up marker.
MOJIBAKE_MARKERS = ["Ã", "â€", "Â", "�"]


def mojibake_features(docs: DataFrame, text_col: str = "text",
                      id_cols: Sequence[str] = ("doc_id",),
                      round_to: int = 9) -> DataFrame:
    """Encoding-corruption detection: per document, count the classic
    double-encoding artifacts ('Ã'/'Â' lead bytes,
    'â€' punctuation mangles, U+FFFD replacement chars) and
    flag documents carrying any — the cheap pre-filter that keeps
    mis-decoded crawl shards out of a training mix (ftfy's detection
    heuristic, reduced to its codegen-able core).

    Scale shape: pure column expressions — each marker count is
    ``(length(t) - length(replace(t, m))) / length(m)``, character
    arithmetic identical in Spark and DuckDB — so the whole operator
    is one WholeStageCodegen map over the scan, no shuffle, no UDF.

    Output: id cols + ``(n_artifacts, artifact_ratio, is_mojibake)``."""
    t = F.col(text_col)
    n = F.lit(0)
    for m in MOJIBAKE_MARKERS:
        n = n + ((F.length(t) - F.length(F.replace(t, F.lit(m))))
                 / len(m)).cast("long")
    n_chars = F.length(t)
    return docs.select(
        *id_cols,
        n.cast("long").alias("n_artifacts"),
        F.round(F.when(n_chars > 0, n / n_chars).otherwise(F.lit(0.0)),
                round_to).alias("artifact_ratio"),
        (n > 0).alias("is_mojibake"))


def token_entropy(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  round_to: int = 6) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (nats):
    H = ln N - (1/N) Σ n_w ln n_w over the doc's own token counts —
    near zero for degenerate repetition ("spam spam spam"), ~ln(N)
    for all-distinct text; the orthogonal companion to the
    repetition-ratio features for gibberish/boilerplate filtering.

    Scale shape: explode to (doc, word) pairs, one groupBy(doc, word)
    count, one groupBy(doc) aggregate of Σ n ln n — both map-side
    combined, keyed by doc so nothing global.  The inner counts are
    exact integers; both engines apply the identical log expression,
    and round(6) absorbs sum-order ulps in the final Σ.

    Output: (id, n_tokens, n_distinct, entropy)."""
    toks = norm_tokens(F.col(text_col))
    pairs = (docs.select(F.col(id_col).alias("id"),
                         F.explode(toks).alias("w"))
             .groupBy("id", "w").agg(F.count("*").alias("n_w")))
    big_n = F.sum("n_w").cast("double")
    return (pairs.groupBy("id")
            .agg(F.sum("n_w").cast("long").alias("n_tokens"),
                 F.count("*").cast("long").alias("n_distinct"),
                 F.round(F.log(big_n)
                         - F.sum(F.col("n_w").cast("double")
                                 * F.log(F.col("n_w").cast("double")))
                         / big_n,
                         round_to).alias("entropy")))


def zipf_fit(docs: DataFrame, text_col: str = "text",
             top_k: int = 1000, round_to: int = 6) -> DataFrame:
    """Least-squares Zipf fit over the corpus's top-``top_k`` token
    frequencies: regress ln(freq) on ln(rank); a healthy natural
    corpus fits slope ≈ −1 — gibberish, boilerplate floods, and
    template spam bend it, making the slope a one-number corpus
    health metric (Piantadosi 2014).

    Scale shape: the frequency table is a map-side-combined groupBy;
    the top-k cut is a TakeOrderedAndProject (the bounded-collect
    posture shared with the wordpiece vocab cap) — the ONLY window
    runs over those <= top_k rows, never the corpus.  The regression
    is the closed form from four sums; round(6) absorbs cross-engine
    sum-order ulps.

    Output: one row (n_top, slope, intercept)."""
    freq = (docs.select(F.explode(norm_tokens(F.col(text_col)))
                        .alias("w"))
            .groupBy("w").agg(F.count("*").alias("n_w")))
    top = freq.orderBy(F.desc("n_w"), F.asc("w")).limit(top_k)
    ranked = top.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("n_w"),
                                                F.asc("w"))))
    x = F.log(F.col("r").cast("double"))
    y = F.log(F.col("n_w").cast("double"))
    agg = ranked.agg(F.count("*").cast("double").alias("_n"),
                     F.sum(x).alias("_sx"), F.sum(y).alias("_sy"),
                     F.sum(x * x).alias("_sxx"),
                     F.sum(x * y).alias("_sxy"))
    slope = ((F.col("_sxy") - F.col("_sx") * F.col("_sy") / F.col("_n"))
             / (F.col("_sxx") - F.col("_sx") * F.col("_sx") / F.col("_n")))
    return agg.select(
        F.col("_n").cast("long").alias("n_top"),
        F.round(slope, round_to).alias("slope"),
        F.round((F.col("_sy") - slope * F.col("_sx")) / F.col("_n"),
                round_to).alias("intercept"))


def readability_features(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         round_to: int = 6) -> DataFrame:
    """Flesch reading-ease + Flesch–Kincaid grade per document, from
    three regex counts: words (whitespace runs), sentences
    (terminal-punctuation runs, floor 1), and a vowel-group syllable
    proxy (the standard cheap estimator — hyphenation dictionaries
    don't fit in a column expression, and the SCORE's use here is
    relative ranking for QC filtering, not typography).

    Scale shape: three ``regexp_count`` column expressions + the two
    closed-form score polynomials — one codegen'd map over the scan,
    no shuffle, no UDF; integer counts feed identical double
    arithmetic in both engines, round(6) on the scores.

    Output: (id, n_words, n_sentences, n_syllables, flesch_ease,
    fk_grade)."""
    c = F.col(text_col)
    n_words = F.regexp_count(c, F.lit(r"[A-Za-z0-9']+")).cast("long")
    n_sents = F.greatest(
        F.regexp_count(c, F.lit(r"[.!?]+")), F.lit(1)).cast("long")
    n_syll = F.greatest(
        F.regexp_count(c, F.lit(r"[AEIOUYaeiouy]+")),
        F.lit(1)).cast("long")
    wps = n_words.cast("double") / n_sents.cast("double")
    spw = F.when(n_words > 0,
                 n_syll.cast("double") / n_words.cast("double")) \
           .otherwise(F.lit(0.0))
    return docs.select(
        F.col(id_col).alias("id"), n_words.alias("n_words"),
        n_sents.alias("n_sentences"), n_syll.alias("n_syllables"),
        F.round(206.835 - 1.015 * wps - 84.6 * spw, round_to)
        .alias("flesch_ease"),
        F.round(0.39 * wps + 11.8 * spw - 15.59, round_to)
        .alias("fk_grade"))


def boilerplate_lines(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      min_docs: int = 5,
                      round_to: int = 6) -> DataFrame:
    """Cross-document boilerplate-line detection: lines (sentences in
    prose corpora) that recur VERBATIM across many distinct documents
    — headers, footers, cookie banners, licence blurbs — the removal
    list CCNet/C4-style cleaners build before training (paragraph
    dedup removes REPEATS; this REPORTS the offending lines so a
    cleaner can strip them from every carrier, including the first).

    Scale shape: the explode ships (doc, line-hash) rows — a 32-byte
    key, never the line text, which rides along only for the sample
    column via a first() aggregate — then one map-side-combined
    distinct-doc count; output is bounded by the lines crossing
    ``min_docs``.

    Output: (line_hash, sample, n_docs, doc_frac) for lines in >=
    ``min_docs`` distinct docs."""
    lines = F.filter(F.split(F.col(text_col), r"\. +|\.$"),
                     lambda s: F.length(F.trim(s)) >= 20)
    total = docs.agg(F.countDistinct(id_col).alias("_n"))
    ex = (docs.select(F.col(id_col).alias("id"),
                      F.explode(lines).alias("line"))
          .select("id", F.md5("line").alias("line_hash"),
                  F.substring("line", 1, 60).alias("sample"))
          .distinct())
    per = (ex.groupBy("line_hash")
           .agg(F.countDistinct("id").cast("long").alias("n_docs"),
                F.min("sample").alias("sample"))
           .filter(F.col("n_docs") >= min_docs))
    return (per.crossJoin(F.broadcast(total))
            .select("line_hash", "sample", "n_docs",
                    F.round(F.col("n_docs") / F.col("_n"), round_to)
                    .alias("doc_frac")))
