"""Data mixing under per-domain token budgets.

A pretraining corpus is mixed from domains (web, code, books, by
language, ...) with a target token count per domain.  Two samplers,
one exact and one scale-path, both deterministic (hash order, no RNG):

* ``sample_to_token_budget`` — EXACT greedy: within each domain, docs
  are ranked by a multiplicative hash of their id and taken while the
  running token total is below the budget (the first overflowing doc
  is kept, standard greedy cutoff).  Implemented as one window prefix
  sum.  At 100 TB the window's sort is per-domain — with a handful of
  domains those partitions are huge, so this variant is for
  modest-cardinality strata or post-filtered candidate pools.

* ``sample_to_token_budget_approx`` — SCALE PATH: a first aggregate
  measures tokens per domain, the keep-fraction ``min(1, budget /
  total)`` is broadcast back, and docs pass iff their unit-interval
  hash is below the fraction.  No sort, no wide shuffle of the corpus
  (the only exchange is the tiny per-domain total), expected token
  error O(1/sqrt(n_docs_in_domain)).  This is the variant a 1000-node
  mixing job runs.

The unit-interval hash is the same BIGINT arithmetic the split family
uses (``(id * 2654435761) % 2^32 / 2^32``), so assignments reproduce
bit-identically in the DuckDB oracles.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from bern2_spark.dataprep.textqc import bpe_ish_token_count

_KNUTH = 2654435761
_M32 = 4294967296


def _unit_hash(id_col: Column) -> Column:
    """Deterministic [0,1) bucket from a BIGINT id (Knuth multiplicative
    hash — plain arithmetic so any ANSI engine reproduces it)."""
    return ((id_col * F.lit(_KNUTH)) % F.lit(_M32)).cast("double") / _M32


def _budget_df(docs: DataFrame, budgets: Mapping[str, int],
               domain_col: str):
    spark = docs.sparkSession
    return spark.createDataFrame(
        [(k, int(v)) for k, v in sorted(budgets.items())],
        f"{domain_col} string, budget bigint")


def sample_to_token_budget(docs: DataFrame,
                           budgets: Mapping[str, int],
                           domain_col: str = "lang",
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           token_col: str | None = None) -> DataFrame:
    """Exact greedy cut: (docs columns) + ``n_tokens`` for the selected
    docs.  A doc is kept iff the token sum of all hash-earlier docs in
    its domain is still under the domain's budget; domains absent from
    ``budgets`` contribute nothing."""
    tokens = (F.col(token_col) if token_col
              else bpe_ish_token_count(F.col(text_col))).cast("long")
    w = (Window.partitionBy(domain_col)
         .orderBy(_unit_hash(F.col(id_col)), id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    return (docs
            .withColumn("n_tokens", tokens)
            .join(broadcast(_budget_df(docs, budgets, domain_col)),
                  domain_col)
            .withColumn("cum_before",
                        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
            .filter(F.col("cum_before") < F.col("budget"))
            .drop("cum_before", "budget"))


def sample_to_token_budget_approx(docs: DataFrame,
                                  budgets: Mapping[str, int],
                                  domain_col: str = "lang",
                                  id_col: str = "doc_id",
                                  text_col: str = "text",
                                  token_col: str | None = None
                                  ) -> DataFrame:
    """Scale-path sampler: keep docs whose unit hash falls below the
    domain's measured keep-fraction.  Output adds ``n_tokens`` and the
    applied ``keep_frac``.  Deterministic given the corpus."""
    tokens = (F.col(token_col) if token_col
              else bpe_ish_token_count(F.col(text_col))).cast("long")
    with_tok = docs.withColumn("n_tokens", tokens)
    fracs = (with_tok
             .groupBy(domain_col)
             .agg(F.sum("n_tokens").alias("domain_tokens"))
             .join(broadcast(_budget_df(docs, budgets, domain_col)),
                   domain_col)
             .select(domain_col,
                     F.least(F.lit(1.0),
                             F.col("budget")
                             / F.col("domain_tokens")).alias("keep_frac")))
    return (with_tok
            .join(broadcast(fracs), domain_col)
            .filter(_unit_hash(F.col(id_col)) < F.col("keep_frac")))


def importance_weights(docs: DataFrame, target: DataFrame,
                       text_col: str = "text", id_col: str = "doc_id",
                       bucket_hex: int = 3, smoothing: float = 1.0,
                       round_to: int | None = 9) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score each raw doc
    by how much its hashed word-bigram distribution looks like the
    ``target`` sample rather than the raw corpus —

        score(doc) = mean over the doc's bigram buckets of
                     ln p_target(bucket) - ln p_raw(bucket)

    with add-``smoothing`` estimates over 16**``bucket_hex`` buckets
    (bucket = md5-hex prefix of the bigram, a string key both Spark and
    any ANSI oracle compute identically). Docs with <2 tokens score 0.

    Scale shape: the two distribution estimates are corpus scans ->
    explode -> groupBy(bucket) with map-side combine collapsing to at
    most 4096 rows each; the per-bucket weight table is broadcast, so
    scoring is a narrow explode + broadcast-join + per-doc avg — the
    corpus text itself is never shuffled. The raw corpus is scanned
    twice (once to estimate p_raw, once to score); a production run at
    100 TB persists the exploded (doc, bucket) table between the two
    or estimates p_raw on a sample — the estimate, not the scoring,
    tolerates sampling. The two totals are driver scalars (two
    count()s), same posture as k-means' centroid round-trip."""
    from bern2_spark.dataprep.dedup import word_bigrams_from
    n_buckets = 16 ** bucket_hex

    def feats(df, with_id):
        sel = [F.col(id_col)] if with_id else []
        from bern2_spark.dataprep.dedup import norm_tokens
        return (df.withColumn("_wb_toks", norm_tokens(F.col(text_col)))
                .select(*sel,
                        F.explode(word_bigrams_from(F.col("_wb_toks")))
                        .alias("gram"))
                .withColumn("bucket",
                            F.substring(F.md5("gram"), 1, bucket_hex))
                .drop("gram"))

    doc_feats = feats(docs, True)
    raw_cnt = doc_feats.groupBy("bucket").agg(F.count("*").alias("r_cnt"))
    tgt_cnt = (feats(target, False)
               .groupBy("bucket").agg(F.count("*").alias("t_cnt")))
    n_raw = doc_feats.count()
    n_tgt = tgt_cnt.agg(F.sum("t_cnt")).collect()[0][0] or 0
    s = float(smoothing)
    w = (raw_cnt.join(tgt_cnt, "bucket", "left")
         .select("bucket",
                 (F.log((F.coalesce("t_cnt", F.lit(0)) + F.lit(s))
                        / F.lit(n_tgt + s * n_buckets))
                  - F.log((F.col("r_cnt") + F.lit(s))
                          / F.lit(n_raw + s * n_buckets))).alias("w")))
    scores = (doc_feats.join(broadcast(w), "bucket")
              .groupBy(id_col).agg(F.avg("w").alias("score")))
    out = (docs.select(id_col)
           .join(scores, id_col, "left")
           .select(id_col, F.coalesce("score", F.lit(0.0)).alias("score")))
    if round_to is not None:
        out = out.select(id_col, F.round("score", round_to).alias("score"))
    return out


def temperature_weights(docs: DataFrame, domain_col: str = "lang",
                        tau: float = 0.7,
                        token_col_expr: Column | None = None) -> DataFrame:
    """Temperature-scaled domain sampling weights — the multilingual
    mixing rule (mBERT/XLM-R style): sampling probability
    q_d = p_d^tau / sum_e p_e^tau where p_d is the domain's token
    share.  tau < 1 flattens the distribution (upsamples tails),
    tau = 1 is proportional, tau -> 0 is uniform.

    Emits per domain: token count, natural share p, temperature share
    q, and the per-document upsampling factor q/p a sampler applies.
    One map-side-combined aggregate over the corpus; the normalization
    constant is a 1-row broadcast — nothing corpus-sized shuffles."""
    tokens = (token_col_expr if token_col_expr is not None
              else F.size(F.filter(F.split(F.col("text"), " "),
                                   lambda t: t != "")))
    per = (docs.groupBy(F.col(domain_col).alias("domain"))
           .agg(F.sum(tokens).cast("bigint").alias("n_tokens")))
    tot = per.agg(F.sum("n_tokens").alias("_tot"),
                  F.sum(F.pow(F.col("n_tokens").cast("double"),
                              F.lit(tau))).alias("_ztau"))
    p = F.col("n_tokens") / F.col("_tot")
    q = F.pow(F.col("n_tokens").cast("double"), F.lit(tau)) / F.col("_ztau")
    return (per.crossJoin(F.broadcast(tot))
            .select("domain", "n_tokens",
                    F.round(p, 6).alias("p_natural"),
                    F.round(q, 6).alias("q_temperature"),
                    F.round(q / p, 6).alias("upsample_factor")))


def pps_systematic_sample(docs: DataFrame, k: int,
                          weight_col: str,
                          id_col: str = "doc_id",
                          num_parts: int = 32) -> DataFrame:
    """Systematic probability-proportional-to-size sampling (Madow
    1949), the survey-sampling primitive behind weighted data pruning:
    exactly ``k`` picks, each doc selected with probability (or
    expected multiplicity, when its weight exceeds W/k) proportional
    to its integer ``weight_col``. Docs lie on a 0..W line in
    deterministic hash order, each covering its weight; k equally
    spaced markers select them:

        picks_i = floor(cum_i*k/W) - floor((cum_i - w_i)*k/W)

    — ALL bigint arithmetic, so the sample is bit-identical on any
    engine and independent of partitioning (unlike float cumsums,
    whose summation order is partition-dependent; cf. the integer-
    micros rule in the events family).

    Scale shape — a REAL distributed prefix sum, not a single-partition
    window: (1) ONE range-repartition of the (id, weight, h) triples on
    the hash order key; (2) a bounded collect of per-partition weight
    totals (num_parts rows) whose running total becomes a driver-known
    offset per partition; (3) an in-place sortWithinPartitions +
    mapInPandas integer cumsum seeded with that offset — NO second
    exchange (a Window over the derived partition id would re-shuffle
    the whole corpus by pid; measured on the first cut of this
    function). The integer math makes step (1)'s sampled range
    boundaries irrelevant to the result. Output: (id, weight,
    picks>=1) for selected docs; sum(picks) == k exactly."""
    import pandas as pd

    h = ((F.col(id_col) * F.lit(_KNUTH)) % F.lit(_M32)).alias("h")
    d = (docs.select(F.col(id_col), F.col(weight_col).cast("long")
                     .alias("w"), h)
         .repartitionByRange(num_parts, "h", id_col)
         .withColumn("pid", F.spark_partition_id()))

    part_tot = {r["pid"]: r["t"] for r in
                d.groupBy("pid").agg(F.sum("w").alias("t")).collect()}
    total = int(sum(part_tot.values()))
    if total == 0 or k <= 0:
        return d.select(id_col, F.col("w").alias(weight_col),
                        F.lit(0).cast("long").alias("picks")).limit(0)
    offsets, acc = {}, 0
    for pid in sorted(part_tot):
        offsets[pid] = acc
        acc += int(part_tot[pid])

    def cumsum(batches):  # Iterator[pd.DataFrame] -> same
        # per-partition integer running sum, seeded with the driver-
        # computed offset; range partitioning guarantees ascending pid
        # == ascending key range, so offsets line up with sort order
        run = None
        for pdf in batches:
            if pdf.empty:
                continue
            if run is None:
                run = offsets.get(int(pdf["pid"].iloc[0]), 0)
            out = pdf[[id_col, "w"]].copy()
            out["cum"] = pdf["w"].cumsum() + run
            run = int(out["cum"].iloc[-1])
            yield out

    cums = (d.sortWithinPartitions("h", id_col)
            .mapInPandas(cumsum, schema=f"`{id_col}` long, w long, "
                                        f"cum long"))
    # bigint `div`, never `/`: double division loses exactness past
    # 2^53 and would make marker assignment engine-dependent
    picks = F.expr(f"(cum * {int(k)}) div {total} "
                   f"- ((cum - w) * {int(k)}) div {total}")
    return (cums.withColumn("picks", picks.cast("long"))
            .filter(F.col("picks") > 0)
            .select(id_col, F.col("w").alias(weight_col), "picks"))


def bottomk_sample(df, group_col: str, id_col: str, k: int,
                   salt: int = 8):
    """Deterministic per-group uniform k-sample: bottom-k rows by a
    keyed md5 hash.  With a uniform hash, bottom-k by hash order IS a
    uniform random sample without replacement — and unlike a stateful
    reservoir it is order-independent, mergeable, and bit-reproducible
    on any engine (DuckDB computes the identical md5 ordering).

    Two-phase exact bottom-k so a hot group never funnels through one
    task: phase 1 ranks within (group, salt-bucket) and keeps k per
    bucket — after it at most salt*k rows per group survive; phase 2
    ranks those survivors per group and keeps the true bottom-k.  The
    phase-1 window's partition key carries the salt, so the heavy
    shuffle spreads a skewed group over `salt` reducers; the phase-2
    shuffle moves only salt*k rows per group.  Output:
    (group, id, rk) with rk = 1..min(k, |group|)."""
    key = F.md5(F.concat(F.col(group_col), F.lit(":"),
                         F.col(id_col).cast("string")))
    d = df.select(group_col, id_col).withColumn("_k", key)
    bucket = F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt))
    w1 = (Window.partitionBy(F.col(group_col), bucket)
          .orderBy("_k", id_col))
    local = (d.withColumn("_rn1", F.row_number().over(w1))
             .filter(F.col("_rn1") <= k))
    w2 = Window.partitionBy(group_col).orderBy("_k", id_col)
    return (local.withColumn("rk", F.row_number().over(w2))
            .filter(F.col("rk") <= k)
            .select(group_col, id_col, "rk"))


def pack_sequences(docs, token_col: str, budget: int,
                   id_col: str = "doc_id"):
    """Concat-and-chunk sequence packing (the standard GPT-style
    pretraining layout): documents are laid end-to-end in a canonical
    order and cut into fixed ``budget``-token training sequences; each
    doc is assigned to the sequence where it STARTS, with its offset
    inside that sequence.  Output: (id, tokens, seq_id, seq_offset).

    One window prefix sum over the canonical (id) order — the same
    single-sort shape as the exact token-budget sampler.  At 10^12
    docs the global ordered window is one total sort; packing within
    hash buckets instead (a per-bucket window) trades one partially
    filled sequence per bucket for n_buckets-way parallel sorts.
    Deterministic: no RNG, byte-stable on any engine."""
    w = Window.orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    cum = F.sum(token_col).over(w)
    start = (cum - F.col(token_col)).cast("long")
    # bigint `div`, never `/`: double division loses exactness past
    # 2^53 (cumulative token counts get there) — same discipline as
    # the PPS marker arithmetic
    return (docs.select(id_col, F.col(token_col).cast("long")
                        .alias(token_col))
            .withColumn("_start", start)
            .withColumn("seq_id",
                        F.expr(f"_start div {int(budget)}"))
            .withColumn("seq_offset",
                        F.pmod(F.col("_start"),
                               F.lit(int(budget))).cast("long"))
            .drop("_start"))


def rendezvous_shards(docs, n_shards: int, id_col: str = "doc_id"):
    """Rendezvous (highest-random-weight) sharding (Thaler & Ravishankar
    1998): each doc goes to the shard with the highest keyed hash
    weight.  Unlike ``pmod(hash, n)`` sharding, growing the shard
    count from S to S+1 remaps only ~1/(S+1) of the corpus (only docs
    whose NEW shard wins the argmax move) — the property that makes
    incremental corpus resharding cheap, test-asserted.

    One argmax over a generated S-element array per row — scan-fused,
    zero shuffle, and engine-portable (the 13-hex md5 integer), so
    the assignment hash-matches any ANSI twin.  S is a plan literal;
    for S beyond a few thousand use a two-level ring instead."""
    from bern2_spark.dataprep.sketch import _HEX_DIGITS

    did = F.col(id_col).cast("string")

    def weight(s: int):
        return F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{s}:"), did)), 1, _HEX_DIGITS),
            16, 10).cast("long")

    pairs = F.array(*[
        F.struct(weight(s).alias("w"), F.lit(s).alias("s"))
        for s in range(n_shards)])
    best = F.array_max(pairs)  # struct compare: weight first, ties by s
    return docs.select(id_col, best["s"].cast("bigint").alias("shard"))


def curriculum_order(docs: DataFrame, difficulty: Column,
                     domain_col: str = "source",
                     id_col: str = "doc_id") -> DataFrame:
    """Curriculum data ordering: easiest-first WITHIN each domain,
    round-robin ACROSS domains — the training-order primitive
    (curriculum learning, Bengio et al. 2009) that feeds examples in
    increasing difficulty while keeping every batch domain-balanced,
    so no training window sees a single-domain run.

    Scale shape: NO global sort.  The per-domain sequence is a window
    partitioned by domain (orderBy difficulty, id — deterministic
    ties); the cross-domain interleave position is ARITHMETIC:
    ``global_pos = (seq - 1) * n_domains + domain_idx``, where the
    domain index comes from a window over the DISTINCT domain table
    (bounded by the domain count, not the corpus) joined back
    broadcast.  A consumer materializing the curriculum sorts by
    global_pos with a range partitioner — but the ORDER itself is
    computed without ever single-partitioning the corpus.

    Output: (id, domain, difficulty, seq, global_pos)."""
    d = docs.select(F.col(id_col).alias("id"),
                    F.col(domain_col).alias("domain"),
                    difficulty.alias("difficulty"))
    doms = (d.select("domain").distinct()
            .withColumn("_didx", F.row_number().over(
                Window.orderBy("domain")) - 1))
    n_dom = doms.select(F.count("*").alias("_ndom"))
    w = Window.partitionBy("domain").orderBy("difficulty", "id")
    return (d.withColumn("seq", F.row_number().over(w))
            .join(broadcast(doms), "domain")
            .crossJoin(broadcast(n_dom))
            .select("id", "domain", "difficulty", "seq",
                    ((F.col("seq") - 1) * F.col("_ndom")
                     + F.col("_didx")).cast("long").alias("global_pos")))


# fixed power-of-two bucket ladder: a WHEN ladder, not ceil(log2(n)) —
# log2 at exact-power boundaries can land on either side of the
# integer in different libm implementations, and the ladder is the
# formulation that provably agrees across engines
LENGTH_BUCKETS = [16, 32, 64, 128, 256, 512, 1024, 2048, 4096]


def length_bucket_stats(docs: DataFrame, text_col: str = "text",
                        round_to: int = 6) -> DataFrame:
    """Length-bucketed batching audit: assign every document to the
    smallest power-of-two token bucket that holds it and report, per
    bucket, the document count, token sum, and padding waste —
    padding to the bucket size vs padding every doc to the GLOBAL max
    (naive fixed-length batching).  The waste ratio difference is the
    compute a sequence-packing/bucketing loader saves; this is the
    sizing table that picks the bucket boundaries.

    Scale shape: the token count is the scan-fused ``bpe_ish`` regex
    count; bucket assignment is a WHEN ladder (pure codegen); one
    map-side-combined groupBy on ~10 bucket keys plus a 1-row global
    max broadcast.  Integer arithmetic throughout; the two ratios are
    rounded doubles.

    Output: (bucket, n_docs, sum_tokens, bucket_padding,
    bucket_waste_ratio, naive_waste_ratio)."""
    from bern2_spark.dataprep.textqc import bpe_ish_token_count
    n = bpe_ish_token_count(F.col(text_col)).cast("long")
    b = F.lit(LENGTH_BUCKETS[-1] * 2).cast("long")
    for cap in reversed(LENGTH_BUCKETS):
        b = F.when(n <= cap, F.lit(cap).cast("long")).otherwise(b)
    d = docs.select(n.alias("n_tok"), b.alias("bucket"))
    mx = d.agg(F.max("n_tok").alias("_gmax"))
    per = (d.groupBy("bucket")
           .agg(F.count("*").cast("long").alias("n_docs"),
                F.sum("n_tok").cast("long").alias("sum_tokens"),
                F.sum(F.col("bucket") - F.col("n_tok")).cast("long")
                .alias("bucket_padding")))
    return (per.crossJoin(F.broadcast(mx))
            .select("bucket", "n_docs", "sum_tokens", "bucket_padding",
                    F.round(F.col("bucket_padding")
                            / (F.col("n_docs") * F.col("bucket")),
                            round_to).alias("bucket_waste_ratio"),
                    F.round((F.col("n_docs") * F.col("_gmax")
                             - F.col("sum_tokens"))
                            / (F.col("n_docs") * F.col("_gmax")),
                            round_to).alias("naive_waste_ratio")))


def domain_js_divergence(docs: DataFrame, domain_col: str = "source",
                         text_col: str = "text",
                         round_to: int = 6) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between the unigram token
    distributions of every two domains — the corpus-comparison
    metric behind mixing decisions: near-zero pairs are statistically
    interchangeable (merge their budgets), high pairs carry distinct
    signal (preserve both).  Symmetric and bounded by ln 2, unlike
    raw KL.

    Scale shape: ONE pass builds the (domain, word, count) table
    (map-side combined); per-domain totals are a broadcast
    |domains|-row dim.  The pair space is driven by the tiny domain
    dim (D(D-1)/2 keys), and each pair's vocabulary union is a FULL
    OUTER join co-partitioned on (pair, word) — corpus-sized only in
    the word dimension, never |docs|.  Zero-count sides contribute
    the exact p·ln 2 limit term via coalesce, so the divergence is
    the true JS over the union vocabulary, not an intersection
    approximation.

    Output: (domain_a, domain_b, n_words_union, js_divergence)."""
    from bern2_spark.dataprep.dedup import norm_tokens
    cnt = (docs.select(F.col(domain_col).alias("domain"),
                       F.explode(norm_tokens(F.col(text_col)))
                       .alias("w"))
           .groupBy("domain", "w").agg(F.count("*").alias("n")))
    tot = cnt.groupBy("domain").agg(F.sum("n").alias("tot"))
    p = (cnt.join(broadcast(tot), "domain")
         .select("domain", "w",
                 (F.col("n").cast("double") / F.col("tot"))
                 .alias("p")))
    doms = tot.select("domain")
    pairs = (doms.select(F.col("domain").alias("domain_a"))
             .crossJoin(broadcast(
                 doms.select(F.col("domain").alias("domain_b"))))
             .filter(F.col("domain_a") < F.col("domain_b")))
    a = (pairs.join(p.withColumnRenamed("domain", "domain_a"),
                    "domain_a")
         .select("domain_a", "domain_b", "w", F.col("p").alias("pa")))
    b = (pairs.join(p.withColumnRenamed("domain", "domain_b"),
                    "domain_b")
         .select("domain_a", "domain_b", "w", F.col("p").alias("pb")))
    u = (a.join(b, ["domain_a", "domain_b", "w"], "full_outer")
         .select("domain_a", "domain_b",
                 F.coalesce("pa", F.lit(0.0)).alias("pa"),
                 F.coalesce("pb", F.lit(0.0)).alias("pb")))
    m = (F.col("pa") + F.col("pb")) / 2
    term = (F.when(F.col("pa") > 0,
                   F.col("pa") * F.log(F.col("pa") / m) / 2)
            .otherwise(F.lit(0.0))
            + F.when(F.col("pb") > 0,
                     F.col("pb") * F.log(F.col("pb") / m) / 2)
            .otherwise(F.lit(0.0)))
    return (u.groupBy("domain_a", "domain_b")
            .agg(F.count("*").cast("long").alias("n_words_union"),
                 F.round(F.sum(term), round_to).alias("js_divergence")))


def soft_dedup_weights(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       round_to: int = 6) -> DataFrame:
    """Count-based down-weighting — the SOFT alternative to dropping
    duplicates: every document keeps a training weight 1/n where n is
    the size of its exact-duplicate class, so each distinct text
    contributes exactly one document's worth of gradient regardless
    of how many crawls re-captured it (the approach several LLM
    pipelines prefer over hard dedup because it preserves natural
    frequency signals between NEAR-duplicates while neutralizing
    exact re-crawls).

    Scale shape: one window over the 32-byte md5 class key — the same
    single shuffle hard exact-dedup pays, with no second pass to
    delete; the weight multiplies straight into the loader's sampling
    probabilities.

    Output: (id, cluster_size, weight)."""
    w = Window.partitionBy(F.md5(F.col(text_col)))
    return (docs.select(F.col(id_col).alias("id"),
                        F.count("*").over(w).cast("long")
                        .alias("cluster_size"))
            .withColumn("weight",
                        F.round(F.lit(1.0) / F.col("cluster_size"),
                                round_to)))


def source_datasheet(docs: DataFrame, domain_col: str = "source",
                     text_col: str = "text", id_col: str = "doc_id",
                     round_to: int = 6) -> DataFrame:
    """Per-source dataset datasheet — the one-row-per-source summary
    a mixture designer reads before assigning budgets (Datasheets
    for Datasets, Gebru et al., reduced to the computable core):
    document and token volume, exact-duplicate rate, mean quality
    score, and the dominant detected language with its share.

    Scale shape: one pass computes tokens/quality/langid as scan-
    fused column expressions; the duplicate rate joins the md5
    class-size window (the soft-dedup shuffle); the per-source
    rollup is a map-side-combined groupBy, and the dominant-language
    pick is a window over the |sources|×|langs| aggregate — nothing
    beyond the two keyed shuffles the inputs already need.

    Output: (source, n_docs, n_tokens, dup_rate, mean_quality,
    top_lang, top_lang_share)."""
    from bern2_spark.dataprep.textqc import (bpe_ish_token_count,
                                             language_id,
                                             quality_features)
    d = language_id(quality_features(docs, text_col), text_col)
    # project the per-doc row down to what the rollups actually read
    # BEFORE the md5 class-size exchange: the window previously pulled
    # the full text through the shuffle, where only (source, md5, n_tok,
    # quality, lang_pred) — ~50 bytes — is ever used downstream.  Same
    # md5 keys, same post-shuffle row grouping, identical aggregates.
    d = d.select(F.col(domain_col).alias("_src"),
                 F.md5(F.col(text_col)).alias("_h"),
                 bpe_ish_token_count(F.col(text_col)).alias("_ntok"),
                 "quality_score", "lang_pred")
    w = Window.partitionBy("_h")
    d = d.withColumn("_csize", F.count("*").over(w))
    base = (d.groupBy(F.col("_src").alias("source"))
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("_ntok")
                 .cast("long").alias("n_tokens"),
                 F.round(F.sum(F.when(F.col("_csize") > 1, 1)
                               .otherwise(0))
                         / F.count("*"), round_to).alias("dup_rate"),
                 F.round(F.avg("quality_score"), round_to)
                 .alias("mean_quality")))
    langs = (d.groupBy(F.col("_src").alias("source"), "lang_pred")
             .agg(F.count("*").alias("_n")))
    wl = Window.partitionBy("source").orderBy(F.desc("_n"),
                                              F.asc("lang_pred"))
    top = (langs.withColumn("_rk", F.row_number().over(wl))
           .filter(F.col("_rk") == 1)
           .select("source", F.col("lang_pred").alias("top_lang"),
                   F.col("_n").alias("_topn")))
    return (base.join(top, "source")
            .select("source", "n_docs", "n_tokens", "dup_rate",
                    "mean_quality", "top_lang",
                    F.round(F.col("_topn") / F.col("n_docs"),
                            round_to).alias("top_lang_share")))
