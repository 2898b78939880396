"""Deduplication operators for large-scale training-data pipelines.

All operate on a documents table ``(doc_id, text)``. Five families:

* exact        — hash-groupBy on normalized text (one shuffle on a
                 64-hex key; map-side partial agg absorbs duplicates).
* minhash LSH  — shingle -> k minhashes -> b bands -> bucket join.
                 The pair-candidate join is on (band_idx, band_hash):
                 at 100 TB the band table is the only shuffled artifact
                 (docs × b rows, ~40 bytes each), never doc text.
* simhash      — 64-bit sign-sketch of token hashes, vectorized in a
                 pandas UDF; near-dups = equal sketch (or Hamming<=3 via
                 band rotation of 4×16-bit chunks).
* n-gram Jaccard — exact verify step for LSH candidates (explode +
                 groupBy intersection over union).
* embedding cosine — near-dup pairs above a cosine threshold over an
                 embedding column (see similarity.py for the ANN path).

Determinism: every hash is md5/xxhash of content — no RNG, no time.

NB: no ``from __future__ import annotations`` here — pandas_udf infers
its eval type from REAL (non-stringified) type hints.
"""

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------- shared

def norm_tokens(col):
    """lowercase alphanumeric tokens (shared with textqc/oracles)."""
    return F.filter(F.split(F.lower(col), "[^a-z0-9]+"), lambda t: t != "")


def word_bigrams_from(toks):
    """Adjacent-token bigram strings over an ALREADY-MATERIALIZED
    token-array column reference; <2-token inputs yield an empty
    array (shared by textqc repetition features and DSIR importance
    weighting).  HOF lambda bodies re-evaluate every captured subtree
    per element (Catalyst does no loop-invariant hoisting), so passing
    the raw ``norm_tokens`` expression here re-tokenized the text once
    per bigram position — O(tokens^2) per doc.  Callers materialize
    the tokens as a column alias first and pass ``F.col(alias)``."""
    k = F.greatest(F.size(toks) - F.lit(1), F.lit(0))
    return F.when(k > 0, F.slice(
        F.transform(F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
                    lambda i: F.array_join(F.slice(toks, i, 2), " ")),
        1, k)).otherwise(F.array().cast("array<string>"))


def shingles_from(toks, n: int = 3):
    """``shingles`` over an already-materialized token-array column
    reference — same O(tokens^2) hoisting rationale as
    ``word_bigrams_from``."""
    k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.array_join(F.slice(toks, i, n), " "))


def shingles(col, n: int = 3):
    """token n-gram shingles as strings; docs shorter than n tokens get
    their full token string as the single shingle."""
    return shingles_from(norm_tokens(col), n)


def shingle_rows(docs: DataFrame, text_col: str = "text",
                 n: int = 3) -> DataFrame:
    """(doc_id, shingle) rows, tokenizing each doc exactly once: the
    token array is a multi-referenced non-cheap alias, so it survives
    CollapseProject and the generator's per-element slices read a
    materialized row field instead of re-running split+filter."""
    return (docs
            .withColumn("_sh_toks", norm_tokens(F.col(text_col)))
            .select("doc_id",
                    F.explode(shingles_from(F.col("_sh_toks"), n))
                    .alias("shingle")))


# ----------------------------------------------------------------- exact

def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical texts: (text_hash, n_docs, doc_ids).
    Keep-one policy = min(doc_id) as canonical."""
    return (docs
            .select("doc_id", F.md5(F.col(text_col)).alias("text_hash"))
            .groupBy("text_hash")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("canonical_doc_id"))
            .filter(F.col("n_docs") > 1))


# ------------------------------------------------------------ minhash LSH

def shingle_table(docs: DataFrame, text_col: str = "text",
                  shingle_n: int = 3) -> DataFrame:
    """Distinct (doc_id, shingle) rows — the shared subtree for both the
    MinHash signature stage and the Jaccard verify stage.  ``shingles``
    always yields >=1 element (short docs get one joined-token shingle),
    so explode never drops a doc; distinct is harmless for minhash (min
    over a set == min over the multiset) and required for Jaccard."""
    return shingle_rows(docs, text_col, shingle_n).distinct()


def minhash_signatures(docs: DataFrame = None, text_col: str = "text",
                       num_hashes: int = 16, shingle_n: int = 3,
                       shingle_df: DataFrame = None) -> DataFrame:
    """(doc_id, sig): array of num_hashes minhashes, sig[s] = min over
    shingles of md5('s:shingle').

    Single pass: each shingle row carries all hash values as an array
    and one groupBy takes element-wise mins — no seeds crossJoin (which
    would multiply the shuffle by num_hashes). Values are identical to
    the ANSI formulation the oracle uses.

    The default path explodes shingles WITHOUT a distinct: min over the
    multiset equals min over the set, and the per-doc element-wise min
    partial-aggregates map-side — so the only shuffle this stage pays
    is num_docs x num_hashes partial-min rows, never the exploded
    string shingles themselves (the distinct in ``shingle_table`` is a
    full (doc_id, shingle-string) exchange that only Jaccard needs).

    Pass ``shingle_df`` (a shingle_table result) to reuse an existing
    shingle relation instead."""
    sh = (shingle_df if shingle_df is not None
          else shingle_rows(docs, text_col, shingle_n))
    sh = (sh
          .withColumn(
              "hs",
              F.transform(F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                          lambda s: F.md5(F.concat_ws(":", s.cast("string"),
                                                      F.col("shingle"))))))
    mins = [F.min(F.element_at("hs", i + 1)).alias(f"h{i}")
            for i in range(num_hashes)]
    return (sh.groupBy("doc_id").agg(*mins)
            .select("doc_id",
                    F.array(*[f"h{i}" for i in range(num_hashes)])
                    .alias("sig")))


def lsh_bands(signatures: DataFrame, rows_per_band: int = 4) -> DataFrame:
    """(doc_id, band, band_hash): hash of the band's minhashes in seed
    order (same concatenation the oracle's string_agg ORDER BY seed
    produces)."""
    n_bands = F.size("sig") / rows_per_band
    bands = F.transform(
        F.sequence(F.lit(0), (n_bands - 1).cast("int")),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.md5(F.array_join(
                F.slice("sig", b * rows_per_band + 1, rows_per_band), ","))
            .alias("band_hash")))
    return (signatures
            .select("doc_id", F.explode(bands).alias("b"))
            .select("doc_id", F.col("b.band").alias("band"),
                    F.col("b.band_hash").alias("band_hash")))


def minhash_lsh_pairs(docs: DataFrame = None, text_col: str = "text",
                      num_hashes: int = 16, rows_per_band: int = 4,
                      shingle_n: int = 3,
                      shingle_df: DataFrame = None,
                      signatures_df: DataFrame = None) -> DataFrame:
    """Candidate near-dup pairs (doc_a < doc_b) sharing >=1 LSH bucket.
    Pass ``signatures_df`` (a minhash_signatures result) to reuse an
    existing signature relation."""
    sigs = (signatures_df if signatures_df is not None
            else minhash_signatures(docs, text_col, num_hashes,
                                    shingle_n, shingle_df=shingle_df))
    bands = lsh_bands(sigs, rows_per_band)
    # the 32-hex band_hash feeds ONLY this equi-join; collapsing it to
    # an 8-byte xxhash64 shrinks the self-join shuffle rows ~3x without
    # changing the bucket equivalence (same pairs modulo 2^-64
    # collisions, which the exact-Jaccard verify absorbs anyway)
    bands = bands.select("doc_id", "band",
                         F.xxhash64("band_hash").alias("bh"))
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "bh")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "bh")
    return (a.join(b, ["band", "bh"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct())


# --------------------------------------------------------- ngram jaccard

def ngram_jaccard_pairs(docs: DataFrame = None, candidates: DataFrame = None,
                        text_col: str = "text", shingle_n: int = 3,
                        threshold: float = 0.8,
                        shingle_df: DataFrame = None) -> DataFrame:
    """Exact Jaccard over shingle SETS. With ``candidates`` (the LSH
    verify step), the candidate pair list CONSTRAINS the join upstream:
    shingles attach to the pair list per side, so the cost is
    O(candidates x shingles-per-doc) — never the full shingle
    self-join. Without candidates, all pairs (test scale only).
    Returns (doc_a, doc_b, jaccard >= threshold rows)."""
    # internal builds collapse the shingle string to an 8-byte xxhash64
    # key right after the explode (the lsh_verified_pairs discipline):
    # every downstream exchange/join carries (doc_id, int64) rows, and
    # set cardinalities are unchanged modulo 2^-64 collisions, which
    # the oracle comparison would expose if one ever occurred.
    sh = (shingle_df if shingle_df is not None
          else shingle_rows(docs, text_col, shingle_n)
          .select("doc_id", F.xxhash64("shingle").alias("shingle"))
          .distinct())
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))

    if candidates is not None:
        cand = candidates.select("doc_a", "doc_b")
        a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        b = sh.select(F.col("doc_id").alias("_b_doc"),
                      F.col("shingle").alias("_b_shingle"))
        inter = (cand.join(a, "doc_a")
                 .join(b, (F.col("doc_b") == F.col("_b_doc"))
                       & (F.col("shingle") == F.col("_b_shingle")))
                 .groupBy("doc_a", "doc_b")
                 .agg(F.count("*").alias("n_inter")))
    else:
        a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
        inter = (a.join(b, "shingle")
                 .filter(F.col("doc_a") < F.col("doc_b"))
                 .groupBy("doc_a", "doc_b")
                 .agg(F.count("*").alias("n_inter")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_shingles").alias("n_b"))
    return (inter.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("jaccard",
                        F.col("n_inter")
                        / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard"))


def lsh_verified_pairs(docs: DataFrame, text_col: str = "text",
                       num_hashes: int = 16, rows_per_band: int = 4,
                       shingle_n: int = 3,
                       threshold: float = 0.8) -> DataFrame:
    """The production dedup composition: MinHash-LSH candidates ->
    exact Jaccard verify constrained by the candidate list.

    Shuffle posture (reworked after the round-4 string-key audit):

    * the SIGNATURE stage never shuffles shingles at all — it explodes
      straight off the corpus scan and partial-aggregates element-wise
      mins map-side (see minhash_signatures), so its exchange is
      num_docs x num_hashes partial rows;
    * the VERIFY stage's set algebra runs on 8-byte ``xxhash64``
      shingle keys: the distinct table and both verify-join
      shuffles carry (doc_id, int64) rows instead of ~3-token strings
      (~3-5x smaller rows through every exchange). Jaccard over hashed
      sets equals Jaccard over string sets modulo 2^-64 collisions; the
      DuckDB oracle stays on string shingles, so the driver's hash
      check would expose a collision if one ever occurred in data.

    The two stages each scan the (column-pruned) corpus once.  At
    100 TB a second narrow scan of source parquet is cheaper than
    caching a corpus-sized string-shingle table just to share one
    scan."""
    sh = (shingle_rows(docs, text_col, shingle_n)
          .select("doc_id", F.xxhash64("shingle").alias("shingle"))
          .distinct())
    cands = minhash_lsh_pairs(docs=docs, text_col=text_col,
                              num_hashes=num_hashes,
                              rows_per_band=rows_per_band,
                              shingle_n=shingle_n)
    return ngram_jaccard_pairs(candidates=cands, threshold=threshold,
                               shingle_df=sh)


# -------------------------------------------------------------- simhash

def simhash_sketches(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit simhash per doc, vectorized in a pandas UDF (the
    per-bit ±1 vote sum is a numpy matmul, not 64 SQL aggregations)."""
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def simhash(texts: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np
        import pandas as pd
        import re
        out = []
        for text in texts:
            toks = [t for t in re.split(r"[^a-z0-9]+", (text or "").lower())
                    if t]
            if not toks:
                out.append(0)
                continue
            hs = np.frombuffer(
                b"".join(hashlib.md5(t.encode()).digest()[:8] for t in toks),
                dtype=np.uint64)
            bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & 1
                    ).astype(np.int32)
            votes = (2 * bits - 1).sum(axis=0)
            sketch = np.uint64(0)
            for i in np.nonzero(votes > 0)[0]:
                sketch |= np.uint64(1) << np.uint64(i)
            out.append(int(sketch.astype(np.int64)))
        return pd.Series(out)

    return docs.select("doc_id", simhash(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3,
                       text_col: str = "text") -> DataFrame:
    """Near-dup pairs with Hamming distance <= k over the 64-bit
    simhash, via the band-rotation (pigeonhole) trick: split the sketch
    into 4 x 16-bit chunks — any pair within Hamming<=3 shares at least
    one IDENTICAL chunk, so candidates come from an equi-join on
    (chunk_idx, chunk) and the exact distance check (bit_count of xor)
    runs only inside those buckets. At 10^12 docs only (doc_id,
    chunk_idx, chunk) rows shuffle — never text. Requires
    max_hamming < 4 (pigeonhole over 4 chunks)."""
    if not 0 <= max_hamming <= 3:
        raise ValueError("band-rotation over 4 chunks covers Hamming<=3")
    sk = simhash_sketches(docs, text_col)
    chunks = sk.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*[
            # logical right shift: cast through unsigned-style masking
            (F.expr(f"shiftrightunsigned(simhash, {16 * i})")
             .bitwiseAND(F.lit(0xFFFF))).alias(f"c{i}")
            for i in range(4)
        ])).alias("chunk_idx", "chunk"))
    a = chunks.select(F.col("doc_id").alias("doc_a"),
                      F.col("simhash").alias("sim_a"),
                      "chunk_idx", "chunk")
    b = chunks.select(F.col("doc_id").alias("doc_b"),
                      F.col("simhash").alias("sim_b"),
                      "chunk_idx", "chunk")
    return (a.join(b, ["chunk_idx", "chunk"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b",
                    F.bit_count(F.expr("sim_a ^ sim_b")).alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct())


# ---------------------------------------------------- embedding near-dup

def embedding_cosine_pairs(embeddings: DataFrame, threshold: float = 0.95,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           dim: int | None = None) -> DataFrame:
    """Near-dup pairs by cosine over an array<float> column. Exact
    all-pairs (self-join) — the verify step after LSH bucketing at
    scale (see similarity.lsh_bucket_candidates).  Norms precompute
    per row before the pair join; with ``dim`` known the dot unrolls
    into codegen'd arithmetic (bitwise-identical fold — see
    similarity._dot)."""
    from bern2_spark.dataprep.similarity import _dot, _norm
    a = (embeddings.select(F.col(id_col).alias("id_a"),
                           F.col(vec_col).alias("vec_a"))
         .withColumn("nrm_a", _norm(F.col("vec_a"), dim)))
    b = (embeddings.select(F.col(id_col).alias("id_b"),
                           F.col(vec_col).alias("vec_b"))
         .withColumn("nrm_b", _norm(F.col("vec_b"), dim)))
    return (a.join(b, F.col("id_a") < F.col("id_b"))
            .withColumn("cosine",
                        _dot(F.col("vec_a"), F.col("vec_b"), dim)
                        / (F.col("nrm_a") * F.col("nrm_b")))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


# ---------------------------------------------------- paragraph dedup

def paragraph_dedup(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    sep: str = "\n\n") -> DataFrame:
    """Corpus-wide exact paragraph deduplication (the sub-document
    granularity of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): every paragraph whose exact text already
    occurred earlier in the corpus — corpus order = (doc_id, position)
    — is dropped; the first occurrence survives. Returns one row per
    input doc: (id, text rebuilt from surviving paragraphs, n_kept,
    n_dropped). A doc made entirely of seen paragraphs rebuilds to ''.

    Scale shape: the winner election groupBy shuffles only
    (16B md5, id, pos) rows with map-side combine — paragraph TEXT is
    never a shuffle key. Text moves twice: once keyed on its md5 for
    the keep-join (sort-merge, co-partitioned with the winner table)
    and once keyed on doc id for the rebuild — both unavoidable for a
    corpus-wide dedup that must re-emit documents."""
    import re
    paras = (docs
             .select(id_col,
                     F.posexplode(F.split(F.col(text_col),
                                          re.escape(sep)))
                     .alias("pos", "para"))
             .filter(F.trim("para") != "")
             .withColumn("_h", F.md5("para")))
    winners = (paras.groupBy("_h")
               .agg(F.min(F.struct(id_col, "pos")).alias("_w")))
    kept = (paras.join(winners, "_h")
            .filter(F.struct(id_col, "pos") == F.col("_w")))
    rebuilt = (kept.groupBy(id_col)
               .agg(F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("pos", "para"))),
                            lambda s: s["para"]),
                        sep).alias("_text"),
                    F.count("*").alias("n_kept")))
    totals = paras.groupBy(id_col).agg(F.count("*").alias("_n_tot"))
    return (docs.select(id_col)
            .join(rebuilt, id_col, "left")
            .join(totals, id_col, "left")
            .select(id_col,
                    F.coalesce("_text", F.lit("")).alias(text_col),
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    (F.coalesce("_n_tot", F.lit(0))
                     - F.coalesce("n_kept", F.lit(0))).alias("n_dropped")))


# ------------------------------------------------- prefix-filter join

def prefix_filter_jaccard_pairs(docs: DataFrame, threshold: float = 0.6,
                                text_col: str = "text",
                                token_fn=None) -> DataFrame:
    """EXACT-threshold Jaccard similarity join via prefix filtering
    (Chaudhuri et al. ICDE 2006 SSJoin; Bayardo et al. WWW 2007
    AllPairs) — the deterministic complement to the MinHash/LSH family:
    no false negatives, every pair with word-set Jaccard >= threshold
    is returned, guaranteed by the prefix lemma rather than by banding
    probability.

    Tokens are globally ordered rarest-first by (frequency, token);
    each doc exposes only its first ``n - ceil(t*n) + 1`` tokens as
    join keys. Any qualifying pair must share >= ceil(t*n) tokens, so
    it cannot avoid both prefixes — equality with the naive all-pairs
    oracle is the theorem, and the driver checks it.

    Scale shape: the candidate join runs on PREFIX tokens only — by
    construction the rarest tokens a doc has — so the hub-token
    blowup that makes a naive token self-join skew-explode (a stopword
    shared by 10^9 docs -> 10^18 pairs) never enters the plan: frequent
    tokens sort to the END of each doc's order and fall out of the
    prefix. The size filter (t*|A| <= |B| <= |A|/t, necessary for
    J >= t) prunes candidates before the distinct; the verify join
    counts intersections only for surviving candidate pairs."""
    t = float(threshold)
    token_fn = token_fn or norm_tokens  # shingles(...) for documents:
    # word sets on template-generated corpora are near-universally
    # similar (94k pairs >= 0.6 at sf0.01); 3-gram shingle sets keep
    # word order and match the ngram_jaccard baseline's semantics
    #
    # xxhash64 the tokens BEFORE the first distinct: every downstream
    # exchange (distinct, freq groupBy, freq join, per-doc collect,
    # candidate self-join, verify join) then carries 8-byte keys
    # instead of ~30-byte shingle strings — the dedup_lsh_verified
    # lesson (16.6 s -> measured below at sf0.1). The prefix lemma
    # holds for ANY consistent total order, so ordering by (freq,
    # hash) instead of (freq, string) changes candidates, never the
    # result; set sizes/intersections are unchanged absent an
    # intra-pair xxhash64 collision (~n^2/2^64), and the driver's
    # string-based all-pairs oracle checks exactly that.
    toks = (docs.select("doc_id",
                        F.explode(F.transform(token_fn(F.col(text_col)),
                                              lambda x: F.xxhash64(x)))
                        .alias("tok"))
            .distinct())
    freq = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    per_doc = (toks.join(freq, "tok")
               .groupBy("doc_id")
               .agg(F.sort_array(F.collect_list(F.struct("cnt", "tok")))
                    .alias("arr")))
    n = F.size("arr")
    p = n - F.ceil(F.lit(t) * n).cast("int") + F.lit(1)
    pref = (per_doc
            .select("doc_id", n.alias("n"),
                    F.explode(F.slice("arr", F.lit(1), p)).alias("e"))
            .select("doc_id", "n", F.col("e.tok").alias("tok")))
    a, b = pref.alias("a"), pref.alias("b")
    cand = (a.join(b, "tok")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .filter((F.col("b.n") * F.lit(t) <= F.col("a.n"))
                    & (F.col("a.n") * F.lit(t) <= F.col("b.n")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("a.n").alias("n_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.col("b.n").alias("n_b"))
            .distinct())
    ta = toks.select(F.col("doc_id").alias("doc_a"), "tok")
    tb = toks.select(F.col("doc_id").alias("doc_b"), "tok")
    inter = (cand.join(ta, "doc_a").join(tb, ["doc_b", "tok"])
             .groupBy("doc_a", "doc_b", "n_a", "n_b")
             .agg(F.count("*").alias("n_inter")))
    jac = (F.col("n_inter").cast("double")
           / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
    return (inter.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= t)
            .select("doc_a", "doc_b", "jaccard"))


def containment_pairs(docs: DataFrame = None,
                      candidates: DataFrame = None,
                      text_col: str = "text", shingle_n: int = 3,
                      threshold: float = 0.8,
                      shingle_df: DataFrame = None) -> DataFrame:
    """Asymmetric Broder CONTAINMENT over shingle sets (Broder 1997
    distinguishes resemblance — our Jaccard family — from containment
    C(A,B) = |S(A) ∩ S(B)| / |S(A)|): finds documents SUBSUMED by
    another (a fragment, a quoted excerpt, an aggregation member),
    which symmetric Jaccard misses because the union is dominated by
    the larger doc.  The curation use: drop contained fragments
    instead of treating them as unique documents.

    Same plan family as ngram_jaccard_pairs: with ``candidates`` the
    pair list constrains the join upstream (the LSH-verify posture);
    without, the shingle self-join is all-pairs — test scale only.
    Both directions are evaluated (containment is not symmetric); the
    ratio divides two exact integers so both engines round
    identically.  Returns ``(doc_a, doc_b, containment)`` =
    containment of doc_a IN doc_b, >= threshold, doc_a != doc_b."""
    # same 8-byte xxhash64 shingle-key discipline as lsh_verified_pairs
    # / ngram_jaccard_pairs: internal builds never shuffle shingle
    # strings; set sizes/intersections are unchanged mod 2^-64
    # collisions (the oracle hash would expose one).
    sh = (shingle_df if shingle_df is not None
          else shingle_rows(docs, text_col, shingle_n)
          .select("doc_id", F.xxhash64("shingle").alias("shingle"))
          .distinct())
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    if candidates is not None:
        cand = candidates.select("doc_a", "doc_b")
        a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        b = sh.select(F.col("doc_id").alias("_b_doc"),
                      F.col("shingle").alias("_b_shingle"))
        inter = (cand.join(a, "doc_a")
                 .join(b, (F.col("doc_b") == F.col("_b_doc"))
                       & (F.col("shingle") == F.col("_b_shingle")))
                 .groupBy("doc_a", "doc_b")
                 .agg(F.count("*").alias("n_inter")))
    else:
        # n_inter is symmetric: count each unordered pair once (half
        # the aggregation/shuffle rows of the both-directions join),
        # then emit BOTH directions from the single aggregated row via
        # an in-row explode — a DataFrame-level union of two copies of
        # the aggregate would re-execute the whole (132M-row at sf1.0)
        # pair aggregation once per branch, since only exchanges get
        # runtime reuse, not the post-exchange aggregate.  Identical
        # rows to aggregating both directions.
        a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
        half = (a.join(b, "shingle")
                .filter(F.col("doc_a") < F.col("doc_b"))
                .groupBy("doc_a", "doc_b")
                .agg(F.count("*").alias("n_inter")))
        sa = sizes.select(F.col("doc_id").alias("doc_a"),
                          F.col("n_shingles").alias("_sa"))
        sb = sizes.select(F.col("doc_id").alias("doc_b"),
                          F.col("n_shingles").alias("_sb"))
        both = (half.join(sa, "doc_a").join(sb, "doc_b")
                .select(F.explode(F.array(
                    F.struct(F.col("doc_a").alias("x"),
                             F.col("doc_b").alias("y"),
                             (F.col("n_inter") / F.col("_sa"))
                             .alias("c")),
                    F.struct(F.col("doc_b").alias("x"),
                             F.col("doc_a").alias("y"),
                             (F.col("n_inter") / F.col("_sb"))
                             .alias("c")))).alias("_p")))
        return (both
                .filter(F.col("_p.c") >= threshold)
                .select(F.col("_p.x").alias("doc_a"),
                        F.col("_p.y").alias("doc_b"),
                        F.col("_p.c").alias("containment")))
    na = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_shingles").alias("_na"))
    return (inter.join(na, "doc_a")
            .withColumn("containment",
                        F.col("n_inter") / F.col("_na"))
            .filter(F.col("containment") >= threshold)
            .select("doc_a", "doc_b", "containment"))


def minhash_calibration(docs: DataFrame, text_col: str = "text",
                        num_hashes: int = 16, rows_per_band: int = 4,
                        shingle_n: int = 3, round_to: int = 6
                        ) -> DataFrame:
    """Estimator-calibration report for the MinHash pipeline: for every
    LSH candidate pair, the SKETCH-estimated Jaccard (fraction of
    agreeing signature slots) next to the EXACT shingle-set Jaccard
    and their absolute error — the measurement that justifies (or
    indicts) a chosen (num_hashes, rows_per_band) operating point
    before a 100-TB dedup run commits to it.  E[est] = J and
    Var = J(1-J)/k, so at k=16 errors up to ~0.12 are expected; the
    report makes that visible per pair instead of leaving the sketch
    quality an article of faith.

    Scale shape: strictly the union of two existing plans — the
    banded candidate join (only 8-byte band keys shuffle) and the
    candidate-constrained exact-Jaccard verify (cost O(candidates ×
    shingles/doc), never the all-pairs shingle self-join) — plus one
    broadcast-sized signature attach per pair side and a zip_with
    slot comparison that never leaves the row.

    Output: (doc_a, doc_b, est_jaccard, jaccard, abs_err)."""
    # the exact lsh_verified_pairs shuffle posture: the signature
    # stage explodes straight off the scan (its only exchange is the
    # map-side-combined element-wise min) and the verify stage's set
    # algebra runs on an 8-byte xxhash64 distinct table
    sigs = minhash_signatures(docs, text_col, num_hashes, shingle_n)
    sh = (shingle_rows(docs, text_col, shingle_n)
          .select("doc_id", F.xxhash64("shingle").alias("shingle"))
          .distinct())
    cands = minhash_lsh_pairs(rows_per_band=rows_per_band,
                              signatures_df=sigs)
    est = (cands
           .join(sigs.select(F.col("doc_id").alias("doc_a"),
                             F.col("sig").alias("_sig_a")), "doc_a")
           .join(sigs.select(F.col("doc_id").alias("doc_b"),
                             F.col("sig").alias("_sig_b")), "doc_b")
           .withColumn(
               "est_jaccard",
               F.round(F.size(F.filter(
                   F.zip_with("_sig_a", "_sig_b",
                              lambda x, y: x == y),
                   lambda t: t)) / F.lit(num_hashes), round_to))
           .select("doc_a", "doc_b", "est_jaccard"))
    exact = ngram_jaccard_pairs(candidates=cands, threshold=0.0,
                                shingle_df=sh)
    return (est.join(exact, ["doc_a", "doc_b"])
            .withColumn("jaccard", F.round("jaccard", round_to))
            .withColumn("abs_err",
                        F.round(F.abs(F.col("est_jaccard")
                                      - F.col("jaccard")), round_to)))


def dedup_funnel(docs: DataFrame, text_col: str = "text",
                 threshold: float = 0.5, round_to: int = 6) -> DataFrame:
    """Stage-by-stage dedup retention report — the documents-table
    twin of the code corpus's curation funnel: raw count → exact-hash
    survivors (min doc_id per md5 keeps the first copy) → near-dup
    survivors (LSH candidates verified at exact Jaccard >=
    ``threshold``; the larger id of each verified pair drops) — the
    one-page artifact a dedup run publishes so downstream consumers
    know what fraction of the corpus each stage cost.

    Scale shape: strictly composed from the production plans (md5
    groupBy; the hashed-shingle LSH verify), each stage reduced to
    a 1-row count and cross-joined against the 1-row raw total — the
    report itself never shuffles anything new.

    Output: (stage_idx, stage, n_docs, n_removed, retention)."""
    txt = F.col(text_col)
    raw = docs.agg(F.count("*").cast("long").alias("n_docs"))
    keep_exact = (docs
                  .withColumn("_h", F.md5(txt))
                  .withColumn("_rk", F.row_number().over(
                      Window.partitionBy("_h").orderBy("doc_id")))
                  .filter(F.col("_rk") == 1).drop("_h", "_rk"))
    exact_n = keep_exact.agg(F.count("*").cast("long").alias("n_docs"))
    pairs = lsh_verified_pairs(keep_exact, text_col=text_col,
                               threshold=threshold)
    near_drop = (pairs.select(F.col("doc_b").alias("doc_id"))
                 .distinct()
                 .agg(F.count("*").cast("long").alias("n_drop")))
    near_n = (exact_n.crossJoin(F.broadcast(near_drop))
              .select((F.col("n_docs") - F.col("n_drop"))
                      .alias("n_docs")))

    def stage(idx, name, df):
        return df.select(F.lit(idx).alias("stage_idx"),
                         F.lit(name).alias("stage"),
                         F.col("n_docs"))

    out = (stage(0, "raw", raw)
           .unionByName(stage(1, "exact_dedup", exact_n))
           .unionByName(stage(2, "near_dedup", near_n)))
    total = raw.select(F.col("n_docs").alias("_total"))
    return (out.crossJoin(F.broadcast(total))
            .select("stage_idx", "stage", "n_docs",
                    (F.col("_total") - F.col("n_docs")).cast("long")
                    .alias("n_removed"),
                    F.round(F.col("n_docs") / F.col("_total"), round_to)
                    .alias("retention")))


def threshold_curve(docs: DataFrame, text_col: str = "text",
                    thresholds=(0.5, 0.7, 0.9),
                    num_hashes: int = 16, rows_per_band: int = 4
                    ) -> DataFrame:
    """Near-dup threshold-tuning curve: how many verified pairs (and
    docs-to-drop) survive at each candidate Jaccard threshold, from
    ONE LSH + exact-verify pass — the artifact that picks the dedup
    operating point BEFORE a 100-TB run commits to it (sweeping by
    re-running the pipeline per threshold would pay the candidate
    join T times; this pays it once and buckets).

    Scale shape: exactly the lsh_verified plan with threshold 0 (all
    candidate pairs scored), then a |thresholds|-row explode of each
    scored pair into the thresholds it clears and one map-side
    aggregate; the curve adds nothing corpus-proportional.

    Output: (threshold, n_pairs, n_docs_dropped) — docs-dropped under
    the drop-larger-id policy, i.e. distinct doc_b count."""
    scored = lsh_verified_pairs(docs, text_col=text_col,
                                num_hashes=num_hashes,
                                rows_per_band=rows_per_band,
                                threshold=0.0)
    th = F.array(*[F.lit(float(t)) for t in thresholds])
    hit = (scored.select(
        "doc_b", F.explode(F.filter(
            th, lambda t: F.col("jaccard") >= t)).alias("threshold")))
    return (hit.groupBy("threshold")
            .agg(F.count("*").cast("long").alias("n_pairs"),
                 F.countDistinct("doc_b").cast("long")
                 .alias("n_docs_dropped")))
