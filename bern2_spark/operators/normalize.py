"""Stage 4 — rule-based normalization sieve. Operators P11-P17, J1-J4
of SURVEY §2.2/§2.3.

Every reference "normalizer" is an in-RAM dict probe
(normalizers/*.py); here all of them become ONE key-prepped lookup
table, built by one aggregation and broadcast once, whose keys carry
their sieve level and entity type. Each level is a **broadcast hash
join** against it, cascaded in sieve priority and resolved with one
``coalesce`` (J2/J3's multi-pass sieve as cascaded left joins). The
mentions fact table is never shuffled, and every probe after the first
reads the table's broadcast as a ReusedExchange.

Key preparations (applied identically to both sides, like the
reference):
* tmChem key (P16): lowercase, delete whitespace+punctuation
  (normalizers/chemical_normalizer.py:31-39) — drug lexicon key.
* exact / lowercase keys (J2): species / cell_line / cell_type
  (normalizers/species_normalizer.py:15-25 and clones).
* disease sieve (J3): the reference's sieve jar is closed-source; we
  implement the published Sieve level cascade (D'Souza & Ng 2015)
  exact -> lowercase -> BioSyn-basic (P17: lower, punct->space,
  squeeze; normalizers/neural_normalizer.py:103-108) -> stemmed
  (plural-suffix strip per token, lowest priority).
* gene (J4): trailing ' gene' strip (P13, bern2/normalizer.py:341-361),
  exact -> lower lookup, then Entrez prefixing with '-'-truncation
  (P14, bern2/normalizer.py:396-401).
* species ids: dict stores taxid*100; output 'NCBI:txid{id//100}'
  (P15, bern2/normalizer.py:292-302).
* mutations: tmVar already normalized them; cui = first ';'-alternative
  of normalizedName (P12, bern2/normalizer.py:124-127).

Divergence note: the reference's dicts resolve duplicate keys by
last-write-wins file order; a distributed build has no line order, so
we take min(cui) per key — deterministic and order-free.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bern2_spark.schemas import CUI_LESS

TWO_PASS_TYPES = ["species", "cell_line", "cell_type", "disease", "gene"]


# ------------------------------------------------------------ key preps

def tmchem_key(col: Column) -> Column:
    """P16 — lowercase + remove all whitespace and punctuation."""
    return F.regexp_replace(F.lower(col), r"[\s\p{Punct}]", "")


def biosyn_key(col: Column) -> Column:
    """P17 — lowercase, punctuation->space, squeeze, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"[\s\p{Punct}]+", " "))


def stem_key(col: Column) -> Column:
    """J3 stemmed level — biosyn key with English plural suffixes
    stripped per token, the Sieve algorithm's stemming/partial level
    (D'Souza & Ng 2015, the published algorithm the reference's
    closed-source disease_normalizer jar implements; launch
    scripts/run_bern2.sh:33-40): 'cancers of the lung' and
    'cancer of the lungs' both key to 'cancer of the lung'.

    Rules (guarded so short words are untouched):
    * ...ies -> ...y        (bodies -> body)
    * sibilant + es -> stem (viruses -> virus, patches -> patch)
    * trailing s (not ss)   (cancers -> cancer)
    All pure regexp_replace with capture groups (no lookbehind — the
    patterns run verbatim under RE2 in the DuckDB oracle; only the
    backreference dialect differs, $1 vs \\1)."""
    k = biosyn_key(col)
    k = F.regexp_replace(k, r"([a-z]{2})ies\b", "$1y")
    k = F.regexp_replace(k, r"([a-z](?:[sxz]|ch|sh))es\b", "$1")
    k = F.regexp_replace(k, r"([a-z]{2}[a-rt-z])s\b", "$1")
    return k


# Sieve numbers-replacement vocabulary: roman numerals and spelled
# numbers normalize to digits ('type II'/'type two' -> 'type 2').
# Word-boundary anchored, so replacement order cannot cascade
# ('\bii\b' never matches inside 'iii').
NUM_SUBS = [("ii", "2"), ("iii", "3"), ("iv", "4"), ("vi", "6"),
            ("vii", "7"), ("viii", "8"), ("ix", "9"),
            ("one", "1"), ("two", "2"), ("three", "3"), ("four", "4"),
            ("five", "5"), ("six", "6"), ("seven", "7"), ("eight", "8"),
            ("nine", "9"), ("ten", "10")]


def num_key(col: Column) -> Column:
    """J3 numbers-replacement level (Sieve, D'Souza & Ng 2015):
    'type II diabetes', 'type two diabetes', and 'type 2 diabetes'
    key identically. Composes on the stem key so inflection and
    number style normalize together. Bare 'i', 'v', 'x' are
    deliberately NOT replaced (too ambiguous as tokens: 'hepatitis
    X', factor V)."""
    k = stem_key(col)
    for word, digit in NUM_SUBS:
        k = F.regexp_replace(k, r"\b" + word + r"\b", digit)
    return k


def swap_key(col: Column) -> Column:
    """J3 subject/object-conversion level — Sieve level (D'Souza &
    Ng 2015): 'disorder of the lung' and 'lung disorder' key
    identically. Built ON the number-normalized stem key (so
    'disorders of the type two lungs' also matches) by swapping
    around the FIRST ' of [the] ' — the non-greedy (.+?) pins that
    choice identically in Java regex and RE2, so the DuckDB oracle
    runs the same pattern. Names without a preposition pass through
    unchanged, which is what makes one lookup table serve both
    directions."""
    return F.regexp_replace(num_key(col),
                            r"^(.+?) of (?:the )?(.+)$", "$2 $1")


def strip_gene_suffix(col: Column) -> Column:
    """P13 — drop a trailing ' gene' (case-insensitive) when the surface
    is longer than the suffix (bern2/normalizer.py:341-361)."""
    return F.when(
        (F.length(col) > 5) & F.lower(col).endswith(" gene"),
        col.substr(F.lit(1), F.length(col) - 5)
    ).otherwise(col)


# ------------------------------------------------------- lexicon tables

# A LUT key is "<level><SEP><ent_type><SEP><level key>": the level and
# type live inside the one join key, so every probe joins the same
# broadcast (a separate level predicate would be pushed into the table
# side as a per-probe filter, one broadcast per level again). concat is
# null when the level key is, and a null key probes nothing.
_SEP = "\x1f"


def _lut_key(level: str, key: Column) -> Column:
    return F.concat(F.lit(level + _SEP), F.col("ent_type"), F.lit(_SEP),
                    key)


def build_lookup_tables(lexicon: DataFrame) -> DataFrame:
    """-> one small DF (key, cui) ready to broadcast: every sieve
    level's ``_lut_key`` of every lexicon row the level covers, min(cui)
    per key."""
    # NB: the reference's 2nd pass probes lower(mention) against the
    # ORIGINAL-case dict keys (species_normalizer.py:20-21) — the
    # lexicon side is NOT lowercased, so both passes probe the exact
    # level.
    name, et = F.col("name"), F.col("ent_type")
    dis = et == "disease"
    keys = F.array(
        _lut_key("exact", F.when(et.isin(TWO_PASS_TYPES), name)),
        _lut_key("tmchem", F.when(et == "drug", tmchem_key(name))),
        _lut_key("biosyn", F.when(dis, biosyn_key(name))),
        _lut_key("stem", F.when(dis, stem_key(name))),
        _lut_key("num", F.when(dis, num_key(name))),
        _lut_key("swap", F.when(dis, swap_key(name))))
    return (lexicon.select(F.explode(keys).alias("key"), "cui")
            .filter(F.col("key").isNotNull())
            .groupBy("key").agg(F.min("cui").alias("cui")))


# ----------------------------------------------- gene taxon context (J4)

HUMAN_TAXID = 9606  # the reference's hardcoded jar argument
                    # (bern2/normalizer.py:375: '9606',  # human)


def gene_taxon_lookup(mentions: DataFrame, gene_taxa: DataFrame,
                      context: Optional[DataFrame] = None,
                      surface_col: str = "mention") -> DataFrame:
    """J4 with taxon context: probe the (taxid, surface) gene dictionary
    with the doc's context taxon first, then the human fallback —
    approximating GNormPlus's taxon-ranked gene resolution (the jar is
    closed-source; the reference passes taxid 9606,
    bern2/normalizer.py:369-377). Adds ``gene_cui`` (raw Entrez id or
    null). ``gene_taxa``: (taxid, name, cui) lexicon — broadcast-safe;
    ``context``: (doc_id, context_taxid) — corpus-proportional, joined
    WITHOUT a broadcast hint."""
    key = F.lower(strip_gene_suffix(F.col(surface_col)))
    g = (gene_taxa.select(F.col("taxid").cast("long").alias("taxid"),
                          F.lower("name").alias("key"), "cui")
         .groupBy("taxid", "key").agg(F.min("cui").alias("cui")))

    if context is not None:
        m = mentions.join(context, "doc_id", "left").withColumn(
            "_ctx", F.coalesce("context_taxid", F.lit(HUMAN_TAXID)))
        m = m.drop("context_taxid")
    else:
        m = mentions.withColumn("_ctx", F.lit(HUMAN_TAXID))

    ctx_t = g.select(F.col("taxid").alias("_ct_tax"),
                     F.col("key").alias("_ct_key"),
                     F.col("cui").alias("_cui_ctx"))
    hum_t = (g.filter(F.col("taxid") == HUMAN_TAXID)
             .select(F.col("key").alias("_h_key"),
                     F.col("cui").alias("_cui_hum")))
    m = (m.join(F.broadcast(ctx_t),
                (key == F.col("_ct_key")) & (F.col("_ctx") == F.col("_ct_tax")),
                "left")
         .drop("_ct_key", "_ct_tax"))
    m = (m.join(F.broadcast(hum_t), key == F.col("_h_key"), "left")
         .drop("_h_key"))
    return (m.withColumn("gene_cui", F.coalesce("_cui_ctx", "_cui_hum"))
            .drop("_cui_ctx", "_cui_hum", "_ctx"))


# ---------------------------------------------------------- the sieve

def normalize_mentions(mentions: DataFrame, lexicon: DataFrame,
                       gene_taxa: Optional[DataFrame] = None,
                       gene_context: Optional[DataFrame] = None,
                       lut: Optional[DataFrame] = None) -> DataFrame:
    """MENTIONS -> NORMALIZED (adds cui, is_neural_normalized=false):
    ``sieve_cui`` on the mention surface.

    ``lut``: the pre-built ``build_lookup_tables`` table — pass it when
    the same lexicon is probed again in one plan (the abbreviation
    retry does) so both probes share one LUT plan and its broadcast
    is built once, then read as ReusedExchanges."""
    if lut is None:
        lut = build_lookup_tables(lexicon)
    return (sieve_cui(mentions, lut, "mention", "cui", gene_taxa,
                      gene_context)
            .withColumn("is_neural_normalized", F.lit(False)))


def sieve_cui(m: DataFrame, lut: DataFrame, surface: str, out: str,
              gene_taxa: Optional[DataFrame] = None,
              gene_context: Optional[DataFrame] = None) -> DataFrame:
    """Adds column ``out``: the sieve's cui for the ``surface`` column.

    Seven broadcast left joins against the one ``lut`` (exact, lower,
    tmchem, biosyn, stemmed, numbers, subject/object-swap — the Sieve
    cascade in priority order) + one priority coalesce; type-specific id post-processing; mutations
    pass through with their tmVar-normalized name as cui. When
    ``gene_taxa`` (taxid, name, cui) is given, gene surfaces first probe
    the taxon-aware dictionary under the doc's ``gene_context`` (default
    human 9606, like the reference's jar argument). A null surface
    yields null keys, which probe nothing."""
    # P13 applied to the gene join key only (surface column unchanged)
    m = m.withColumn(
        "k_surface",
        F.when(F.col("ent_type") == "gene",
               strip_gene_suffix(F.col(surface)))
         .otherwise(F.col(surface)))

    def lkp(df, level, suffix, key_col):
        t = lut.select(F.col("key").alias("_key"),
                       F.col("cui").alias(f"cui_{suffix}"))
        return (df.join(F.broadcast(t),
                        _lut_key(level, key_col) == F.col("_key"),
                        "left")
                .drop("_key"))

    # Hot-path key computation (measured: the naive form tripled the
    # flagship's wall time at sf0.1). Two rules:
    # * keys of a TYPE-RESTRICTED level are computed only for rows
    #   of that type (NULL keys can never join — the LUT key's ent_type
    #   would have to match anyway), so non-disease mentions skip the
    #   whole stem/num/swap chain and non-drugs skip tmchem;
    # * each key BUILDS ON the previous one instead of recomputing it
    #   (biosyn -> stem -> num -> swap), and the num level replaces 17
    #   chained regexp_replace passes with one split + per-token map
    #   lookup — equivalent on these keys because biosyn_key collapsed
    #   every separator to a single space, so \b word-boundary matches
    #   coincide with whole space-tokens, and no NUM_SUBS replacement
    #   can create a later match (digits never form letter words).
    is_dis = F.col("ent_type") == "disease"
    num_map = F.create_map(*[F.lit(x) for w, d in NUM_SUBS
                             for x in (w, d)])
    m = m.withColumn("k_bio", F.when(is_dis,
                                     biosyn_key(F.col("k_surface"))))
    m = (m.withColumn(
            "k_stem",
            F.regexp_replace(F.regexp_replace(F.regexp_replace(
                F.col("k_bio"),
                r"([a-z]{2})ies\b", "$1y"),
                r"([a-z](?:[sxz]|ch|sh))es\b", "$1"),
                r"([a-z]{2}[a-rt-z])s\b", "$1"))
         .withColumn(
            "k_num",
            F.array_join(
                F.transform(F.split(F.col("k_stem"), " "),
                            lambda t: F.coalesce(
                                F.element_at(num_map, t), t)),
                " "))
         .withColumn(
            "k_swap",
            F.regexp_replace(F.col("k_num"),
                             r"^(.+?) of (?:the )?(.+)$", "$2 $1")))
    m = lkp(m, "exact", "exact", F.col("k_surface"))
    m = lkp(m, "exact", "lower", F.lower(F.col("k_surface")))
    m = lkp(m, "tmchem", "tmchem",
            F.when(F.col("ent_type") == "drug",
                   tmchem_key(F.col("k_surface"))))
    m = lkp(m, "biosyn", "biosyn", F.col("k_bio"))
    # J3 stemmed level: disease-only — an inflected surface
    # ('lung cancers') resolves when every stricter level missed
    # (Sieve level ordering)
    m = lkp(m, "stem", "stem", F.col("k_stem"))
    # J3 numbers replacement: 'type II/type two' <-> 'type 2'
    m = lkp(m, "num", "num", F.col("k_num"))
    # J3 subject/object conversion, the lowest-priority level:
    # 'disorder of the lung' <-> 'lung disorder'
    m = lkp(m, "swap", "swap", F.col("k_swap"))

    gene_cols = []
    if gene_taxa is not None:
        m = gene_taxon_lookup(m, gene_taxa, gene_context,
                              surface_col="k_surface")
        m = m.withColumn(
            "_cui_gtax",
            F.when(F.col("ent_type") == "gene", F.col("gene_cui"))
        ).drop("gene_cui")
        gene_cols = ["_cui_gtax"]

    raw_cui = F.coalesce(*gene_cols, "cui_exact", "cui_lower",
                         "cui_tmchem", "cui_biosyn", "cui_stem",
                         "cui_num", "cui_swap")

    cui = (
        F.when(F.col("ent_type") == "mutation",
               F.coalesce(F.element_at(F.split("normalized_name", ";"), 1),
                          F.lit(CUI_LESS)))                      # P12
        .when(raw_cui.isNull(), F.lit(CUI_LESS))
        .when(F.col("ent_type") == "species",                    # P15
              F.concat(F.lit("NCBI:txid"),
                       (raw_cui.cast("long") / 100).cast("long").cast("string")))
        .when(F.col("ent_type") == "gene",                       # P14
              F.concat(F.lit("EntrezGene:"),
                       F.element_at(F.split(raw_cui, "-"), 1)))
        .otherwise(raw_cui))

    return (m.withColumn(out, cui)
             .drop("k_surface", "k_bio", "k_stem", "k_num", "k_swap",
                   "cui_exact", "cui_lower", "cui_tmchem",
                   "cui_biosyn", "cui_stem", "cui_num", "cui_swap",
                   *gene_cols))
