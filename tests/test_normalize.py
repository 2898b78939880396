"""Sieve normalization tests against pure-Python transcriptions of the
reference normalizers' observable behavior."""

import pytest
from pyspark.sql import functions as F

from bern2_spark import schemas
from bern2_spark.operators.normalize import normalize_mentions


LEX = [
    ("drug", "MESH:C1", "Aspirin-Like Compound"),
    ("drug", "MESH:C2", "beta blocker"),
    ("species", "960600", "Homo sapiens"),
    ("species", "1009000", "Mus musculus"),
    ("cell_line", "CVCL_1", "HeLa"),
    ("cell_type", "CL_7", "T cell"),
    ("disease", "MESH:D1", "Alpha Syndrome"),
    ("disease", "MESH:D2", "beta-osis"),
    ("disease", "MESH:D3", "Type 2 Gammaopathy"),
    # two names sharing the biosyn key 'delta fever' (level isolation)
    ("disease", "MESH:D5", "delta fever"),
    ("disease", "MESH:D4", "Delta-Fever"),
    ("gene", "7157", "p53"),
    ("gene", "1956-2", "egfr"),
]


def mk_mentions(spark, rows):
    """rows: (doc_id, ent_type, mention[, normalized_name])"""
    full = []
    for i, r in enumerate(rows):
        nn = r[3] if len(r) > 3 else None
        full.append((r[0], i, r[1], 0, len(r[2]), r[2], 0.9,
                     "SNP" if r[1] == "mutation" else None, nn))
    return spark.createDataFrame(full, schemas.MENTIONS)


CASES = [
    # (ent_type, mention, expected_cui)
    ("drug", "aspirin like-compound", "MESH:C1"),   # tmChem key match
    ("drug", "ASPIRINLIKECOMPOUND", "MESH:C1"),
    ("drug", "unknown drug", "CUI-less"),
    ("species", "Homo sapiens", "NCBI:txid9606"),   # taxid//100 + prefix
    ("species", "homo sapiens", "CUI-less"),        # raw keys stay cased
    ("species", "HOMO SAPIENS", "CUI-less"),        # upper not in dict
    ("cell_line", "HeLa", "CVCL_1"),
    # 2nd pass probes lower(mention) against ORIGINAL-case dict keys
    # (species_normalizer.py:20-21): 'hela' is not a dict key -> miss
    ("cell_line", "hela", "CUI-less"),
    ("cell_type", "T cell", "CL_7"),
    ("disease", "Alpha Syndrome", "MESH:D1"),
    ("disease", "alpha syndrome", "MESH:D1"),
    ("disease", "ALPHA, SYNDROME!", "MESH:D1"),     # biosyn level
    # the sieve's levels share one lookup table but stay apart: the
    # exact level's D5 beats the biosyn level's min(cui) D4, and a
    # surface that misses the exact level resolves at biosyn to D4
    ("disease", "delta fever", "MESH:D5"),
    ("disease", "DELTA FEVER!", "MESH:D4"),
    # J3 stemmed level (Sieve stemming/partial): plural & inflected
    # surfaces resolve when every stricter level misses
    ("disease", "Alpha Syndromes", "MESH:D1"),
    ("disease", "alpha, syndromes!", "MESH:D1"),
    ("disease", "beta-osises", "MESH:D2"),          # sibilant es-strip
    ("disease", "alpha syndromesque", "CUI-less"),  # no over-stemming
    # J3 subject/object conversion (Sieve level 4): 'syndrome of
    # [the] alpha' swaps to 'alpha syndrome'; composes with stemming
    # ('syndromes of the alphas' -> stem -> swap); swap is the LAST
    # level and never overrides a stricter match
    ("disease", "Syndrome of the alpha", "MESH:D1"),
    ("disease", "syndromes of alphas", "MESH:D1"),
    ("disease", "syndrome of the gamma", "CUI-less"),
    # J3 numbers-replacement (Sieve level): roman/spelled numbers
    # normalize to digits; composes with stemming (plural forms)
    ("disease", "type II Gammaopathy", "MESH:D3"),
    ("disease", "Type two gammaopathies", "MESH:D3"),
    # bare roman 'v' deliberately not substituted (ambiguous token)
    ("disease", "type v gammaopathy", "CUI-less"),
    # num is disease-only, like every non-exact Sieve level
    ("drug", "type two gammaopathy", "CUI-less"),
    # stem level is disease-ONLY (the Sieve jar is the disease
    # normalizer): a plural species surface must NOT resolve via stem
    ("species", "Homo sapienss", "CUI-less"),
    # ...and so is the swap level
    ("species", "sapiens of the Homo", "CUI-less"),
    ("gene", "p53", "EntrezGene:7157"),
    ("gene", "p53 gene", "EntrezGene:7157"),        # ' gene' suffix strip
    ("gene", "EGFR", "EntrezGene:1956"),            # '-' truncation
    ("gene", "mystery", "CUI-less"),
]


def test_sieve_cases(spark):
    m = mk_mentions(spark, [("d", t, s) for t, s, _ in CASES])
    lex = spark.createDataFrame(LEX, schemas.LEXICON)
    out = normalize_mentions(m, lex).collect()
    got = {(r.ent_type, r.mention): r.cui for r in out}
    for t, s, want in CASES:
        assert got[(t, s)] == want, (t, s, got[(t, s)])
    assert all(r.is_neural_normalized is False for r in out)


def test_normalized_schema_no_leak(spark):
    """Guard: normalize_mentions must emit EXACTLY schemas.NORMALIZED —
    a sieve level that joins a cui_<level> column and forgets to drop
    it breaks unionByName downstream (the round-3 cui_num regression)."""
    m = mk_mentions(spark, [("d", "disease", "alpha syndrome")])
    lex = spark.createDataFrame(LEX, schemas.LEXICON)
    out = normalize_mentions(m, lex)
    want = [f.name for f in schemas.NORMALIZED.fields]
    assert sorted(out.columns) == sorted(want), out.columns
    assert len(out.columns) == len(want)


def test_j3_num_level_resolves_rows(spark):
    """The numbers-replacement level must have real green rows in the
    driver query (a level with no exercising data is unverified):
    'type ii stream' / 'type two streams' -> 'type 2 stream' -> D700."""
    from bern2_spark.queries import QUERIES
    out = QUERIES["j3_disease_sieve"](spark, "/root/testdata/sf0.001")
    hits = (out.filter(F.col("cui") == "MESH:D700")
               .select("word").distinct().collect())
    words = {r.word for r in hits}
    assert any(w.startswith("type ii ") for w in words), words
    assert any(w.startswith("type two ") for w in words), words


def test_mutation_passthrough(spark):
    m = mk_mentions(spark, [
        ("d", "mutation", "rs1", "rs1"),
        ("d", "mutation", "p.V600E", "p|SUB|V|600|E;alt|X"),
    ])
    lex = spark.createDataFrame(LEX, schemas.LEXICON)
    got = {r.mention: r.cui for r in normalize_mentions(m, lex).collect()}
    assert got["rs1"] == "rs1"
    assert got["p.V600E"] == "p|SUB|V|600|E"  # first ';' alternative (P12)


def test_broadcast_join_plan(spark):
    m = mk_mentions(spark, [("d", "drug", "x")])
    lex = spark.createDataFrame(LEX, schemas.LEXICON)
    plan = normalize_mentions(m, lex)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_gene_taxon_context_changes_cui(spark):
    """J4 taxon context (VERDICT r1 #10): the same surface resolves to a
    different Entrez id under a non-human doc context; human is the
    fallback when the context taxon has no entry."""
    from bern2_spark.operators.normalize import gene_taxon_lookup

    mentions = spark.createDataFrame(
        [("dh", "tp53"), ("dm", "tp53"), ("dm", "brca1"), ("dm", "nope")],
        "doc_id string, mention string")
    gene_taxa = spark.createDataFrame(
        [("9606", "tp53", "7157"), ("10090", "tp53", "22059"),
         ("9606", "brca1", "672")],
        "taxid string, name string, cui string")
    ctx = spark.createDataFrame(
        [("dh", 9606), ("dm", 10090)], "doc_id string, context_taxid long")
    out = {(r.doc_id, r.mention): r.gene_cui
           for r in gene_taxon_lookup(mentions, gene_taxa, ctx).collect()}
    assert out[("dh", "tp53")] == "7157"     # human context
    assert out[("dm", "tp53")] == "22059"    # mouse context wins
    assert out[("dm", "brca1")] == "672"     # human fallback
    assert out[("dm", "nope")] is None


def test_normalize_mentions_with_gene_taxa(spark):
    from bern2_spark.operators.normalize import normalize_mentions

    mentions = spark.createDataFrame(
        [("d1", 1, "gene", 0, 4, "tp53", 0.9, None, None)],
        "doc_id string, mention_id long, ent_type string, start int, "
        "end int, mention string, prob double, mutation_type string, "
        "normalized_name string")
    lexicon = spark.createDataFrame(
        [("drug", "MESH:C1", "aspirin")],
        "ent_type string, cui string, name string")
    gene_taxa = spark.createDataFrame(
        [("10090", "tp53", "22059-1")], "taxid string, name string, cui string")
    ctx = spark.createDataFrame([("d1", 10090)],
                                "doc_id string, context_taxid long")
    out = normalize_mentions(mentions, lexicon, gene_taxa=gene_taxa,
                             gene_context=ctx).collect()
    # '-'-truncation (P14) still applies to the taxon-resolved id
    assert out[0].cui == "EntrezGene:22059"
