"""Schwartz–Hearst abbreviation resolution tests (operator M4 + the
disease sieve's abbreviation-expanded level)."""

import pytest
from pyspark.sql import functions as F

from bern2_spark import schemas
from bern2_spark.operators.abbrev import (
    abbreviation_table, apply_abbreviation_level, expand_cuiless_mentions,
    extract_abbreviations, find_best_long_form,
)
from bern2_spark.operators.normalize import normalize_mentions


@pytest.mark.parametrize("short,long,want", [
    ("DNA", "deoxyribonucleic acid", "deoxyribonucleic acid"),
    ("HSP", "heat shock protein", "heat shock protein"),
    ("PCR", "we ran polymerase chain reaction", "polymerase chain reaction"),
    ("ER", "estrogen receptor", "estrogen receptor"),
    ("XYZ", "completely unrelated words", None),
])
def test_find_best_long_form(short, long, want):
    assert find_best_long_form(short, long) == want


def test_extract_abbreviations_canonical():
    text = ("Patients with heat shock protein (HSP) elevation and "
            "polymerase chain reaction (PCR) tests showed results.")
    got = dict(extract_abbreviations(text))
    assert got["HSP"] == "heat shock protein"
    assert got["PCR"] == "polymerase chain reaction"


def test_extract_abbreviations_rejects_junk():
    text = "A trivial remark (see above) and numbers (123) only."
    got = extract_abbreviations(text)
    assert all(sf not in ("see above", "123") for sf, _ in got)


def test_abbreviation_table_and_sieve_level(spark):
    docs = spark.createDataFrame(
        [("d1", "Heat shock protein (HSP) was high. HSP binds stuff."),
         ("d2", "No abbreviations here at all.")],
        ["doc_id", "text"])
    ab = abbreviation_table(docs)
    rows = {(r.doc_id, r.short_form): r.long_form for r in ab.collect()}
    assert rows[("d1", "HSP")] == "Heat shock protein"

    lexicon = spark.createDataFrame(
        [("disease", "MESH:D77", "heat shock protein")], schemas.LEXICON)
    normalized = spark.createDataFrame(
        [("d1", 1, "disease", 36, 39, "HSP", 0.9, None, None, "CUI-less",
          False),
         ("d2", 2, "disease", 0, 2, "No", 0.5, None, None, "CUI-less",
          False)],
        schemas.NORMALIZED)
    out = {r.mention_id: r.cui
           for r in apply_abbreviation_level(normalized, lexicon,
                                             ab).collect()}
    # HSP -> long form 'Heat shock protein' -> biosyn sieve level hits
    assert out[1] == "MESH:D77"
    assert out[2] == "CUI-less"


def _join_back_retry(normalized, lexicon, abbrevs):
    """The retry-subset-plus-join-back formulation of the abbreviation
    level: the CUI-less short-form mentions are filtered out, re-run
    through normalize_mentions with their long form as the surface, and
    joined back by mention_id. The in-row retry must agree with it."""
    cuiless = F.col("cui") == schemas.CUI_LESS
    exp = expand_cuiless_mentions(normalized, abbrevs)
    retry_in = (exp.filter(cuiless & F.col("long_form").isNotNull())
                .select("doc_id", "mention_id", "ent_type", "start", "end",
                        F.col("long_form").alias("mention"), "prob",
                        "mutation_type", "normalized_name"))
    retried = (normalize_mentions(retry_in, lexicon)
               .select(F.col("mention_id").alias("_r_id"),
                       F.col("cui").alias("_r_cui")))
    out = (exp.drop("long_form")
           .join(retried, F.col("mention_id") == F.col("_r_id"), "left")
           .drop("_r_id"))
    return out.withColumn("cui", F.when(
        cuiless & F.col("_r_cui").isNotNull()
        & (F.col("_r_cui") != schemas.CUI_LESS), F.col("_r_cui")
    ).otherwise(F.col("cui"))).drop("_r_cui")


def test_in_row_retry_matches_join_back(spark):
    docs = spark.createDataFrame([
        ("d1", "Patients with Heat-shock proteins (HSP) were enrolled. "
               "HSP rose."),
        ("d2", "The tumor protein gene (TPG) was mutated. TPG was high."),
        ("d3", "Cells from Homo sapiens (HS) were used. HS cells grew."),
        ("d4", "Heat shock protein (HSP) was high. HSP binds."),
        ("d5", "The xenon yellow zinc (XYZ) test failed. XYZ was low."),
        ("d6", "An alpha beta (AB) and an acid base (AB) mix. AB rose."),
        ("d7", "No abbreviations here. HSP is undefined here.")],
        ["doc_id", "text"])
    ab = abbreviation_table(docs)
    table = {(r.doc_id, r.short_form): r.long_form for r in ab.collect()}
    assert table[("d1", "HSP")] == "Heat-shock proteins"
    assert table[("d2", "TPG")] == "tumor protein gene"
    assert table[("d3", "HS")] == "Homo sapiens"
    assert table[("d6", "AB")] == "acid base"   # min(long_form) wins

    lexicon = spark.createDataFrame(
        [("disease", "MESH:D77", "heat shock protein"),
         ("gene", "7157-2", "tumor protein"),
         ("species", "960600", "Homo sapiens"),
         ("disease", "MESH:D1", "acid base"),
         ("disease", "MESH:D2", "alpha beta")], schemas.LEXICON)
    cl = schemas.CUI_LESS
    normalized = spark.createDataFrame([
        # biosyn/exact miss, stem level hits 'heat shock protein'
        ("d1", 1, "disease", 55, 58, "HSP", 0.9, None, None, cl, False),
        # ' gene' stripped, EntrezGene: prefix with '-' truncation
        ("d2", 2, "gene", 42, 45, "TPG", 0.9, None, None, cl, False),
        # species id -> NCBI:txid<id // 100>
        ("d3", 3, "species", 40, 42, "HS", 0.9, None, None, cl, False),
        # already linked: keeps its cui although HSP is a short form
        ("d4", 4, "disease", 35, 38, "HSP", 0.9, None, None, "MESH:D99",
         False),
        # the retry misses: stays CUI-less
        ("d5", 5, "disease", 42, 45, "XYZ", 0.9, None, None, cl, False),
        # the doc defines AB twice: the min long form is retried
        ("d6", 6, "disease", 46, 48, "AB", 0.9, None, None, cl, False),
        # the doc defines no short form: nothing to retry
        ("d7", 7, "disease", 24, 27, "HSP", 0.9, None, None, cl, False)],
        schemas.NORMALIZED)

    got = apply_abbreviation_level(normalized, lexicon, ab)
    assert got.columns == normalized.columns
    assert {r.mention_id: r.cui for r in got.collect()} == {
        1: "MESH:D77", 2: "EntrezGene:7157", 3: "NCBI:txid9606",
        4: "MESH:D99", 5: cl, 6: "MESH:D1", 7: cl}
    want = _join_back_retry(normalized, lexicon, ab)
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, want.collect()))
