"""W1 overlap resolution vs a pure-Python transcription of the
reference's resolve_overlap step 1 (bern2/bern2.py:451-486)."""

import pytest

from bern2_spark import schemas
from bern2_spark.operators.canonicalize import resolve_overlap
from bern2_spark.schemas import CUI_LESS, ENTITY_TYPE_ORDER
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType, StructField, StructType,
)


def ref_resolve(mentions):
    """mentions: list of dict(ent_type, start, end, cui, prob, mention_id).
    Returns kept mention_ids, per the reference algorithm: group by
    span, stable-sort desc by (has_cui, prob) with insertion order =
    ENTITY_TYPE_ORDER, keep rows matching top-1 (cui, type)."""
    span2 = {}
    order = {t: i for i, t in enumerate(ENTITY_TYPE_ORDER)}
    for m in sorted(mentions, key=lambda m: (order[m["ent_type"]],
                                             m["mention_id"])):
        span2.setdefault((m["doc_id"], m["start"], m["end"]), []).append(m)
    kept = []
    for span, ms in span2.items():
        ranked = sorted(ms, key=lambda x: (x["cui"] != CUI_LESS, x["prob"]),
                        reverse=True)
        top = ranked[0]
        for m in ms:
            if m["cui"] == top["cui"] and m["ent_type"] == top["ent_type"]:
                kept.append(m["mention_id"])
    return sorted(kept)


def to_df(spark, mentions):
    rows = [(m["doc_id"], m["mention_id"], m["ent_type"], m["start"],
             m["end"], "x", m["prob"], None, None, m["cui"], False)
            for m in mentions]
    return spark.createDataFrame(rows, schemas.NORMALIZED)


def test_w1_matches_reference_semantics(spark):
    mentions = [
        # same span, CUI beats higher prob
        dict(doc_id="d", mention_id=1, ent_type="disease", start=0, end=5,
             cui="MESH:D1", prob=0.6),
        dict(doc_id="d", mention_id=2, ent_type="gene", start=0, end=5,
             cui=CUI_LESS, prob=0.99),
        # same span, both CUI-less: prob decides
        dict(doc_id="d", mention_id=3, ent_type="drug", start=10, end=15,
             cui=CUI_LESS, prob=0.7),
        dict(doc_id="d", mention_id=4, ent_type="species", start=10, end=15,
             cui=CUI_LESS, prob=0.9),
        # tie on (cui, prob): entity-type insertion order decides —
        # disease (rank 0) beats gene (rank 2)
        dict(doc_id="d", mention_id=5, ent_type="gene", start=20, end=25,
             cui="G:1", prob=0.8),
        dict(doc_id="d", mention_id=6, ent_type="disease", start=20, end=25,
             cui="G:1", prob=0.8),
        # duplicate (cui, type) rows on the winning key: both kept
        dict(doc_id="d", mention_id=7, ent_type="drug", start=30, end=35,
             cui="M:1", prob=0.8),
        dict(doc_id="d", mention_id=8, ent_type="drug", start=30, end=35,
             cui="M:1", prob=0.8),
        # lone mention survives
        dict(doc_id="d", mention_id=9, ent_type="RNA", start=40, end=45,
             cui=CUI_LESS, prob=0.5),
        # same span in another doc: independent
        dict(doc_id="e", mention_id=10, ent_type="gene", start=0, end=5,
             cui=CUI_LESS, prob=0.1),
    ]
    got = sorted(r.mention_id
                 for r in resolve_overlap(to_df(spark, mentions)).collect())
    assert got == ref_resolve(mentions) == [1, 4, 6, 7, 8, 9, 10]


def test_w1_keeps_duplicate_winner_rows(spark):
    # both rows equal to top-1 (cui, type) survive — join-back filter,
    # not row_number()==1
    mentions = [
        dict(doc_id="d", mention_id=1, ent_type="drug", start=0, end=3,
             cui="M:1", prob=0.8),
        dict(doc_id="d", mention_id=2, ent_type="drug", start=0, end=3,
             cui="M:1", prob=0.7),
        dict(doc_id="d", mention_id=3, ent_type="gene", start=0, end=3,
             cui=CUI_LESS, prob=0.9),
    ]
    got = sorted(r.mention_id
                 for r in resolve_overlap(to_df(spark, mentions)).collect())
    assert got == ref_resolve(mentions) == [1, 2]


def test_pubannotation_document_shape(synthetic_result):
    """PubAnnotation nested output (bern2/convert.py:263-335): one row
    per doc, annotations array sorted by (span.begin, obj), JSON output
    drops the null mutation fields on non-mutation annotations."""
    import json

    from bern2_spark.operators.postprocess import to_pubannotation

    res = synthetic_result
    pa = to_pubannotation(res.annotations, res.docs,
                          timestamp="Thu Jan 01 00:00:00 +0000 1970")
    rows = pa.collect()
    assert len(rows) == res.annotations.select("doc_id").distinct().count()
    r = max(rows, key=lambda r: len(r.annotations))
    assert r.project == "BERN" and r.sourcedb == ""
    spans = [(a.span.begin, a.obj) for a in r.annotations]
    assert spans == sorted(spans)
    # span/mention invariant carried into the nested shape
    for a in r.annotations:
        assert r.text[a.span.begin:a.span.end] == a.mention
    # JSON: non-mutation annotations drop the null mutation keys
    j = json.loads(pa.filter(F.col("sourceid") == r.sourceid)
                   .toJSON().first())
    non_mut = [a for a in j["annotations"] if a["obj"] != "mutation"]
    assert non_mut and all("mutationType" not in a for a in non_mut)
    mut = [a for a in j["annotations"] if a["obj"] == "mutation"]
    for a in mut:
        assert "mutationType" in a and "normalizedName" in a


def test_standardize_prefix_equivalent_to_regex_formulation(spark):
    """The hot-path standardize_prefix (guarded substring ops) must be
    EXACTLY the reference regexp formulation on every string shape:
    branch guards, first-underscore/first-colon splits, empty-rest and
    non-alpha-head fallthroughs, txid-anywhere, multi-separator."""
    import itertools
    import random

    from bern2_spark.operators.postprocess import (
        _standardize_prefix_regex, standardize_prefix,
    )

    cases = [
        "CUI-less", "NCBI:txid9606", "NCBI:txidX", "xNCBI:txid5",
        "CVCL_J260", "CVCL_J260_X", "OMIM:123", "MESH:D1:x", "MESH:",
        ":x", "_X", "AB_", "A1B_C", "EntrezGene:7157", "CL_0000084",
        "plain", "", "a_b", "NCBI:txid", "OMIM_1", "mim:1",
    ]
    rng = random.Random(7)
    alphabet = "AzM9:_-|,."
    cases += ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 8)))
              for _ in range(300)]
    df = spark.createDataFrame([(c,) for c in set(cases)], ["cui"])
    got = df.select(
        "cui",
        standardize_prefix(F.col("cui")).alias("fast"),
        _standardize_prefix_regex(F.col("cui")).alias("ref")).collect()
    bad = [(r.cui, r.fast, r.ref) for r in got if r.fast != r.ref]
    assert not bad, bad[:10]


def test_surface_variant_pairs(spark):
    from bern2_spark.operators.canonicalize import surface_variant_pairs
    m = spark.createDataFrame([
        ("disease", "D1", "color"),
        ("disease", "D1", "colour"),
        ("disease", "D1", "colore"),
        ("disease", "D1", "completely different"),
        ("disease", "D2", "color"),   # other entity: never pairs with D1
        ("gene", "G1", "abc"),
        ("gene", "G1", "abd"),
    ], ["ent_type", "cui", "mention"])
    got = {(r.ent_type, r.cui, r.surface_a, r.surface_b): r.edit_dist
           for r in surface_variant_pairs(m).collect()}
    assert got == {
        ("disease", "D1", "color", "colore"): 1,
        ("disease", "D1", "color", "colour"): 1,
        ("disease", "D1", "colore", "colour"): 2,
        ("gene", "G1", "abc", "abd"): 1,
    }


def test_surface_variant_pairs_hub_cap(spark):
    from bern2_spark.operators.canonicalize import surface_variant_pairs
    rows = [("x", "HUB", f"s{i:03d}") for i in range(70)]
    rows += [("x", "OK", "aaa"), ("x", "OK", "aab")]
    m = spark.createDataFrame(rows, ["ent_type", "cui", "mention"])
    out = surface_variant_pairs(m, max_surfaces_per_entity=64).collect()
    # the 70-surface pathology is dropped; the small entity survives
    assert {(r.cui, r.surface_a, r.surface_b) for r in out} == {
        ("OK", "aaa", "aab")}


def test_alias_table_groups_and_singletons(spark):
    from bern2_spark.dataprep.cluster import connected_components
    from bern2_spark.operators.canonicalize import surface_variant_pairs
    from pyspark.sql import Window, functions as F
    s = spark.createDataFrame([
        ("disease", "D1", "color"),
        ("disease", "D1", "colour"),
        ("disease", "D1", "colore"),
        ("disease", "D1", "unrelated surface"),
        ("gene", "G1", "color"),   # same surface, other entity
    ], ["ent_type", "cui", "surface"])
    sep = "\x1f"
    pairs = surface_variant_pairs(s, surface_col="surface")
    pn = pairs.select(
        F.concat_ws(sep, "ent_type", "cui", "surface_a").alias("doc_a"),
        F.concat_ws(sep, "ent_type", "cui", "surface_b").alias("doc_b"))
    cc = connected_components(pn)
    n = s.withColumn("nid",
                     F.concat_ws(sep, "ent_type", "cui", "surface"))
    grp = (n.join(cc, n.nid == cc.doc_id, "left")
           .select("ent_type", "cui", "surface",
                   F.coalesce("component", "nid").alias("component")))
    w = Window.partitionBy("component")
    out = {(r.ent_type, r.cui, r.surface): (r.canonical_alias, r.n_aliases)
           for r in grp.select(
               "ent_type", "cui", "surface",
               F.min("surface").over(w).alias("canonical_alias"),
               F.count("*").over(w).alias("n_aliases")).collect()}
    # the three variants form one group canonicalized to 'color'
    for surf in ("color", "colour", "colore"):
        assert out[("disease", "D1", surf)] == ("color", 3)
    # the unrelated surface is its own singleton group
    assert out[("disease", "D1", "unrelated surface")] == (
        "unrelated surface", 1)
    # identical surface under another entity does NOT join D1's group
    assert out[("gene", "G1", "color")] == ("color", 1)
