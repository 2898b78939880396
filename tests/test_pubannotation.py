"""PubAnnotation output validated against the reference's own emitted
golden (/root/reference/app/temp/dummy1_20211129.json — the only full
server output committed in the reference repo).

Key-name note: the 2021 golden uses ``logit`` where the reference's
CURRENT converter emits ``prob`` (bern2/convert.py:322); we follow the
current name and the comparison maps logit->prob. The golden's
top-level ``elapse_time`` block is server-added per-request timing
(bern2/bern2.py run metadata deleted by app/__init__.py:74 for some
routes) — the batch equivalent lives in the lineage/metrics tables,
not inside each document, so it is excluded from the shape check."""

import json
import os

import pytest

REF_GOLDEN = "/root/reference/app/temp/dummy1_20211129.json"


@pytest.fixture(scope="module")
def golden():
    if not os.path.exists(REF_GOLDEN):
        pytest.skip("reference repo not available")
    with open(REF_GOLDEN) as f:
        return json.load(f)


def test_reference_golden_roundtrips_through_converter(spark, golden):
    """Feed the reference file's OWN annotations through
    to_pubannotation and require the emitted document to deep-equal the
    golden: same top-level keys (minus elapse_time), same annotation
    dicts (logit->prob), same (begin, obj) array ordering, same span
    nesting, same id arrays."""
    from bern2_spark.operators.postprocess import to_pubannotation

    rows = [(golden["sourceid"], a["obj"], a["span"]["begin"],
             a["span"]["end"], a["mention"], a["id"], a["logit"],
             a["is_neural_normalized"], None, None)
            for a in golden["annotations"]]
    ann = spark.createDataFrame(
        rows,
        "doc_id string, obj string, begin int, end int, mention string, "
        "id array<string>, prob double, is_neural_normalized boolean, "
        "mutationType string, normalizedName string")
    docs = spark.createDataFrame([(golden["sourceid"], golden["text"])],
                                 ["doc_id", "text"])
    out = to_pubannotation(ann, docs, project=golden["project"],
                           timestamp=golden["timestamp"])
    [doc] = [json.loads(s) for s in out.toJSON().collect()]

    assert set(doc.keys()) == set(golden.keys()) - {"elapse_time"}
    assert doc["project"] == golden["project"]
    assert doc["sourcedb"] == golden["sourcedb"] == ""
    assert doc["sourceid"] == golden["sourceid"]
    assert doc["text"] == golden["text"]
    assert doc["timestamp"] == golden["timestamp"]

    def norm(a):
        # logit (2021 name) == prob (current convert.py:322 name)
        return {("prob" if k == "logit" else k): v for k, v in a.items()}

    got = doc["annotations"]
    want = [norm(a) for a in golden["annotations"]]
    # exact per-annotation dict equality INCLUDING array order: the
    # reference's double sort (convert.py:330-335) must be reproduced
    assert got == want


def test_converter_sort_matches_reference_double_sort(spark, golden):
    """Shuffle the golden's annotations before conversion; the output
    must come back in the reference's (span.begin, obj) order — the
    ordering is the converter's job, not the input's."""
    from bern2_spark.operators.postprocess import to_pubannotation

    anns = list(reversed(golden["annotations"]))
    rows = [(golden["sourceid"], a["obj"], a["span"]["begin"],
             a["span"]["end"], a["mention"], a["id"], a["logit"],
             a["is_neural_normalized"], None, None)
            for a in anns]
    ann = spark.createDataFrame(
        rows,
        "doc_id string, obj string, begin int, end int, mention string, "
        "id array<string>, prob double, is_neural_normalized boolean, "
        "mutationType string, normalizedName string")
    docs = spark.createDataFrame([(golden["sourceid"], golden["text"])],
                                 ["doc_id", "text"])
    out = to_pubannotation(ann, docs)
    [doc] = [json.loads(s) for s in out.toJSON().collect()]
    keys = [(a["span"]["begin"], a["obj"]) for a in doc["annotations"]]
    assert keys == sorted(keys)
    ref_keys = [(a["span"]["begin"], a["obj"])
                for a in golden["annotations"]]
    assert keys == ref_keys


def test_per_type_key_sets_match_reference(spark, golden):
    """Every non-mutation annotation carries exactly the reference's
    key set; a mutation annotation additionally carries
    mutationType/normalizedName (convert.py:306-315) and nothing else
    leaks in (nulls vanish in JSON like the reference's per-type
    dicts)."""
    from bern2_spark.operators.postprocess import to_pubannotation

    ref_keys = {tuple(sorted(a.keys())) for a in golden["annotations"]}
    assert ref_keys == {("id", "is_neural_normalized", "logit",
                         "mention", "obj", "span")}

    rows = [
        ("d", "gene", 0, 3, "p53", ["NCBIGene:7157"], 0.9, False,
         None, None),
        ("d", "mutation", 4, 9, "V600E", ["CUI-less"], 1.0, False,
         "ProteinMutation", "p|SUB|V|600|E"),
    ]
    ann = spark.createDataFrame(
        rows,
        "doc_id string, obj string, begin int, end int, mention string, "
        "id array<string>, prob double, is_neural_normalized boolean, "
        "mutationType string, normalizedName string")
    docs = spark.createDataFrame([("d", "p53 V600E")], ["doc_id", "text"])
    out = to_pubannotation(ann, docs)
    [doc] = [json.loads(s) for s in out.toJSON().collect()]
    by_obj = {a["obj"]: a for a in doc["annotations"]}
    assert set(by_obj["gene"].keys()) == {
        "id", "is_neural_normalized", "prob", "mention", "obj", "span"}
    assert set(by_obj["mutation"].keys()) == {
        "id", "is_neural_normalized", "prob", "mention", "obj", "span",
        "mutationType", "normalizedName"}
    assert isinstance(by_obj["gene"]["id"], list)
    assert set(by_obj["gene"]["span"].keys()) == {"begin", "end"}
