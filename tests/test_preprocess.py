"""Stage-1 preprocess parity vs a pure-Python transcription of the
reference's observable behavior (bern2/bern2.py:268-323)."""

import string

import pytest
from hypothesis import given, settings, strategies as st

from bern2_spark.operators.preprocess import NO_ASCII_SENTINEL, preprocess


def ref_preprocess(text: str) -> str:
    """Observable behavior of preprocess_input + the letter guard."""
    for bad in ("\r\n", "\n", "\t", "\xa0", "\x0b", "\x0c"):
        text = text.replace(bad, " ")
    text = text.encode("ascii", "ignore").decode()
    text = " ".join(tk[:50] for tk in text.split(" "))
    if not any(c in string.ascii_letters for c in text):
        return NO_ASCII_SENTINEL
    return text


CASES = [
    "plain text with nothing special",
    "crlf\r\nhere and lf\nand tab\tand nbsp\xa0and vt\x0band ff\x0c.",
    "bare \r carriage return stays",
    "unicode snowman ☃ and acute café stripped",
    "long " + "x" * 80 + " word",
    "1234 5678 !!!",          # no ascii letters -> sentinel
    "",
    "   ",
    "ends with\r\n",
]


@pytest.fixture(scope="module")
def run_pre(spark):
    def _run(texts):
        df = spark.createDataFrame(
            [("r", f"p{i}", "c" * 40, "text", t) for i, t in enumerate(texts)],
            ["repo", "path", "commit", "lang", "content"])
        out = preprocess(df).select("path", "text", "doc_id").collect()
        return {r.path: (r.text, r.doc_id) for r in out}
    return _run


def test_preprocess_cases(run_pre):
    got = run_pre(CASES)
    for i, t in enumerate(CASES):
        assert got[f"p{i}"][0] == ref_preprocess(t), repr(t)


def test_doc_id_is_sha256_of_raw_content(run_pre, spark):
    import hashlib
    got = run_pre(["abc ☃ def"])
    assert got["p0"][1] == hashlib.sha256("abc ☃ def".encode()).hexdigest()


@given(st.text(min_size=0, max_size=200))
@settings(max_examples=30, deadline=None)
def test_preprocess_property(spark, text):
    # keep Spark round-trips cheap: single-row DataFrame per example
    df = spark.createDataFrame([("r", "p", "c", "l", text)],
                               ["repo", "path", "commit", "lang", "content"])
    got = preprocess(df).select("text").first().text
    assert got == ref_preprocess(text)


def test_quarantine_side_output(spark):
    """O5: malformed docs are REPORTED (doc_id, error_code), not just
    silently re-labeled by the P5 sentinel."""
    from bern2_spark.operators.preprocess import (
        ERROR_EMPTY, ERROR_NO_ASCII_LETTERS, ERROR_NULL_CONTENT, quarantine,
    )
    docs = spark.createDataFrame(
        [("d1", "fine text"), ("d2", "123 !!!"), ("d3", "   "),
         ("d4", None)],
        "doc_id string, content string")
    rows = {r.doc_id: r.error_code for r in quarantine(docs).collect()}
    assert rows == {"d2": ERROR_NO_ASCII_LETTERS, "d3": ERROR_EMPTY,
                    "d4": ERROR_NULL_CONTENT}


def test_pipeline_quarantine_wired(synthetic_result):
    codes = {r.error_code for r in synthetic_result.quarantine.collect()}
    # the synthetic corpus plants a digits-only doc and an empty doc
    assert codes == {1, 2}
