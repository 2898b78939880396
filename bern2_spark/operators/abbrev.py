"""Abbreviation resolution — operator M4's abbreviation pass and the
disease sieve's abbreviation-expanded level (SURVEY §2.3 J3, §2.9 M4).

The reference gets abbreviation handling from GNormPlus's embedded
Schwartz–Hearst resolver (closed-source jar, launched at
scripts/run_bern2.sh:18-20). We implement the published
Schwartz–Hearst algorithm (Schwartz & Hearst, PSB 2003: candidate
"long form (SF)" pairs validated by scanning the long form right-to-
left for the short form's characters) as a pandas UDF producing a
per-document (short_form -> long_form) table, which then becomes one
more sieve level: a CUI-less mention whose surface is a known short
form retries the lexicon with its long form, in the same row.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bern2_spark.schemas import CUI_LESS

_PAREN = re.compile(r"\(([^()]{1,60})\)")


def find_best_long_form(short: str, long: str) -> Optional[str]:
    """Schwartz–Hearst core: scan right-to-left, matching each char of
    the short form (case-insensitive); the first char must match at a
    word start. Returns the minimal valid long-form suffix or None."""
    s = short.lower()
    l = long.lower()
    s_i = len(s) - 1
    l_i = len(l) - 1
    while s_i >= 0:
        c = s[s_i]
        if not c.isalnum():
            s_i -= 1
            continue
        while l_i >= 0 and (l[l_i] != c or
                            (s_i == 0 and l_i > 0 and l[l_i - 1].isalnum())):
            l_i -= 1
        if l_i < 0:
            return None
        l_i -= 1
        s_i -= 1
    start = long.rfind(" ", 0, l_i + 2) + 1
    return long[start:] if long[start:] else None


def _valid_short(sf: str, lf: str) -> bool:
    """Validity conditions from the paper: 2-10 chars, at most 2 words,
    at least one letter, first char alphanumeric, shorter than the long
    form, and not a substring-of-one-word situation."""
    return (2 <= len(sf) <= 10
            and len(sf.split()) <= 2
            and any(ch.isalpha() for ch in sf)
            and sf[0].isalnum()
            and len(lf.split()) >= 1
            and len(lf) > len(sf))


def extract_abbreviations(text: str) -> List[Tuple[str, str]]:
    """(short_form, long_form) pairs for one document. Handles the
    canonical 'long form (SF)' shape; the inverted 'SF (long form)'
    shape is recovered when the parenthetical is longer than the
    preceding token."""
    out = []
    for m in _PAREN.finditer(text):
        inner = m.group(1).strip()
        before = text[:m.start()].rstrip()
        if not inner or not before:
            continue
        # candidate long form: up to min(|SF|+5, |SF|*2) words before '('
        words = before.split()
        if not words:
            continue
        if len(inner.split()) <= 2 and len(inner) <= 10:
            sf, lf_window = inner, " ".join(
                words[-min(len(inner) + 5, len(inner) * 2):])
        else:
            # inverted: single word before '(' abbreviates the inner text
            sf, lf_window = words[-1], inner
        if not _valid_short(sf, lf_window):
            continue
        lf = find_best_long_form(sf, lf_window)
        if lf and len(lf) > len(sf) and sf.lower() not in (lf.lower(),):
            out.append((sf, lf))
    return out


ABBREV_SCHEMA = "doc_id string, short_form string, long_form string"


def abbreviation_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, short_form, long_form) via mapInPandas.

    Docs without a '(' cannot define an abbreviation, so a JVM-side
    substring filter prunes them BEFORE the Python stage — on
    paren-free corpora the Arrow round trip never happens."""
    import pandas as pd

    src = (docs.select("doc_id", text_col)
           .filter(F.col(text_col).contains("(")))

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = {"doc_id": [], "short_form": [], "long_form": []}
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                for sf, lf in extract_abbreviations(text or ""):
                    rows["doc_id"].append(doc_id)
                    rows["short_form"].append(sf)
                    rows["long_form"].append(lf)
            yield pd.DataFrame(rows)

    # a doc defining the same short form twice resolves by min(long_form):
    # deterministic across partitionings (dropDuplicates keeps an
    # arbitrary row), consistent with the repo's min()-based tie-breaks
    return (src.mapInPandas(gen, schema=ABBREV_SCHEMA)
            .groupBy("doc_id", "short_form")
            .agg(F.min("long_form").alias("long_form")))


def expand_cuiless_mentions(normalized: DataFrame,
                            abbrevs: DataFrame) -> DataFrame:
    """Sieve level: CUI-less mentions whose surface is a document-local
    short form get a ``long_form`` column to retry the lexicon with.

    The abbreviation table grows LINEARLY with the corpus (one row per
    document-local definition), so it must NOT carry a broadcast hint —
    at 100 TB it exceeds any broadcast threshold. Both sides are keyed
    by doc_id; an equi-join on it lets AQE pick broadcast when the
    table happens to be tiny and a co-partitioned shuffle otherwise."""
    a = abbrevs.select(F.col("doc_id").alias("_a_doc"),
                       F.col("short_form").alias("_a_sf"), "long_form")
    return (normalized.join(
                a,
                (F.col("doc_id") == F.col("_a_doc"))
                & (F.col("mention") == F.col("_a_sf"))
                & (F.col("cui") == CUI_LESS),
                "left")
            .drop("_a_doc", "_a_sf"))


def apply_abbreviation_level(normalized: DataFrame, lexicon_df: DataFrame,
                             abbrevs: DataFrame,
                             track_persisted: list | None = None,
                             lut: DataFrame | None = None) -> DataFrame:
    """Full abbreviation sieve level: a CUI-less mention whose surface
    is a document-local short form retries the sieve with its LONG
    form, keeps its original surface/span, and adopts the long form's
    CUI on a hit.

    The retry runs in-row — ``sieve_cui`` on the ``long_form`` column
    ``expand_cuiless_mentions`` attached, with the main pass's ``lut``
    plan, so its broadcasts are ReusedExchanges. Only rows whose
    document defines the short form carry a long form (a data-induced
    predicate); the rest have null keys and probe nothing.

    The abbreviation table is persisted (and appended to
    ``track_persisted``) so its mapInPandas pass runs once even when
    the caller reads the table again."""
    from bern2_spark.operators.normalize import (
        build_lookup_tables, sieve_cui,
    )

    abbrevs = abbrevs.persist()
    if track_persisted is not None:
        track_persisted.append(abbrevs)
    exp = expand_cuiless_mentions(normalized, abbrevs)
    retried = sieve_cui(exp, lut or build_lookup_tables(lexicon_df),
                        "long_form", "_r_cui")
    new_cui = F.when(
        (F.col("cui") == CUI_LESS) & F.col("long_form").isNotNull()
        & (F.col("_r_cui") != CUI_LESS), F.col("_r_cui")
    ).otherwise(F.col("cui"))
    return retried.withColumn("cui", new_cui).drop("long_form", "_r_cui")
