"""KG profiling metrics over the triple store."""

from __future__ import annotations


def predicate_functionality(triples, subj_col="subj", pred_col="pred",
                            obj_col="obj", round_to=6):
    """Per-predicate functionality profile (PARIS, Suchanek et al.
    2011): fun(p) = #distinct subjects / #distinct (subject, object)
    pairs — 1.0 means each subject has exactly one object (the
    predicate behaves like a key), and the inverse functionality is
    the same ratio from the object side.  Alignment and
    link-prediction systems weight evidence by exactly these ratios,
    and they double as KG quality profiling (a 'has_variant' predicate
    suddenly reading functional signals an extraction bug).

    One map-side-combined groupBy(pred) with distinct-count
    aggregates; output is |predicates| rows.  Exact integer counts
    feed the rounded ratios identically in both engines."""
    from pyspark.sql import functions as F
    g = (triples.groupBy(F.col(pred_col).alias("pred"))
         .agg(F.count("*").cast("long").alias("n_triples"),
              F.countDistinct(subj_col).cast("long").alias("n_subjects"),
              F.countDistinct(obj_col).cast("long").alias("n_objects"),
              F.countDistinct(subj_col, obj_col).cast("long")
              .alias("n_pairs")))
    return g.select(
        "pred", "n_triples", "n_subjects", "n_objects", "n_pairs",
        F.round(F.col("n_subjects") / F.col("n_pairs"), round_to)
        .alias("functionality"),
        F.round(F.col("n_objects") / F.col("n_pairs"), round_to)
        .alias("inv_functionality"))
