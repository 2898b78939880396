"""Stage 6a — canonicalization. Operators W1 (overlap resolution) and
U1 (mutation union) of SURVEY §2.5/§2.7.

W1 reproduces resolve_overlap step 1 (bern2/bern2.py:451-486): group
all typed mentions sharing an exact (start, end) span, rank by
(has-CUI desc, prob desc), and keep every mention whose (cui, ent_type)
equals the top-1's. The reference's Python stable sort breaks ties by
dict insertion order — i.e. the fixed entity-type order of
multi_ner/main.py:523 — so our window adds that type rank plus
mention_id as a final deterministic key.

Mutations bypass W1 entirely and are unioned in afterwards (U1,
bern2/bern2.py:488-489), exactly like the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bern2_spark.schemas import CUI_LESS, ENTITY_TYPE_ORDER


def _type_rank():
    expr = F.lit(len(ENTITY_TYPE_ORDER))
    m = F.create_map(*[x for i, t in enumerate(ENTITY_TYPE_ORDER)
                       for x in (F.lit(t), F.lit(i))])
    return F.coalesce(m[F.col("ent_type")], expr)


def resolve_overlap(normalized: DataFrame) -> DataFrame:
    """W1 — one window over (doc_id, start, end): compute the top-1
    (cui, ent_type) per exact span, keep rows matching it. Single
    shuffle on (doc_id, start, end) prefix doc_id."""
    w = (Window.partitionBy("doc_id", "start", "end")
         .orderBy(F.desc((F.col("cui") != CUI_LESS).cast("int")),
                  F.desc("prob"),
                  _type_rank().asc(),
                  F.asc("mention_id")))
    ranked = (normalized
              .withColumn("top_cui", F.first("cui").over(w))
              .withColumn("top_type", F.first("ent_type").over(w)))
    return (ranked
            .filter((F.col("cui") == F.col("top_cui"))
                    & (F.col("ent_type") == F.col("top_type")))
            .drop("top_cui", "top_type"))


def union_mutations(resolved: DataFrame, mutations_norm: DataFrame) -> DataFrame:
    """U1 — tmVar mentions join the canonical set unconditionally."""
    return resolved.unionByName(mutations_norm)


def entity_catalog(mentions: DataFrame,
                   type_col: str = "ent_type", cui_col: str = "cui",
                   mention_col: str = "mention",
                   doc_col: str = "doc_id") -> DataFrame:
    """Entity-linking canonicalization artifact: one row per linked
    entity (ent_type, cui) with its corpus stats and a canonical
    surface form — the table a KG service publishes as its entity
    index. canonical_surface = the entity's most frequent mention
    text, ties broken lexicographically (deterministic re-runs).

    Two aggregations over the same (type, cui)-keyed shuffle family:
    per-surface counts (then a tiny per-entity top-1 window over
    |distinct surfaces| rows, NOT corpus rows) and per-entity
    mention/doc totals. At 100 TB both combine map-side; the window's
    partitions are per-entity surface lists — bounded by vocabulary,
    not corpus size."""
    keys = [type_col, cui_col]
    per_surface = (mentions
                   .groupBy(*keys, mention_col)
                   .agg(F.count("*").alias("_n")))
    w = Window.partitionBy(*keys).orderBy(
        F.col("_n").desc(), F.col(mention_col).asc())
    canon = (per_surface
             .withColumn("_rk", F.row_number().over(w))
             .filter(F.col("_rk") == 1)
             .select(*keys,
                     F.col(mention_col).alias("canonical_surface")))
    stats = (mentions.groupBy(*keys)
             .agg(F.count("*").alias("n_mentions"),
                  F.countDistinct(doc_col).alias("n_docs")))
    return stats.join(canon, keys)


def surface_variant_pairs(mentions: DataFrame,
                          type_col: str = "ent_type",
                          cui_col: str = "cui",
                          surface_col: str = "mention",
                          max_dist: int = 2,
                          max_surfaces_per_entity: int = 64) -> DataFrame:
    """Spelling-variant pairs among the surface forms of one linked
    entity: distinct surfaces of the same (ent_type, cui) within
    Levenshtein distance ``max_dist`` — the character-level
    entity-resolution signal (typos, singular/plural, hyphenation)
    that the token/hash dedup family cannot see, feeding surface
    canonicalization and alias-table construction.

    Scale shape: the self-join is CO-PARTITIONED on (ent_type, cui) —
    entity identity is the blocking key, so unlike prefix blocking no
    first-character edit is ever missed and nothing approaches n²
    across entities.  Skew is bounded BEFORE the join by the same
    window-count hub cap as coedit_edges (an entity with more than
    ``max_surfaces_per_entity`` distinct surfaces — a lexicon
    pathology — is dropped, keeping per-entity fan-out <= C(cap, 2)).
    A |len(a)−len(b)| <= max_dist guard prunes pairs before the
    O(|a|·|b|) distance evaluates; the distance itself is the JVM
    built-in ``levenshtein`` (identical unit-cost semantics in
    DuckDB), so the output is integer-exact across engines.

    Output: ``(ent_type, cui, surface_a, surface_b, edit_dist)`` with
    ``surface_a < surface_b``."""
    s = (mentions.select(F.col(type_col).alias("ent_type"),
                         F.col(cui_col).alias("cui"),
                         F.col(surface_col).alias("surface"))
         .distinct())
    w = Window.partitionBy("ent_type", "cui")
    s = (s.withColumn("_n", F.count("*").over(w))
         .filter(F.col("_n") <= max_surfaces_per_entity)
         .drop("_n"))
    a = s.select("ent_type", "cui", F.col("surface").alias("surface_a"))
    b = s.select("ent_type", "cui", F.col("surface").alias("surface_b"))
    return (a.join(b, ["ent_type", "cui"])
            .filter(F.col("surface_a") < F.col("surface_b"))
            .filter(F.abs(F.length("surface_a") - F.length("surface_b"))
                    <= max_dist)
            .withColumn("edit_dist",
                        F.levenshtein("surface_a", "surface_b"))
            .filter(F.col("edit_dist") <= max_dist))


def fuzzy_link(unlinked: DataFrame, catalog: DataFrame,
               type_col: str = "ent_type",
               surface_col: str = "surface",
               name_col: str = "name",
               cui_col: str = "cui",
               max_dist: int = 2) -> DataFrame:
    """Blocked fuzzy entity linking: assign each UNLINKED surface the
    catalog entry with the smallest Levenshtein distance (<= max_dist)
    among candidates sharing its entity type — the character-level
    recovery pass for mentions the exact/lower/stem sieve levels
    (operators/normalize.py) leave CUI-less because of typos.  The
    reference's sieve has no fuzzy level at all (normalization misses
    become CUI-less, /root/reference/bern2/bern2.py:570-612); this is
    the engine's extension beyond it.

    Scale shape: NO cross join.  Candidates come from two equi-joins
    on (ent_type, first character) and (ent_type, last character) —
    by pigeonhole an edit budget of 2 can alter both ends only by
    spending everything there, and either block alone already catches
    every single-end typo; the residual miss class (both endpoints
    edited) is documented, not silent.  The catalog is the small side
    by construction (a lexicon, not the corpus) and is broadcast;
    unlinked surfaces never shuffle.  A |len| difference guard prunes
    before the O(|a|.|b|) distance; top-1 per surface is a window over
    the candidate set (keyed by the surface, bounded by block size),
    tie-broken (edit_dist, cui, name) so both engines rank
    identically.

    Output: (ent_type, surface, cui, matched_name, edit_dist) — one
    row per unlinked surface that found a catalog entry in range."""
    q = (unlinked.select(F.col(type_col).alias("ent_type"),
                         F.col(surface_col).alias("surface"))
         .distinct())
    c = (catalog.select(F.col(type_col).alias("ent_type"),
                        F.col(cui_col).alias("cui"),
                        F.col(name_col).alias("matched_name"))
         .distinct())

    def block(side, col):
        # position-tagged keys: a first char only ever meets a first
        # char (and last only last) — the same candidate set as the
        # oracle's (first=first OR last=last) predicate
        first = F.concat(F.lit("f:"),
                         F.lower(F.substring(F.col(col), 1, 1)))
        last = F.concat(F.lit("l:"),
                        F.lower(F.substring(F.col(col), -1, 1)))
        return (side.withColumn("_bk", F.array(first, last))
                .withColumn("_bk", F.explode("_bk")))

    cand = (block(q, "surface")
            .join(F.broadcast(block(c, "matched_name")),
                  ["ent_type", "_bk"])
            .drop("_bk")
            .distinct()
            .filter(F.abs(F.length("surface") - F.length("matched_name"))
                    <= max_dist)
            .withColumn("edit_dist",
                        F.levenshtein("surface", "matched_name"))
            .filter(F.col("edit_dist") <= max_dist))
    w = (Window.partitionBy("ent_type", "surface")
         .orderBy("edit_dist", "cui", "matched_name"))
    return (cand.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1).drop("_rk")
            .select("ent_type", "surface", "cui", "matched_name",
                    F.col("edit_dist").cast("int").alias("edit_dist")))
