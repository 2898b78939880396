"""Snapshot upsert (SCD type 1 + tombstones) for KG tables.

Between full pipeline reruns a KG deployment maintains its triples
table incrementally: an updates batch carries new/changed triples plus
delete tombstones, and the next snapshot is ``MERGE INTO`` semantics —
update rows win over base rows on the merge key, tombstoned keys
disappear.  The reference rebuilds its whole output per request
(server.py caches aside); at 10^12 files a rebuild is not an option,
so the merge IS the maintenance loop.

Spark-first shape: union the two sides with a precedence column and
keep the highest-precedence row per key via one window — exactly the
copy-on-write plan Iceberg/Delta MERGE INTO compiles to when the
update set is not clustered.  One shuffle on the merge key; with both
sides bucketed by the key (``DataFrameWriter.bucketBy``) the exchange
disappears entirely.  Skewed keys are AQE territory — the window
partitions by the full merge key, so only a pathological single-key
firehose concentrates.

Multi-batch catch-up composes by precedence: pass ``updates`` as the
concatenation of batches with ascending ``prec`` values (later batch =
higher precedence); the same single window resolves the full history.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def upsert_snapshot(base: DataFrame, updates: DataFrame,
                    keys: List[str], op_col: str = "op",
                    prec_col: Optional[str] = None) -> DataFrame:
    """Merge ``updates`` into ``base`` on ``keys``.

    ``updates`` rows with ``op_col == 'D'`` are tombstones (the key is
    removed); anything else upserts.  ``prec_col`` (optional, on the
    updates side) orders multiple update batches — higher wins; base
    is always precedence 0.  Returns the merged snapshot with base's
    columns."""
    cols = [c for c in base.columns]
    prec_u = (F.col(prec_col).cast("long") + 1 if prec_col
              else F.lit(1))
    b = base.select(*cols,
                    F.lit("").alias("_op"), F.lit(0).alias("_prec"))
    u = updates.select(*cols,
                       F.col(op_col).alias("_op"),
                       prec_u.alias("_prec"))
    value_cols = [c for c in cols if c not in keys]
    # deterministic tie-break on the value columns: a key duplicated
    # WITHIN one side resolves the same way on every engine/run
    w = Window.partitionBy(*keys).orderBy(
        F.desc("_prec"), *[F.asc(c) for c in value_cols])
    return (b.unionByName(u)
            .withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (F.col("_op") != "D"))
            .select(*cols))


def snapshot_diff(old: DataFrame, new: DataFrame,
                  keys: List[str]) -> DataFrame:
    """The inverse of ``upsert_snapshot``: diff two snapshots into the
    CDC batch that transforms ``old`` into ``new`` — rows with
    ``op`` = 'I' (key only in new), 'U' (key in both, values differ),
    'D' (key only in old; value columns carry the old values so the
    tombstone is self-describing).  Unchanged keys emit nothing.
    ``upsert_snapshot(old, snapshot_diff(old, new), keys)`` == new,
    which the test asserts as the round-trip law.

    One full outer join co-partitioned on the merge key — the same
    single exchange as the upsert; with both snapshots bucketed by
    the key (``DataFrameWriter.bucketBy``) it is exchange-free."""
    value_cols = [c for c in new.columns if c not in keys]
    # presence flags come from JOIN-side tags, not value nullness: a
    # legitimately-NULL value column must not misreport presence
    o = old.select(*keys, *[F.col(c).alias(f"_o_{c}")
                            for c in value_cols],
                   F.lit(True).alias("_in_o"))
    n = new.select(*keys, *[F.col(c).alias(f"_n_{c}")
                            for c in value_cols],
                   F.lit(True).alias("_in_n"))
    j = o.join(n, keys, "full_outer")
    changed = F.lit(False)
    for c in value_cols:
        changed = changed | ~(
            F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}")))
    op = (F.when(F.col("_in_o").isNull(), F.lit("I"))
           .when(F.col("_in_n").isNull(), F.lit("D"))
           .when(changed, F.lit("U")))
    out_vals = [
        F.when(F.col("_in_n").isNotNull(), F.col(f"_n_{c}"))
         .otherwise(F.col(f"_o_{c}")).alias(c)
        for c in value_cols]
    return (j.withColumn("op", op)
            .filter(F.col("op").isNotNull())
            .select(*keys, *out_vals, "op"))


def scd2_history(feed: DataFrame, keys: List[str], ts_col: str = "ts",
                 tiebreak: Optional[List[str]] = None) -> DataFrame:
    """SCD type-2 dimension build: turn a change feed
    ``(keys..., value columns..., ts)`` into validity-interval version
    rows ``(keys..., values..., valid_from, valid_to, is_current)``.

    Consecutive feed rows whose value columns are unchanged collapse
    into one version (run-length collapse — a heartbeat feed that
    re-emits the same attribute every minute still yields one row per
    actual change); ``valid_to`` is the next version's ``valid_from``
    (half-open ``[from, to)`` intervals, NULL ``valid_to`` marks the
    current version).  ``tiebreak`` columns order same-timestamp rows
    within a key deterministically (e.g. an event id); they are NOT
    change-detected and are dropped from the output.  Without a
    tiebreak the value columns themselves break ties.

    Spark-first shape: ONE shuffle on the key, one sort, two stacked
    windows over it — ``lag`` of the value struct finds change points,
    a filter drops the unchanged runs, then ``lead(ts)`` over the
    SURVIVORS closes each interval.  The filter between the windows
    preserves both partitioning and order, so the second window adds
    no exchange and no sort (same stacked-window discipline as
    operators/asof.py:sessionize).  Skew: a single key with 10^9
    changes concentrates one partition — sessions/dimension keys
    rarely do, and the window never materializes the partition (both
    lag and lead are bounded frames).  Null-safe change detection via
    ``eqNullSafe`` on the value struct, so NULL->'x' transitions are
    real versions.  Temp columns are underscore-prefixed like the
    upsert's; inputs with ``_prev_vals``/``_rn`` columns must rename
    first."""
    tb = tiebreak if tiebreak is not None else None
    value_cols = [c for c in feed.columns
                  if c not in keys and c != ts_col
                  and c not in (tb or [])]
    if tb is None:
        tb = value_cols
    order = [F.asc(ts_col)] + [F.asc(c) for c in tb]
    w = Window.partitionBy(*keys).orderBy(*order)
    vals = F.struct(*[F.col(c) for c in value_cols])
    changed = (feed
               .withColumn("_prev_vals", F.lag(vals).over(w))
               .filter(F.col("_prev_vals").isNull()
                       | ~F.col("_prev_vals").eqNullSafe(vals)))
    return (changed
            .withColumn("valid_from", F.col(ts_col))
            .withColumn("valid_to", F.lead(ts_col).over(w))
            .withColumn("is_current", F.col("valid_to").isNull())
            .select(*keys, *value_cols,
                    "valid_from", "valid_to", "is_current"))
