"""As-of (latest-prior-event) join — the temporal join Spark lacks.

For every left row, attach the most recent right row of the same key
whose timestamp is <= the left timestamp (event attribution, price
as-of trade, sensor last-reading). Spark has no ASOF JOIN operator;
the naive theta-join (t_r <= t_l) explodes quadratically per key and
a per-key ``applyInPandas`` forfeits the JVM. This implementation is
the union+ordered-window formulation — the exact work a native
merge-based ASOF join does, expressed in DataFrame algebra:

1. tag both sides, union their skinny payloads (key, ts, side,
   struct-payload) — a column-pruned scan each, NO join;
2. one shuffle+sort per key on (ts, side, seq) — identical cost to the
   sort-merge join Spark would run anyway;
3. ``last(right_payload, ignoreNulls=True)`` over rows-unbounded-
   preceding carries the latest right payload forward; left rows then
   read their as-of match from the running value.

Each input row is touched once; the only wide op is the one sort.
Right rows sort BEFORE left rows at equal timestamps (side 0 < 1), so
ties use <= semantics; ``seq_col`` breaks equal-timestamp ties among
right rows deterministically.

Skew: the window partitions per key — a hot key serializes its own
timeline (inherent to as-of semantics: the running value is a chain).
At 100 TB the mitigation is range-bucketing time per hot key and
seeding each bucket with the previous bucket's last right row — the
standard parallel prefix trick; not needed at driver-query scale.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, key_cols: List[str],
              left_ts: str = "ts", right_ts: str = "ts",
              right_cols: Optional[List[str]] = None,
              prefix: str = "asof_",
              tolerance_seconds: Optional[float] = None,
              right_seq: Optional[str] = None) -> DataFrame:
    """Left rows + ``prefix``-named columns of the matched right row
    (NULL when no right row precedes). ``right_cols`` defaults to every
    non-key, non-ts right column. ``right_seq`` names a right column
    that breaks ties among right rows sharing a timestamp (the highest
    wins) — without it, equal-ts right rows tie-break arbitrarily."""
    if right_cols is None:
        right_cols = [c for c in right.columns
                      if c not in key_cols and c != right_ts]
    lpay = [c for c in left.columns
            if c not in key_cols and c != left_ts]
    seq_r = (F.col(right_seq).cast("long") if right_seq is not None
             else F.lit(0).cast("long"))
    l = left.select(
        *key_cols,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(0).cast("long").alias("_seq"),
        F.struct(*lpay).alias("_lp"),
        F.lit(None).cast(
            right.select(F.struct(F.col(right_ts).alias("_rts"),
                                  *right_cols).alias("s"))
            .schema["s"].dataType).alias("_rp"))
    r = right.select(
        *key_cols,
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        seq_r.alias("_seq"),
        F.lit(None).cast(
            left.select(F.struct(*lpay).alias("s"))
            .schema["s"].dataType).alias("_lp"),
        F.struct(F.col(right_ts).alias("_rts"), *right_cols).alias("_rp"))
    w = (Window.partitionBy(*key_cols)
         .orderBy(F.col("_ts").asc(), F.col("_side").asc(),
                  F.col("_seq").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    matched = (l.unionByName(r)
               .withColumn("_m", F.last("_rp", ignorenulls=True).over(w))
               .filter(F.col("_side") == 1))
    if tolerance_seconds is not None:
        in_tol = ((F.unix_micros(F.col("_ts"))
                   - F.unix_micros(F.col("_m._rts")))
                  <= F.lit(int(tolerance_seconds * 1_000_000)))
        matched = matched.withColumn(
            "_m", F.when(in_tol, F.col("_m")))
    out_cols = ([F.col(c) for c in key_cols]
                + [F.col("_ts").alias(left_ts)]
                + [F.col(f"_lp.{c}").alias(c) for c in lpay]
                + [F.col(f"_m.{c}").alias(f"{prefix}{c}")
                   for c in right_cols]
                + [F.col("_m._rts").alias(f"{prefix}{right_ts}")])
    return matched.select(*out_cols)


def sessionize(events: DataFrame, user_col: str = "user_id",
               ts_col: str = "ts", gap_seconds: int = 1800,
               order_cols: List[str] = ("event_id",)) -> DataFrame:
    """Gap-based sessionization: a user's events more than
    ``gap_seconds`` apart start a new session (the classic event-stream
    derivation Spark has no built-in for in batch; Structured Streaming
    has session_window — this is its batch twin and produces stable
    1-based per-user session indices).

    One shuffle on the user key, then two stacked windows over the SAME
    sort — the physical plan sorts once. ``order_cols`` breaks ts ties
    deterministically. Timestamps are NTZ; the gap compares exact
    MICROSECOND diffs (never the session timezone, and never
    second-granularity truncation — Spark's timestampdiff(SECOND)
    truncates elapsed time while other engines count boundary
    crossings, which disagree on sub-second timestamps).

    Internal column names are picked fresh against the input schema
    (never shadow caller columns) and ``ts_col`` is backtick-quoted in
    the one SQL fragment, so dotted/spaced column names work."""
    def _fresh(base: str) -> str:
        name = base
        while name in events.columns:
            name += "_"
        return name

    prev_c = _fresh("_prev_ts")
    new_c = _fresh("_new_session")
    ts_q = "`" + ts_col.replace("`", "``") + "`"
    prev_q = "`" + prev_c.replace("`", "``") + "`"
    w = Window.partitionBy(user_col).orderBy(ts_col, *order_cols)
    prev = F.lag(ts_col).over(w)
    gap = (F.expr(f"timestampdiff(MICROSECOND, {prev_q}, {ts_q})")
           / 1_000_000.0)
    out = (events
           .withColumn(prev_c, prev)
           .withColumn(
               new_c,
               F.when(F.col(prev_c).isNull()
                      | (gap > gap_seconds), 1).otherwise(0))
           .withColumn(
               "session_idx",
               F.sum(new_c).over(
                   w.rowsBetween(Window.unboundedPreceding, 0)))
           .drop(prev_c, new_c))
    return out


def funnel_counts(events: DataFrame, steps, user_col: str = "user_id",
                  type_col: str = "event_type", ts_col: str = "ts"):
    """Ordered funnel analysis: how many users completed step 1, then
    step 2 STRICTLY after their first step-1 event, then step 3 after
    that, ... (the classic product-analytics funnel, each stage
    anchored at the user's earliest qualifying time).  Output:
    (step, stage, users) — one row per funnel stage.

    Plan shape: one filtered min-aggregation per stage, each joined to
    the previous stage's anchor times.  The anchor tables are
    user-count-sized (<= |users| rows, shrinking per stage) — at any
    realistic user cardinality they broadcast, so the event table is
    scanned once per stage with no wide join; with events bucketed by
    user (``DataFrameWriter.bucketBy``) even the aggregations are
    exchange-free.  The per-stage scans are the exact formulation; a
    single-scan variant (collect each user's per-type min-ts vector,
    fold the funnel in one agg) trades one shuffle of |users| x
    |steps| rows for the re-scans at extreme scale."""
    from pyspark.sql.functions import broadcast

    prev = None
    out = None
    for i, step in enumerate(steps):
        stage = events.filter(F.col(type_col) == step)
        if prev is not None:
            stage = (stage.join(broadcast(prev), user_col)
                     .filter(F.col(ts_col) > F.col("_anchor"))
                     .drop("_anchor"))
        prev = (stage.groupBy(user_col)
                .agg(F.min(ts_col).alias("_anchor")))
        row = prev.agg(
            F.lit(i + 1).alias("step"),
            F.lit(step).alias("stage"),
            F.count("*").cast("bigint").alias("users"))
        out = row if out is None else out.unionByName(row)
    return out


def retention_cohorts(events: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts", max_offset: int = 7):
    """Cohort retention: users are cohorted by their first active day;
    for each (cohort_day, day_offset <= max_offset) count the distinct
    cohort users active that day.  Output: (cohort_day, day_offset,
    users).

    Two aggregations over the (user, day) distinct table — first-day
    per user, then the cohort-offset count — joined on user.  The
    first-day table is |users| rows (broadcast); the distinct (user,
    day) table is the only thing that shuffles, and it is already a
    tiny projection of the event stream."""
    from pyspark.sql.functions import broadcast

    # ts is TIMESTAMP_NTZ in the fixtures (naive wall-clock), so
    # to_date() is session-timezone-INDEPENDENT here and matches the
    # naive-timestamp oracle on any driver session (verified against a
    # non-UTC session); an instant-typed (TIMESTAMP_LTZ) deployment
    # would need epoch-day arithmetic instead, because to_date on an
    # instant applies the session zone
    day = F.to_date(F.col(ts_col))
    active = events.select(user_col, day.alias("_day")).distinct()
    first = (active.groupBy(user_col)
             .agg(F.min("_day").alias("cohort_day")))
    joined = (active.join(broadcast(first), user_col)
              .withColumn("day_offset",
                          F.datediff(F.col("_day"),
                                     F.col("cohort_day")).cast("bigint"))
              .filter(F.col("day_offset") <= max_offset))
    return (joined.groupBy("cohort_day", "day_offset")
            .agg(F.countDistinct(user_col).cast("bigint").alias("users")))


def markov_transitions(events: DataFrame, user_col: str = "user_id",
                       ts_col: str = "ts",
                       type_col: str = "event_type",
                       seq_col: str = "event_id",
                       round_to: int = 6) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every ordered (from_type, to_type) pair of
    CONSECUTIVE events of one user, the transition count and the
    conditional probability P(to | from) — the model behind
    next-action prediction and the probabilistic generalization of
    the top-paths rollup.

    Scale shape: one per-user ordered window (lag) produces the
    consecutive pairs — the same single sort sessionize rides — then
    a map-side-combined groupBy on the (from, to) pair; the
    normalizing row-sum is a window PARTITIONED BY from_type over the
    |types|² aggregate, never the raw events.  Ties at equal
    timestamps break on ``seq_col``, so the sequence — and therefore
    the matrix — is deterministic across engines and partitionings.

    Output: (from_type, to_type, n_transitions, prob)."""
    w = Window.partitionBy(user_col).orderBy(ts_col, seq_col)
    prev = F.lag(type_col).over(w)
    pairs = (events.select(prev.alias("from_type"),
                           F.col(type_col).alias("to_type"))
             .filter(F.col("from_type").isNotNull()))
    counts = (pairs.groupBy("from_type", "to_type")
              .agg(F.count("*").alias("n_transitions")))
    tot = Window.partitionBy("from_type")
    return counts.withColumn(
        "prob", F.round(F.col("n_transitions")
                        / F.sum("n_transitions").over(tot), round_to))
