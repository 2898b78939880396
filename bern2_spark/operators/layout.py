"""Multi-dimensional data layout — Z-order (Morton) clustering keys
and the per-file min/max statistics that quantify their data-skipping
power.

Why this exists: a sorted-by-one-column parquet layout gives perfect
min/max pruning on that column and none on any other.  Interleaving
the bits of several columns' bin indices (the Z-order curve Delta
Lake's ``OPTIMIZE ZORDER BY`` and Iceberg's sort-order rewrite use)
keeps every interleaved dimension's values CLUSTERED within each
output file, so a predicate on ANY of them prunes most files from the
footer stats alone — the difference between scanning 100 TB and
scanning 100 GB.

Scale posture: NO global sort and NO ntile-style single-partition
window anywhere.  Per-dimension bins come from a broadcast 1-row
(min, max) aggregate and pure integer arithmetic; the Morton key is an
unrolled bitwise expression (bits x dims operations, fully inside
WholeStageCodegen); file assignment takes the TOP bits of the key —
a radix partition, not a range sort — so the whole layout computation
is one scan + one 1-row broadcast.  Writing would then be
``df.repartition(n_files, "file_id").sortWithinPartitions(zkey)``:
one shuffle, executor-local sorts.

Reference scope note: BERN2 has no storage-layout story at all; this
is engine-side infrastructure for the 100-TB posture (SURVEY §2.12).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bin_expr(col: str, lo: Column, hi: Column, bits: int) -> Column:
    """Value -> integer bin in [0, 2^bits) by linear range split.
    Exact integer arithmetic (BIGINT multiply before divide) so Spark
    and DuckDB produce bit-identical bins."""
    span = (hi - lo + F.lit(1)).cast("long")
    x = (F.col(col).cast("long") - lo.cast("long"))
    # floor of a double quotient of two < 2^31 integers is exact (the
    # quotient's distance to any integer it is not equal to exceeds
    # 1/denominator >> the representation error), and DuckDB's `/`
    # computes the identical double — bit-identical bins both engines.
    return F.least(F.floor(x * (1 << bits) / span),
                   F.lit((1 << bits) - 1)).cast("long")


def zorder_key(bins: Sequence[Column], bits: int) -> Column:
    """Morton interleave of per-dimension bin indices: output bit
    ``b*ndims + i`` is bit ``b`` of dimension ``i``.  Unrolled to
    ``bits * ndims`` shift/mask terms — a single codegen'd integer
    expression, no UDF."""
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(bins):
            bit = F.shiftright(c, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(bins) + i))
    return z


def zorder_layout_stats(df: DataFrame, dims: Sequence[str],
                        bits: int = 8, file_bits: int = 4) -> DataFrame:
    """Assign every row to one of ``2^file_bits`` files under (a) the
    Z-order layout and (b) the naive linear sort on dims[0], and emit
    per-(layout, file) footer statistics — row count plus min/max BIN
    of each dimension.  The per-dimension span ``(max - min + 1) /
    2^bits`` is the fraction of that dimension's range a reader must
    assume the file covers: under 'linear' the spans of dims[1:] are
    ~1.0 (no pruning), under 'zorder' every dimension's span shrinks
    toward ``2^-(bits/ndims)`` — the measurable data-skipping win.

    One scan, one 1-row broadcast (the dim min/max), one
    map-side-combined groupBy on (layout, file_id); nothing sorts."""
    ranges = df.agg(*[f for d in dims
                      for f in (F.min(d).alias(f"_lo_{d}"),
                                F.max(d).alias(f"_hi_{d}"))])
    x = df.crossJoin(F.broadcast(ranges))
    bins = [_bin_expr(d, F.col(f"_lo_{d}"), F.col(f"_hi_{d}"), bits)
            for d in dims]
    x = x.select(*[b.alias(f"_bin_{d}") for d, b in zip(dims, bins)])
    bcols = [F.col(f"_bin_{d}") for d in dims]
    zkey = zorder_key(bcols, bits)
    lin_file = F.shiftright(bcols[0], bits - file_bits)
    z_file = F.shiftright(zkey, bits * len(dims) - file_bits)
    both = (x.select(F.lit("zorder").alias("layout"),
                     z_file.cast("int").alias("file_id"),
                     *[F.col(f"_bin_{d}") for d in dims])
            .unionByName(
                x.select(F.lit("linear").alias("layout"),
                         lin_file.cast("int").alias("file_id"),
                         *[F.col(f"_bin_{d}") for d in dims])))
    aggs = [F.count("*").alias("n_rows")]
    for d in dims:
        aggs += [F.min(f"_bin_{d}").cast("long").alias(f"min_{d}"),
                 F.max(f"_bin_{d}").cast("long").alias(f"max_{d}")]
    return both.groupBy("layout", "file_id").agg(*aggs)
