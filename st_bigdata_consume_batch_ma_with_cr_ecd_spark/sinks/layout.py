"""Z-order (Morton-curve) data layout for multi-dimensional skipping.

Parquet row-group/file min-max stats prune scans only along the sort
order: a table sorted by date answers date filters cheaply but scans
everything for a customer filter. Interleaving the bits of BOTH
columns into one Morton code and range-partitioning + sorting on it
clusters rows that are close in EITHER dimension into the same files —
so min/max footers stay narrow on every interleaved column and a
filter on ANY of them skips most files. This is the same layout trick
table formats expose as ``OPTIMIZE ... ZORDER BY``; here it's plain
DataFrame ops + a parquet write, no table format required.

Cost model at 100 TB: one extra column of integer bit-math (codegen'd),
one range repartition (a shuffle you were paying anyway to control
file sizes), and a per-partition sort. Skipping pays that back on the
first filtered scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Z_BITS = 16  # per-dimension resolution; 2 dims x 16 bits -> 32-bit code


def _quantize(col: Column, lo: Column, hi: Column, bits: int) -> Column:
    """Scale a numeric column to [0, 2^bits) using precomputed min/max."""
    span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
    frac = (col.cast("double") - lo) / span
    scaled = F.floor(frac * F.lit((1 << bits) - 1))
    return F.greatest(F.lit(0), F.least(scaled, F.lit((1 << bits) - 1))).cast("long")


def morton_interleave(cells: Sequence[Column], bits: int = Z_BITS) -> Column:
    """Interleave the low ``bits`` of each quantized cell into one long
    (dimension 0 gets the even bit positions). Pure shift/or chain —
    whole-stage codegen keeps it JVM-side."""
    n = len(cells)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for d, cell in enumerate(cells):
            bit = F.shiftright(cell, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + d))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: Sequence[str],
    *,
    n_files: int = 32,
    bits: int = Z_BITS,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet clustered on the Morton code of
    ``zorder_cols`` (numeric/timestamp). One stats pass computes the
    per-column min/max for quantization; the write is
    ``repartitionByRange + sortWithinPartitions`` on the code, so every
    output file covers a compact hyper-rectangle of the key space."""
    if not 1 <= len(zorder_cols) <= 4:
        raise ValueError("zorder_cols must name 1-4 columns")
    if bits * len(zorder_cols) > 63:
        # bit 63 is the sign bit of long: letting the interleave reach
        # it makes high-range rows NEGATIVE codes that sort before
        # everything, silently breaking the Morton order
        raise ValueError(
            f"bits * len(zorder_cols) = {bits * len(zorder_cols)} exceeds 63 "
            f"(the sign bit); use bits <= {63 // len(zorder_cols)} for "
            f"{len(zorder_cols)} columns"
        )

    def to_num(c: str) -> Column:
        t = str(df.schema[c].dataType)
        if t.startswith("Timestamp"):
            return F.unix_micros(F.col(c).cast("timestamp"))
        if t.startswith("Date"):
            return F.datediff(F.col(c), F.lit("1970-01-01").cast("date"))
        return F.col(c).cast("double")

    nums = {c: to_num(c) for c in zorder_cols}
    stats = df.agg(
        *[F.min(e).alias(f"lo_{c}") for c, e in nums.items()],
        *[F.max(e).alias(f"hi_{c}") for c, e in nums.items()],
    ).collect()[0]
    for c in zorder_cols:
        if stats[f"lo_{c}"] is None:
            raise ValueError(
                f"zorder column {c!r} has no non-NULL values — cannot quantize"
            )
    cells = [
        _quantize(
            e.cast("double"),
            F.lit(float(stats[f"lo_{c}"])),
            F.lit(float(stats[f"hi_{c}"])),
            bits,
        )
        for c, e in nums.items()
    ]
    with_z = df.withColumn("__z", morton_interleave(cells, bits))
    (
        with_z.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
