"""Z-order (Morton) keys for multi-dimensional data clustering.

The 100 TB problem this solves: parquet/Delta skip row groups using
per-column min/max statistics, but a layout sorted on ONE column gives the
OTHER dimensions full-range stats in every row group — a (device × day)
box query prunes on device or on day, never both. Interleaving the bits of
both dimensions into one sort key keeps each row group a small HYPERCUBE
of the key space, so min/max pruning works for every dimension at once —
the technique behind Delta/Iceberg ``ZORDER BY`` / ``sort_order`` —
re-expressed here as a pure Column expression (no engine extension
needed): write-path = ``df.repartitionByRange(zkey).sortWithinPartitions
(zkey)``.

The interleave is generated as a fixed sum of shift/mask terms — exact
integer ops both engines reproduce (the ``zorder_key`` query is
hash-gated), and whole-stage codegen compiles it to straight-line long
arithmetic. The measured row-group pruning win on parquet metadata is in
SCALE.md "r6: Z-order clustering".

Reference impetus: the obs log is queried by (MAC, time window)
(README.md:16-18) — exactly a 2-D box over a table date-partitioned on one
of the two dimensions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def morton_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of two non-negative integer
    columns: x occupies even bit positions, y odd. Columns are masked to
    ``bits`` first, so out-of-range values wrap rather than collide
    unpredictably (callers should size ``bits`` to the dimension's
    cardinality)."""
    mask = (1 << bits) - 1
    xm = x.cast("long").bitwiseAND(F.lit(mask))
    ym = y.cast("long").bitwiseAND(F.lit(mask))
    terms = []
    for i in range(bits):
        terms.append(
            F.shiftleft(F.shiftright(xm, i).bitwiseAND(F.lit(1)), 2 * i)
        )
        terms.append(
            F.shiftleft(F.shiftright(ym, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def morton_key_scaled(
    x: Column,
    x_max: int,
    y: Column,
    y_max: int,
    bits: int = 11,
) -> Column:
    """Range-normalized Morton key — the form the WRITE PATH must use.

    Interleaving raw values only localizes dimensions of similar bit
    width: with user_id (11 bits) × day (5 bits), user's high bits occupy
    the top of the key and the curve degenerates to a plain user sort
    (measured — see SCALE.md). Scaling each dimension to the full
    ``bits``-wide range first aligns their high bits, which is what makes
    the curve cover both dimensions evenly (the same normalization
    Delta/Iceberg apply via range-partition ids before interleaving)."""
    top = (1 << bits) - 1
    # clamp the RAW value into [0, max] BEFORE scaling, then do the
    # scale multiply in DOUBLE: an integer `x * top` overflows LongType
    # not just for hostile inputs but for LEGITIMATE large domains
    # (x_max > 2^63/top — e.g. nanosecond epochs at bits=16), raising
    # ARITHMETIC_OVERFLOW under ANSI mode or wrapping negative without.
    # Double precision is exact to 2^53 and the quotient lands in
    # [0, top] (< 2^26), so the worst rounding error is one curve cell —
    # irrelevant for clustering. Post-scale least/greatest guards the
    # boundary cell against that last-ulp rounding.
    xc = F.greatest(F.lit(0.0), F.least(F.lit(float(max(x_max, 1))), x.cast("double")))
    yc = F.greatest(F.lit(0.0), F.least(F.lit(float(max(y_max, 1))), y.cast("double")))
    xn = F.greatest(
        F.lit(0),
        F.least(F.lit(top), (xc * top / F.lit(float(max(x_max, 1)))).cast("long")),
    )
    yn = F.greatest(
        F.lit(0),
        F.least(F.lit(top), (yc * top / F.lit(float(max(y_max, 1)))).cast("long")),
    )
    return morton_key(xn, yn, bits)


def morton_key_sql(x: str, y: str, bits: int = 16) -> str:
    """The identical interleave as engine-neutral SQL (DuckDB oracle twin
    of :func:`morton_key`)."""
    mask = (1 << bits) - 1
    terms = []
    for i in range(bits):
        terms.append(
            f"CAST((({x} & {mask}) >> {i}) & 1 AS BIGINT) << {2 * i}"
        )
        terms.append(
            f"CAST((({y} & {mask}) >> {i}) & 1 AS BIGINT) << {2 * i + 1}"
        )
    return " + ".join(f"({t})" for t in terms)
