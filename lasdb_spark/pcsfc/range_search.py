"""Driver-side SFC range decomposition (the query planner's filter step).

Re-derivation of the reference's quadtree descent
(pcsfc/range_search.py:4-47) with the defects fixed (SURVEY §2.6):
shallow depths are handled, the output is always bound, and the number
of emitted ranges is CAPPED — an un-refined cell is emitted as one
conservative covering range instead of exploding the range list (the
reference's thin-window queries, e.g. D21's 1m×23km rectangle, have no
such guard).

Output ranges are in FULL Morton-key space; convert to head space with
``key_ranges_to_head_ranges`` for the block layout. Soundness contract:
every grid cell inside the query bbox is covered by some range (points
outside may also be covered — the exact refine filter removes them).
"""

from __future__ import annotations

import math
from typing import Sequence

from .morton import encode_morton_2d

DEFAULT_MAX_RANGES = 256


def _merge_ranges(ranges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Merge sorted, possibly-adjacent key ranges."""
    if not ranges:
        return []
    merged = [ranges[0]]
    for lo, hi in ranges[1:]:
        plo, phi = merged[-1]
        if lo <= phi + 1:
            merged[-1] = (plo, max(phi, hi))
        else:
            merged.append((lo, hi))
    return merged


def decompose_bbox(
    qxmin: int,
    qxmax: int,
    qymin: int,
    qymax: int,
    bits: int,
    max_ranges: int = DEFAULT_MAX_RANGES,
) -> list[tuple[int, int]]:
    """Decompose a quantized bbox into ≤ ``max_ranges`` Morton-key ranges.

    Level-by-level (BFS) quadtree refinement over the 2^bits × 2^bits
    grid. A cell fully inside the window emits its whole contiguous key
    range; a disjoint cell is pruned; an overlapping cell is split —
    until splitting would exceed the budget, at which point remaining
    overlap cells are emitted conservatively.
    """
    if bits < 1 or bits > 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    grid_max = (1 << bits) - 1
    qxmin, qymin = max(qxmin, 0), max(qymin, 0)
    qxmax, qymax = min(qxmax, grid_max), min(qymax, grid_max)
    if qxmin > qxmax or qymin > qymax:
        return []

    ranges: list[tuple[int, int]] = []
    # overlap cells as (x0, y0) of a size×size Morton-aligned square
    cells: list[tuple[int, int]] = [(0, 0)]
    size = 1 << bits
    while cells and size > 1:
        half = size >> 1
        nxt: list[tuple[int, int]] = []
        for x0, y0 in cells:
            for dx, dy in ((0, 0), (half, 0), (0, half), (half, half)):
                cx, cy = x0 + dx, y0 + dy
                if cx > qxmax or cy > qymax or cx + half - 1 < qxmin or cy + half - 1 < qymin:
                    continue  # disjoint
                if cx >= qxmin and cy >= qymin and cx + half - 1 <= qxmax and cy + half - 1 <= qymax:
                    base = encode_morton_2d(cx, cy)
                    ranges.append((base, base + half * half - 1))
                else:
                    nxt.append((cx, cy))
        size = half
        # Budget check: stop refining if one more level could blow the cap
        # (each overlap cell may yield ≤3 new ranges/cells per level).
        if len(ranges) + 3 * len(nxt) > max_ranges:
            for cx, cy in nxt:
                base = encode_morton_2d(cx, cy)
                ranges.append((base, base + size * size - 1))
            cells = []
        else:
            cells = nxt
    # size == 1 leftovers are single cells intersecting the window
    for cx, cy in cells:
        k = encode_morton_2d(cx, cy)
        ranges.append((k, k))
    ranges.sort()
    return _merge_ranges(ranges)


def key_ranges_to_head_ranges(
    ranges: Sequence[tuple[int, int]], tail_len: int
) -> list[tuple[int, int]]:
    """Project full-key ranges onto head space (block layout pruning)."""
    return _merge_ranges(sorted((lo >> tail_len, hi >> tail_len) for lo, hi in ranges))


def _ranges_sql(colname: str, ranges: Sequence[tuple[int, int]]) -> str:
    """Balanced OR-of-BETWEENs over ``colname`` as ONE SQL string for
    ``F.expr``. The comparisons on a long column push into the Parquet
    scan (row-group min/max skipping) — the Spark analog of the
    reference's B-tree range scan (db/__init__.py:118-126 +
    pipeline/retrieve_data.py:110-125). One parsed string is one py4j
    call; Column-by-Column composition costs ~25 py4j round-trips per
    range of serial driver time. Parenthesized recursively so the
    parser builds a balanced tree: a left-deep OR chain of hundreds of
    terms makes Catalyst codegen build quadratically large strings
    (observed JVM OOM at ~256 terms)."""

    def rec(rs) -> str:
        if len(rs) == 1:
            lo, hi = rs[0]
            return f"{colname} BETWEEN {int(lo)} AND {int(hi)}"
        mid = len(rs) // 2
        return f"({rec(rs[:mid])} OR {rec(rs[mid:])})"

    return rec(list(ranges))


# Above this many ranges, OR-of-BETWEENs stops paying for itself
# (codegen size) and a broadcast range semi-join wins. The coarse
# [min, max] BETWEEN is still pushed to the Parquet scan either way.
# 64 comparisons on one long column stay comfortably inside codegen
# limits (blowups observed near ~256) while keeping full row-group
# skipping for typical window decompositions.
MAX_OR_TERMS = 64


def apply_key_ranges(df, colname: str, ranges: Sequence[tuple[int, int]], max_or_terms: int = MAX_OR_TERMS):
    """Filter ``df`` to rows whose ``colname`` falls in any range.

    Two physical strategies (mirrors reference Q2/Q3,
    pipeline/retrieve_data.py:110-125, Spark-first):

    - few ranges → balanced OR-of-BETWEENs, fully pushed down to the
      Parquet scan (row-group skipping);
    - many ranges → one coarse ``BETWEEN(min, max)`` that IS pushed
      down, then a broadcast LEFT SEMI range join against the tiny
      in-memory range table (the reference's temp RangeTable + EXISTS,
      without the round-trip). No shuffle: ranges are broadcast.
    """
    from pyspark.sql import functions as F

    if not ranges:
        return df.filter(F.lit(False))
    col = F.col(colname)
    if len(ranges) <= max_or_terms:
        return df.filter(F.expr(_ranges_sql(colname, ranges)))
    lo_min, hi_max = ranges[0][0], ranges[-1][1]
    spark = df.sparkSession
    rdf = spark.createDataFrame(
        [(int(lo), int(hi)) for lo, hi in ranges], "r_lo long, r_hi long"
    )
    return (
        df.filter(col.between(lo_min, hi_max))
        .join(F.broadcast(rdf), col.between(F.col("r_lo"), F.col("r_hi")), "leftsemi")
    )


def planning_grid_bounds(
    vmin: float, vmax: float, scale: float, offset: float
) -> tuple[int, int]:
    """Conservative quantized bounds for planning: floor the min, ceil the max.

    Wider than round() on both ends, so the decomposition covers every
    point regardless of rounding-mode subtleties at cell boundaries.
    """
    return (
        math.floor((vmin - offset) / scale),
        math.ceil((vmax - offset) / scale),
    )
