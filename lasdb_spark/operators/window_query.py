"""Spatial window queries: bbox / circle / polygon / z-slab / kNN.

The reference's filter-refine loop (pipeline/retrieve_data.py:33-153)
re-expressed as ONE lazy DataFrame pipeline per query:

    driver: SFC decomposition of the window     (pure function, Q1)
    scan:   key-range predicates → Parquet row-group pruning (Q2/Q3)
    refine: exact geometry filter on original coords (Q5-Q9)
    write/return: a DataFrame — no intermediate materialization,
    no client round-trips, no DELETE-based refinement (SURVEY §2.6).

At 100 TB the pruning predicate is what matters: the sorted-by-key
layout means a small window touches a handful of row groups; the exact
refine runs only on the surviving rows, JVM-side (codegen) for
bbox/circle/z, Arrow-batched pandas UDF only for polygons.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geometry import (
    MAX_NATIVE_EDGES,
    circle_predicate,
    parse_wkt_linestring,
    point_in_polygon_col,
    point_in_polygon_udf,
    polyline_bbox,
    polyline_buffer_col,
    rings_bbox,
    wkt_rings,
)
from ..pcsfc.range_search import (
    _merge_ranges,
    apply_key_ranges,
    decompose_bbox,
    key_ranges_to_head_ranges,
    planning_grid_bounds,
)
from .ingest import DatasetMeta, unpack_blocks

RESULT_COLS = ("x", "y", "z")


def head_lookup(df: DataFrame, heads, meta: DatasetMeta, layout: str = "flat") -> DataFrame:
    """Debug lookup of whole SFC blocks by head value (Q12 — the
    reference pokes these with raw SQL via Postgres.execute_query,
    db/__init__.py:109-115; here it is a first-class engine call).

    ``heads`` is a list of sfc_head ints. Flat layout derives the head
    from the stored key (one shift — stays in codegen and the derived
    range check still prunes row groups because head ranges ARE key
    ranges); block layout hits the sfc_head column directly with an
    IN-list that pushes to the Parquet scan."""
    heads = [int(h) for h in heads]
    if layout == "block":
        return unpack_blocks(df.filter(F.col("sfc_head").isin(heads)), meta)
    t = meta.tail_length
    # per-head key range [h << t, (h+1) << t): pushable range predicates
    # on the SORTED key column, so row-group stats skip cold blocks —
    # an isin() on the derived (h = key >> t) column would not push.
    ranges = _merge_ranges(sorted((h << t, ((h + 1) << t) - 1) for h in heads))
    return apply_key_ranges(df, "sfc_key", ranges)


def _in_box(x0: float, x1: float, y0: float, y1: float):
    """Exact bbox refine on the original coordinates."""
    return F.col("x").between(x0, x1) & F.col("y").between(y0, y1)


@dataclass
class WindowQuerier:
    """Query executor over an ingested dataset (flat or block layout).

    ``df`` is the stored table; ``meta`` its DatasetMeta (always read
    from storage — reference hard-codes split params, query.py:27)."""

    df: DataFrame
    meta: DatasetMeta
    layout: str = "flat"
    # ≤64 ranges keeps every query on the OR-of-BETWEENs path: the
    # whole predicate pushes into the Parquet scan (row-group pruning)
    # and per-row evaluation stays in codegen. More ranges only sharpen
    # pruning marginally while forcing the range-join fallback, whose
    # broadcast nested-loop comparison costs O(rows × ranges).
    max_ranges: int = 64

    # -- planning ---------------------------------------------------------
    def _key_ranges(self, x0: float, x1: float, y0: float, y1: float):
        sx, sy, _ = self.meta.scales
        ox, oy, _ = self.meta.offsets
        qx0, qx1 = planning_grid_bounds(x0, x1, sx, ox)
        qy0, qy1 = planning_grid_bounds(y0, y1, sy, oy)
        return decompose_bbox(
            qx0, qx1, qy0, qy1, bits=self.meta.grid_bits, max_ranges=self.max_ranges
        )

    def _pruned(
        self,
        x0: float,
        x1: float,
        y0: float,
        y1: float,
        minz: float | None = None,
        maxz: float | None = None,
    ) -> DataFrame:
        """Candidate rows via SFC range pushdown, decoded to x/y/z.

        On the block layout a z-slab additionally prunes whole blocks
        by their stored z_min/z_max BEFORE the unpack explode — the
        block-level analog of the row-group stats the flat layout's z
        column gets from Parquet for free. (The exact per-point z
        filter still runs afterwards; this only skips work.)"""
        ranges = self._key_ranges(x0, x1, y0, y1)
        if self.layout == "block":
            head_ranges = key_ranges_to_head_ranges(ranges, self.meta.tail_length)
            blocks = apply_key_ranges(self.df, "sfc_head", head_ranges)
            if maxz is not None and "z_min" in self.df.columns:
                blocks = blocks.filter(F.col("z_min") <= float(maxz))
            if minz is not None and "z_max" in self.df.columns:
                blocks = blocks.filter(F.col("z_max") >= float(minz))
            return unpack_blocks(blocks, self.meta)
        return apply_key_ranges(self.df, "sfc_key", ranges)

    @staticmethod
    def _zslab(df: DataFrame, minz: float | None, maxz: float | None) -> DataFrame:
        """Composable z filters (reference Q9 ran post-hoc DELETEs)."""
        if minz is not None:
            df = df.filter(F.col("z") >= float(minz))
        if maxz is not None:
            df = df.filter(F.col("z") <= float(maxz))
        return df

    def _window(self, box, minz, maxz, *refine) -> DataFrame:
        """Prune to ``box`` = (x0, x1, y0, y1), apply the ``refine``
        filters in order, then the z-slab; return the result columns."""
        out = self._pruned(*box, minz, maxz)
        for cond in refine:
            out = out.filter(cond)
        return self._zslab(out, minz, maxz).select(*RESULT_COLS)

    # -- query surface (Q6-Q11) -------------------------------------------
    def bbox(self, bbox, minz=None, maxz=None) -> DataFrame:
        """bbox = [x_min, x_max, y_min, y_max] (Q6)."""
        box = tuple(float(v) for v in bbox)
        return self._window(box, minz, maxz, _in_box(*box))

    def circle(self, center, radius, minz=None, maxz=None) -> DataFrame:
        """center = [cx, cy] (Q7): circumscribing-bbox prune + exact."""
        cx, cy, r = float(center[0]), float(center[1]), float(radius)
        exact = circle_predicate(F.col("x"), F.col("y"), cx, cy, r)
        return self._window((cx - r, cx + r, cy - r, cy + r), minz, maxz, exact)

    def polygon(self, wkt: str, minz=None, maxz=None) -> DataFrame:
        """WKT POLYGON with holes, or MULTIPOLYGON (Q8): bbox prune +
        cheap bbox refine + exact even-odd containment over the
        combined ring set (disjoint members make the shared even-odd
        test exact — no per-polygon dispatch).

        Containment is a native Column expression (codegen, no Python)
        for geometries up to MAX_NATIVE_EDGES edges; bigger ones fall
        back to the Arrow-batched pandas UDF."""
        rings = wkt_rings(wkt)
        box = rings_bbox(rings)
        n_edges = sum(len(r) for r in rings)
        if n_edges <= MAX_NATIVE_EDGES:
            exact = point_in_polygon_col(rings, F.col("x"), F.col("y"))
        else:
            exact = point_in_polygon_udf(wkt)(F.col("x"), F.col("y"))
        return self._window(box, minz, maxz, _in_box(*box), exact)

    def polyline_buffer(self, wkt: str, dist: float, minz=None, maxz=None) -> DataFrame:
        """All points within ``dist`` of a WKT LINESTRING (the reference
        benchmark's polyline-buffer shapes, scripts/query_210m.json —
        there pre-buffered to polygons; here exact distance-to-segment,
        fully native: OR over per-segment clamped distance² terms)."""
        pts = parse_wkt_linestring(wkt)
        dist = float(dist)
        box = polyline_bbox(pts, dist)
        exact = polyline_buffer_col(pts, dist, F.col("x"), F.col("y"))
        return self._window(box, minz, maxz, _in_box(*box), exact)

    def knn(self, point, k: int, minz=None, maxz=None) -> DataFrame:
        """k nearest neighbours of [px, py] (Q11 — declared but NOT
        implemented by the reference, retrieve_data.py:40-41).

        Expanding-window search: grow a square until it provably holds
        the k nearest (count ≥ k AND kth distance ≤ half-width), then
        top-k via orderBy(...).limit(k) — Spark executes that as a
        distributed TakeOrdered, not a full sort. Ties broken by
        (d2, x, y, z) for determinism."""
        px, py = float(point[0]), float(point[1])
        d2 = (F.col("x") - px) * (F.col("x") - px) + (F.col("y") - py) * (
            F.col("y") - py
        )

        # initial half-width from global density (meta bbox is exact)
        x0, x1, y0, y1 = self.meta.bbox[:4]
        area = max((x1 - x0) * (y1 - y0), 1e-9)
        n = max(self.meta.point_count, 1)
        r = max(math.sqrt(area * k / n), 1e-6)

        while True:
            cand = self._pruned(px - r, px + r, py - r, py + r, minz, maxz)
            cand = self._zslab(cand, minz, maxz).withColumn("d2", d2)
            top = cand.orderBy("d2", "x", "y", "z").limit(k)
            rows = top.collect()
            if len(rows) >= k and rows[-1].d2 <= r * r:
                break
            # Exact-exit: once the window contains the entire data
            # extent the candidate set IS the dataset, so the top-k is
            # the exact global kNN — no fixed iteration cap (a far-away
            # query point needs extra doublings to even reach the data,
            # so counting iterations is the wrong convergence test).
            if px - r <= x0 and px + r >= x1 and py - r <= y0 and py + r >= y1:
                break
            r *= 2.0
        return top.select(*RESULT_COLS, "d2")

    def multi_bbox(self, windows, budget: int | None = None) -> DataFrame:
        """Per-window stats for a TABLE of bbox windows in one scan —
        the batch spatial-join shape (see
        :mod:`lasdb_spark.operators.multi_window`). ``windows`` =
        iterable of (win_id, x_min, x_max, y_min, y_max)."""
        from .multi_window import DEFAULT_CELL_BUDGET, multi_bbox_stats

        return multi_bbox_stats(
            self.df,
            self.meta,
            windows,
            layout=self.layout,
            budget=budget or DEFAULT_CELL_BUDGET,
        )

    def knn_join(
        self, queries, k: int, radius: float, budget: int | None = None
    ) -> DataFrame:
        """k nearest points within ``radius`` for EVERY (q_id, qx, qy)
        query in one scan (see
        :func:`lasdb_spark.operators.multi_window.point_knn_join`)."""
        from .multi_window import DEFAULT_CELL_BUDGET, point_knn_join

        return point_knn_join(
            self.df,
            self.meta,
            queries,
            k,
            radius,
            layout=self.layout,
            budget=budget or DEFAULT_CELL_BUDGET,
        )

    def voxel_lod(self, level: int) -> DataFrame:
        """One representative point + occupancy per level-``level``
        Morton cell (see :mod:`lasdb_spark.operators.lod`)."""
        from .lod import voxel_downsample

        return voxel_downsample(self.df, self.meta, level, layout=self.layout)

    def thin(self, denom: int) -> DataFrame:
        """Deterministic 1/``denom`` hash thinning (map-only; see
        :mod:`lasdb_spark.operators.lod`)."""
        from .lod import thin_points

        return thin_points(self.df, self.meta, denom, layout=self.layout)

    def lod_pyramid(self, levels: list[int]) -> DataFrame:
        """Whole LOD pyramid, hierarchically rolled up (see
        :mod:`lasdb_spark.operators.lod`)."""
        from .lod import lod_pyramid

        return lod_pyramid(self.df, self.meta, levels, layout=self.layout)

    def zonal(self, zones, budget: int | None = None) -> DataFrame:
        """Per-polygon-zone stats in one scan (see
        :func:`lasdb_spark.operators.multi_window.zonal_stats`)."""
        from .multi_window import DEFAULT_CELL_BUDGET, zonal_stats

        return zonal_stats(
            self.df,
            self.meta,
            zones,
            layout=self.layout,
            budget=budget or DEFAULT_CELL_BUDGET,
        )

    def query(
        self, mode: str, geometry, minz=None, maxz=None, k: int | None = None
    ) -> DataFrame:
        """Dispatch on mode ∈ {bbox, circle, polygon, nn} (Q10,
        retrieve_data.py:33-41)."""
        if mode == "bbox":
            return self.bbox(geometry, minz, maxz)
        if mode == "circle":
            center, r = geometry
            return self.circle(center, r, minz, maxz)
        if mode == "polygon":
            return self.polygon(geometry, minz, maxz)
        if mode == "nn":
            return self.knn(geometry, k or 1000, minz, maxz)
        if mode == "polyline":
            wkt, dist = geometry
            return self.polyline_buffer(wkt, dist, minz, maxz)
        if mode == "multi_bbox":
            # geometry = [[win_id, x0, x1, y0, y1], ...]
            return self.multi_bbox([tuple(w) for w in geometry])
        if mode == "zonal":
            # geometry = [[zone_id, wkt], ...]
            return self.zonal([tuple(z) for z in geometry])
        raise ValueError(f"unknown query mode {mode!r}")
