"""Seeded input generator for the point-cloud store benchmark.

Everything the program under test receives is written here as files:
LAS 1.2 tiles (point format 3, scale 0.01) through the library's public
``write_las``, and re-survey tiles as plain Parquet x/y/z. The same seed
gives byte-identical files.

Points sit on the 0.01 m grid (integer grid coordinates decoded the way
a LAS reader decodes them: ``X * scale + offset``), and every query
geometry is placed off that grid, so no point lies on a window boundary
and the engine and the numpy oracle cannot disagree on a tie.

The data looks like AHN: uniform ground plus Gaussian hotspots per
tile, z drawn from a ground/elevated mixture.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np

ORIGIN = (85000.0, 446000.0)  # RD New coordinates of the tile scheme corner
SCALE = 0.01
OFFSETS = (ORIGIN[0], ORIGIN[1], 0.0)
HOTSPOT_SHARE = 0.4
HOTSPOTS_PER_TILE = 2


@dataclass
class Inputs:
    """The generated files plus what the oracle needs to know about them."""

    tile_scheme: tuple[float, float, float, float]  # x0, x1, y0, y1
    tile_m: float
    tiles_x: int
    las_paths: list[str]
    las_points: np.ndarray  # (n, 3) decoded x/y/z of all LAS tiles
    resurvey_paths: list[str]
    resurvey_points: list[np.ndarray]
    resurvey_tiles: list[int]  # base tile index each re-survey covers
    hotspots: np.ndarray  # (h, 3): cx, cy, sigma
    las_bytes: int = 0

    def tile_rect(self, t: int) -> tuple[float, float, float, float]:
        tx, ty = t % self.tiles_x, t // self.tiles_x
        x0 = self.tile_scheme[0] + tx * self.tile_m
        y0 = self.tile_scheme[2] + ty * self.tile_m
        return x0, x0 + self.tile_m, y0, y0 + self.tile_m


def _grid_to_xyz(ix: np.ndarray, iy: np.ndarray, iz: np.ndarray) -> np.ndarray:
    """Integer grid coordinates → the float64 values a LAS reader yields."""
    out = np.empty((len(ix), 3), dtype=np.float64)
    out[:, 0] = ix * SCALE + OFFSETS[0]
    out[:, 1] = iy * SCALE + OFFSETS[1]
    out[:, 2] = iz * SCALE + OFFSETS[2]
    return out


def _tile_points(rng, rect, hotspots, n: int) -> np.ndarray:
    """n points in ``rect``: uniform ground plus Gaussian hotspots."""
    x0, x1, y0, y1 = rect
    n_hot = int(n * HOTSPOT_SHARE)
    xs = [rng.uniform(x0, x1, n - n_hot)]
    ys = [rng.uniform(y0, y1, n - n_hot)]
    per = np.full(len(hotspots), n_hot // len(hotspots))
    per[: n_hot - per.sum()] += 1
    for (cx, cy, sigma), k in zip(hotspots, per):
        got = 0
        while got < k:  # rejection keeps hotspot points inside the tile
            hx = rng.normal(cx, sigma, 2 * (k - got))
            hy = rng.normal(cy, sigma, 2 * (k - got))
            keep = (hx >= x0) & (hx < x1) & (hy >= y0) & (hy < y1)
            hx, hy = hx[keep][: k - got], hy[keep][: k - got]
            xs.append(hx)
            ys.append(hy)
            got += len(hx)
    x = np.concatenate(xs)
    y = np.concatenate(ys)
    ground = rng.random(n) < 0.7
    z = np.where(ground, rng.normal(2.0, 0.5, n), rng.normal(15.0, 5.0, n))
    ix = np.floor((x - OFFSETS[0]) / SCALE).astype(np.int64)
    iy = np.floor((y - OFFSETS[1]) / SCALE).astype(np.int64)
    # keep grid coordinates inside the tile after flooring
    ix = np.clip(ix, round((x0 - OFFSETS[0]) / SCALE), round((x1 - OFFSETS[0]) / SCALE) - 1)
    iy = np.clip(iy, round((y0 - OFFSETS[1]) / SCALE), round((y1 - OFFSETS[1]) / SCALE) - 1)
    iz = np.round(z / SCALE).astype(np.int64)
    return _grid_to_xyz(ix, iy, iz)


def generate(
    out_dir: str,
    seed: int,
    tiles_x: int,
    tiles_y: int,
    tile_m: float,
    pts_per_tile: int,
    resurvey_count: int,
    resurvey_pts: int,
) -> Inputs:
    """Write the LAS tiles and the re-survey Parquet tiles under ``out_dir``."""
    from lasdb_spark.sources.las import write_las
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_tiles = tiles_x * tiles_y
    scheme = (
        ORIGIN[0],
        ORIGIN[0] + tiles_x * tile_m,
        ORIGIN[1],
        ORIGIN[1] + tiles_y * tile_m,
    )
    inputs = Inputs(scheme, tile_m, tiles_x, [], np.empty((0, 3)), [], [], [], np.empty((0, 3)))
    hot = []
    for t in range(n_tiles):
        x0, x1, y0, y1 = inputs.tile_rect(t)
        m = 0.15 * tile_m
        for _ in range(HOTSPOTS_PER_TILE):
            hot.append((rng.uniform(x0 + m, x1 - m), rng.uniform(y0 + m, y1 - m),
                        rng.uniform(0.02, 0.08) * tile_m))
    inputs.hotspots = np.array(hot)

    las_dir = os.path.join(out_dir, "las")
    os.makedirs(las_dir, exist_ok=True)
    chunks = []
    for t in range(n_tiles):
        h = inputs.hotspots[t * HOTSPOTS_PER_TILE:(t + 1) * HOTSPOTS_PER_TILE]
        pts = _tile_points(rng, inputs.tile_rect(t), h, pts_per_tile)
        path = os.path.join(las_dir, f"tile_{t:03d}.las")
        write_las(pts, path, scales=(SCALE, SCALE, SCALE), offsets=OFFSETS, point_format=3)
        inputs.las_paths.append(path)
        inputs.las_bytes += os.path.getsize(path)
        chunks.append(pts)
    inputs.las_points = np.concatenate(chunks)

    rs_dir = os.path.join(out_dir, "resurvey")
    os.makedirs(rs_dir, exist_ok=True)
    for i in range(resurvey_count):
        t = int(rng.integers(n_tiles))
        h = inputs.hotspots[t * HOTSPOTS_PER_TILE:(t + 1) * HOTSPOTS_PER_TILE]
        pts = _tile_points(rng, inputs.tile_rect(t), h, resurvey_pts)
        path = os.path.join(rs_dir, f"resurvey_{i:03d}.parquet")
        table = pa.table({"x": pts[:, 0], "y": pts[:, 1], "z": pts[:, 2]})
        pq.write_table(table, path, compression="snappy")
        inputs.resurvey_paths.append(path)
        inputs.resurvey_points.append(pts)
        inputs.resurvey_tiles.append(t)
    return inputs


# ---------------------------------------------------------------------------
# query geometry (all off the 0.01 grid)
# ---------------------------------------------------------------------------
def off_grid(v: float) -> float:
    """Snap to the grid, then move a third of a cell off it."""
    return math.floor(v / SCALE) * SCALE + SCALE / 3.0


def _center(rng, inputs: Inputs, rect=None, hot_share: float = 0.7):
    """A window center: on a hotspot ``hot_share`` of the time."""
    if rect is None:
        x0, x1, y0, y1 = inputs.tile_scheme
        hs = inputs.hotspots
    else:
        x0, x1, y0, y1 = rect
        inside = ((inputs.hotspots[:, 0] >= x0) & (inputs.hotspots[:, 0] < x1)
                  & (inputs.hotspots[:, 1] >= y0) & (inputs.hotspots[:, 1] < y1))
        hs = inputs.hotspots[inside]
    if len(hs) and rng.random() < hot_share:
        cx, cy, sigma = hs[rng.integers(len(hs))]
        cx, cy = rng.normal(cx, sigma), rng.normal(cy, sigma)
    else:
        cx, cy = rng.uniform(x0, x1), rng.uniform(y0, y1)
    return off_grid(min(max(cx, x0), x1)), off_grid(min(max(cy, y0), y1))


def make_query(rng, inputs: Inputs, kind: str, rect=None) -> dict:
    """One seeded window query of ``kind``; ``rect`` limits the centers."""
    cx, cy = _center(rng, inputs, rect)
    if kind in ("bbox_s", "bbox_m", "bbox_l", "zslab"):
        half = {"bbox_s": (2, 6), "bbox_m": (10, 25), "bbox_l": (40, 70), "zslab": (10, 30)}[kind]
        hw, hh = rng.uniform(*half, 2)
        q = {"kind": kind, "shape": "bbox",
             "bbox": [off_grid(cx - hw), off_grid(cx + hw), off_grid(cy - hh), off_grid(cy + hh)]}
        if kind == "zslab":
            lo = off_grid(rng.choice([0.5, 8.0]))
            q["minz"], q["maxz"] = lo, off_grid(lo + rng.uniform(3.0, 12.0))
        return q
    if kind == "circle":
        r = rng.uniform(5.0, 30.0) + SCALE / 7.0
        return {"kind": kind, "shape": "circle", "center": [cx, cy], "radius": r}
    if kind == "polygon":
        return {"kind": kind, "shape": "polygon", "rings": _ring_with_hole(rng, cx, cy)}
    if kind in ("thin_h", "thin_v"):  # 1 m wide, across the whole extent
        x0, x1, y0, y1 = inputs.tile_scheme
        if kind == "thin_h":
            bbox = [off_grid(x0 - 1.0), off_grid(x1 + 1.0), off_grid(cy - 0.5), off_grid(cy + 0.5)]
        else:
            bbox = [off_grid(cx - 0.5), off_grid(cx + 0.5), off_grid(y0 - 1.0), off_grid(y1 + 1.0)]
        return {"kind": kind, "shape": "bbox", "bbox": bbox}
    if kind == "knn":
        return {"kind": kind, "shape": "knn", "point": [cx, cy], "k": 1000}
    if kind == "batch":
        side = rng.uniform(8.0, 20.0)
        wins = []
        for i in range(36):
            wx = off_grid(cx + (i % 6 - 3) * side * 1.3)
            wy = off_grid(cy + (i // 6 - 3) * side * 1.3)
            wins.append((i, wx, off_grid(wx + side), wy, off_grid(wy + side)))
        return {"kind": kind, "shape": "batch", "windows": wins}
    raise ValueError(f"unknown query kind {kind!r}")


def _ring_with_hole(rng, cx: float, cy: float):
    """Star-shaped exterior ring (7-9 vertices) plus one inner hole."""
    n = int(rng.integers(7, 10))
    radius = rng.uniform(10.0, 30.0)
    angles = np.sort(rng.uniform(0, 2 * math.pi, n))
    outer = [(off_grid(cx + radius * rng.uniform(0.7, 1.0) * math.cos(a)),
              off_grid(cy + radius * rng.uniform(0.7, 1.0) * math.sin(a)))
             for a in angles]
    h = radius * 0.25
    hole = [(off_grid(cx - h), off_grid(cy - h)), (off_grid(cx + h), off_grid(cy - h)),
            (off_grid(cx + h), off_grid(cy + h)), (off_grid(cx - h), off_grid(cy + h))]
    return [outer, hole]


def rings_wkt(rings) -> str:
    """WKT POLYGON with repr() coordinates, so parsing recovers the floats."""
    parts = []
    for ring in rings:
        pts = list(ring) + [ring[0]]
        parts.append("(" + ", ".join(f"{x!r} {y!r}" for x, y in pts) + ")")
    return "POLYGON (" + ", ".join(parts) + ")"
