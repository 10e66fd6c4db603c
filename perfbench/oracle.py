"""numpy oracle for every query shape the benchmark sends.

Each predicate repeats the engine's documented arithmetic term for term
(inclusive bbox and z bounds, ``dx*dx + dy*dy <= r*r`` for circles, an
even-odd ray cast over all rings for polygons with holes, ``(d2, x, y,
z)`` ordering for kNN ties), so a disagreement is a wrong result, not
rounding. Inputs are (n, 3) float64 arrays of x/y/z.
"""

from __future__ import annotations

import numpy as np


def _bbox_mask(pts: np.ndarray, bbox) -> np.ndarray:
    x0, x1, y0, y1 = (float(v) for v in bbox)
    x, y = pts[:, 0], pts[:, 1]
    return (x >= x0) & (x <= x1) & (y >= y0) & (y <= y1)


def _z_mask(pts: np.ndarray, minz, maxz) -> np.ndarray:
    m = np.ones(len(pts), dtype=bool)
    if minz is not None:
        m &= pts[:, 2] >= float(minz)
    if maxz is not None:
        m &= pts[:, 2] <= float(maxz)
    return m


def even_odd(rings, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Even-odd containment over every ring (exterior and holes)."""
    inside = np.zeros(len(px), dtype=bool)
    for ring in rings:
        n = len(ring)
        for i in range(n):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % n]
            if y1 == y2:
                continue
            crosses = (y1 > py) != (y2 > py)
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            inside ^= crosses & (px < xint)
    return inside


def window(pts: np.ndarray, q: dict) -> np.ndarray:
    """Rows of ``pts`` inside window query ``q`` (bbox/circle/polygon)."""
    shape = q["shape"]
    if shape == "bbox":
        m = _bbox_mask(pts, q["bbox"])
    elif shape == "circle":
        cx, cy = (float(v) for v in q["center"])
        r = float(q["radius"])
        dx = pts[:, 0] - cx
        dy = pts[:, 1] - cy
        m = (dx * dx + dy * dy) <= r * r
    elif shape == "polygon":
        rings = q["rings"]
        xs = [p[0] for ring in rings for p in ring]
        ys = [p[1] for ring in rings for p in ring]
        m = _bbox_mask(pts, (min(xs), max(xs), min(ys), max(ys)))
        cand = np.flatnonzero(m)
        m[cand] = even_odd(rings, pts[cand, 0], pts[cand, 1])
    else:
        raise ValueError(f"not a window shape: {shape!r}")
    m &= _z_mask(pts, q.get("minz"), q.get("maxz"))
    return pts[m]


def knn(pts: np.ndarray, q: dict) -> np.ndarray:
    """The k nearest rows to q['point'], ordered by (d2, x, y, z)."""
    px, py = (float(v) for v in q["point"])
    d2 = (pts[:, 0] - px) * (pts[:, 0] - px) + (pts[:, 1] - py) * (pts[:, 1] - py)
    order = np.lexsort((pts[:, 2], pts[:, 1], pts[:, 0], d2))
    return pts[order[: int(q["k"])]]


def batch(pts: np.ndarray, windows) -> dict[int, tuple[int, float, float]]:
    """{win_id: (count, z_min, z_max)} for every non-empty bbox window."""
    out = {}
    for win_id, x0, x1, y0, y1 in windows:
        z = pts[_bbox_mask(pts, (x0, x1, y0, y1)), 2]
        if len(z):
            out[int(win_id)] = (len(z), float(z.min()), float(z.max()))
    return out


def sort_rows(a: np.ndarray) -> np.ndarray:
    """Rows in (x, y, z) order, for order-free comparison of point sets."""
    return a[np.lexsort((a[:, 2], a[:, 1], a[:, 0]))]


def same_points(got: np.ndarray, want: np.ndarray) -> bool:
    return got.shape == want.shape and np.array_equal(sort_rows(got), sort_rows(want))


_MASKS = [
    (1, 0x5555555555555555),
    (2, 0x3333333333333333),
    (4, 0x0F0F0F0F0F0F0F0F),
    (8, 0x00FF00FF00FF00FF),
    (16, 0x0000FFFF0000FFFF),
]


def _spread(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0xFFFFFFFF)
    for shift, mask in reversed(_MASKS):
        v = (v | (v << np.uint64(shift))) & np.uint64(mask)
    return v


def morton_keys(pts: np.ndarray, scales, offsets) -> np.ndarray:
    """Morton key of each row: x on even bits, y on odd bits of the
    half-up quantized grid coordinates."""
    qx = np.floor((pts[:, 0] - offsets[0]) / scales[0] + 0.5).astype(np.int64)
    qy = np.floor((pts[:, 1] - offsets[1]) / scales[1] + 0.5).astype(np.int64)
    return (_spread(qx) | (_spread(qy) << np.uint64(1))).astype(np.int64)
