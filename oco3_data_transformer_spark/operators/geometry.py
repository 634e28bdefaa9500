"""Pure-numpy computational geometry for footprint masking (G8, J4-refine).

The reference uses shapely (``Polygon``, ``box().intersects``,
``scale``) — ref processors/OCO3SamProcessor.py:234-307 and
processors/OCO3SamGlobalProcessor.py:237-268. shapely is not available in
this environment, so the three predicates actually needed are implemented
vectorized in numpy:

  - footprint ring build + centroid scaling with the reference's clamp to
    [1.0, 1.5] (ref processors/OCO3SamProcessor.py:234-235);
  - point-in-polygon (ray casting, on-edge counts as inside);
  - axis-aligned-box × polygon intersection (vertex-in-box ∨ corner-in-poly
    ∨ edge-pair crossing) — exact for simple polygons, which sounding
    footprints (quadrilaterals) are.

These run inside the grid kernel (operators/grid.grid_regions), after a
numpy bbox prefilter: only the (cell, footprint) pairs whose bounding boxes
overlap reach the exact test. Target and global mode share that one path.
"""

from __future__ import annotations

import numpy as np

FOOTPRINT_SCALE_MIN = 1.0
FOOTPRINT_SCALE_MAX = 1.5  # ref processors/OCO3SamProcessor.py:234-235


def scale_footprint(
    lons: np.ndarray, lats: np.ndarray, factor: float
) -> tuple[np.ndarray, np.ndarray]:
    """Scale footprint vertex rings about their centroids.

    ``lons``/``lats``: (n_footprints, n_vertices). Factor clamped to
    [1, 1.5] like the reference's config validation.
    """
    f = min(max(factor, FOOTPRINT_SCALE_MIN), FOOTPRINT_SCALE_MAX)
    cx = lons.mean(axis=1, keepdims=True)
    cy = lats.mean(axis=1, keepdims=True)
    return cx + (lons - cx) * f, cy + (lats - cy) * f


def points_in_polygon(
    px: np.ndarray, py: np.ndarray, poly_x: np.ndarray, poly_y: np.ndarray
) -> np.ndarray:
    """Ray-casting point-in-polygon, vectorized over points.

    ``poly_x/poly_y``: (n_vertices,) unclosed ring. Returns bool (n_points,).
    """
    n = len(poly_x)
    inside = np.zeros(px.shape, dtype=bool)
    j = n - 1
    for i in range(n):
        xi, yi = poly_x[i], poly_y[i]
        xj, yj = poly_x[j], poly_y[j]
        crosses = (yi > py) != (yj > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at = (xj - xi) * (py - yi) / (yj - yi) + xi
        inside ^= crosses & (px < x_at)
        j = i
    return inside


def _segments_cross(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1) -> np.ndarray:
    """Proper/improper segment intersection test, vectorized (broadcastable)."""

    def orient(ox, oy, px_, py_, qx, qy):
        return (px_ - ox) * (qy - oy) - (py_ - oy) * (qx - ox)

    d1 = orient(bx0, by0, bx1, by1, ax0, ay0)
    d2 = orient(bx0, by0, bx1, by1, ax1, ay1)
    d3 = orient(ax0, ay0, ax1, ay1, bx0, by0)
    d4 = orient(ax0, ay0, ax1, ay1, bx1, by1)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))

    def on_seg(ox, oy, qx, qy, px_, py_):
        return (
            (np.minimum(ox, qx) <= px_)
            & (px_ <= np.maximum(ox, qx))
            & (np.minimum(oy, qy) <= py_)
            & (py_ <= np.maximum(oy, qy))
        )

    touch = (
        ((d1 == 0) & on_seg(bx0, by0, bx1, by1, ax0, ay0))
        | ((d2 == 0) & on_seg(bx0, by0, bx1, by1, ax1, ay1))
        | ((d3 == 0) & on_seg(ax0, ay0, ax1, ay1, bx0, by0))
        | ((d4 == 0) & on_seg(ax0, ay0, ax1, ay1, bx1, by1))
    )
    return proper | touch


def boxes_intersect_polygons(
    box_min_x: np.ndarray,
    box_min_y: np.ndarray,
    box_max_x: np.ndarray,
    box_max_y: np.ndarray,
    poly_x: np.ndarray,
    poly_y: np.ndarray,
) -> np.ndarray:
    """Exact box × polygon intersection, vectorized over (box, polygon) rows.

    All box arrays are (n,); ``poly_x/poly_y`` are (n, v) — row i's box is
    tested against row i's polygon (the pair layout produced by the bbox
    prefilter join). Matches shapely ``box(...).intersects(Polygon(...))``
    for simple polygons: true iff any polygon vertex lies in the box, any
    box corner lies in the polygon, or any box edge crosses any polygon
    edge.
    """
    n, v = poly_x.shape
    # (a) any polygon vertex inside the box
    vert_in_box = (
        (poly_x >= box_min_x[:, None])
        & (poly_x <= box_max_x[:, None])
        & (poly_y >= box_min_y[:, None])
        & (poly_y <= box_max_y[:, None])
    ).any(axis=1)

    # (b) any box corner inside the polygon (row-wise ray cast)
    corner_in_poly = np.zeros(n, dtype=bool)
    corners = [
        (box_min_x, box_min_y),
        (box_min_x, box_max_y),
        (box_max_x, box_min_y),
        (box_max_x, box_max_y),
    ]
    for cx, cy in corners:
        inside = np.zeros(n, dtype=bool)
        j = v - 1
        for i in range(v):
            xi, yi = poly_x[:, i], poly_y[:, i]
            xj, yj = poly_x[:, j], poly_y[:, j]
            crosses = (yi > cy) != (yj > cy)
            with np.errstate(divide="ignore", invalid="ignore"):
                x_at = (xj - xi) * (cy - yi) / (yj - yi) + xi
            inside ^= crosses & (cx < x_at)
            j = i
        corner_in_poly |= inside

    # (c) any box edge crosses any polygon edge
    edge_cross = np.zeros(n, dtype=bool)
    box_edges = [
        (box_min_x, box_min_y, box_max_x, box_min_y),
        (box_max_x, box_min_y, box_max_x, box_max_y),
        (box_max_x, box_max_y, box_min_x, box_max_y),
        (box_min_x, box_max_y, box_min_x, box_min_y),
    ]
    for ax0, ay0, ax1, ay1 in box_edges:
        j = v - 1
        for i in range(v):
            edge_cross |= _segments_cross(
                ax0, ay0, ax1, ay1, poly_x[:, j], poly_y[:, j], poly_x[:, i], poly_y[:, i]
            )
            j = i

    return vert_in_box | corner_in_poly | edge_cross
