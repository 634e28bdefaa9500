"""Differential + property tests for the numpy Delaunay/linear-interp kernel.

The strongest triangulation-independent oracles (no scipy needed):
- brute-force Delaunay: a triple is a Delaunay triangle iff its
  circumcircle contains no other point (general position) — O(n^4) but
  exact, and independent of the Bowyer-Watson code path;
- affine reproduction: ANY valid triangulation's piecewise-linear
  interpolant reproduces f(x, y) = a + bx + cy exactly inside the hull;
- convexity: interpolated values lie within [min, max] of the data.
"""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from oco3_data_transformer_spark.operators import interp as I


def brute_force_delaunay(pts: np.ndarray) -> set[tuple[int, int, int]]:
    """All triples whose circumcircle is empty of other points (exact
    Delaunay for general-position inputs). Reference implementation only."""
    n = len(pts)
    out = set()
    for tri in itertools.combinations(range(n), 3):
        a, b, c = pts[list(tri)]
        M = np.array([a, b, c])
        cc, r2 = I._circumcircles(M[None, 0], M[None, 1], M[None, 2])
        if not np.isfinite(r2[0]):
            continue  # degenerate triple
        d2 = ((pts - cc[0]) ** 2).sum(1)
        others = np.ones(n, dtype=bool)
        others[list(tri)] = False
        if (d2[others] > r2[0] * (1 - 1e-12)).all():
            out.add(tuple(sorted(tri)))
    return out


@pytest.mark.parametrize("seed,n", [(0, 12), (1, 20), (2, 30), (3, 8)])
def test_bowyer_watson_matches_brute_force(seed, n):
    rng = np.random.default_rng(seed)
    pts = rng.uniform(-5, 5, size=(n, 2))
    got = {tuple(t) for t in I.delaunay(pts)}
    want = brute_force_delaunay(pts)
    assert got == want


def test_empty_circumcircle_property_large():
    # n too big for brute force: assert the defining property directly
    rng = np.random.default_rng(42)
    pts = rng.uniform(0, 100, size=(400, 2))
    tris = I.delaunay(pts)
    # Euler: a triangulation of n points with h hull points has
    # 2n - h - 2 triangles; sanity-bound the count
    assert len(tris) > 2 * 400 - 400 - 2 - 1  # h <= n
    a, b, c = pts[tris[:, 0]], pts[tris[:, 1]], pts[tris[:, 2]]
    cc, r2 = I._circumcircles(a, b, c)
    # sample triangles exhaustively against all points (vectorized)
    d2 = ((pts[None, :, :] - cc[:, None, :]) ** 2).sum(-1)  # (m, n)
    inside = d2 < r2[:, None] * (1 - 1e-9)
    inside[np.arange(len(tris))[:, None], tris] = False
    assert not inside.any()


def test_affine_reproduction_random_queries():
    rng = np.random.default_rng(9)
    pts = rng.uniform(-3, 3, size=(80, 2))
    vals = 1.5 - 2.0 * pts[:, 0] + 4.0 * pts[:, 1]
    qx = rng.uniform(-1, 1, 500)  # well inside the hull
    qy = rng.uniform(-1, 1, 500)
    got = I.linear_interpolate(pts, vals, qx, qy)
    # atol bounds the deterministic-jitter error (~|grad f| * span * 1e-9)
    np.testing.assert_allclose(got, 1.5 - 2.0 * qx + 4.0 * qy, atol=1e-6)


def test_interpolation_at_data_points_is_exact():
    rng = np.random.default_rng(11)
    pts = rng.uniform(0, 10, size=(50, 2))
    vals = rng.normal(size=50)
    got = I.linear_interpolate(pts, vals, pts[:, 0], pts[:, 1])
    # atol bounds the jitter error: the true location sits ~1e-8 off the
    # jittered vertex, inside a neighboring facet's plane
    np.testing.assert_allclose(got, vals, atol=1e-6)


def test_convexity_bounds():
    rng = np.random.default_rng(13)
    pts = rng.uniform(0, 1, size=(60, 2))
    vals = rng.uniform(10, 20, size=60)
    q = rng.uniform(0.2, 0.8, size=(300, 2))
    got = I.linear_interpolate(pts, vals, q[:, 0], q[:, 1])
    ok = ~np.isnan(got)
    assert ok.mean() > 0.95  # central queries: nearly all inside hull
    assert (got[ok] >= vals.min() - 1e-9).all()
    assert (got[ok] <= vals.max() + 1e-9).all()


def test_collinear_returns_all_nan():
    pts = np.column_stack([np.arange(6.0), 2.0 * np.arange(6.0)])
    got = I.linear_interpolate(pts, np.arange(6.0), np.array([1.0]), np.array([2.0]))
    assert np.isnan(got).all()
    assert len(I.delaunay(pts)) == 0


def test_duplicate_points_keep_first():
    pts = np.array([[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [1.0, 1.0], [0.0, 0.0]])
    vals = np.array([5.0, 5.0, 5.0, 5.0, 99.0])  # duplicate carries junk
    got = I.linear_interpolate(pts, vals, np.array([0.5]), np.array([0.5]))
    np.testing.assert_allclose(got, [5.0])


def test_single_triangle_barycentric():
    pts = np.array([[0.0, 0.0], [2.0, 0.0], [0.0, 2.0]])
    vals = np.array([0.0, 2.0, 4.0])
    got = I.linear_interpolate(
        pts, vals, np.array([0.5, 1.0, 5.0]), np.array([0.5, 0.0, 5.0])
    )
    # f(x,y) = x + 2y on this triangle
    np.testing.assert_allclose(got[:2], [1.5, 1.0], atol=1e-12)
    assert np.isnan(got[2])  # outside


def test_hull_edge_queries_not_nan():
    """Regression: a too-near super-triangle made a hull face's huge
    circumcircle reach the super vertices, the face never formed, and
    queries ON the hull edge came back NaN. Queries exactly on every hull
    edge must interpolate (planar cloud → exact plane values)."""
    rng = np.random.default_rng(11)
    x = np.concatenate([rng.uniform(0, 10, 40), [0, 10, 0, 10]])
    y = np.concatenate([rng.uniform(0, 10, 40), [0, 0, 10, 10]])
    pts = np.column_stack([x, y])
    vals = 2.0 + 3.0 * x - y
    t = np.linspace(0, 10, 21)
    for qx, qy in [
        (t, np.full_like(t, 10.0)),  # top edge (the observed failure)
        (t, np.zeros_like(t)),
        (np.zeros_like(t), t),
        (np.full_like(t, 10.0), t),
    ]:
        got = I.linear_interpolate(pts, vals, qx, qy)
        np.testing.assert_allclose(got, 2.0 + 3.0 * qx - qy, atol=1e-6)


@pytest.mark.parametrize("seed", [10, 20, 30])
def test_bowyer_watson_matches_brute_force_with_exact_corners(seed):
    """The failure regime: exact bbox corners + interior points (large
    hull circumcircles). BW must still equal the brute-force empty-
    circumcircle triangulation."""
    rng = np.random.default_rng(seed)
    pts = np.vstack(
        [rng.uniform(0, 10, size=(20, 2)),
         [[0, 0], [10, 0], [0, 10], [10, 10]]]
    )
    got = {tuple(t) for t in I.delaunay(pts)}
    want = brute_force_delaunay(pts)
    assert got == want


# ---------------------------------------------------------------------------
# cubic (Bézier patch + Nielson gradients)
# ---------------------------------------------------------------------------


def test_nielson_gradients_exact_for_affine():
    rng = np.random.default_rng(21)
    pts = rng.uniform(0, 1, size=(40, 2))
    tri = I._triangulate(*_prep(pts))
    vals = 0.5 + 2.0 * pts[:, 0] - 3.0 * pts[:, 1]
    # gradients estimated in the same normalized space the tri lives in
    g = I.estimate_gradients(_prep(pts)[0], tri, vals[_keep(pts)])
    np.testing.assert_allclose(g[:, 0], 2.0 * _span(pts), atol=1e-5)
    np.testing.assert_allclose(g[:, 1], -3.0 * _span(pts), atol=1e-5)


def _prep(pts):
    p, keep, lo, span, init = I._prepare(pts)
    return p, init


def _keep(pts):
    return I._prepare(pts)[1]


def _span(pts):
    return I._prepare(pts)[3]


def test_cubic_reproduces_affine():
    rng = np.random.default_rng(22)
    pts = rng.uniform(-2, 4, size=(60, 2))
    vals = 1.0 - 2.5 * pts[:, 0] + 0.75 * pts[:, 1]
    q = rng.uniform(-0.5, 2.5, size=(300, 2))
    got = I.cubic_interpolate(pts, vals, q[:, 0], q[:, 1])
    np.testing.assert_allclose(
        got, 1.0 - 2.5 * q[:, 0] + 0.75 * q[:, 1], atol=1e-4
    )


def test_cubic_reproduces_quadratic_with_exact_gradients():
    """The quadratic-precision b111 choice: with EXACT gradients supplied,
    the patch reproduces any quadratic exactly (the classic BB-cubic
    property; holds regardless of the triangulation)."""
    rng = np.random.default_rng(23)
    pts = rng.uniform(0, 2, size=(50, 2))
    x, y = pts[:, 0], pts[:, 1]
    vals = 1.0 + x - 2 * y + 0.5 * x * x + x * y - 1.5 * y * y
    grads = np.column_stack([1.0 + x + y, -2.0 + x - 3.0 * y])
    q = rng.uniform(0.5, 1.5, size=(200, 2))
    qx, qy = q[:, 0], q[:, 1]
    want = 1.0 + qx - 2 * qy + 0.5 * qx * qx + qx * qy - 1.5 * qy * qy
    got = I.cubic_interpolate(pts, vals, q[:, 0], q[:, 1], gradients=grads)
    np.testing.assert_allclose(got, want, atol=1e-6)


def test_cubic_interpolates_vertex_values():
    rng = np.random.default_rng(24)
    pts = rng.uniform(0, 5, size=(40, 2))
    vals = rng.normal(size=40)
    got = I.cubic_interpolate(pts, vals, pts[:, 0], pts[:, 1])
    np.testing.assert_allclose(got, vals, atol=1e-5)


def _brute_locate(p, tri, qx, qy):
    """Reference point location: test EVERY triangle per query, winner is
    the smallest containing index — the contract _locate's grid index
    must reproduce bit-for-bit (same eps, same barycentric formula)."""
    A, B, C = p[tri[:, 0]], p[tri[:, 1]], p[tri[:, 2]]
    det = (B[:, 1] - C[:, 1]) * (A[:, 0] - C[:, 0]) + (C[:, 0] - B[:, 0]) * (
        A[:, 1] - C[:, 1]
    )
    det = np.where(det == 0.0, np.nan, det)
    nq = len(qx)
    found = np.zeros(nq, bool)
    ti = np.zeros(nq, np.int64)
    l1o, l2o, l3o = np.empty(nq), np.empty(nq), np.empty(nq)
    for i in range(nq):
        dx, dy = qx[i] - C[:, 0], qy[i] - C[:, 1]
        l1 = ((B[:, 1] - C[:, 1]) * dx + (C[:, 0] - B[:, 0]) * dy) / det
        l2 = ((C[:, 1] - A[:, 1]) * dx + (A[:, 0] - C[:, 0]) * dy) / det
        l3 = 1.0 - l1 - l2
        ok = (
            (l1 >= -I._EPS_INSIDE) & (l2 >= -I._EPS_INSIDE) & (l3 >= -I._EPS_INSIDE)
        )
        idx = np.nonzero(ok)[0]
        if len(idx):
            t = idx.min()
            found[i], ti[i] = True, t
            l1o[i], l2o[i], l3o[i] = l1[t], l2[t], l3[t]
    return found, ti, l1o, l2o, l3o


def test_grid_bucketed_locate_matches_brute_force():
    """The grid-bucketed _locate is an INDEX, not a new algorithm: found
    mask, winning triangle, and barycentrics must all be bit-identical to
    testing every triangle."""
    rng = np.random.default_rng(31)
    for _ in range(6):
        n = int(rng.integers(5, 250))
        pts = rng.uniform(0, 1, size=(n, 2))
        p, keep, lo, span, init = I._prepare(pts)
        tri = I._triangulate(p, init)
        if len(tri) == 0:
            continue
        q = rng.uniform(-0.2, 1.2, size=(400, 2))
        got = I._locate(p, tri, q[:, 0], q[:, 1])
        want = _brute_locate(p, tri, q[:, 0], q[:, 1])
        np.testing.assert_array_equal(got[0], want[0])
        m = got[0]
        np.testing.assert_array_equal(got[1][m], want[1][m])
        for k in (2, 3, 4):
            np.testing.assert_array_equal(got[k][m], want[k][m])


def _macro_edge_gradient_jumps(pts, vals):
    """Max relative two-sided numerical-gradient mismatch over interior
    stations of shared macro-triangle edges."""
    p, keep, lo, span, init = I._prepare(pts)
    tri = I._triangulate(p, init)
    edges = np.unique(
        np.sort(tri[:, [0, 1, 1, 2, 2, 0]].reshape(-1, 2), axis=1), axis=0
    )
    a = p[edges[:, 0]] * span + lo
    b = p[edges[:, 1]] * span + lo
    h = 1e-5
    worst = 0.0
    for t in (0.35, 0.65):
        mid = a + t * (b - a)
        nrm = np.column_stack([-(b - a)[:, 1], (b - a)[:, 0]])
        nrm /= np.linalg.norm(nrm, axis=1, keepdims=True)
        grads = []
        for side in (+1.0, -1.0):
            base = mid + side * h * nrm  # just inside one neighbour
            gxy = []
            for d in (np.array([h, 0.0]), np.array([0.0, h])):
                vp = I.cubic_interpolate(
                    pts, vals, (base + d)[:, 0], (base + d)[:, 1]
                )
                vm = I.cubic_interpolate(
                    pts, vals, (base - d)[:, 0], (base - d)[:, 1]
                )
                gxy.append((vp - vm) / (2 * h))
            grads.append(np.column_stack(gxy))
        gu, gd = grads
        ok = np.isfinite(gu).all(1) & np.isfinite(gd).all(1)
        assert ok.sum() > len(edges) / 2  # hull edges have a NaN side
        scale = 1.0 + np.abs(gu[ok]).max()
        worst = max(worst, np.abs(gu[ok] - gd[ok]).max() / scale)
    return worst


def test_cubic_scipy_element_c1_character():
    """The scipy element (Powell g=-1/2, affine-invariant) is exactly C1
    across macro edges only where the edge restriction is quadratic: a
    global quadratic field shows no gradient jump, while a general
    smooth field has a bounded O(1)·curvature jump — the same behaviour
    scipy's CloughTocher2DInterpolator exhibits by construction (its
    per-triangle median reduction directions disagree across shared
    edges). Pinning BOTH sides keeps the parity claim honest: if the
    jump vanished on the general field, we would have built the
    edge-normal element, not scipy's."""
    rng = np.random.default_rng(77)
    pts = rng.uniform(0, 1, size=(25, 2))
    x, y = pts[:, 0], pts[:, 1]
    quad = 0.5 + x - y + 2 * x * x - x * y + 0.5 * y * y
    # quadratic field: exact C1 (gradients est. are exact for quadratics?
    # no — Nielson is exact for affine only; supply exact gradients)
    grads = np.column_stack([1.0 + 4 * x - y, -1.0 - x + y])
    p, keep, lo, span, init = I._prepare(pts)
    tri = I._triangulate(p, init)
    edges = np.unique(
        np.sort(tri[:, [0, 1, 1, 2, 2, 0]].reshape(-1, 2), axis=1), axis=0
    )
    a = p[edges[:, 0]] * span + lo
    b = p[edges[:, 1]] * span + lo
    h = 1e-5
    mid = a + 0.4 * (b - a)
    nrm = np.column_stack([-(b - a)[:, 1], (b - a)[:, 0]])
    nrm /= np.linalg.norm(nrm, axis=1, keepdims=True)
    grads2 = []
    for side in (+1.0, -1.0):
        base = mid + side * h * nrm
        gxy = []
        for d in (np.array([h, 0.0]), np.array([0.0, h])):
            vp = I.cubic_interpolate(
                pts, quad, (base + d)[:, 0], (base + d)[:, 1],
                gradients=grads,
            )
            vm = I.cubic_interpolate(
                pts, quad, (base - d)[:, 0], (base - d)[:, 1],
                gradients=grads,
            )
            gxy.append((vp - vm) / (2 * h))
        grads2.append(np.column_stack(gxy))
    gu, gd = grads2
    ok = np.isfinite(gu).all(1) & np.isfinite(gd).all(1)
    scale = 1.0 + np.abs(gu[ok]).max()
    np.testing.assert_allclose(gu[ok], gd[ok], atol=5e-3 * scale)
    # general smooth field: a real (bounded, nonzero) jump exists
    vals = np.sin(3 * pts[:, 0]) + pts[:, 1] ** 2
    jump = _macro_edge_gradient_jumps(pts, vals)
    assert 1e-3 < jump < 1.0


def test_cubic_scipy_element_affine_invariance():
    """The property scipy chose the g=-1/2 reduction FOR (and the one
    the edge-normal element lacks): with a fixed triangulation, affine
    map A of the vertices and covariant gradients g·A^{-1}, the element
    evaluates identically at corresponding points (barycentric coords
    are affine-invariant, so the located loc tuple is shared)."""
    rng = np.random.default_rng(91)
    pts = rng.uniform(0, 1, size=(30, 2))
    p, keep, lo, span, init = I._prepare(pts)
    tri = I._triangulate(p, init)
    vals = rng.normal(size=len(p))
    g = rng.normal(size=(len(p), 2))
    q = rng.uniform(0.2, 0.8, size=(500, 2))
    loc = I._locate(p, tri, q[:, 0], q[:, 1])
    found = loc[0]
    A = np.array([[3.0, 1.7], [-0.4, 0.25]])  # skewed, anisotropic map
    pm = p @ A.T + np.array([5.0, -2.0])
    gm = g @ np.linalg.inv(A)
    r0 = I._ct_eval(p, tri, vals, g, loc)
    r1 = I._ct_eval(pm, tri, vals, gm, loc)
    np.testing.assert_allclose(r0[found], r1[found], atol=1e-12)


def _median_derivative_linear(pts, vals):
    """Assert the element's defining reduction: along each outer edge the
    one-sided derivative in the MEDIAN direction (centroid minus edge
    midpoint, probing into the macro) is LINEAR in the edge parameter
    (zero second difference)."""
    p, keep, lo, span, init = I._prepare(pts)
    tri = I._triangulate(p, init)
    P = p[tri] * span + lo[None, None, :]
    Vc = P.mean(axis=1)
    a = np.vstack([P[:, 1], P[:, 2], P[:, 0]])
    b = np.vstack([P[:, 2], P[:, 0], P[:, 1]])
    w = np.tile(Vc, (3, 1)) - (a + b) / 2
    w = w / np.linalg.norm(w, axis=1, keepdims=True)
    h = 1e-5
    ts = np.linspace(0.2, 0.8, 5)
    dn = []
    for t in ts:
        mid = a + t * (b - a)
        v0 = I.cubic_interpolate(pts, vals, mid[:, 0], mid[:, 1])
        v1 = I.cubic_interpolate(
            pts, vals, (mid + h * w)[:, 0], (mid + h * w)[:, 1]
        )
        dn.append((v1 - v0) / h)
    dn = np.column_stack(dn)  # (n_edges, 5)
    ok = np.isfinite(dn).all(1)
    assert ok.sum() >= 1
    second = dn[ok][:, :-2] - 2 * dn[ok][:, 1:-1] + dn[ok][:, 2:]
    scale = 1.0 + np.abs(dn[ok]).max()
    np.testing.assert_allclose(second, 0.0, atol=2e-4 * scale)


def test_cubic_median_derivative_linear_along_edge():
    """The element's defining reduction (Powell g=-1/2): the derivative
    in the MEDIAN direction (centroid minus edge midpoint — the
    affine-covariant transversal) linear along each outer edge."""
    rng = np.random.default_rng(78)
    pts = rng.uniform(0, 2, size=(12, 2))
    vals = rng.normal(size=12)
    _median_derivative_linear(pts, vals)


def test_locate_chunked_pair_expansion_bit_identical(monkeypatch):
    """The _LOCATE_PAIR_CAP memory bound must not change results: force
    many tiny blocks and compare against one flat pass."""
    rng = np.random.default_rng(92)
    pts = rng.uniform(0, 1, size=(120, 2))
    p, keep, lo, span, init = I._prepare(pts)
    tri = I._triangulate(p, init)
    q = rng.uniform(-0.1, 1.1, size=(700, 2))
    want = I._locate(p, tri, q[:, 0], q[:, 1])
    monkeypatch.setattr(I, "_LOCATE_PAIR_CAP", 17)
    got = I._locate(p, tri, q[:, 0], q[:, 1])
    np.testing.assert_array_equal(got[0], want[0])
    m = want[0]
    assert m.any() and not m.all()
    for k in range(1, 5):  # barycentrics carry garbage where not found
        np.testing.assert_array_equal(got[k][m], want[k][m])


def test_cubic_matches_class_interface():
    """TriangulatedField.cubic and cubic_interpolate are the same element."""
    rng = np.random.default_rng(79)
    pts = rng.uniform(0, 1, size=(30, 2))
    vals = rng.normal(size=30)
    q = rng.uniform(0.1, 0.9, size=(100, 2))
    tf = I.TriangulatedField(pts[:, 0], pts[:, 1])
    assert tf.ok
    tf.locate(q[:, 0], q[:, 1])
    got_tf = tf.cubic(vals)
    got_fn = I.cubic_interpolate(pts, vals, q[:, 0], q[:, 1])
    np.testing.assert_allclose(got_tf, got_fn, atol=1e-12, equal_nan=True)


def test_cubic_continuous_across_edges():
    """C0 across shared edges: evaluating at points ON internal edges must
    agree with the limit from either side (sample pairs straddling the
    edge by +-1e-7 and compare)."""
    rng = np.random.default_rng(25)
    pts = rng.uniform(0, 1, size=(30, 2))
    vals = rng.normal(size=30)
    prep = I._prepare(pts)
    p, keep, lo, span, init = prep
    tri = I._triangulate(p, init)
    # midpoints of internal edges (original coords), offset along normals
    edges = np.unique(
        np.sort(tri[:, [0, 1, 1, 2, 2, 0]].reshape(-1, 2), axis=1), axis=0
    )
    a = p[edges[:, 0]] * span + lo
    b = p[edges[:, 1]] * span + lo
    mid = (a + b) / 2
    nrm = np.column_stack([-(b - a)[:, 1], (b - a)[:, 0]])
    nrm /= np.linalg.norm(nrm, axis=1, keepdims=True)
    eps = 1e-7
    up = mid + eps * nrm
    dn = mid - eps * nrm
    vu = I.cubic_interpolate(pts, vals, up[:, 0], up[:, 1])
    vd = I.cubic_interpolate(pts, vals, dn[:, 0], dn[:, 1])
    ok = ~np.isnan(vu) & ~np.isnan(vd)
    assert ok.sum() > len(edges) / 2
    np.testing.assert_allclose(vu[ok], vd[ok], atol=1e-4)


def test_cubic_nan_outside_hull():
    pts = np.array([[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [1.0, 1.0], [0.4, 0.6]])
    got = I.cubic_interpolate(
        pts, np.ones(5), np.array([0.5, 5.0]), np.array([0.5, 5.0])
    )
    assert got[0] == pytest.approx(1.0, abs=1e-6)
    assert np.isnan(got[1])


# ---------------------------------------------------------------------------
# hypothesis fuzz: triangulation-structure invariants on arbitrary clouds
# (lattice coordinates included — the degenerate regime that broke two
# earlier kernel designs)
# ---------------------------------------------------------------------------

import random

from hypothesis import example, given, settings
from hypothesis import strategies as st


def _hull_area(P):
    P = P[np.lexsort((P[:, 1], P[:, 0]))]

    def half(Q):
        h = []
        for q in Q:
            while len(h) >= 2 and np.cross(h[-1] - h[-2], q - h[-2]) <= 0:
                h.pop()
            h.append(q)
        return h

    H = np.array(half(P)[:-1] + half(P[::-1])[:-1])
    x, y = H[:, 0], H[:, 1]
    return 0.5 * abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=3,
        max_size=40,
    ),
    st.randoms(use_true_random=False),
)
# (0, 3) extends the x=0 column within 1e-12 of collinear after the
# jitter; a visibility slack of that width built a non-Delaunay sliver
# that the next insertion overlapped (areas summed past the hull area)
@example([(1, 4), (2, 0), (0, 2), (0, 1), (0, 0), (0, 3), (1, 0)], random.Random(0))
def test_triangulation_tiles_the_hull(int_pts, rnd):
    """For ANY point set — lattice duplicates, collinear chains, whatever —
    the triangulation must exactly tile the convex hull (Σ areas == hull
    area within jitter tolerance) with no overlaps, and interpolation of
    an affine field must reproduce it at interior lattice queries."""
    pts = np.array(int_pts, dtype=np.float64)
    # mix in a few non-lattice points so not everything is degenerate
    for _ in range(3):
        pts = np.vstack([pts, [rnd.uniform(0, 12), rnd.uniform(0, 12)]])
    uniq = np.unique(pts, axis=0)
    tris = I.delaunay(pts)
    if len(tris) == 0:
        # legal only for degenerate input (all collinear within gate)
        assert len(uniq) < 3 or _hull_area(uniq) < 1e-6 * 144
        return
    a, b, c = pts[tris[:, 0]], pts[tris[:, 1]], pts[tris[:, 2]]
    areas = 0.5 * np.abs(
        (b[:, 0] - a[:, 0]) * (c[:, 1] - a[:, 1])
        - (b[:, 1] - a[:, 1]) * (c[:, 0] - a[:, 0])
    )
    assert abs(areas.sum() - _hull_area(uniq)) < 1e-5 * max(1.0, _hull_area(uniq))
    # affine reproduction at random interior queries
    vals = 1.0 + 2.0 * pts[:, 0] - 3.0 * pts[:, 1]
    lo, hi = uniq.min(0), uniq.max(0)
    qx = np.array([rnd.uniform(lo[0], hi[0]) for _ in range(20)])
    qy = np.array([rnd.uniform(lo[1], hi[1]) for _ in range(20)])
    got = I.linear_interpolate(pts, vals, qx, qy)
    ok = ~np.isnan(got)
    np.testing.assert_allclose(
        got[ok], (1.0 + 2.0 * qx - 3.0 * qy)[ok], atol=1e-5
    )
