"""Pure-numpy 2-D Delaunay triangulation + piecewise-linear and
Clough-Tocher cubic interpolation: the G1 gridding kernel's only 'linear'
and 'cubic' paths. The reference runs
``scipy.interpolate.griddata(..., method='linear'|'cubic')`` (ref
processors/OCO3SamProcessor.py:161-182), which is Qhull Delaunay +
barycentric (or Clough-Tocher) interpolation, NaN outside the convex hull.
The same math is implemented here from the public textbook algorithms, so
the gridded output does not depend on whether scipy is importable.

Robustness design (each choice pinned by a regression in
tests/test_delaunay.py — both alternatives were tried and failed):

- **Symbolic infinite vertex, not a super-triangle** (the CGAL/Triangle
  approach): the outside of the hull is covered by infinite faces, one
  per hull edge, whose "in-circumcircle" test degenerates to an
  orientation (edge-visibility) test. A finite super-triangle has no safe
  size — too near and a hull face's huge circumcircle swallows the super
  vertices (the face never forms: NaN band on the hull); too far and
  mixed-triangle circumcircle arithmetic loses the float64 precision
  needed to discriminate unit-square points (interior holes).
- **Deterministic 1e-9 jitter in normalized space** (a lightweight
  simulation-of-simplicity): real inputs are lattice-structured (the q126
  CRT coordinates), so exactly-collinear chains and co-circular quads are
  the NORM, and exact degeneracies create zero-area sliver triangles
  whose infinite circumcircle poisons every later cavity. The jitter
  breaks all ties consistently; triangulation AND barycentric evaluation
  share the same jittered coordinates, so the interpolant is exact for
  the jittered geometry (off the true one by O(1e-9·span·gradient) — far
  below the catalog's rounding). Fully-collinear inputs are detected
  BEFORE the jitter and return an all-NaN grid (Qhull raises there; the
  pipeline wants the graceful answer).

Semantics notes vs scipy:
- On general-position inputs any Delaunay triangulation yields the same
  interpolant wherever the triangulation is unique; piecewise-linear
  interpolation reproduces affine functions exactly (the differential
  oracle used by the tests, plus a brute-force empty-circumcircle
  reference triangulation).
- Co-circular point sets have non-unique Delaunay diagonals; scipy/Qhull
  and this kernel may pick different (both valid) diagonals there.
- Exact duplicate coordinates are collapsed keeping the first occurrence
  (Qhull merges them too).

Complexity: per inserted point the circumcircle/visibility tests are one
vectorized numpy pass over the live faces — O(n) iterations of C-speed
array ops (O(n²) worst case; fine for per-(day, region) group sizes, and
groups are the parallel unit — the triangulation never crosses groups).
"""

from __future__ import annotations

import numpy as np

_EPS_CIRCUM = 1e-12  # relative slack on the in-circumcircle test
_JITTER = 1e-9  # symbolic-style perturbation (normalized coords)
_EPS_COLLINEAR = 1e-9  # pre-jitter degenerate-input gate (normalized)
_EPS_INSIDE = 1e-6  # barycentric inside-slack (normalized; covers jitter)
_LOCATE_PAIR_CAP = 4_000_000  # max (query, candidate) pairs per _locate block


def _circumcircles(a: np.ndarray, b: np.ndarray, c: np.ndarray):
    """Circumcenter + squared radius for each triangle (vectorized).
    Degenerate (collinear) triangles get an infinite circumcircle — the
    jitter makes them unreachable in practice."""
    d = 2.0 * (
        a[:, 0] * (b[:, 1] - c[:, 1])
        + b[:, 0] * (c[:, 1] - a[:, 1])
        + c[:, 0] * (a[:, 1] - b[:, 1])
    )
    with np.errstate(divide="ignore", invalid="ignore"):
        a2 = (a * a).sum(1)
        b2 = (b * b).sum(1)
        c2 = (c * c).sum(1)
        ux = (
            a2 * (b[:, 1] - c[:, 1])
            + b2 * (c[:, 1] - a[:, 1])
            + c2 * (a[:, 1] - b[:, 1])
        ) / d
        uy = (
            a2 * (c[:, 0] - b[:, 0])
            + b2 * (a[:, 0] - c[:, 0])
            + c2 * (b[:, 0] - a[:, 0])
        ) / d
    cc = np.column_stack([ux, uy])
    r2 = ((a - cc) ** 2).sum(1)
    bad = ~np.isfinite(r2)
    if bad.any():
        cc[bad] = 0.0
        r2[bad] = np.inf
    return cc, r2


def _prepare(pts: np.ndarray):
    """Dedupe → normalize to the unit square → degenerate gate →
    deterministic jitter. Returns ``(p, keep)`` where ``p`` is the
    jittered normalized coordinate array and ``keep`` the original row
    index of each kept point, plus ``(lo, span)`` to normalize queries —
    or None when the input cannot support a triangulation."""
    pts = np.asarray(pts, dtype=np.float64)
    if len(pts) < 3:
        return None
    lo = pts.min(axis=0)
    span = float(np.max(pts.max(axis=0) - lo))
    if span <= 0.0:
        return None  # all points identical
    p_all = (pts - lo) / span
    keep = np.sort(np.unique(p_all, axis=0, return_index=True)[1])
    p = p_all[keep]
    if len(p) < 3:
        return None
    # collinearity gate on the TRUE coords: A = lexicographic min,
    # B = farthest from A; degenerate iff every point is within
    # _EPS_COLLINEAR of line AB
    ia = np.lexsort((p[:, 1], p[:, 0]))[0]
    d2a = ((p - p[ia]) ** 2).sum(1)
    ib = int(np.argmax(d2a))
    ab = p[ib] - p[ia]
    cross = np.abs(ab[0] * (p[:, 1] - p[ia, 1]) - ab[1] * (p[:, 0] - p[ia, 0]))
    dist = cross / max(np.sqrt(d2a[ib]), 1e-300)
    ic = int(np.argmax(dist))
    if dist[ic] < _EPS_COLLINEAR:
        return None  # all collinear
    rng = np.random.default_rng(0x5EED)
    p = p + rng.uniform(-_JITTER, _JITTER, p.shape)
    return p, keep, lo, span, (ia, ib, ic)


def _triangulate(p: np.ndarray, init: tuple[int, int, int]) -> np.ndarray:
    """Bowyer-Watson over prepared (jittered, unit-square) points with a
    symbolic infinite vertex. ``init`` is a well-conditioned starting
    triple (the two hull extremes + the max-offset point).

    The in-circle test is the classic TRANSLATED DETERMINANT predicate on
    CCW-oriented triangles, NOT a distance-to-circumcenter comparison:
    near-degenerate slivers (unavoidable on lattice inputs even after the
    jitter) have circumcenters computed through catastrophic cancellation
    (error ~1e-16/area), and one misclassified conflict leaves a
    non-Delaunay hole that derails every later cavity (observed: a
    k=37 lattice prefix exploding to 4x the hull area). The determinant's
    error is ~1e-15 ABSOLUTE for unit-square inputs regardless of the
    triangle's shape, which the 1e-9 jitter scale dominates safely."""
    m = len(p)
    INF = m

    def orient(a, b, q):  # >0: q left of a→b
        return (b[0] - a[0]) * (q[1] - a[1]) - (b[1] - a[1]) * (q[0] - a[0])

    t0 = list(init)
    if orient(p[t0[0]], p[t0[1]], p[t0[2]]) < 0:
        t0 = [t0[0], t0[2], t0[1]]  # store CCW
    order = t0 + [j for j in range(m) if j not in init]
    tris = np.array([t0], dtype=np.int64)
    csum = p[t0].sum(axis=0)
    n_in = 3

    def directed(u, v, cen):
        # infinite face stored as (a, b) with the OUTSIDE half-plane
        # "left of a→b"; the running centroid is strictly interior
        # (convexity), so it must sit on the right
        return (u, v) if orient(p[u], p[v], cen) < 0 else (v, u)

    cen0 = csum / 3
    inf_faces = np.array(
        [
            directed(a, b, cen0)
            for a, b in ((t0[0], t0[1]), (t0[1], t0[2]), (t0[2], t0[0]))
        ],
        dtype=np.int64,
    )

    enc = INF + 1  # pair-code base: edges encode as lo*enc + hi, hi <= INF
    for i in order[3:]:
        q = p[i]
        # incircle determinant, translated by q (CCW rows → >0 = inside).
        # lift as an elementwise x²+y² add (bit-identical to the axis
        # reduce — two summands, same order) — the reduce dispatch was a
        # measured ~20% of the loop (r10 micro-opt; arithmetic unchanged)
        T = p[tris] - q  # (k, 3, 2)
        T2 = T * T
        lift = T2[:, :, 0] + T2[:, :, 1]  # (k, 3)
        ax, ay = T[:, 0, 0], T[:, 0, 1]
        bx, by = T[:, 1, 0], T[:, 1, 1]
        cx, cy = T[:, 2, 0], T[:, 2, 1]
        det = (
            lift[:, 0] * (bx * cy - by * cx)
            - lift[:, 1] * (ax * cy - ay * cx)
            + lift[:, 2] * (ax * by - ay * bx)
        )
        bad_fin = det > 0.0
        a, b = p[inf_faces[:, 0]], p[inf_faces[:, 1]]
        ori = (b[:, 0] - a[:, 0]) * (q[1] - a[:, 1]) - (b[:, 1] - a[:, 1]) * (
            q[0] - a[:, 0]
        )
        # visibility: for a convex hull the conflicting edge set is
        # exactly the visible chain, so the cavity stays star-shaped.
        # Strict sign, no slack: the jitter already puts every point off
        # every hull line, and a slack band wider than the float error
        # (~1e-16) counts an interior point as outside a hull edge it
        # nearly extends (a lattice column within 1e-12 of collinear),
        # building a non-Delaunay sliver that later cavities overlap
        bad_inf = ori > 0.0
        if not (bad_fin.any() or bad_inf.any()):
            continue  # cannot happen on unique jittered input
        # boundary = edges appearing exactly once in the cavity, found on
        # int-encoded sorted pair codes instead of np.unique(axis=0)'s
        # void-view sort (same multiset, and ascending code order IS the
        # (lo, hi) lexicographic order np.unique produced — the boundary
        # row order, hence the new-triangle order, is unchanged)
        bt = tris[bad_fin]
        infs = inf_faces[bad_inf]
        ni = len(infs)
        e0 = np.concatenate(
            [bt[:, 0], bt[:, 1], bt[:, 2], infs[:, 0], infs.reshape(-1)]
        )
        e1 = np.concatenate(
            [bt[:, 1], bt[:, 2], bt[:, 0], infs[:, 1],
             np.full(2 * ni, INF, dtype=np.int64)]
        )
        code = np.minimum(e0, e1) * enc + np.maximum(e0, e1)
        code.sort()
        once = np.ones(len(code), dtype=bool)
        neq = code[1:] != code[:-1]
        once[1:] &= neq
        once[:-1] &= neq
        bcode = code[once]
        blo = bcode // enc
        bhi = bcode - blo * enc
        csum = csum + q
        n_in += 1
        cen = csum / n_in
        fin_mask = bhi != INF
        new = np.column_stack(
            [
                np.full(int(fin_mask.sum()), i, dtype=np.int64),
                blo[fin_mask],
                bhi[fin_mask],
            ]
        )
        # orient new triangles CCW (the incircle sign depends on it)
        U, V = p[new[:, 1]], p[new[:, 2]]
        cr = (U[:, 0] - q[0]) * (V[:, 1] - q[1]) - (U[:, 1] - q[1]) * (
            V[:, 0] - q[0]
        )
        flip = cr < 0
        new[flip, 1], new[flip, 2] = new[flip, 2], new[flip, 1].copy()
        tris = np.vstack([tris[~bad_fin], new])
        new_inf = [directed(i, int(u), cen) for u in blo[~fin_mask]]
        inf_faces = (
            np.vstack([inf_faces[~bad_inf], np.asarray(new_inf, dtype=np.int64)])
            if new_inf
            else inf_faces[~bad_inf]
        )
    return tris


def delaunay(points: np.ndarray) -> np.ndarray:
    """Delaunay triangulation of ``points`` (n, 2) → int array (m, 3) of
    vertex indices into the ORIGINAL array. Empty result for n < 3 or
    fully degenerate (collinear/identical) input; duplicate coordinates
    collapse to the first occurrence."""
    prep = _prepare(points)
    if prep is None:
        return np.empty((0, 3), dtype=np.int64)
    p, keep, _, _, init = prep
    return np.sort(keep[_triangulate(p, init)], axis=1)


def _locate(p: np.ndarray, tri: np.ndarray, qxn: np.ndarray, qyn: np.ndarray):
    """Grid-bucketed point location: for each query return (found,
    tri_index, l1, l2, l3) — the SMALLEST-INDEX containing triangle
    (with ``_EPS_INSIDE`` slack) and its barycentric coordinates.

    Triangles are binned by bounding box into a ~sqrt(nt) x sqrt(nt)
    uniform grid (CSR layout); each query tests only its own cell's
    candidates, all in flat vectorized pair lists. For a Delaunay
    triangulation of n near-uniform points the expected candidate count
    per query is O(1), so total work is O(nt + nq) — versus the
    O(nq·|band|) of the previous chunked bounding-box prefilter, which
    made reference-scale global meshes (3600x1800 over large granule
    clouds) location-bound. The winner rule (lowest triangle index among
    containing triangles, identical eps and barycentric math) is
    unchanged, so outputs are bit-identical to the previous
    implementation."""
    nq = len(qxn)
    nt = len(tri)
    found = np.zeros(nq, dtype=bool)
    ti_out = np.zeros(nq, dtype=np.int64)
    l1o = np.empty(nq)
    l2o = np.empty(nq)
    l3o = np.empty(nq)
    if nt == 0 or nq == 0:
        return found, ti_out, l1o, l2o, l3o
    A, B, C = p[tri[:, 0]], p[tri[:, 1]], p[tri[:, 2]]
    det_all = (B[:, 1] - C[:, 1]) * (A[:, 0] - C[:, 0]) + (C[:, 0] - B[:, 0]) * (
        A[:, 1] - C[:, 1]
    )
    det_all = np.where(det_all == 0.0, np.nan, det_all)
    txs = np.stack([A[:, 0], B[:, 0], C[:, 0]])
    tys = np.stack([A[:, 1], B[:, 1], C[:, 1]])
    tminx, tmaxx = txs.min(0) - _EPS_INSIDE, txs.max(0) + _EPS_INSIDE
    tminy, tmaxy = tys.min(0) - _EPS_INSIDE, tys.max(0) + _EPS_INSIDE
    # --- build the uniform grid over the triangulation's bbox ---------
    G = int(np.clip(np.sqrt(nt), 2, 512))
    gx0, gx1 = float(tminx.min()), float(tmaxx.max())
    gy0, gy1 = float(tminy.min()), float(tmaxy.max())
    sx = G / max(gx1 - gx0, 1e-300)
    sy = G / max(gy1 - gy0, 1e-300)
    cx0 = np.clip(((tminx - gx0) * sx).astype(np.int64), 0, G - 1)
    cx1 = np.clip(((tmaxx - gx0) * sx).astype(np.int64), 0, G - 1)
    cy0 = np.clip(((tminy - gy0) * sy).astype(np.int64), 0, G - 1)
    cy1 = np.clip(((tmaxy - gy0) * sy).astype(np.int64), 0, G - 1)
    w = cx1 - cx0 + 1
    hgt = cy1 - cy0 + 1
    ncells = w * hgt  # cells each triangle's bbox spans
    total = int(ncells.sum())
    tri_rep = np.repeat(np.arange(nt), ncells)
    k = np.arange(total) - np.repeat(np.concatenate([[0], np.cumsum(ncells)[:-1]]), ncells)
    wk = np.repeat(w, ncells)
    cell = (np.repeat(cx0, ncells) + k % wk) + G * (np.repeat(cy0, ncells) + k // wk)
    order = np.argsort(cell, kind="stable")  # stable keeps tri index ascending
    cell_sorted = cell[order]
    tri_sorted = tri_rep[order]
    counts = np.bincount(cell_sorted, minlength=G * G)
    offsets = np.concatenate([[0], np.cumsum(counts)])
    # --- expand (query, candidate) pairs -------------------------------
    qcx = np.clip(((qxn - gx0) * sx).astype(np.int64), 0, G - 1)
    qcy = np.clip(((qyn - gy0) * sy).astype(np.int64), 0, G - 1)
    qcell = qcx + G * qcy
    qcounts = counts[qcell]
    cum = np.concatenate([[0], np.cumsum(qcounts)])
    qtotal = int(cum[-1])
    if qtotal == 0:
        return found, ti_out, l1o, l2o, l3o
    # --- barycentric test, chunked over the query axis -----------------
    # The flat pair list costs ~7 float64 temporaries per pair; capping
    # each block at _LOCATE_PAIR_CAP pairs bounds peak memory (~250 MB)
    # independent of mesh size or triangulation skew (sliver-heavy
    # clouds can push pairs-per-query far above the O(1) expectation).
    # Results are bit-identical to one flat pass: the winner rule is a
    # per-query minimum and blocks never split a query's candidates.
    best = np.full(nq, nt, dtype=np.int64)
    start = 0
    while start < nq:
        end = int(np.searchsorted(cum, cum[start] + _LOCATE_PAIR_CAP, "right")) - 1
        end = min(max(end, start + 1), nq)
        qc = qcounts[start:end]
        tot = int(cum[end] - cum[start])
        start0 = start
        start = end
        if tot == 0:
            continue
        q_rep = np.repeat(np.arange(start0, end), qc)
        within = np.arange(tot) - np.repeat(cum[start0:end] - cum[start0], qc)
        t_idx = tri_sorted[np.repeat(offsets[qcell[start0:end]], qc) + within]
        a, b, c = A[t_idx], B[t_idx], C[t_idx]
        det = det_all[t_idx]
        dx = qxn[q_rep] - c[:, 0]
        dy = qyn[q_rep] - c[:, 1]
        l1 = ((b[:, 1] - c[:, 1]) * dx + (c[:, 0] - b[:, 0]) * dy) / det
        l2 = ((c[:, 1] - a[:, 1]) * dx + (a[:, 0] - c[:, 0]) * dy) / det
        l3 = 1.0 - l1 - l2
        inside = (
            (l1 >= -_EPS_INSIDE) & (l2 >= -_EPS_INSIDE) & (l3 >= -_EPS_INSIDE)
        )
        np.minimum.at(best, q_rep[inside], t_idx[inside])
    found = best < nt
    # recompute barycentrics for winners only (nq ops, avoids carrying
    # per-pair results through the reduction)
    wi = best[found]
    a, b, c = A[wi], B[wi], C[wi]
    det = det_all[wi]
    dx = qxn[found] - c[:, 0]
    dy = qyn[found] - c[:, 1]
    w1 = ((b[:, 1] - c[:, 1]) * dx + (c[:, 0] - b[:, 0]) * dy) / det
    w2 = ((c[:, 1] - a[:, 1]) * dx + (a[:, 0] - c[:, 0]) * dy) / det
    ti_out[found] = wi
    l1o[found] = w1
    l2o[found] = w2
    l3o[found] = 1.0 - w1 - w2
    return found, ti_out, l1o, l2o, l3o


def linear_interpolate(
    pts: np.ndarray,
    values: np.ndarray,
    qx: np.ndarray,
    qy: np.ndarray,
) -> np.ndarray:
    """Piecewise-linear (barycentric) interpolation of scattered ``pts``
    (n, 2) / ``values`` (n,) at query locations — NaN outside the convex
    hull. Triangulation and barycentric weights share the same jittered
    normalized coordinates (see module docstring), so the evaluation is
    self-consistent: no pinholes on internal edges."""
    values = np.asarray(values, dtype=np.float64)
    qx = np.asarray(qx, dtype=np.float64)
    qy = np.asarray(qy, dtype=np.float64)
    out = np.full(len(qx), np.nan)
    prep = _prepare(pts)
    if prep is None:
        return out
    p, keep, lo, span, init = prep
    vals = values[keep]
    tri = _triangulate(p, init)
    if len(tri) == 0:
        return out
    qxn = (qx - lo[0]) / span
    qyn = (qy - lo[1]) / span
    found, ti, l1, l2, l3 = _locate(p, tri, qxn, qyn)
    va, vb, vc = vals[tri[:, 0]], vals[tri[:, 1]], vals[tri[:, 2]]
    res = l1 * va[ti] + l2 * vb[ti] + l3 * vc[ti]
    out[found] = res[found]
    return out


def estimate_gradients(
    p: np.ndarray,
    tri: np.ndarray,
    vals: np.ndarray,
    maxiter: int = 400,
    tol: float = 1e-8,
) -> np.ndarray:
    """Global gradient estimation (Nielson 1983, the method scipy's
    CloughTocher2DInterpolator uses): pick per-vertex gradients minimizing
    the summed bending energy of the cubic Hermite curves along every
    triangulation edge, Σ_e (1/|e|³)∫ h_e''(t)² dt. The stationarity
    conditions are a per-vertex 2x2 linear system coupled to the
    neighbors' gradients; solved by vectorized Jacobi iteration (each
    round is a handful of scatter-adds). Exact for affine fields (the
    true constant gradient zeroes every edge residual)."""
    n = len(p)
    edges = np.unique(
        np.sort(tri[:, [0, 1, 1, 2, 2, 0]].reshape(-1, 2), axis=1), axis=0
    )
    src = np.concatenate([edges[:, 0], edges[:, 1]])
    dst = np.concatenate([edges[:, 1], edges[:, 0]])
    evec = p[dst] - p[src]
    L2 = (evec * evec).sum(1)
    w = 1.0 / np.maximum(L2, 1e-300) ** 1.5
    dv = vals[dst] - vals[src]
    # per-vertex 2x2 normal matrix A_i = Σ_j 8 w e eᵀ (constant)
    A = np.zeros((n, 2, 2))
    outer = 8.0 * w[:, None, None] * evec[:, :, None] * evec[:, None, :]
    np.add.at(A, src, outer)
    detA = A[:, 0, 0] * A[:, 1, 1] - A[:, 0, 1] * A[:, 1, 0]
    detA = np.where(detA == 0.0, np.nan, detA)
    inv = np.empty_like(A)
    inv[:, 0, 0] = A[:, 1, 1] / detA
    inv[:, 1, 1] = A[:, 0, 0] / detA
    inv[:, 0, 1] = -A[:, 0, 1] / detA
    inv[:, 1, 0] = -A[:, 1, 0] / detA
    g = np.zeros((n, 2))
    for _ in range(maxiter):
        gj_dot_e = (g[dst] * evec).sum(1)
        coef = w * (12.0 * dv - 4.0 * gj_dot_e)
        b = np.zeros((n, 2))
        np.add.at(b, src, coef[:, None] * evec)
        g_new = np.einsum("nij,nj->ni", inv, b)
        g_new = np.nan_to_num(g_new)
        if np.max(np.abs(g_new - g)) < tol * (1.0 + np.max(np.abs(g_new))):
            g = g_new
            break
        g = g_new
    return g


def cubic_interpolate(
    pts: np.ndarray,
    values: np.ndarray,
    qx: np.ndarray,
    qy: np.ndarray,
    gradients: np.ndarray | None = None,
) -> np.ndarray:
    """Piecewise-CUBIC scattered-data interpolation: a reduced
    Clough-Tocher element on the Delaunay triangulation, with
    Nielson-estimated (or supplied) vertex gradients. NaN outside the
    convex hull. (Ref processors/OCO3SamProcessor.py:161-182 executes
    scipy's griddata cubic = CloughTocher2DInterpolator.)

    Construction (Clough-Tocher 1965; Farin 1986, "Triangular
    Bernstein-Bézier patches"): each macro-triangle (V1,V2,V3) is split
    at the centroid Vc into three cubic Bézier mini-patches. The 12 dofs
    are vertex values+gradients (9) plus one cross-derivative per outer
    edge (3), fixed by a reduction condition: the derivative in a chosen
    TRANSVERSAL direction w varies LINEARLY along each outer edge. The
    element is Powell's affine-invariant choice, w = the median direction
    (g1=g2=g3=-1/2 in scipy's ``interpnd.pyx _clough_tocher_2d_single``
    parametrization). Identical formulas to scipy, so the output matches
    scipy's CloughTocher2DInterpolator to float rounding (skip-gated
    differential in tests/test_ready_goldens.py). Affine-invariant (no
    oscillation blow-up on sliver triangles — scipy's stated reason for
    rejecting the edge normal), C1 at vertices and across the three
    internal edges, exactly C1 across macro edges only where the edge
    restriction is quadratic (e.g. global quadratic fields); elsewhere
    the cross-edge normal derivative has a bounded O(h·curvature) jump —
    a property scipy's element shares by construction even though its
    docstring says "C1". It reproduces quadratics exactly given exact
    gradients and interpolates values and gradients at the vertices."""
    values = np.asarray(values, dtype=np.float64)
    qx = np.asarray(qx, dtype=np.float64)
    qy = np.asarray(qy, dtype=np.float64)
    out = np.full(len(qx), np.nan)
    prep = _prepare(pts)
    if prep is None:
        return out
    p, keep, lo, span, init = prep
    vals = values[keep]
    tri = _triangulate(p, init)
    if len(tri) == 0:
        return out
    if gradients is None:
        g = estimate_gradients(p, tri, vals)
    else:
        # supplied gradients are w.r.t. ORIGINAL coords; normalized space
        # scales both axes by 1/span, so g_norm = g * span
        g = np.asarray(gradients, dtype=np.float64)[keep] * span
    qxn = (qx - lo[0]) / span
    qyn = (qy - lo[1]) / span
    loc = _locate(p, tri, qxn, qyn)
    found = loc[0]
    res = _ct_eval(p, tri, vals, g, loc)
    out[found] = res[found]
    return out


def _ct_eval(
    p: np.ndarray,
    tri: np.ndarray,
    vals: np.ndarray,
    g: np.ndarray,
    loc: tuple,
) -> np.ndarray:
    """Powell's affine-invariant reduced CT element — the element scipy's
    ``interpnd.pyx _clough_tocher_2d_single`` evaluates, vectorized over
    the located (query, triangle) pairs. Same arithmetic as scipy:
    condensed 4-index Bernstein coefficients c_{ijkl} (l ↔ the centroid
    split vertex), interior coefficients from the g=-1/2 linearity
    condition (derivative along the MEDIAN direction linear along each
    outer edge — re-derived independently in round 9 and confirmed
    identical to scipy's published formulas), evaluation via the
    extended-barycentric trick b'=(b−min(b), 3·min(b)) which selects the
    containing mini-patch implicitly."""
    found, ti, l1, l2, l3 = loc
    P = p[tri]  # (nt, 3, 2)
    F = vals[tri]  # (nt, 3)
    G = g[tri]  # (nt, 3, 2)
    f1, f2, f3 = F[:, 0], F[:, 1], F[:, 2]
    e12 = P[:, 1] - P[:, 0]
    e23 = P[:, 2] - P[:, 1]
    e31 = P[:, 0] - P[:, 2]
    df12 = (G[:, 0] * e12).sum(-1)
    df21 = -(G[:, 1] * e12).sum(-1)
    df23 = (G[:, 1] * e23).sum(-1)
    df32 = -(G[:, 2] * e23).sum(-1)
    df31 = (G[:, 2] * e31).sum(-1)
    df13 = -(G[:, 0] * e31).sum(-1)
    c3000 = f1
    c2100 = (df12 + 3.0 * f1) / 3.0
    c2010 = (df13 + 3.0 * f1) / 3.0
    c0300 = f2
    c1200 = (df21 + 3.0 * f2) / 3.0
    c0210 = (df23 + 3.0 * f2) / 3.0
    c0030 = f3
    c1020 = (df31 + 3.0 * f3) / 3.0
    c0120 = (df32 + 3.0 * f3) / 3.0
    c2001 = (c2100 + c2010 + c3000) / 3.0
    c0201 = (c1200 + c0300 + c0210) / 3.0
    c0021 = (c1020 + c0120 + c0030) / 3.0
    # interior coefficients: D_w u linear along each outer edge, with
    # w = e_toward_centroid + g·e_edge and g = -1/2 (the median) — the
    # affine-invariant choice (scipy's comment rejects the edge normal
    # as oscillation-prone on narrow triangles)
    gg = -0.5
    c0111 = (
        gg * (-c0300 + 3.0 * c0210 - 3.0 * c0120 + c0030)
        + (-c0300 + 2.0 * c0210 - c0120 + c0021 + c0201)
    ) / 2.0
    c1011 = (
        gg * (-c0030 + 3.0 * c1020 - 3.0 * c2010 + c3000)
        + (-c0030 + 2.0 * c1020 - c2010 + c2001 + c0021)
    ) / 2.0
    c1101 = (
        gg * (-c3000 + 3.0 * c2100 - 3.0 * c1200 + c0300)
        + (-c3000 + 2.0 * c2100 - c1200 + c2001 + c0201)
    ) / 2.0
    c1002 = (c2001 + c1101 + c1011) / 3.0
    c0102 = (c1101 + c0201 + c0111) / 3.0
    c0012 = (c1011 + c0111 + c0021) / 3.0
    c0003 = (c1002 + c0102 + c0012) / 3.0
    # extended barycentric coordinates pick the mini-patch implicitly
    mn = np.minimum(np.minimum(l1, l2), l3)
    b1 = l1 - mn
    b2 = l2 - mn
    b3 = l3 - mn
    b4 = 3.0 * mn
    t = ti
    return (
        b1**3 * c3000[t]
        + 3.0 * b1**2 * b2 * c2100[t]
        + 3.0 * b1**2 * b3 * c2010[t]
        + 3.0 * b1**2 * b4 * c2001[t]
        + 3.0 * b1 * b2**2 * c1200[t]
        + 6.0 * b1 * b2 * b4 * c1101[t]
        + 3.0 * b1 * b3**2 * c1020[t]
        + 6.0 * b1 * b3 * b4 * c1011[t]
        + 3.0 * b1 * b4**2 * c1002[t]
        + b2**3 * c0300[t]
        + 3.0 * b2**2 * b3 * c0210[t]
        + 3.0 * b2**2 * b4 * c0201[t]
        + 3.0 * b2 * b3**2 * c0120[t]
        + 6.0 * b2 * b3 * b4 * c0111[t]
        + 3.0 * b2 * b4**2 * c0102[t]
        + b3**3 * c0030[t]
        + 3.0 * b3**2 * b4 * c0021[t]
        + 3.0 * b3 * b4**2 * c0012[t]
        + b4**3 * c0003[t]
    )


def cubic_griddata(
    pts_lon: np.ndarray,
    pts_lat: np.ndarray,
    values: np.ndarray,
    mesh_lon: np.ndarray,
    mesh_lat: np.ndarray,
) -> np.ndarray:
    """griddata(method='cubic') over a rectangular mesh (the element is
    described in :func:`cubic_interpolate`): (n_lat, n_lon), NaN outside
    the convex hull."""
    glon, glat = np.meshgrid(
        np.asarray(mesh_lon, dtype=np.float64),
        np.asarray(mesh_lat, dtype=np.float64),
    )
    flat = cubic_interpolate(
        np.column_stack(
            [np.asarray(pts_lon, np.float64), np.asarray(pts_lat, np.float64)]
        ),
        values,
        glon.ravel(),
        glat.ravel(),
    )
    return flat.reshape(glat.shape)


def linear_griddata(
    pts_lon: np.ndarray,
    pts_lat: np.ndarray,
    values: np.ndarray,
    mesh_lon: np.ndarray,
    mesh_lat: np.ndarray,
) -> np.ndarray:
    """griddata(method='linear') over a rectangular mesh: returns
    (n_lat, n_lon) with NaN outside the convex hull of the points."""
    glon, glat = np.meshgrid(
        np.asarray(mesh_lon, dtype=np.float64),
        np.asarray(mesh_lat, dtype=np.float64),
    )
    flat = linear_interpolate(
        np.column_stack(
            [np.asarray(pts_lon, np.float64), np.asarray(pts_lat, np.float64)]
        ),
        values,
        glon.ravel(),
        glat.ravel(),
    )
    return flat.reshape(glat.shape)


class TriangulatedField:
    """Share ONE triangulation + mesh point-location across multiple value
    columns over the same point cloud (the mission pipeline grids 2-3
    science variables per region — re-triangulating per column doubles
    the kernel cost for nothing). Columns must share the point set; the
    per-column NaN masks are the caller's concern (grid_regions groups
    columns by finite-mask)."""

    def __init__(self, pts_x: np.ndarray, pts_y: np.ndarray):
        pts = np.column_stack(
            [np.asarray(pts_x, np.float64), np.asarray(pts_y, np.float64)]
        )
        self._prep = _prepare(pts)
        self.ok = self._prep is not None
        if self.ok:
            p, keep, lo, span, init = self._prep
            self.p, self.keep, self.lo, self.span = p, keep, lo, span
            self.tri = _triangulate(p, init)
            self.ok = len(self.tri) > 0
        self._loc = None

    def locate(self, qx: np.ndarray, qy: np.ndarray):
        qxn = (np.asarray(qx, np.float64) - self.lo[0]) / self.span
        qyn = (np.asarray(qy, np.float64) - self.lo[1]) / self.span
        self._loc = _locate(self.p, self.tri, qxn, qyn)
        return self._loc

    def linear(self, values: np.ndarray) -> np.ndarray:
        vals = np.asarray(values, np.float64)[self.keep]
        found, ti, l1, l2, l3 = self._loc
        va = vals[self.tri[:, 0]]
        vb = vals[self.tri[:, 1]]
        vc = vals[self.tri[:, 2]]
        out = np.full(len(found), np.nan)
        res = l1 * va[ti] + l2 * vb[ti] + l3 * vc[ti]
        out[found] = res[found]
        return out

    def cubic(self, values: np.ndarray) -> np.ndarray:
        vals = np.asarray(values, np.float64)[self.keep]
        g = estimate_gradients(self.p, self.tri, vals)
        found = self._loc[0]
        res = _ct_eval(self.p, self.tri, vals, g, self._loc)
        out = np.full(len(found), np.nan)
        out[found] = res[found]
        return out
