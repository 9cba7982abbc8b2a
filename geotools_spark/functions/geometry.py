"""Computational-geometry kernels in pure NumPy (SURVEY.md §2.9
M6-M10) — CGAL/GEOS/scipy are not installed in this environment, and
the per-group sizes these run at (points of one cell + halo) keep the
O(n^2)-ish constants irrelevant.

- Delaunay: Bowyer-Watson with a super-triangle, vectorized
  circumcircle tests (replaces CGAL Delaunay_triangulation_2 projected
  on xy — src/pointnormalize.cpp:25-31; GEOS
  DelaunayTriangulationBuilder — src/lasboundary.cpp:177-183).
- convex hull: Andrew monotone chain (replaces CGAL convex_hull_2 —
  include/cellstats.hpp:454).
- plane fit: centroid-offset normal equations, exactly the reference's
  Eigen computeParams (src/interp/Interpolators.cpp:468-496); plus the
  PCA (orthogonal) plane CGAL's linear_least_squares_fitting_3 computes
  for rugosity (include/cellstats.hpp:455).
- TIN interpolation: the reference's 3D-Heron-area barycentric weights
  INCLUDING the quirk that sub-triangle areas use the query point's own
  z (src/pointnormalize.cpp:35-41,135-146).
- rugosity ACR (Du Preez 2014): Delaunay 3D surface area / projected
  best-fit-plane hull area (include/cellstats.hpp:378-462).
"""

from __future__ import annotations

import numpy as np


def delaunay(xy: np.ndarray) -> np.ndarray:
    """Bowyer-Watson Delaunay triangulation of 2-D points.

    Returns int array (ntri, 3) of indices into ``xy``. Degenerate
    inputs (<3 points, collinear) return an empty array.
    """
    n = len(xy)
    if n < 3:
        return np.empty((0, 3), dtype=np.int64)
    xy = np.asarray(xy, dtype=np.float64)
    # super-triangle comfortably containing everything
    cx, cy = xy[:, 0].mean(), xy[:, 1].mean()
    span = max(xy[:, 0].ptp(), xy[:, 1].ptp(), 1e-9) * 64.0
    sup = np.array(
        [[cx - span, cy - span / 2], [cx + span, cy - span / 2], [cx, cy + span]]
    )
    pts = np.vstack([xy, sup])
    px_all = pts[:, 0]
    py_all = pts[:, 1]
    p2_all = px_all * px_all + py_all * py_all  # squared norms, hoisted
    si = n  # super vertex base index
    # capacity-managed triangle store: live rows tracked by a mask so an
    # insertion touches only the cavity rows instead of copying the
    # whole array (amortized O(cavity) per insert). Circumcircles kept
    # as three flat arrays (no 2-D slicing in the hot incircle test).
    cap = max(4 * n, 64)
    tris = np.empty((cap, 3), dtype=np.int64)
    ccx = np.empty(cap)
    ccy = np.empty(cap)
    ccr = np.empty(cap)
    live = np.zeros(cap, dtype=bool)
    tris[0] = (si, si + 1, si + 2)

    def _circum(tr):
        # vectorized circumcircles via the hoisted coordinate/norm
        # arrays; degenerate rows -> r^2 = inf (stay insertable)
        a = tr[:, 0]
        b = tr[:, 1]
        c = tr[:, 2]
        ax, ay = px_all[a], py_all[a]
        bx, by = px_all[b], py_all[b]
        cx_, cy_ = px_all[c], py_all[c]
        d = 2.0 * (ax * (by - cy_) + bx * (cy_ - ay) + cx_ * (ay - by))
        with np.errstate(divide="ignore", invalid="ignore"):
            a2, b2, c2 = p2_all[a], p2_all[b], p2_all[c]
            ux = (a2 * (by - cy_) + b2 * (cy_ - ay) + c2 * (ay - by)) / d
            uy = (a2 * (cx_ - bx) + b2 * (ax - cx_) + c2 * (bx - ax)) / d
            r2 = (ax - ux) ** 2 + (ay - uy) ** 2
        deg = np.abs(d) < 1e-30
        if deg.any():
            ux[deg] = 0.0
            uy[deg] = 0.0
            r2[deg] = np.inf
        return ux, uy, r2

    ux0, uy0, r20 = _circum(tris[:1])
    ccx[0], ccy[0], ccr[0] = ux0[0], uy0[0], r20[0]
    live[0] = True
    hi = 1  # rows [0, hi) may be live

    order = np.argsort(px_all[:n], kind="mergesort")  # x-sweep order
    # Sweep-line finalization: the insert scan below is O(active rows),
    # so periodically RETIRE triangles whose circumcircle lies entirely
    # left of the sweep line — no future point (x >= px) can ever fall
    # inside them, so they are final. Keeps the active set near the
    # sweep frontier instead of growing O(n): measured 5-8x on >= 8k
    # point cells (the normalize/rugosity hot-cell regime). The 1e-9
    # span margin absorbs sqrt rounding in the radius.
    done: list[np.ndarray] = []
    fin_eps = span * 1e-9 / 64.0
    check_at = 2048
    # Native fast path: the compiled kernel runs the IDENTICAL insertion
    # loop (same float expressions under -ffp-contract=off, same row
    # management, same output order) ~20x faster — the NumPy loop below
    # is numpy-call-overhead-bound at ~15-20 small-array ops per insert.
    # Triangle-for-triangle parity is pinned in tests/test_properties.py;
    # no compiler (or a refused library) falls through here.
    from geotools_spark.functions import _delaunay_native

    raw = _delaunay_native.run(px_all, py_all, p2_all, n, order, fin_eps)
    if raw is not None:
        out = raw[(raw < n).all(axis=1)]
        out = out.astype(np.int64).reshape(-1, 3)
        if len(out):
            ax, ay = px_all[out[:, 0]], py_all[out[:, 0]]
            bx, by = px_all[out[:, 1]], py_all[out[:, 1]]
            cx_, cy_ = px_all[out[:, 2]], py_all[out[:, 2]]
            cw = (bx - ax) * (cy_ - ay) - (cx_ - ax) * (by - ay) < 0
            out[cw] = out[cw][:, [0, 2, 1]]
        return out
    for p in order:
        px = px_all[p]
        py = py_all[p]
        if hi > check_at:
            liveh = live[:hi]
            fin = liveh & (ccx[:hi] + np.sqrt(ccr[:hi]) < px - fin_eps)
            if fin.any():
                done.append(tris[:hi][fin].copy())
            keep = np.nonzero(liveh & ~fin)[0]
            m0 = len(keep)
            tris[:m0] = tris[keep]
            ccx[:m0] = ccx[keep]
            ccy[:m0] = ccy[keep]
            ccr[:m0] = ccr[keep]
            live[:m0] = True
            live[m0:hi] = False
            hi = m0
            check_at = max(2 * m0, 2048)
        dx = ccx[:hi] - px
        dy = ccy[:hi] - py
        bad = (dx * dx + dy * dy <= ccr[:hi]) & live[:hi]
        if not bad.any():
            continue  # numerically outside everything: skip (degenerate dup)
        bad_idx = np.nonzero(bad)[0]
        bad_tris = tris[bad_idx]
        # boundary of the cavity = undirected edges appearing exactly
        # once; encode as int64 and find singletons in one sort pass
        edges = bad_tris[:, [0, 1, 1, 2, 2, 0]].reshape(-1, 2)
        lo = edges.min(axis=1)
        hi_v = edges.max(axis=1)
        e64 = (lo << 32) | hi_v
        e64.sort()
        k = len(e64)
        first = np.empty(k, dtype=bool)
        first[0] = True
        first[1:] = e64[1:] != e64[:-1]
        last = np.empty(k, dtype=bool)
        last[-1] = True
        last[:-1] = e64[:-1] != e64[1:]
        bnd = e64[first & last]
        m = len(bnd)
        new_tris = np.empty((m, 3), dtype=np.int64)
        new_tris[:, 0] = bnd >> 32
        new_tris[:, 1] = bnd & 0xFFFFFFFF
        new_tris[:, 2] = p
        nux, nuy, nr2 = _circum(new_tris)
        live[bad_idx] = False
        # reuse freed cavity rows first, then append
        reuse = bad_idx[:m]
        nr = len(reuse)
        tris[reuse] = new_tris[:nr]
        ccx[reuse] = nux[:nr]
        ccy[reuse] = nuy[:nr]
        ccr[reuse] = nr2[:nr]
        live[reuse] = True
        extra = m - nr
        if extra > 0:
            if hi + extra > cap:
                cap = max(2 * cap, hi + extra)
                tris = np.concatenate([tris, np.empty((cap - len(tris), 3), np.int64)])
                ccx = np.concatenate([ccx, np.empty(cap - len(ccx))])
                ccy = np.concatenate([ccy, np.empty(cap - len(ccy))])
                ccr = np.concatenate([ccr, np.empty(cap - len(ccr))])
                live = np.concatenate([live, np.zeros(cap - len(live), bool)])
            tris[hi : hi + extra] = new_tris[nr:]
            ccx[hi : hi + extra] = nux[nr:]
            ccy[hi : hi + extra] = nuy[nr:]
            ccr[hi : hi + extra] = nr2[nr:]
            live[hi : hi + extra] = True
            hi += extra

    out = tris[:hi][live[:hi]]
    if done:
        out = np.concatenate(done + [out])
    out = out[(out < n).all(axis=1)]
    out = out.astype(np.int64).reshape(-1, 3)
    # Normalize every triangle to CCW orientation.  The cavity-boundary
    # edges are packed as (min,max) above, so raw winding is arbitrary;
    # downstream signed-area consumers (Sibson stolen-area accumulation
    # in natural_neighbour) require a consistent orientation or cavity
    # pieces partially cancel and weights go negative.
    if len(out):
        ax, ay = px_all[out[:, 0]], py_all[out[:, 0]]
        bx, by = px_all[out[:, 1]], py_all[out[:, 1]]
        cx_, cy_ = px_all[out[:, 2]], py_all[out[:, 2]]
        cw = (bx - ax) * (cy_ - ay) - (cx_ - ax) * (by - ay) < 0
        out[cw] = out[cw][:, [0, 2, 1]]
    return out


def _circumcircles(pts: np.ndarray, tris: np.ndarray) -> np.ndarray:
    """Vectorized circumcircles: (m, 3) array of (cx, cy, r^2);
    degenerate triangles get r^2 = inf (stay insertable)."""
    if len(tris) == 0:
        return np.empty((0, 3))
    a = pts[tris[:, 0]]
    b = pts[tris[:, 1]]
    c = pts[tris[:, 2]]
    d = 2.0 * (
        a[:, 0] * (b[:, 1] - c[:, 1])
        + b[:, 0] * (c[:, 1] - a[:, 1])
        + c[:, 0] * (a[:, 1] - b[:, 1])
    )
    with np.errstate(divide="ignore", invalid="ignore"):
        a2 = (a * a).sum(axis=1)
        b2 = (b * b).sum(axis=1)
        c2 = (c * c).sum(axis=1)
        ux = (a2 * (b[:, 1] - c[:, 1]) + b2 * (c[:, 1] - a[:, 1]) + c2 * (a[:, 1] - b[:, 1])) / d
        uy = (a2 * (c[:, 0] - b[:, 0]) + b2 * (a[:, 0] - c[:, 0]) + c2 * (b[:, 0] - a[:, 0])) / d
        r2 = (a[:, 0] - ux) ** 2 + (a[:, 1] - uy) ** 2
    deg = np.abs(d) < 1e-30
    out = np.column_stack([ux, uy, r2])
    out[deg] = [0.0, 0.0, np.inf]
    return out


def _circumcircle(pts: np.ndarray, tri) -> tuple[float, float, float]:
    """(cx, cy, r^2) of the circumcircle; degenerate -> huge circle so
    collinear temporaries stay insertable."""
    ax, ay = pts[tri[0]]
    bx, by = pts[tri[1]]
    cx_, cy_ = pts[tri[2]]
    d = 2.0 * (ax * (by - cy_) + bx * (cy_ - ay) + cx_ * (ay - by))
    if abs(d) < 1e-30:
        return (0.0, 0.0, np.inf)
    ux = (
        (ax * ax + ay * ay) * (by - cy_)
        + (bx * bx + by * by) * (cy_ - ay)
        + (cx_ * cx_ + cy_ * cy_) * (ay - by)
    ) / d
    uy = (
        (ax * ax + ay * ay) * (cx_ - bx)
        + (bx * bx + by * by) * (ax - cx_)
        + (cx_ * cx_ + cy_ * cy_) * (bx - ax)
    ) / d
    r2 = (ax - ux) ** 2 + (ay - uy) ** 2
    return (float(ux), float(uy), float(r2))


def convex_hull(xy: np.ndarray) -> np.ndarray:
    """Andrew monotone chain; returns CCW hull indices."""
    xy = np.asarray(xy, dtype=np.float64)
    n = len(xy)
    if n < 3:
        return np.arange(n, dtype=np.int64)
    order = np.lexsort((xy[:, 1], xy[:, 0]))

    def cross(o, a, b):
        return (xy[a, 0] - xy[o, 0]) * (xy[b, 1] - xy[o, 1]) - (
            xy[a, 1] - xy[o, 1]
        ) * (xy[b, 0] - xy[o, 0])

    lower: list[int] = []
    for i in order:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], i) <= 0:
            lower.pop()
        lower.append(int(i))
    upper: list[int] = []
    for i in order[::-1]:
        while len(upper) >= 2 and cross(upper[-2], upper[-1], i) <= 0:
            upper.pop()
        upper.append(int(i))
    return np.asarray(lower[:-1] + upper[:-1], dtype=np.int64)


def heron_area_3d(p1, p2, p3) -> np.ndarray:
    """3-D triangle area via Heron's formula, elementwise over stacked
    point arrays (the reference's computeArea,
    src/pointnormalize.cpp:35-41)."""
    a = np.linalg.norm(np.asarray(p1) - np.asarray(p2), axis=-1)
    b = np.linalg.norm(np.asarray(p2) - np.asarray(p3), axis=-1)
    c = np.linalg.norm(np.asarray(p3) - np.asarray(p1), axis=-1)
    s = (a + b + c) / 2.0
    prod = s * (s - a) * (s - b) * (s - c)
    return np.sqrt(np.maximum(prod, 0.0))


def plane_fit(xyz: np.ndarray):
    """Centroid-offset least-squares plane, the reference's
    computeParams (src/interp/Interpolators.cpp:468-496):
    z = a0 + a1*(x-cx) + a2*(y-cy). Returns (a0, a1, a2, cx, cy)."""
    xyz = np.asarray(xyz, dtype=np.float64)
    cx, cy = xyz[:, 0].mean(), xyz[:, 1].mean()
    A = np.column_stack([np.ones(len(xyz)), xyz[:, 0] - cx, xyz[:, 1] - cy])
    ata = A.T @ A
    atb = A.T @ xyz[:, 2]
    params = np.linalg.solve(ata, atb)
    return float(params[0]), float(params[1]), float(params[2]), float(cx), float(cy)


def pca_plane(xyz: np.ndarray):
    """Orthogonal least-squares (PCA) plane through 3-D points — what
    CGAL linear_least_squares_fitting_3 fits for rugosity's POBF
    (include/cellstats.hpp:455). Returns (a, b, c, d, centroid)."""
    xyz = np.asarray(xyz, dtype=np.float64)
    centroid = xyz.mean(axis=0)
    u, s, vt = np.linalg.svd(xyz - centroid, full_matrices=False)
    normal = vt[-1]
    d = -float(normal @ centroid)
    return float(normal[0]), float(normal[1]), float(normal[2]), d, centroid


def _locate_in_tris(
    verts: np.ndarray, tris: np.ndarray, q: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Point-location: for each query return (hit_tri_index, located).

    Among all containing triangles the LOWEST triangle index wins —
    the same tie-break as a dense ``inside.argmax(axis=1)`` over the
    full (nq, ntri) matrix, so results are bit-identical to the dense
    formulation for on-edge queries.

    Small inputs run the dense sign test directly; larger ones bucket
    triangle bboxes into a K x K grid and test each query against its
    bucket's candidates only — O(nq · tris_per_bucket) instead of
    O(nq · ntri), which is the difference between 30 ms and 900 ms on a
    1k-ground / 2k-query normalize cell."""
    ntri = len(tris)
    nq = len(q)
    hit = np.zeros(nq, dtype=np.int64)
    has = np.zeros(nq, dtype=bool)
    if ntri == 0 or nq == 0:
        return hit, has
    t1, t2, t3 = verts[tris[:, 0]], verts[tris[:, 1]], verts[tris[:, 2]]

    def dense(qsub: np.ndarray, cand: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(hit-in-cand, located) for qsub against candidate tri ids."""
        qx = qsub[:, 0][:, None]
        qy = qsub[:, 1][:, None]
        a1, a2, a3 = t1[cand], t2[cand], t3[cand]

        def sign(pa, pb):
            return (qx - pb[None, :, 0]) * (pa[None, :, 1] - pb[None, :, 1]) - (
                pa[None, :, 0] - pb[None, :, 0]
            ) * (qy - pb[None, :, 1])

        d1 = sign(a1, a2)
        d2 = sign(a2, a3)
        d3 = sign(a3, a1)
        neg = (d1 < 0) | (d2 < 0) | (d3 < 0)
        pos = (d1 > 0) | (d2 > 0) | (d3 > 0)
        inside = ~(neg & pos)
        return inside.argmax(axis=1), inside.any(axis=1)

    if ntri * nq <= 250_000:
        h, has = dense(q, np.arange(ntri))
        return h, has

    # bucket triangles by bbox over a K x K grid of the vertex extent.
    # Long skinny triangles replicate into every bucket their bbox
    # overlaps (up to K^2 each) — a degenerate triangulation could
    # quadratically inflate the candidate table, so shrink K until the
    # replication total is bounded (at K=4 it is <= 16*ntri by
    # construction, so the loop always terminates within budget).
    K = int(np.clip(np.sqrt(ntri), 4, 64))
    xmin, ymin = verts[:, 0].min(), verts[:, 1].min()
    xmax, ymax = verts[:, 0].max(), verts[:, 1].max()
    txmin = np.minimum(np.minimum(t1[:, 0], t2[:, 0]), t3[:, 0])
    txmax = np.maximum(np.maximum(t1[:, 0], t2[:, 0]), t3[:, 0])
    tymin = np.minimum(np.minimum(t1[:, 1], t2[:, 1]), t3[:, 1])
    tymax = np.maximum(np.maximum(t1[:, 1], t2[:, 1]), t3[:, 1])
    rep_budget = max(2_000_000, 8 * ntri)
    while True:
        bw = max((xmax - xmin) / K, 1e-12)
        bh = max((ymax - ymin) / K, 1e-12)
        bx0 = np.clip(((txmin - xmin) / bw).astype(np.int64), 0, K - 1)
        bx1 = np.clip(((txmax - xmin) / bw).astype(np.int64), 0, K - 1)
        by0 = np.clip(((tymin - ymin) / bh).astype(np.int64), 0, K - 1)
        by1 = np.clip(((tymax - ymin) / bh).astype(np.int64), 0, K - 1)
        wx = bx1 - bx0 + 1
        wy = by1 - by0 + 1
        counts = wx * wy
        total = int(counts.sum())
        if total <= rep_budget or K <= 4:
            break
        K = max(4, K // 2)
    tri_rep = np.repeat(np.arange(ntri, dtype=np.int64), counts)
    starts = np.cumsum(counts) - counts
    pos_in = np.arange(total, dtype=np.int64) - starts[tri_rep]
    bx = bx0[tri_rep] + pos_in % wx[tri_rep]
    by = by0[tri_rep] + pos_in // wx[tri_rep]
    bucket = by * K + bx
    # sort by (bucket, tri) so within a bucket candidates are id-sorted
    # and argmax reproduces the dense lowest-index tie-break
    ordpair = np.lexsort((tri_rep, bucket))
    sb = bucket[ordpair]
    st = tri_rep[ordpair]

    qbx = np.clip(((q[:, 0] - xmin) / bw).astype(np.int64), 0, K - 1)
    qby = np.clip(((q[:, 1] - ymin) / bh).astype(np.int64), 0, K - 1)
    qb = qby * K + qbx
    # hull-exterior queries beyond the vertex extent can never be inside
    inb = (
        (q[:, 0] >= xmin) & (q[:, 0] <= xmax) & (q[:, 1] >= ymin) & (q[:, 1] <= ymax)
    )
    qorder = np.argsort(qb, kind="mergesort")
    sqb = qb[qorder]
    # iterate runs of queries sharing a bucket
    run_starts = np.nonzero(np.r_[True, sqb[1:] != sqb[:-1]])[0]
    run_ends = np.r_[run_starts[1:], len(sqb)]
    for s, e in zip(run_starts, run_ends):
        b = sqb[s]
        lo = np.searchsorted(sb, b, side="left")
        hi = np.searchsorted(sb, b, side="right")
        if lo == hi:
            continue
        qidx = qorder[s:e]
        qidx = qidx[inb[qidx]]
        if len(qidx) == 0:
            continue
        cand = st[lo:hi]
        h, ok = dense(q[qidx], cand)
        hit[qidx[ok]] = cand[h[ok]]
        has[qidx[ok]] = True
    return hit, has


def tin_interpolate(ground_xyz: np.ndarray, query_xyz: np.ndarray):
    """Locate each query in the Delaunay TIN of ``ground_xyz`` and
    interpolate ground z with the reference's area-weighted rule
    (src/pointnormalize.cpp:126-146): for triangle vertices (p1,p2,p3),
    weight of p3 = Heron3D(p1, p2, QUERY) — the sub-triangle opposite
    p3 built with the query's own z (quirk kept). Returns (interp_z,
    located) arrays; unlocated queries get NaN.
    """
    ground_xyz = np.asarray(ground_xyz, dtype=np.float64)
    query_xyz = np.asarray(query_xyz, dtype=np.float64)
    nq = len(query_xyz)
    out = np.full(nq, np.nan)
    located = np.zeros(nq, dtype=bool)
    tris = delaunay(ground_xyz[:, :2])
    if len(tris) == 0:
        return out, located
    hit, has = _locate_in_tris(ground_xyz[:, :2], tris, query_xyz[:, :2])
    qi = np.nonzero(has)[0]
    if len(qi):
        v = ground_xyz[tris[hit[qi]]]  # (m, 3, 3) triangle vertices
        p = query_xyz[qi]              # (m, 3) queries (own z — quirk)
        area = np.zeros(len(qi))
        total = np.zeros(len(qi))
        for i in range(3):
            h = heron_area_3d(v[:, i], v[:, (i + 1) % 3], p)
            area += h
            total += h * v[:, (i + 2) % 3, 2]
        ok = area > 0
        out[qi[ok]] = total[ok] / area[ok]
        located[qi[ok]] = True
    return out, located


def delaunay_surface_area(xyz: np.ndarray) -> float:
    """Sum of 3-D Heron areas over the xy-Delaunay faces
    (include/cellstats.hpp:444-448)."""
    xyz = np.asarray(xyz, dtype=np.float64)
    tris = delaunay(xyz[:, :2])
    if len(tris) == 0:
        return 0.0
    return float(
        heron_area_3d(xyz[tris[:, 0]], xyz[tris[:, 1]], xyz[tris[:, 2]]).sum()
    )


def rugosity_acr(xyz: np.ndarray) -> float:
    """Du Preez 2014 Arc-Chord Ratio (include/cellstats.hpp:435-461):
    Delaunay 3-D surface area / area of the xy-convex-hull polygon
    lifted onto the PCA best-fit plane (fan triangulation around the
    3-D centroid, hull z replaced by plane z — toPlane at
    include/cellstats.hpp:398-400)."""
    xyz = np.asarray(xyz, dtype=np.float64)
    if len(xyz) < 3:
        return -9999.0
    tarea = delaunay_surface_area(xyz)
    hull_idx = convex_hull(xyz[:, :2])
    hull = xyz[hull_idx]
    a, b, c, d, centroid = pca_plane(hull)
    if c == 0.0:
        return -9999.0
    hz = (hull[:, 0] * a + hull[:, 1] * b + d) / -c
    parea = 0.0
    m = len(hull)
    for i in range(m):
        j = (i + 1) % m
        p1 = np.array([hull[i, 0], hull[i, 1], hz[i]])
        p2 = np.array([hull[j, 0], hull[j, 1], hz[j]])
        parea += float(heron_area_3d(p1, p2, centroid))
    if parea <= 0:
        return -9999.0
    return tarea / parea


def _circumcenters_pq(a: np.ndarray, b: np.ndarray, px: float, py: float) -> np.ndarray:
    """Vectorized circumcenters of triangles (a_i, b_i, (px, py)).
    Degenerate (collinear) rows come back as +inf so the caller can
    reject them."""
    ax, ay = a[:, 0], a[:, 1]
    bx, by = b[:, 0], b[:, 1]
    d = 2.0 * (ax * (by - py) + bx * (py - ay) + px * (ay - by))
    with np.errstate(divide="ignore", invalid="ignore"):
        a2 = ax * ax + ay * ay
        b2 = bx * bx + by * by
        p2 = px * px + py * py
        ux = (a2 * (by - py) + b2 * (py - ay) + p2 * (ay - by)) / d
        uy = (a2 * (px - bx) + b2 * (ax - px) + p2 * (bx - ax)) / d
    out = np.column_stack([ux, uy])
    out[np.abs(d) < 1e-30] = np.inf
    return out


def natural_neighbour(samples_xyz: np.ndarray, query_xy: np.ndarray,
                      snap_eps: float = 1e-9):
    """Sibson natural-neighbour interpolation (M13) via Watson's
    stolen-area method — the same quantity the reference computes with
    CGAL's incremental Voronoi (src/interp/Interpolators.cpp:526-713):
    weight of neighbour v = area its Voronoi cell loses to the query's
    cell after insertion. Instead of clipping Voronoi polygons, each
    cavity triangle t (circumcircle contains q) with circumcenter c
    contributes the signed area of (c, c1, c2) to each of its vertices,
    where c1/c2 are the circumcenters of the two NEW triangles (q + the
    two cavity edges at that vertex); interior-edge pieces telescope, so
    no ordering pass is needed. Linear precision and exactness at the
    sample sites are pinned by tests.

    Queries outside the convex hull return NaN (documented deviation:
    the reference extrapolates by clipping cells to a padded bounding
    box; hull-exterior Sibson weights are not well defined).

    Returns (values, located) float64/bool arrays over ``query_xy``.
    """
    s = np.asarray(samples_xyz, dtype=np.float64)
    q = np.asarray(query_xy, dtype=np.float64)
    nq = len(q)
    out = np.full(nq, np.nan)
    located = np.zeros(nq, dtype=bool)
    if len(s) == 0 or nq == 0:
        return out, located
    xy = s[:, :2]
    z = s[:, 2]
    # snap queries that coincide with a sample site (the reference's
    # exact kernel would see a zero-area face there)
    d2 = ((q[:, None, :] - xy[None, :, :]) ** 2).sum(-1)
    jnear = d2.argmin(axis=1)
    snap = d2[np.arange(nq), jnear] <= snap_eps * snap_eps
    out[snap] = z[jnear[snap]]
    located[snap] = True
    tris = delaunay(xy)
    if len(tris) == 0:
        return out, located
    ccs = _circumcircles(xy, tris)
    cx, cy, r2 = ccs[:, 0], ccs[:, 1], ccs[:, 2]
    # hull-interior gate: inside some Delaunay triangle (sign test)
    t1, t2, t3 = xy[tris[:, 0]], xy[tris[:, 1]], xy[tris[:, 2]]
    qx = q[:, 0][:, None]
    qy = q[:, 1][:, None]

    def _sign(pa, pb):
        return (qx - pb[None, :, 0]) * (pa[None, :, 1] - pb[None, :, 1]) - (
            pa[None, :, 0] - pb[None, :, 0]
        ) * (qy - pb[None, :, 1])

    d1, d2_, d3 = _sign(t1, t2), _sign(t2, t3), _sign(t3, t1)
    inside_hull = (
        ~(((d1 < 0) | (d2_ < 0) | (d3 < 0)) & ((d1 > 0) | (d2_ > 0) | (d3 > 0)))
    ).any(axis=1)
    for i in np.nonzero(inside_hull & ~snap)[0]:
        px, py = q[i]
        bad = (cx - px) ** 2 + (cy - py) ** 2 <= r2
        if not bad.any():
            continue
        bt = tris[bad]
        ctr = ccs[bad][:, :2]
        V = xy[bt]  # (B, 3, 2)
        cs = np.empty((len(bt), 3, 2))
        for j in range(3):
            cs[:, j] = _circumcenters_pq(V[:, (j + 1) % 3], V[:, (j + 2) % 3], px, py)
        if not np.isfinite(cs).all():
            continue  # collinear new triangle: numerically unsafe, bail
        w = np.zeros(len(xy))
        for j in range(3):
            j1, j2 = (j + 1) % 3, (j + 2) % 3
            det = (cs[:, j1, 0] - ctr[:, 0]) * (cs[:, j2, 1] - ctr[:, 1]) - (
                cs[:, j2, 0] - ctr[:, 0]
            ) * (cs[:, j1, 1] - ctr[:, 1])
            np.add.at(w, bt[:, j], det)
        tot = w.sum()
        if not np.isfinite(tot) or abs(tot) < 1e-300:
            continue
        out[i] = (w @ z) / tot
        located[i] = True
    return out, located


def kahan_area_2d(p0: np.ndarray, p1: np.ndarray, p2: np.ndarray) -> np.ndarray:
    """2-D triangle area via the reference's sorted-side Heron formula
    (lasvalidate triArea, src/lasvalidate.cpp:176-188): sides sorted
    ascending (a <= b <= c), area = 0.25*sqrt((a+(b+c)) * (c-(a-b)) *
    (c+(a-b)) * (a+(b-c))). Vectorized over stacked triangles."""
    p0 = np.asarray(p0, dtype=np.float64)[..., :2]
    p1 = np.asarray(p1, dtype=np.float64)[..., :2]
    p2 = np.asarray(p2, dtype=np.float64)[..., :2]
    s = np.stack(
        [
            np.linalg.norm(p0 - p1, axis=-1),
            np.linalg.norm(p1 - p2, axis=-1),
            np.linalg.norm(p2 - p0, axis=-1),
        ],
        axis=-1,
    )
    s.sort(axis=-1)
    a, b, c = s[..., 0], s[..., 1], s[..., 2]
    prod = (a + (b + c)) * (c - (a - b)) * (c + (a - b)) * (a + (b - c))
    return 0.25 * np.sqrt(np.maximum(prod, 0.0))


def tin_validate_z(returns_xyz: np.ndarray, sx: float, sy: float) -> float:
    """lasvalidate interpolateSampleZ (src/lasvalidate.cpp:193-232):
    Delaunay the nearby returns, find the triangle containing the
    station, and barycentric-interpolate z with 2-D sorted-Heron area
    ratios (weights on xy only — unlike pointnormalize's 3-D quirk).
    Returns NaN when the station lies outside the TIN. Inclusive
    containment (deviation: GEOS `contains` excludes the boundary;
    on an edge the linear interpolant is continuous, so the value is
    unchanged)."""
    returns_xyz = np.asarray(returns_xyz, dtype=np.float64)
    tris = delaunay(returns_xyz[:, :2])
    if len(tris) == 0:
        return float("nan")
    t0 = returns_xyz[tris[:, 0]]
    t1 = returns_xyz[tris[:, 1]]
    t2 = returns_xyz[tris[:, 2]]

    def _sign(pa, pb):
        return (sx - pb[:, 0]) * (pa[:, 1] - pb[:, 1]) - (pa[:, 0] - pb[:, 0]) * (
            sy - pb[:, 1]
        )

    d1, d2, d3 = _sign(t0, t1), _sign(t1, t2), _sign(t2, t0)
    neg = (d1 < 0) | (d2 < 0) | (d3 < 0)
    pos = (d1 > 0) | (d2 > 0) | (d3 > 0)
    inside = ~(neg & pos)
    if not inside.any():
        return float("nan")
    i = int(inside.argmax())
    c0, c1, c2 = t0[i], t1[i], t2[i]
    st = np.array([sx, sy])
    tat = float(kahan_area_2d(c0, c1, c2))
    if tat <= 0.0:
        return float("nan")
    ta2 = float(kahan_area_2d(c0, c1, st))
    ta1 = float(kahan_area_2d(c0, c2, st))
    ta0 = float(kahan_area_2d(c1, c2, st))
    return (ta0 / tat) * c0[2] + (ta1 / tat) * c1[2] + (ta2 / tat) * c2[2]


def delaunay_edges(xy: np.ndarray) -> np.ndarray:
    """Unique undirected edges of the Delaunay triangulation — the
    boundary extraction input (src/lasboundary.cpp:177-194)."""
    tris = delaunay(xy)
    if len(tris) == 0:
        return np.empty((0, 2), dtype=np.int64)
    e = np.vstack(
        [tris[:, [0, 1]], tris[:, [1, 2]], tris[:, [2, 0]]]
    )
    e.sort(axis=1)
    return np.unique(e, axis=0)
