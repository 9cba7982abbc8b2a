"""Hypothesis property tests for the pure-NumPy kernels — breadth
beyond the fixed-seed unit tests (SURVEY.md §5: the reference has no
property tests; we add them where invariants are crisp)."""

import math

import numpy as np
import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import given, settings, strategies as st

from geotools_spark.functions.geometry import (
    convex_hull,
    delaunay,
    kahan_area_2d,
    natural_neighbour,
    tin_validate_z,
)
from geotools_spark.functions.transforms import GRS80, tmerc_fwd, tmerc_inv


coords = st.floats(min_value=0.0, max_value=100.0, allow_nan=False)


@st.composite
def point_sets(draw, min_n=4, max_n=40):
    n = draw(st.integers(min_n, max_n))
    seed = draw(st.integers(0, 2**31 - 1))
    rs = np.random.RandomState(seed)
    return rs.uniform(0.0, 50.0, size=(n, 2))


@settings(max_examples=25, deadline=None)
@given(point_sets())
def test_delaunay_empty_circumcircle(xy):
    tris = delaunay(xy)
    if len(tris) == 0:
        return
    a, b, c = xy[tris[:, 0]], xy[tris[:, 1]], xy[tris[:, 2]]
    d = 2.0 * (
        a[:, 0] * (b[:, 1] - c[:, 1])
        + b[:, 0] * (c[:, 1] - a[:, 1])
        + c[:, 0] * (a[:, 1] - b[:, 1])
    )
    keep = np.abs(d) > 1e-12
    a2 = (a * a).sum(1)
    b2 = (b * b).sum(1)
    c2 = (c * c).sum(1)
    ux = (a2 * (b[:, 1] - c[:, 1]) + b2 * (c[:, 1] - a[:, 1]) + c2 * (a[:, 1] - b[:, 1])) / d
    uy = (a2 * (c[:, 0] - b[:, 0]) + b2 * (a[:, 0] - c[:, 0]) + c2 * (b[:, 0] - a[:, 0])) / d
    r2 = (a[:, 0] - ux) ** 2 + (a[:, 1] - uy) ** 2
    # no input point strictly inside any triangle's circumcircle
    for t in np.nonzero(keep)[0]:
        d2 = (xy[:, 0] - ux[t]) ** 2 + (xy[:, 1] - uy[t]) ** 2
        inside = d2 < r2[t] * (1.0 - 1e-9)
        inside[tris[t]] = False
        assert not inside.any()


@settings(max_examples=25, deadline=None)
@given(point_sets(min_n=5, max_n=30))
def test_natural_neighbour_convexity_and_unity(xy):
    seed_z = int(abs(xy).sum() * 1e3) % (2**31)
    rs = np.random.RandomState(seed_z)
    z = rs.uniform(-5.0, 5.0, len(xy))
    s = np.column_stack([xy, z])
    # queries at centroids of input triples — mostly interior
    q = np.array([xy.mean(axis=0), xy[:3].mean(axis=0), xy[-3:].mean(axis=0)])
    vals, loc = natural_neighbour(s, q)
    for v, l in zip(vals, loc):
        if l:
            assert z.min() - 1e-9 <= v <= z.max() + 1e-9  # convex combination
        else:
            assert np.isnan(v)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.tuples(coords, coords), min_size=3, max_size=3))
def test_kahan_area_equals_shoelace(tri):
    p = np.array(tri, dtype=np.float64)
    got = float(kahan_area_2d(p[0], p[1], p[2]))
    want = 0.5 * abs(
        (p[1, 0] - p[0, 0]) * (p[2, 1] - p[0, 1])
        - (p[2, 0] - p[0, 0]) * (p[1, 1] - p[0, 1])
    )
    # near-degenerate (sliver) triangles cancel catastrophically in the
    # sqrt-product form — the reference's formula, kept as-is; the
    # honest error envelope is ~eps * longest-side^2
    scale = max(
        np.linalg.norm(p[0] - p[1]),
        np.linalg.norm(p[1] - p[2]),
        np.linalg.norm(p[2] - p[0]),
        1.0,
    )
    assert got == pytest.approx(want, rel=1e-7, abs=3e-5 * scale * scale)


@settings(max_examples=50, deadline=None)
@given(
    # a real UTM zone is +-3 degrees around the central meridian; the
    # classic series degrades to ~2e-10 rad by +-7 degrees
    st.floats(min_value=-114.0, max_value=-108.0),
    st.floats(min_value=42.0, max_value=62.0),
)
def test_tmerc_round_trip(lon_deg, lat_deg):
    lon = np.array([math.radians(lon_deg)])
    lat = np.array([math.radians(lat_deg)])
    x, y = tmerc_fwd(lon, lat, ellps=GRS80, lon0_deg=-111.0)
    lon2, lat2 = tmerc_inv(x, y, ellps=GRS80, lon0_deg=-111.0)
    # proj4's classic series loses accuracy away from the central
    # meridian: 1e-12 rad holds near it (fixed tests), ~1e-10 rad
    # (~0.6 mm) across the full +-7 degree zone span
    assert lon2[0] == pytest.approx(lon[0], abs=2e-10)
    assert lat2[0] == pytest.approx(lat[0], abs=2e-10)


@settings(max_examples=50, deadline=None)
@given(
    # full +-7 degree span around the central meridian with the honest
    # (measured) accuracy envelope: the classic series round-trip error
    # grows to ~6e-10 rad (~4 mm) at the zone edges — wider tolerance,
    # not a narrower domain (ADVICE r01)
    st.floats(min_value=-118.0, max_value=-104.0),
    st.floats(min_value=42.0, max_value=62.0),
)
def test_tmerc_round_trip_full_span(lon_deg, lat_deg):
    lon = np.array([math.radians(lon_deg)])
    lat = np.array([math.radians(lat_deg)])
    x, y = tmerc_fwd(lon, lat, ellps=GRS80, lon0_deg=-111.0)
    lon2, lat2 = tmerc_inv(x, y, ellps=GRS80, lon0_deg=-111.0)
    assert lon2[0] == pytest.approx(lon[0], abs=2e-9)
    assert lat2[0] == pytest.approx(lat[0], abs=2e-9)


@settings(max_examples=25, deadline=None)
@given(point_sets(min_n=6, max_n=25))
def test_hull_contains_all_points(xy):
    hull = convex_hull(xy)
    hx = xy[hull]
    # every point inside or on the hull polygon (cross-product test)
    m = len(hx)
    if m < 3:
        return
    for p in xy:
        for i in range(m):
            a, b = hx[i], hx[(i + 1) % m]
            cross = (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0])
            assert cross >= -1e-7 * (1.0 + abs(cross))


@settings(max_examples=20, deadline=None)
@given(point_sets(min_n=8, max_n=30))
def test_tin_validate_exact_at_vertices(xy):
    seed_z = int(abs(xy).sum() * 1e3) % (2**31)
    rs = np.random.RandomState(seed_z)
    z = rs.uniform(0.0, 10.0, len(xy))
    xyz = np.column_stack([xy, z])
    # stations at the sample sites: barycentric weight collapses to the
    # vertex (area-ratio 1/0/0), so interp must be exact where located
    for i in range(0, len(xy), 5):
        got = tin_validate_z(xyz, float(xy[i, 0]), float(xy[i, 1]))
        if not np.isnan(got):
            assert got == pytest.approx(z[i], abs=1e-6)


def test_native_delaunay_matches_numpy_loop(monkeypatch):
    """The compiled Bowyer-Watson kernel must be triangle-for-triangle
    identical to the NumPy loop (same float expressions, same row
    management) — the terrain operators' interpolated values ride it."""
    import numpy as np

    import geotools_spark.functions._delaunay_native as dn
    from geotools_spark import _native
    from geotools_spark.functions import geometry

    if dn.get_lib() is None:
        import pytest

        pytest.skip("no C toolchain on this host")

    rng = np.random.RandomState(1234)
    cases = []
    for _ in range(25):
        n = int(rng.choice([3, 4, 5, 10, 50, 200, 600, 2000]))
        if rng.rand() < 0.5:
            xy = np.round(rng.uniform(0, 2, (n, 2)), 3)  # cocircular-rich
        else:
            xy = rng.uniform(-100, 100, (n, 2))
        if rng.rand() < 0.2:
            xy[: n // 3] = xy[n // 3 : 2 * (n // 3)]  # duplicates
        cases.append(xy)
    cases.append(np.array([[0.0, 0.0], [1.0, 1.0], [2.0, 2.0], [3.0, 3.0]]))
    gx, gy = np.meshgrid(np.arange(12.0), np.arange(12.0))
    cases.append(np.column_stack([gx.ravel(), gy.ravel()]))  # grid: all ties

    got = [geometry.delaunay(xy) for xy in cases]
    monkeypatch.setattr(_native, "ENABLED", False)
    assert dn.get_lib() is None
    for xy, g in zip(cases, got):
        ref = geometry.delaunay(xy)
        assert ref.shape == g.shape and np.array_equal(ref, g)
