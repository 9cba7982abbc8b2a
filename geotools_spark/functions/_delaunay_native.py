"""Native (C, via ctypes) inner loop for the Bowyer-Watson Delaunay.

The NumPy insertion loop in ``geometry.delaunay`` is numpy-call-
overhead-bound: ~15-20 small-array operations per inserted point
(~35 ms for a 600-point cell, measured), and per-cell triangulations
dominate the terrain operators (normalize_heights / rugosity /
las_validate run one per grid cell). This module compiles the IDENTICAL
algorithm — same insertion order, same circumcircle and in-circle
float expressions, same retirement rule, same row-management policy,
same output row order — as a tiny C library.

Bit-parity is a hard requirement (the triangulation feeds
interpolated values that the driver hash-checks), so the C is built
with ``-fno-fast-math -ffp-contract=off`` (no FMA contraction, no
reassociation) and every floating-point expression mirrors the NumPy
elementwise evaluation order. tests/test_properties.py pins
triangle-for-triangle equality against the NumPy loop across random
and degenerate inputs.

``geotools_spark._native`` compiles it once per machine and user into
an owner-checked cache. No compiler / any failure -> ``get_lib()``
returns None and callers keep the NumPy loop.
"""

from __future__ import annotations

import ctypes

import numpy as np

from geotools_spark import _native

_C_SOURCE = r"""
#include <stdlib.h>
#include <string.h>
#include <math.h>
#include <stdint.h>

/* circumcircle of (a, b, c) -- mirrors geometry._circum elementwise */
static void circum(const double* PX, const double* PY, const double* P2,
                   int64_t a, int64_t b, int64_t c,
                   double* ux, double* uy, double* r2) {
    double ax = PX[a], ay = PY[a];
    double bx = PX[b], by = PY[b];
    double cx = PX[c], cy = PY[c];
    double d = 2.0 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by));
    if (fabs(d) < 1e-30) { *ux = 0.0; *uy = 0.0; *r2 = INFINITY; return; }
    double a2 = P2[a], b2 = P2[b], c2 = P2[c];
    double uxx = (a2 * (by - cy) + b2 * (cy - ay) + c2 * (ay - by)) / d;
    double uyy = (a2 * (cx - bx) + b2 * (ax - cx) + c2 * (bx - ax)) / d;
    double dx0 = ax - uxx, dy0 = ay - uyy;
    *ux = uxx; *uy = uyy;
    *r2 = dx0 * dx0 + dy0 * dy0;
}

static int cmp_i64(const void* pa, const void* pb) {
    int64_t a = *(const int64_t*)pa, b = *(const int64_t*)pb;
    return (a > b) - (a < b);
}

/* Returns 0 on success. Output: malloc'd int64 triples in *out
   (caller frees via delaunay_free), count in *out_n. */
int delaunay_bw(const double* PX, const double* PY, const double* P2,
                int64_t n, const int64_t* order, int64_t n_order,
                double fin_eps, int64_t** out, int64_t* out_n) {
    int64_t cap = 4 * n > 64 ? 4 * n : 64;
    int64_t* tris = malloc(cap * 3 * sizeof(int64_t));
    double* ccx = malloc(cap * sizeof(double));
    double* ccy = malloc(cap * sizeof(double));
    double* ccr = malloc(cap * sizeof(double));
    unsigned char* live = calloc(cap, 1);
    int64_t scratch_cap = cap;
    int64_t* badidx = malloc(scratch_cap * sizeof(int64_t));
    int64_t* e64 = malloc(scratch_cap * 3 * sizeof(int64_t));
    int64_t* bnd = malloc(scratch_cap * 3 * sizeof(int64_t));
    int64_t done_cap = 1024, done_n = 0;
    int64_t* done = malloc(done_cap * 3 * sizeof(int64_t));
    if (!tris || !ccx || !ccy || !ccr || !live || !badidx || !e64 || !bnd || !done)
        return 1;

    int64_t si = n;
    tris[0] = si; tris[1] = si + 1; tris[2] = si + 2;
    circum(PX, PY, P2, si, si + 1, si + 2, &ccx[0], &ccy[0], &ccr[0]);
    live[0] = 1;
    int64_t hi = 1;
    int64_t check_at = 2048;

    for (int64_t oi = 0; oi < n_order; oi++) {
        int64_t p = order[oi];
        double px = PX[p], py = PY[p];

        if (hi > check_at) {
            double thresh = px - fin_eps;
            int64_t m0 = 0;
            for (int64_t t = 0; t < hi; t++) {
                if (!live[t]) continue;
                if (ccx[t] + sqrt(ccr[t]) < thresh) {
                    if (done_n + 1 > done_cap) {
                        done_cap *= 2;
                        done = realloc(done, done_cap * 3 * sizeof(int64_t));
                        if (!done) return 1;
                    }
                    memcpy(done + done_n * 3, tris + t * 3, 3 * sizeof(int64_t));
                    done_n++;
                } else {
                    if (m0 != t) {
                        memcpy(tris + m0 * 3, tris + t * 3, 3 * sizeof(int64_t));
                        ccx[m0] = ccx[t]; ccy[m0] = ccy[t]; ccr[m0] = ccr[t];
                    }
                    live[m0] = 1;
                    m0++;
                }
            }
            for (int64_t t = m0; t < hi; t++) live[t] = 0;
            hi = m0;
            check_at = 2 * m0 > 2048 ? 2 * m0 : 2048;
        }

        /* cavity = live triangles whose circumcircle contains p */
        int64_t nb = 0;
        for (int64_t t = 0; t < hi; t++) {
            if (!live[t]) continue;
            double dx = ccx[t] - px, dy = ccy[t] - py;
            if (dx * dx + dy * dy <= ccr[t]) badidx[nb++] = t;
        }
        if (nb == 0) continue; /* numerically outside everything */

        if (3 * nb > scratch_cap * 3) { /* cannot happen (nb <= hi <= cap) */
            return 1;
        }
        int64_t ne = 0;
        for (int64_t j = 0; j < nb; j++) {
            const int64_t* tr = tris + badidx[j] * 3;
            const int64_t pairs[3][2] = {
                {tr[0], tr[1]}, {tr[1], tr[2]}, {tr[2], tr[0]}};
            for (int e = 0; e < 3; e++) {
                int64_t lo = pairs[e][0] < pairs[e][1] ? pairs[e][0] : pairs[e][1];
                int64_t hv = pairs[e][0] < pairs[e][1] ? pairs[e][1] : pairs[e][0];
                e64[ne++] = (lo << 32) | hv;
            }
        }
        qsort(e64, ne, sizeof(int64_t), cmp_i64);
        int64_t m = 0;
        for (int64_t j = 0; j < ne;) {
            int64_t k = j + 1;
            while (k < ne && e64[k] == e64[j]) k++;
            if (k - j == 1) bnd[m++] = e64[j];
            j = k;
        }

        for (int64_t j = 0; j < nb; j++) live[badidx[j]] = 0;
        int64_t nr = nb < m ? nb : m;
        for (int64_t j = 0; j < nr; j++) {
            int64_t row = badidx[j];
            int64_t va = bnd[j] >> 32, vb = bnd[j] & 0xFFFFFFFFLL;
            tris[row * 3] = va; tris[row * 3 + 1] = vb; tris[row * 3 + 2] = p;
            circum(PX, PY, P2, va, vb, p, &ccx[row], &ccy[row], &ccr[row]);
            live[row] = 1;
        }
        int64_t extra = m - nr;
        if (extra > 0) {
            if (hi + extra > cap) {
                int64_t ncap = 2 * cap > hi + extra ? 2 * cap : hi + extra;
                tris = realloc(tris, ncap * 3 * sizeof(int64_t));
                ccx = realloc(ccx, ncap * sizeof(double));
                ccy = realloc(ccy, ncap * sizeof(double));
                ccr = realloc(ccr, ncap * sizeof(double));
                live = realloc(live, ncap);
                badidx = realloc(badidx, ncap * sizeof(int64_t));
                e64 = realloc(e64, ncap * 3 * sizeof(int64_t));
                bnd = realloc(bnd, ncap * 3 * sizeof(int64_t));
                if (!tris || !ccx || !ccy || !ccr || !live || !badidx || !e64 || !bnd)
                    return 1;
                memset(live + cap, 0, ncap - cap);
                cap = ncap;
                scratch_cap = ncap;
            }
            for (int64_t j = 0; j < extra; j++) {
                int64_t row = hi + j;
                int64_t va = bnd[nr + j] >> 32, vb = bnd[nr + j] & 0xFFFFFFFFLL;
                tris[row * 3] = va; tris[row * 3 + 1] = vb; tris[row * 3 + 2] = p;
                circum(PX, PY, P2, va, vb, p, &ccx[row], &ccy[row], &ccr[row]);
                live[row] = 1;
            }
            hi += extra;
        }
    }

    int64_t n_live = 0;
    for (int64_t t = 0; t < hi; t++) n_live += live[t];
    int64_t total = done_n + n_live;
    int64_t* res = malloc((total > 0 ? total : 1) * 3 * sizeof(int64_t));
    if (!res) return 1;
    memcpy(res, done, done_n * 3 * sizeof(int64_t));
    int64_t w = done_n;
    for (int64_t t = 0; t < hi; t++) {
        if (!live[t]) continue;
        memcpy(res + w * 3, tris + t * 3, 3 * sizeof(int64_t));
        w++;
    }
    free(tris); free(ccx); free(ccy); free(ccr); free(live);
    free(badidx); free(e64); free(bnd); free(done);
    *out = res;
    *out_n = total;
    return 0;
}

void delaunay_free(int64_t* p) { free(p); }
"""

_CFLAGS = ["-O2", "-fPIC", "-shared", "-fno-fast-math", "-ffp-contract=off"]

_SIGNATURES = {
    "delaunay_bw": (
        ctypes.c_int,
        [
            ctypes.POINTER(ctypes.c_double),
            ctypes.POINTER(ctypes.c_double),
            ctypes.POINTER(ctypes.c_double),
            ctypes.c_int64,
            ctypes.POINTER(ctypes.c_int64),
            ctypes.c_int64,
            ctypes.c_double,
            ctypes.POINTER(ctypes.POINTER(ctypes.c_int64)),
            ctypes.POINTER(ctypes.c_int64),
        ],
    ),
    "delaunay_free": (None, [ctypes.POINTER(ctypes.c_int64)]),
}


def get_lib():
    """ctypes handle to the compiled kernel, or None (fallback)."""
    return _native.load("delaunay", _C_SOURCE, _CFLAGS, _SIGNATURES)


def run(px_all: np.ndarray, py_all: np.ndarray, p2_all: np.ndarray,
        n: int, order: np.ndarray, fin_eps: float) -> np.ndarray | None:
    """Run the native loop; (m, 3) int64 raw triangles (super vertices
    still present) in the exact row order of the NumPy loop, or None if
    the library is unavailable or errored."""
    lib = get_lib()
    if lib is None:
        return None
    px = np.ascontiguousarray(px_all, dtype=np.float64)
    py = np.ascontiguousarray(py_all, dtype=np.float64)
    p2 = np.ascontiguousarray(p2_all, dtype=np.float64)
    ord64 = np.ascontiguousarray(order, dtype=np.int64)
    out_p = ctypes.POINTER(ctypes.c_int64)()
    out_n = ctypes.c_int64(0)
    rc = lib.delaunay_bw(
        px.ctypes.data_as(ctypes.POINTER(ctypes.c_double)),
        py.ctypes.data_as(ctypes.POINTER(ctypes.c_double)),
        p2.ctypes.data_as(ctypes.POINTER(ctypes.c_double)),
        ctypes.c_int64(int(n)),
        ord64.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
        ctypes.c_int64(len(ord64)),
        ctypes.c_double(float(fin_eps)),
        ctypes.byref(out_p),
        ctypes.byref(out_n),
    )
    if rc != 0:
        return None
    try:
        m = int(out_n.value)
        if m == 0:
            return np.empty((0, 3), dtype=np.int64)
        return np.ctypeslib.as_array(out_p, shape=(m, 3)).copy()
    finally:
        lib.delaunay_free(out_p)
