"""Point-in-polygon joins (J1 inner, J2 semi/clip).

Reference semantics: pointzonalstats adds each point to every polygon
whose geometry contains it (src/pointzonalstats.cpp:393-410, GEOS
``contains``); lasclip keeps a point when any polygon of the collection
contains it (src/lasclip.cpp:160-183).

Spark-first design for 100 TB:
- polygons are the SMALL side; their bbox-covering cells are exploded
  into a (cell_col, cell_row, poly_id) candidate table that is
  broadcast — the point side joins on the grid cell key, so candidate
  generation is a broadcast HASH join (no nested-loop scan of every
  polygon per point, which is what the reference does).
- the exact even-odd ray-cast runs only on candidates that pass the
  polygon's bbox, as one Catalyst predicate over the polygon's edge
  array (a second broadcast table, one row per polygon): the whole
  join runs in the JVM, with no Python worker. Shapely is
  intentionally not required.

The crossing rule — edge (x1,y1)-(x2,y2) crosses the +x ray from
(px,py) iff ``(y1 > py) != (y2 > py)`` and
``px < (x2-x1)*(py-y1)/(y2-y1) + x1`` — is the same formula, with the
same operations in the same order, as the DuckDB oracle SQL, so
cross-engine results are bit-identical. The division sits in the
branch of a ``CASE`` on the straddle test, so a horizontal edge
(``y1 == y2``) never divides and ANSI mode cannot raise on it.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geotools_spark.functions.cells import cell_cols, cell_of

from .sampling import collect_capped, local_frame


def _collect_rings(polygons: DataFrame) -> dict[int, np.ndarray]:
    """Driver-side collect of the (small-by-contract) polygon table ->
    ring arrays, capped so a mis-sized polygon side raises instead of
    flooding the driver (same guard as sampling.collect_sample_xyz)."""
    rings: dict[int, np.ndarray] = {}
    for row in collect_capped(
        polygons, ("poly_id", "ring"), what="polygon side"
    ):
        rings[int(row.poly_id)] = np.array(
            [(p.x, p.y) for p in row.ring], dtype=np.float64
        )
    return rings


def _covering_cells(rings: dict[int, np.ndarray], res: float):
    """bbox-covering cells per polygon (over-approximation; exact test
    follows), each carrying the polygon's exact bbox so a codegen-side
    range filter can reject candidates BEFORE the edges are joined and
    ray-cast. This is the engine's replacement for the R-tree: a
    broadcastable equi-join key plus the R-tree's bbox test."""
    out = []
    for pid, ring in rings.items():
        minx, miny = ring.min(axis=0)
        maxx, maxy = ring.max(axis=0)
        for cc in range(cell_of(minx, 0.0, res), cell_of(maxx, 0.0, res) + 1):
            for cr in range(cell_of(miny, 0.0, res), cell_of(maxy, 0.0, res) + 1):
                out.append(
                    (cc, cr, pid, float(minx), float(miny), float(maxx), float(maxy))
                )
    return out


def _edge_rows(rings: dict[int, np.ndarray]):
    """One (poly_id, edges) row per polygon, each edge a consecutive
    vertex pair of the closed ring."""
    return [
        (pid, [
            {"x1": float(x1), "y1": float(y1), "x2": float(x2), "y2": float(y2)}
            for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:])
        ])
        for pid, ring in rings.items()
    ]


def inside_expr(px: Column, py: Column, edges: Column) -> Column:
    """Even-odd test of (px, py) against ``edges``
    (array<struct<x1,y1,x2,y2>>): an odd number of edges cross the +x
    ray."""

    def crosses(e):
        return F.when(
            (e["y1"] > py) != (e["y2"] > py),
            px < (e["x2"] - e["x1"]) * (py - e["y1"]) / (e["y2"] - e["y1"]) + e["x1"],
        ).otherwise(F.lit(False))

    return F.size(F.filter(edges, crosses)) % 2 == 1


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    *,
    res: float = 8.0,
    how: str = "inner",
    point_id: str = "pid",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """J1/J2. how='inner' -> points x containing polygons (with
    poly_id); how='left_semi' -> clip: points contained in ANY polygon,
    each point once.

    ``res`` is the candidate-bucket resolution — coarse enough that the
    broadcast (cell, poly_id) table stays tiny, fine enough to prune
    most of the world before the exact test.

    CONTRACT (left_semi): ``point_id`` must uniquely identify input
    rows — the clip dedups on it, so duplicate-id rows collapse to one
    arbitrary representative (the reference's lasclip reads each point
    once, src/lasclip.cpp:160-183, so ids are unique there too).  The
    point table must not carry columns named ``poly_id`` or
    ``pcell_col``/``pcell_row`` (join-internal names).
    """
    reserved = {"poly_id", "pcell_col", "pcell_row"} & set(points.columns)
    if reserved:
        raise ValueError(f"points carries pip-internal column names: {sorted(reserved)}")
    spark = points.sparkSession
    rings = _collect_rings(polygons)
    cand = local_frame(
        spark,
        _covering_cells(rings, res),
        "pcell_col long, pcell_row long, poly_id int, "
        "_bxmin double, _bymin double, _bxmax double, _bymax double",
    )
    edges = local_frame(
        spark,
        _edge_rows(rings),
        "poly_id int, _edges array<struct<x1:double,y1:double,x2:double,y2:double>>",
    )

    pcol, prow = cell_cols(F.col(x), F.col(y), minx=0.0, miny=0.0, res=res)
    pts = points.select("*", pcol.alias("pcell_col"), prow.alias("pcell_row"))
    candidates = pts.join(
        F.broadcast(cand), ["pcell_col", "pcell_row"], "inner"
    )
    # exact-bbox rejection in whole-stage codegen: a point outside the
    # polygon's closed bbox can never be inside it, so this prunes the
    # rows that join the edge table and run the ray-cast (the coarse
    # cell grid over-approximates by up to res on every side)
    candidates = candidates.filter(
        (F.col(x) >= F.col("_bxmin"))
        & (F.col(x) <= F.col("_bxmax"))
        & (F.col(y) >= F.col("_bymin"))
        & (F.col(y) <= F.col("_bymax"))
    )
    inside = (
        candidates.join(F.broadcast(edges), "poly_id", "inner")
        .filter(inside_expr(F.col(x), F.col(y), F.col("_edges")))
        .select(*points.columns, "poly_id")
    )
    if how == "inner":
        return inside
    if how == "left_semi":
        # Clip = each contained point once, original columns.  The
        # ``inside`` rows already carry the point's original columns
        # unmodified, so deduplicating on the point id IS the semi-join
        # — one hash shuffle, no join, and nothing unbounded to
        # broadcast (the r01 version broadcast the O(hits) id set).
        return inside.select(*points.columns).dropDuplicates([point_id])
    raise ValueError(f"unsupported how={how!r}")


def pip_oracle_sql(
    polygons: list[tuple[int, list[tuple[float, float]]]],
    *,
    how: str = "inner",
) -> str:
    """Edge-table CTEs implementing the identical crossing rule in ANSI
    SQL (for DuckDB oracle parity). ``polygons`` = [(poly_id, ring)]."""
    edge_rows = []
    for pid, ring in polygons:
        for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
            edge_rows.append(f"({pid}, {x1!r}, {y1!r}, {x2!r}, {y2!r})")
    edges = ", ".join(edge_rows)
    return f"""
    edges(poly_id, ex1, ey1, ex2, ey2) AS (VALUES {edges}),
    crossings AS (
      SELECT c.*, e.poly_id
      FROM cells c CROSS JOIN edges e
      WHERE ((e.ey1 > c.y) != (e.ey2 > c.y))
        AND c.x < (e.ex2 - e.ex1) * (c.y - e.ey1) / (e.ey2 - e.ey1) + e.ex1
    ),
    inside AS (
      SELECT pid, poly_id FROM crossings
      GROUP BY pid, poly_id HAVING COUNT(*) % 2 = 1
    )
    """
