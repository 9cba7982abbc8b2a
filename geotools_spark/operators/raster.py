"""Raster focal / global operators (SURVEY.md §2.6 W1-W10, §2.4 A15-A16).

Rasters are long-form DataFrames ``(cell_col, cell_row, value)`` (plus
optional raster_id/band); nodata is NULL internally (missing rows are
also nodata). Two physical strategies, both pure public-API Spark:

1. **neighbor-offset explode** (default): every source cell is exploded
   to the k*k target windows it participates in, then ``groupBy(target
   cell)`` folds the window. All arithmetic stays JVM-side in
   whole-stage codegen; the one shuffle is an equi-shuffle on the target
   cell key, which AQE can split on skew. Shuffle volume is k^2 x input
   - the right trade for small kernels (3..9) at 100 TB because there
   is no Python and no barrier.
2. **tiled applyInPandas with halo** (`*_tiled`): cells are grouped into
   T x T tiles, each cell additionally shipped to neighbor tiles whose
   core it can influence (halo duplication — the Spark analogue of the
   reference's strip/tile + buffer decomposition, src/mosaic.cpp:119-190,
   src/raster.cpp:240-262). One shuffle on tile key, then a vectorized
   NumPy kernel per tile. The right trade for large kernels and
   iterative per-tile math: shuffle volume is (1 + 2*halo/T)^2 x input,
   independent of kernel size. :class:`HaloTiles` is the one home of
   the tile rule: the tile size (``tile``, grown to ``2*halo`` when
   ``halo >= tile``), the halo shipping, the tile origin
   ``tile_col*T - halo`` and the dense (T+2*halo)^2 grid scatter.

Iterative algorithms whose reach is bounded (feather W7: the fade
distance in pixels) run their whole loop inside one halo tile; flood
labeling (W10) merges its per-tile labels in a bounded driver loop of
DataFrame rounds with ``localCheckpoint`` to cut lineage — the round
count is the diameter of the tile graph, not the data size.

Reference parity rules encoded here (each behind ``parity=True``):
- gaussian smooth (src/raster.cpp:223-296): window weight
  ``1/(2*pi*sigma^2) * e^{-(dx^2+dy^2)/(2*sigma^2)}`` (weights NOT
  renormalized); output is nodata if ANY window cell is nodata; the
  reference's scan loops run ``r < rows - size`` so the last valid
  row/col position is never produced (off-by-one) — parity keeps it.
- local maxima (src/treetops.cpp:72-91,199-226): center must be >=
  min_height; running max starts at 0 so a center <= 0 can never win;
  ties go to the first cell in row-major scan order; nodata cells in
  the window are ignored; same off-by-one interior clip; id packs
  ``(col << 32) | row`` (src/treetops.cpp:210).
- feather/blend (src/mosaic.cpp:31-115): alpha starts 1.0, edges are
  "snowed in" step by step, alpha = tanh(((step - steps/2)/(steps/2))
  * pi) * 0.5 + 0.5; isEdgePixel's border test fires for the two
  outermost rows/cols (c<=0 with c=col-1); blend writes
  ``bg*(1-a) + im*a`` only where BOTH sides are valid.
- raster pair diff stats (src/rasterstats.cpp:172-266): per (pair,
  class) count/sum/min/max/mean/sample-variance/stddev of v0-v1.
- global stats (src/raster.cpp:58-90): Welford, POPULATION variance
  (s/count) over valid cells.
- normalize (src/raster.cpp:92-113): mean divides by TOTAL cell count
  (nodata included) and sigma = sqrt(sum((v-mean)^2)) with NO /n —
  both reference quirks, kept behind parity.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotools_spark.functions.cells import cell_cols, window_offsets


def _window_offsets_expr(size: int) -> str:
    """array<struct<dx,dy>> for a size x size window centered at 0."""
    half = size // 2
    items = ", ".join(
        f"struct({dx}L as dx, {dy}L as dy)"
        for dy in range(-half, size - half)
        for dx in range(-half, size - half)
    )
    return f"array({items})"


#: NumPy D8 neighbour shifts (dx, dy), dx-major like ``window_offsets(1, center=False)``
D8 = tuple((dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0))


def shift_slices(dx: int, dy: int, w: int):
    """(target, source) index pairs that move a (w, w) grid by (dx, dy):
    ``target_grid[t] op= source_grid[s]`` reads each cell's neighbour
    at (-dx, -dy)."""
    return (
        (slice(max(0, dy), w + min(0, dy)), slice(max(0, dx), w + min(0, dx))),
        (slice(max(0, -dy), w + min(0, -dy)), slice(max(0, -dx), w + min(0, -dx))),
    )


def _window_fold(raster: DataFrame, size: int, value: str, fields, aggs) -> DataFrame:
    """Ship every cell to each target cell of its size x size window and
    fold per target: ``fields(v, dx, dy)`` are the shipped columns
    (offsets are source -> target), ``aggs`` the folds over them.
    Output: (tcol, trow, *aggs). The dy-major offset order fixes the
    float-sum order smooth relies on."""
    ex = raster.select(
        "cell_col",
        "cell_row",
        F.col(value).alias("_v"),
        F.explode(F.expr(_window_offsets_expr(size))).alias("off"),
    )
    dx, dy = F.col("off.dx"), F.col("off.dy")
    return ex.select(
        (F.col("cell_col") + dx).alias("tcol"),
        (F.col("cell_row") + dy).alias("trow"),
        *fields(F.col("_v"), dx, dy),
    ).groupBy("tcol", "trow").agg(*aggs)


def gaussian_weight_expr(dx, dy, sigma: float):
    """Reference kernel weight as a JVM expression (src/raster.cpp:41-55)."""
    s2 = 2.0 * float(sigma) * float(sigma)
    norm = 1.0 / (math.pi * s2)
    d2 = (dx * dx + dy * dy).cast("double")
    return F.lit(norm) * F.exp(-d2 / F.lit(s2))


def _interior(col, row, cols: int, rows: int, half: int, parity: bool):
    """Valid output positions. parity keeps the reference's off-by-one:
    its scan loops (`r < rows - size`, src/raster.cpp:266-267;
    `col < cols - window`, src/treetops.cpp:200) never produce the last
    otherwise-valid row/col."""
    hi_c = cols - half - (2 if parity else 1)
    hi_r = rows - half - (2 if parity else 1)
    return (
        (col >= half) & (col <= hi_c) & (row >= half) & (row <= hi_r)
    )


def gaussian_smooth(
    raster: DataFrame,
    *,
    sigma: float,
    size: int = 3,
    cols: int,
    rows: int,
    value: str = "value",
    parity: bool = True,
) -> DataFrame:
    """W1: k x k gaussian smooth via neighbor-offset explode.

    Output: (cell_col, cell_row, smoothed) — smoothed NULL where the
    window is incomplete, touches nodata, or falls outside the interior
    clip. Semantics of src/raster.cpp:223-296 (single-strip run).
    """
    if size % 2 == 0:
        size += 1
    half = size // 2
    # the kernel is symmetric so the weight depends only on the offset
    agg = _window_fold(
        raster, size, value,
        lambda v, dx, dy: [
            (v * gaussian_weight_expr(dx, dy, sigma)).alias("_wv"),
            v.isNull().cast("int").alias("_nd"),
        ],
        [
            F.sum("_wv").alias("_sum"),
            F.count(F.lit(1)).alias("_n"),  # contributions incl. nodata rows
            F.sum("_nd").alias("_nnd"),
        ],
    )
    full = size * size
    ok = (F.col("_n") == full) & (F.col("_nnd") == 0) & _interior(
        F.col("tcol"), F.col("trow"), cols, rows, half, parity
    )
    return agg.select(
        F.col("tcol").alias("cell_col"),
        F.col("trow").alias("cell_row"),
        F.when(ok, F.col("_sum")).otherwise(F.lit(None)).alias("smoothed"),
    )


def local_maxima(
    raster: DataFrame,
    *,
    window: int = 3,
    min_height: float = 0.0,
    cols: int,
    rows: int,
    value: str = "value",
    parity: bool = True,
) -> DataFrame:
    """W2: treetop candidates — strict window maxima with the
    reference's scan-order tie rule and >0 quirk
    (src/treetops.cpp:72-91, loop 199-226).

    Output: (top_id, cell_col, cell_row, z) — top_id = (col<<32)|row.
    """
    half = window // 2

    def fields(v, dx, dy):
        is_center = (dx == 0) & (dy == 0)
        # row-major scan order: the SOURCE precedes the TARGET center
        # when the (source->target) offset it travels is positive
        before = (dy > 0) | ((dy == 0) & (dx > 0))
        return [
            F.when(is_center, v).alias("_center"),
            F.when(~is_center & before, v).alias("_before_v"),
            F.when(~is_center & ~before, v).alias("_after_v"),
        ]

    agg = _window_fold(
        raster, window, value, fields,
        [
            F.max("_center").alias("center"),
            F.max("_before_v").alias("max_before"),
            F.max("_after_v").alias("max_after"),
        ],
    )
    is_top = (
        F.col("center").isNotNull()
        & (F.col("center") >= F.lit(float(min_height)))
        & (F.col("center") > 0)  # running max starts at 0 (treetops.cpp:79)
        & (F.col("max_before").isNull() | (F.col("max_before") < F.col("center")))
        & (F.col("max_after").isNull() | (F.col("max_after") <= F.col("center")))
        & _interior(F.col("tcol"), F.col("trow"), cols, rows, half, parity)
    )
    return agg.filter(is_top).select(
        F.shiftleft(F.col("tcol"), 32).bitwiseOR(F.col("trow")).alias("top_id"),
        F.col("tcol").alias("cell_col"),
        F.col("trow").alias("cell_row"),
        F.col("center").alias("z"),
    )


def local_minima(
    raster: DataFrame,
    *,
    window: int = 3,
    cols: int,
    rows: int,
    value: str = "value",
) -> DataFrame:
    """W3: strict 3x3 minima (src/utils/findmin.cpp:30-64) — inverted
    W2 without the >0 quirk; ties suppress both candidates."""
    half = window // 2

    def fields(v, dx, dy):
        is_center = (dx == 0) & (dy == 0)
        return [F.when(is_center, v).alias("_center"), F.when(~is_center, v).alias("_nbr")]

    agg = _window_fold(
        raster, window, value, fields,
        [F.max("_center").alias("center"), F.min("_nbr").alias("min_nbr")],
    )
    ok = (
        F.col("center").isNotNull()
        & (F.col("min_nbr").isNull() | (F.col("center") < F.col("min_nbr")))
        & _interior(F.col("tcol"), F.col("trow"), cols, rows, half, parity=False)
    )
    return agg.filter(ok).select(
        F.col("tcol").alias("cell_col"),
        F.col("trow").alias("cell_row"),
        F.col("center").alias("z"),
    )


def edge_pixels(
    raster: DataFrame,
    *,
    cols: int,
    rows: int,
    value: str = "value",
) -> DataFrame:
    """W4: isEdgePixel (src/mosaic.cpp:40-50) — a VALID pixel whose 3x3
    neighborhood touches nodata/missing or the (quirky) border test
    ``c<=0 || r<=0 || c>=cols-1 || r>=rows-1`` evaluated on neighbor
    coords, so the two outermost rings are always edges.

    Output: (cell_col, cell_row, is_edge boolean) for valid cells.
    """
    ex = raster.filter(F.col(value).isNotNull()).select(
        "cell_col",
        "cell_row",
        F.explode(window_offsets(1)).alias("off"),
    )
    # look up the neighbor's validity by joining back to the raster
    nbr = raster.select(
        F.col("cell_col").alias("ncol"),
        F.col("cell_row").alias("nrow"),
        F.col(value).isNotNull().alias("nvalid"),
    )
    ex = ex.select(
        "cell_col",
        "cell_row",
        (F.col("cell_col") + F.col("off.dx")).alias("ncol"),
        (F.col("cell_row") + F.col("off.dy")).alias("nrow"),
    ).join(nbr, ["ncol", "nrow"], "left")
    border = (
        (F.col("ncol") <= 0)
        | (F.col("nrow") <= 0)
        | (F.col("ncol") >= cols - 1)
        | (F.col("nrow") >= rows - 1)
    )
    hit = border | (~F.coalesce(F.col("nvalid"), F.lit(False)))
    return ex.groupBy("cell_col", "cell_row").agg(
        F.max(hit.cast("int")).cast("boolean").alias("is_edge")
    )


def feather(
    raster: DataFrame,
    *,
    distance: float,
    resolution: float,
    cols: int,
    rows: int,
    value: str = "value",
    tile: int = 256,
) -> DataFrame:
    """W7a: alpha mask by edge snow-in (src/mosaic.cpp:56-99), computed
    as a halo-tile distance transform: the synchronous peel wave means a
    cell's layer index IS its (border-quirk-aware) D8 peel distance, so
    one halo-tile shuffle + a vectorized per-tile NumPy erosion loop
    does the reference's ~steps whole-raster peel passes. Halo =
    steps+2 cells: the wave advances one Chebyshev cell per step, so
    any influence of cells outside the window cannot reach the tile
    core within ``steps`` peels; the NumPy transcription of the
    reference loop (``tests/test_raster.py``) judges it on multi-tile
    grids. Single-tile semantics like the reference's single-raster run
    (the reference's own per-tile border artifacts are NOT reproduced).
    Output: (cell_col, cell_row, alpha) for valid cells; interior never
    reached by the fade keeps alpha = 1.0."""
    steps = max(1.0, float(distance) / float(resolution))
    n_peel = int(math.floor(steps)) + 1
    tiles = HaloTiles(tile, n_peel + 1)
    shipped = tiles.ship(
        raster.filter(F.col(value).isNotNull()).select(
            "cell_col", "cell_row", F.col(value).alias("value")
        )
    )
    alphas = [
        math.tanh(((min(steps, float(s)) - steps / 2.0) / (steps / 2.0)) * math.pi)
        * 0.5
        + 0.5
        for s in range(n_peel)
    ]

    def _peel(key, pdf):
        # presence, not values: a NaN (non-NULL) cell is valid
        valid, x0, y0 = tiles.grid(key, pdf, True, False)
        w = tiles.width
        orig = valid.copy()
        # border-edge quirk: the 3x3 neighbor-coord test makes the two
        # outermost GLOBAL rings always edges
        gc = np.arange(w) + x0
        gr = np.arange(w) + y0
        border = (
            (gc[None, :] <= 1)
            | (gc[None, :] >= cols - 2)
            | (gr[:, None] <= 1)
            | (gr[:, None] >= rows - 2)
        )
        layer = np.full((w, w), -1, dtype=np.int32)
        for s in range(n_peel):
            inv = ~valid
            adj = inv.copy()
            for dx, dy in D8:
                tgt, src = shift_slices(dx, dy, w)
                adj[tgt] |= inv[src]
            edge = valid & (adj | border)
            if not edge.any():
                break
            layer[edge] = s
            valid &= ~edge
        emit = orig & tiles.core_mask()
        er, ec = np.nonzero(emit)
        lay = layer[er, ec]
        lut = np.array(alphas + [1.0])  # index n_peel = never peeled
        alpha = lut[np.where(lay >= 0, lay, n_peel)]
        return pd.DataFrame(
            {
                "cell_col": ec + x0,
                "cell_row": er + y0,
                "alpha": alpha.astype(np.float64),
            }
        )

    return shipped.groupBy("tile_col", "tile_row").applyInPandas(
        _peel, "cell_col long, cell_row long, alpha double"
    )


def blend(
    base: DataFrame,
    overlay: DataFrame,
    alpha: DataFrame,
    *,
    value: str = "value",
) -> DataFrame:
    """W7b: ``bg*(1-a) + im*a`` where BOTH sides valid, else the base
    value unchanged (src/mosaic.cpp:104-115). Full-outer on cell so the
    base extent is preserved."""
    b = base.select("cell_col", "cell_row", F.col(value).alias("_bg"))
    o = overlay.select("cell_col", "cell_row", F.col(value).alias("_im"))
    a = alpha.select("cell_col", "cell_row", F.col("alpha").alias("_a"))
    j = b.join(o, ["cell_col", "cell_row"], "left").join(a, ["cell_col", "cell_row"], "left")
    both = F.col("_bg").isNotNull() & F.col("_im").isNotNull() & F.col("_a").isNotNull()
    return j.select(
        "cell_col",
        "cell_row",
        F.when(both, F.col("_bg") * (1.0 - F.col("_a")) + F.col("_im") * F.col("_a"))
        .otherwise(F.col("_bg"))
        .alias("value"),
    )


def spill_points(
    basins: DataFrame,
    *,
    max_dist: float,
    cols: int,
    rows: int,
    resx: float = 1.0,
    resy: float = 1.0,
) -> DataFrame:
    """flood's findSpillPoints (src/flood.cpp:369-400): candidate
    channels between basins = pairs of edge cells from DIFFERENT basins
    within ``max_dist`` of each other.

    The reference is a literal quadruple loop (every edge cell of every
    basin pair). Here: edge extraction is one D8 self-join (a basin
    cell with any in-bounds neighbor of a different/no label —
    Basin::computeEdges, src/flood.cpp:150-173), and the pair search is
    a cell-bucketed distance join at bucket size ``max_dist`` (each
    edge cell meets only the 9 surrounding buckets — the all-pairs loop
    never materializes). Distance is Euclidean on (col*resx, row*resy)
    (Cell::distance, src/flood.cpp:118-124).

    Output: (label_a, x_a, y_a, label_b, x_b, y_b, mid_x, mid_y, dist)
    with label_a < label_b, the reference's CSV fields.
    """
    lab = basins.select("cell_col", "cell_row", "label")
    ex = lab.select(
        "cell_col",
        "cell_row",
        "label",
        F.explode(window_offsets(1, center=False)).alias("off"),
    ).select(
        "cell_col",
        "cell_row",
        "label",
        (F.col("cell_col") + F.col("off.dx")).alias("ncol"),
        (F.col("cell_row") + F.col("off.dy")).alias("nrow"),
    ).filter(
        (F.col("ncol") >= 0)
        & (F.col("nrow") >= 0)
        & (F.col("ncol") < cols)
        & (F.col("nrow") < rows)
    )
    nbr = lab.select(
        F.col("cell_col").alias("ncol"),
        F.col("cell_row").alias("nrow"),
        F.col("label").alias("nlabel"),
    )
    edge = (
        ex.join(nbr, ["ncol", "nrow"], "left")
        .groupBy("cell_col", "cell_row", "label")
        .agg(
            F.max(
                (F.col("nlabel").isNull() | (F.col("nlabel") != F.col("label"))).cast("int")
            ).alias("_e")
        )
        .filter(F.col("_e") == 1)
        .select(
            "label",
            (F.col("cell_col") * F.lit(float(resx))).alias("x"),
            (F.col("cell_row") * F.lit(float(resy))).alias("y"),
        )
    )
    d = float(max_dist)
    bc, br = cell_cols(F.col("x"), F.col("y"), minx=0.0, miny=0.0, res=d)
    edges = edge.select("*", bc.alias("_bc"), br.alias("_br"))
    a = edges.select(
        F.col("label").alias("label_a"),
        F.col("x").alias("x_a"),
        F.col("y").alias("y_a"),
        F.explode(window_offsets(1)).alias("off"),
        (F.col("_bc")).alias("_abc"),
        (F.col("_br")).alias("_abr"),
    ).select(
        "label_a", "x_a", "y_a",
        (F.col("_abc") + F.col("off.dx")).alias("_bc"),
        (F.col("_abr") + F.col("off.dy")).alias("_br"),
    )
    b = edges.select(
        F.col("label").alias("label_b"),
        F.col("x").alias("x_b"),
        F.col("y").alias("y_b"),
        "_bc",
        "_br",
    )
    dx = F.col("x_a") - F.col("x_b")
    dy = F.col("y_a") - F.col("y_b")
    return (
        a.join(b, ["_bc", "_br"])
        .filter(F.col("label_a") < F.col("label_b"))
        .select("*", F.sqrt(dx * dx + dy * dy).alias("dist"))
        .filter(F.col("dist") <= d)
        .select(
            "label_a", "x_a", "y_a", "label_b", "x_b", "y_b",
            ((F.col("x_a") + F.col("x_b")) / 2.0).alias("mid_x"),
            ((F.col("y_a") + F.col("y_b")) / 2.0).alias("mid_y"),
            "dist",
        )
    )


def flood_label(
    raster: DataFrame,
    *,
    predicate,
    connectivity: int = 4,
    tile: int = 64,
    max_iters: int = 32,
    value: str = "value",
) -> DataFrame:
    """W10: connected-component labeling of cells satisfying
    ``predicate`` (a Column, e.g. value <= elevation — LEFillOperator,
    src/flood.cpp:180-194; generic fill include/raster.hpp:215-299).

    Two-level scheme (the scalable Spark CC pattern):
    1. per-tile union-find over core + 1-cell halo ring
       (applyInPandas) — resolves everything except cross-tile merges
       locally in one shuffle;
    2. distributed min-propagation over the CONTRACTED (cell, label)
       bipartite graph — a halo cell carries one label per adjacent
       tile, linking them. Rounds needed = diameter of the tile
       adjacency graph (not the cell graph), so a snake component of
       10^6 cells across 10 tiles converges in ~10 cheap rounds.

    Labels are the min linear cell id (row<<32|col) of the component —
    deterministic. Output: (cell_col, cell_row, label).
    """
    offs = ((-1, 0), (1, 0), (0, -1), (0, 1)) if connectivity == 4 else D8
    big = 1 << 32
    shipped = HaloTiles(tile, 1).ship(
        raster.filter(predicate).select("cell_col", "cell_row", F.lit(1.0).alias("value"))
    )

    def _local_label(key, pdf):
        # Vectorized min-label propagation with pointer compression (no
        # per-cell Python dict union-find): each round takes the min
        # over neighbors, then follows the label indirection twice —
        # hook + compress converges in O(log diameter) rounds, every
        # step a NumPy gather via searchsorted on the sorted cell ids.
        cc = pdf["cell_col"].to_numpy(dtype=np.int64)
        rr = pdf["cell_row"].to_numpy(dtype=np.int64)
        n = len(cc)
        cid = rr * big + cc
        if n == 0:
            return pd.DataFrame({"cid": cid, "label": cid})
        order = np.argsort(cid)
        scid = cid[order]
        imax = np.iinfo(np.int64).max
        nbr = []
        for dx, dy in offs:
            ncid = (rr + dy) * big + (cc + dx)
            pos = np.clip(np.searchsorted(scid, ncid), 0, n - 1)
            j_idx = order[pos]
            nbr.append((j_idx, cid[j_idx] == ncid))

        def at(lbl: np.ndarray, target: np.ndarray) -> np.ndarray:
            """label of the cell whose cid == target (targets are always
            cids present in this tile: labels start as own cid and only
            flow between present cells)."""
            return lbl[order[np.clip(np.searchsorted(scid, target), 0, n - 1)]]

        lab = cid.copy()
        while True:
            prev = lab
            m = lab.copy()
            for j_idx, ok in nbr:
                np.minimum(m, np.where(ok, lab[j_idx], imax), out=m)
            m = np.minimum(m, at(lab, m))
            m = np.minimum(m, at(lab, m))
            lab = m
            if np.array_equal(lab, prev):
                break
        return pd.DataFrame({"cid": cid, "label": lab})

    pairs = (
        shipped.groupBy("tile_col", "tile_row")
        .applyInPandas(_local_label, "cid long, label long")
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        cmin = pairs.groupBy("cid").agg(F.min("label").alias("cmin"))
        with_c = pairs.join(cmin, "cid")
        lmin = with_c.groupBy("label").agg(F.min("cmin").alias("lmin"))
        nxt = (
            with_c.join(lmin, "label")
            .select("cid", F.col("lmin").alias("label"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        changed = (
            nxt.exceptAll(pairs).limit(1).count()
        )
        pairs = nxt
        if changed == 0:
            break
    final = pairs.groupBy("cid").agg(F.min("label").alias("label"))
    return final.select(
        F.col("cid").bitwiseAND(F.lit(big - 1)).alias("cell_col"),
        F.shiftright(F.col("cid"), 32).alias("cell_row"),
        "label",
    )


def rastfit(
    base: DataFrame,
    adj: DataFrame,
    *,
    method: str = "natural_neighbour",
    n_samples: int = 200,
    value: str = "value",
    seed: int = 1299709,
    pinned: bool = False,
    **interp_params,
) -> DataFrame:
    """rastfit (src/rastfit.cpp:148-199): produce the adjustment raster
    that fits ``adj`` onto ``base`` — sample ``z = adj - base`` where
    both rasters are valid, then interpolate the difference surface
    over adj's grid with the chosen interpolator ('nn', 'pl', 'avg',
    'idw', 'sk' in the reference = our registry names).

    Deviation (documented): the reference throws rand() darts at the
    overlap bounds (src/rastfit.cpp:108-119); a distributed engine
    needs a deterministic, rerun-stable sample, so we take the top
    ``n_samples`` overlap cells by an affine-mod order key — same
    low-discrepancy role, reproducible across runs/executors, and
    expressible in the DuckDB oracle.

    Returns (cell_col, cell_row, fit) over adj's valid cells.
    """
    from geotools_spark.operators.interpolate import interpolate

    # pin both rasters once: the sample collect, the query-id pinning
    # and the final join each trigger a job, and a derived raster
    # pipeline would be recomputed for every one of them. ``pinned``
    # callers promise base/adj are already cheap to recompute (e.g.
    # projections of one checkpointed grid) — skip the two jobs.
    b = base.filter(F.col(value).isNotNull()).select(
        "cell_col", "cell_row", F.col(value).alias("_b")
    )
    a = adj.filter(F.col(value).isNotNull()).select(
        "cell_col", "cell_row", F.col(value).alias("_a")
    )
    if not pinned:
        b = b.localCheckpoint(eager=True)
        a = a.localCheckpoint(eager=True)
    overlap = a.join(b, ["cell_col", "cell_row"]).select(
        "cell_col",
        "cell_row",
        (F.col("_a") - F.col("_b")).alias("_diff"),
    )
    ordkey = F.pmod(
        F.col("cell_col") * 104729 + F.col("cell_row") * 7919 + F.lit(seed), F.lit(999983)
    )
    samples = (
        overlap.orderBy(ordkey, "cell_col", "cell_row")
        .limit(int(n_samples))
        .select(
            # deterministic id (kNN-style interpolators tie-break on it)
            F.xxhash64("cell_col", "cell_row").alias("sid"),
            F.col("cell_col").cast("double").alias("x"),
            F.col("cell_row").cast("double").alias("y"),
            F.col("_diff").alias("z"),
        )
    )
    # keep the (qid -> cell) mapping as data instead of arithmetic
    # packing — negative coordinates or >1e6-row grids would silently
    # misdecode a packed key
    queries = a.select(
        F.monotonically_increasing_id().alias("qid"),
        "cell_col",
        "cell_row",
        F.col("cell_col").cast("double").alias("qx"),
        F.col("cell_row").cast("double").alias("qy"),
    ).localCheckpoint(eager=True)  # pin the nondeterministic ids
    out = interpolate(
        method, queries.select("qid", "qx", "qy"), samples, **interp_params
    )
    return queries.select("qid", "cell_col", "cell_row").join(out, "qid").select(
        "cell_col", "cell_row", F.col("value").alias("fit")
    )


def raster_pair_diff_stats(
    rasters: DataFrame,
    classes: DataFrame,
    *,
    value: str = "value",
) -> DataFrame:
    """A15: for every pair of rasters (by raster_id, id0 < id1) and
    every class, stats of per-cell diffs v0 - v1
    (src/rasterstats.cpp:172-266; Stat uses SAMPLE variance).

    ``rasters``: (raster_id, cell_col, cell_row, value) long form —
    the equi-join on the world cell key replaces the reference's
    coordinate-walk alignment. ``classes``: (cell_col, cell_row,
    cls)."""
    a = rasters.select(
        F.col("raster_id").alias("rid0"), "cell_col", "cell_row", F.col(value).alias("v0")
    )
    b = rasters.select(
        F.col("raster_id").alias("rid1"), "cell_col", "cell_row", F.col(value).alias("v1")
    )
    j = (
        a.join(b, ["cell_col", "cell_row"])
        .filter(F.col("rid0") < F.col("rid1"))
        .filter(F.col("v0").isNotNull() & F.col("v1").isNotNull())
        .join(F.broadcast(classes), ["cell_col", "cell_row"], "inner")
        .select("rid0", "rid1", "cls", (F.col("v0") - F.col("v1")).alias("d"))
    )
    return j.groupBy("rid0", "rid1", "cls").agg(
        F.count("d").alias("count"),
        F.sum("d").alias("sum"),
        F.min("d").alias("min"),
        F.max("d").alias("max"),
        F.avg("d").alias("mean"),
        F.var_samp("d").alias("variance"),
        F.stddev_samp("d").alias("stddev"),
    )


def global_stats(raster: DataFrame, *, value: str = "value") -> DataFrame:
    """A16a: global raster stats over valid cells —
    POPULATION variance per the reference's Welford (s/count,
    src/raster.cpp:58-90)."""
    v = F.col(value)
    return raster.filter(v.isNotNull()).agg(
        F.count(v).alias("count"),
        F.sum(v).alias("sum"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
        F.avg(v).alias("mean"),
        F.var_pop(v).alias("variance"),
        F.stddev_pop(v).alias("stddev"),
    )


def normalize(
    raster: DataFrame,
    *,
    total_cells: int,
    value: str = "value",
    parity: bool = True,
) -> DataFrame:
    """A16b: z-score normalize. parity=True reproduces the reference's
    two quirks (src/raster.cpp:92-113): mean = sum/TOTAL cells (nodata
    included in the denominator) and sigma = sqrt(sum((v-mean)^2))
    with no /n. parity=False is the textbook z-score over valid cells.

    The input is materialized once (localCheckpoint): the stats need
    two sequential driver round-trips (sigma depends on mu) plus the
    final projection — without pinning, a derived raster pipeline would
    be recomputed three times."""
    raster = raster.localCheckpoint(eager=True)
    v = F.col(value)
    if parity:
        stats = raster.agg(
            (F.sum(v) / F.lit(float(total_cells))).alias("mu"),
        )
        mu = stats.collect()[0].mu
        s = raster.filter(v.isNotNull()).agg(
            F.sqrt(F.sum((v - F.lit(mu)) * (v - F.lit(mu)))).alias("sd")
        ).collect()[0].sd
    else:
        r = raster.filter(v.isNotNull()).agg(
            F.avg(v).alias("mu"), F.stddev_pop(v).alias("sd")
        ).collect()[0]
        mu, s = r.mu, r.sd
    return raster.select(
        "cell_col",
        "cell_row",
        F.when(v.isNotNull(), (v - F.lit(mu)) / F.lit(s)).alias("value"),
    )


def spectral_pivot(
    bands: DataFrame,
    band_ids: list,
    *,
    value: str = "value",
) -> DataFrame:
    """J5 (spectral): one row per cell with one column per band, emitted
    only when ALL bands are present (src/spectral.cpp:136-175)."""
    p = (
        bands.groupBy("cell_col", "cell_row")
        .pivot("band", band_ids)
        .agg(F.first(value))
    )
    cond = None
    for b in band_ids:
        c = F.col(str(b)).isNotNull()
        cond = c if cond is None else (cond & c)
    return p.filter(cond)


# ---------------------------------------------------------------------------
# Tiled applyInPandas path with halo duplication — the scale pattern for
# large kernels / per-tile iterative math.
# ---------------------------------------------------------------------------


class HaloTiles:
    """The tile rule of every halo-tiled kernel. ``halo`` is how far (in
    cells) the kernel reads past a tile's core; the tile edge is
    ``tile``, grown to ``2 * halo`` when ``halo >= tile`` so a cell is
    never shipped past its neighbouring tiles."""

    def __init__(self, tile: int, halo: int):
        self.halo = int(halo)
        self.tile = int(tile) if self.halo < int(tile) else 2 * self.halo
        self.width = self.tile + 2 * self.halo

    def ship(
        self, raster: DataFrame, *, value: str = "value", extra: tuple[str, ...] = ()
    ) -> DataFrame:
        """Assign each cell to its home tile plus every neighbor tile
        whose core lies within ``halo`` cells — the halo-duplication
        exchange. Output adds (tile_col, tile_row); core cells are the
        ones whose home tile equals the shipped tile. ``extra`` columns
        pass through (e.g. seed ids for region growing)."""
        tile, halo = self.tile, self.halo
        # A cell can influence up to 1 tile over in each direction when it
        # sits within `halo` of that tile's border.
        ex = raster.select(
            "cell_col",
            "cell_row",
            F.col(value).alias("value"),
            *[F.col(c) for c in extra],
            F.explode(window_offsets(1)).alias("off"),
        )
        home_tc = F.floor(F.col("cell_col") / tile)
        home_tr = F.floor(F.col("cell_row") / tile)
        tc = home_tc + F.col("off.dx")
        tr = home_tr + F.col("off.dy")
        # ship to neighbor tile iff the cell is within halo of that tile's span
        lo_c, hi_c = tc * tile - halo, (tc + 1) * tile + halo - 1
        lo_r, hi_r = tr * tile - halo, (tr + 1) * tile + halo - 1
        keep = (
            (F.col("cell_col") >= lo_c)
            & (F.col("cell_col") <= hi_c)
            & (F.col("cell_row") >= lo_r)
            & (F.col("cell_row") <= hi_r)
        )
        return ex.filter(keep).select(
            tc.alias("tile_col"), tr.alias("tile_row"), "cell_col", "cell_row", "value",
            *extra,
        )

    def grid(self, key, pdf: pd.DataFrame, values, fill):
        """Dense (width, width) grid of tile ``key``: ``values`` (one
        per row of the shipped ``pdf``, or one scalar for all) at each
        row's cell, ``fill`` elsewhere. Returns (grid, x0, y0) with
        grid[r, c] the cell (x0 + c, y0 + r)."""
        x0 = int(key[0]) * self.tile - self.halo
        y0 = int(key[1]) * self.tile - self.halo
        w = self.width
        v = np.asarray(values)
        grid = np.full((w, w), fill, dtype=v.dtype)
        cc = pdf["cell_col"].to_numpy() - x0
        rr = pdf["cell_row"].to_numpy() - y0
        inb = (cc >= 0) & (cc < w) & (rr >= 0) & (rr < w)
        grid[rr[inb], cc[inb]] = v[inb] if v.ndim else v
        return grid, x0, y0

    def core_mask(self) -> np.ndarray:
        """(width, width) mask of the tile's own cells (halo excluded)."""
        core = np.zeros((self.width, self.width), dtype=bool)
        core[self.halo : self.halo + self.tile, self.halo : self.halo + self.tile] = True
        return core


def gaussian_smooth_tiled(
    raster: DataFrame,
    *,
    sigma: float,
    size: int = 3,
    cols: int,
    rows: int,
    tile: int = 256,
    value: str = "value",
    parity: bool = True,
) -> DataFrame:
    """W1 scale path: same semantics as :func:`gaussian_smooth`, but one
    shuffle on tile key + a vectorized NumPy convolution per tile
    (applyInPandas). Verified equal to the explode path in tests."""
    if size % 2 == 0:
        size += 1
    half = size // 2
    s2 = 2.0 * float(sigma) * float(sigma)
    offs = np.arange(-half, half + 1, dtype=np.float64)
    wx = np.exp(-(offs[None, :] ** 2 + offs[:, None] ** 2) / s2) / (math.pi * s2)
    hi_adj = 2 if parity else 1

    tiles = HaloTiles(tile, half)
    t = tiles.tile
    shipped = tiles.ship(raster.select("cell_col", "cell_row", F.col(value).alias("value")))

    def _conv(key, pdf):
        grid, x0, y0 = tiles.grid(key, pdf, pdf["value"].to_numpy(dtype=np.float64), np.nan)
        # vectorized stacked-shift convolution over the core block; a
        # NaN anywhere in a window propagates to NaN, which is exactly
        # the "skip incomplete windows" rule
        acc = np.zeros((t, t))
        for dy in range(-half, half + 1):
            for dx in range(-half, half + 1):
                acc += wx[dy + half, dx + half] * grid[
                    half + dy : half + dy + t, half + dx : half + dx + t
                ]
        col_abs = np.arange(x0 + half, x0 + half + t)
        row_abs = np.arange(y0 + half, y0 + half + t)
        ok_c = (col_abs >= half) & (col_abs <= cols - half - hi_adj)
        ok_r = (row_abs >= half) & (row_abs <= rows - half - hi_adj)
        mask = ok_r[:, None] & ok_c[None, :] & ~np.isnan(acc)
        ri, ci = np.nonzero(mask)
        return pd.DataFrame(
            {
                "cell_col": col_abs[ci],
                "cell_row": row_abs[ri],
                "smoothed": acc[ri, ci],
            }
        )

    return shipped.groupBy("tile_col", "tile_row").applyInPandas(
        _conv, "cell_col long, cell_row long, smoothed double"
    )


def _fill_nodata(
    raster: DataFrame, fill_cell, *, cols: int, rows: int, tile: int, halo: int, value: str
) -> DataFrame:
    """The nodata-fill loop of the tiled fillers: every in-bounds core
    cell keeps its value, or takes ``fill_cell(grid, gx, gy, x0, y0)``
    (NaN = unfillable) when it is nodata. (gx, gy) index the tile's
    dense grid, whose cell (0, 0) is (x0, y0). A NaN returned through
    Arrow arrives as NULL."""
    tiles = HaloTiles(tile, halo)
    t = tiles.tile
    shipped = tiles.ship(raster.select("cell_col", "cell_row", F.col(value).alias("value")))

    def _fill(key, pdf):
        grid, x0, y0 = tiles.grid(key, pdf, pdf["value"].to_numpy(dtype=np.float64), np.nan)
        out_c, out_r, out_v = [], [], []
        for gy in range(halo, halo + t):
            if not 0 <= y0 + gy < rows:
                continue
            for gx in range(halo, halo + t):
                if not 0 <= x0 + gx < cols:
                    continue
                v = grid[gy, gx]
                out_c.append(x0 + gx)
                out_r.append(y0 + gy)
                out_v.append(fill_cell(grid, gx, gy, x0, y0) if np.isnan(v) else v)
        df = pd.DataFrame({"cell_col": out_c, "cell_row": out_r, "value": out_v})
        df["value"] = df["value"].astype(float)
        return df

    return shipped.groupBy("tile_col", "tile_row").applyInPandas(
        _fill, "cell_col long, cell_row long, value double"
    )


def ring_fill_mean(
    raster: DataFrame,
    *,
    cols: int,
    rows: int,
    tile: int = 256,
    max_size: int = 16,
    value: str = "value",
) -> DataFrame:
    """W6: expanding-square ring-mean nodata fill (treetops
    interpNodata, src/treetops.cpp:94-119). For each nodata cell grow a
    square ring; the fill is the mean of valid ring cells at the first
    size with any. The reference CLAMPS ring indices to the grid edge,
    double-counting border cells — reproduced. Tiled numpy with halo =
    max_size (the reference searches to size 1000; callers bound it)."""

    def _ring(grid, gx, gy, x0, y0):
        # reference ring loops in GLOBAL grid coords with clamping;
        # replicate using absolute coords mapped into the (haloed) grid
        col_abs, row_abs = x0 + gx, y0 + gy
        w = grid.shape[0]
        for size in range(1, max_size + 1):
            tsum, n = 0.0, 0
            for c_abs in range(max(0, col_abs - size), min(cols, col_abs + size + 1)):
                for r_abs in (max(0, row_abs - size), min(rows - 1, row_abs + size)):
                    vv = grid[r_abs - y0, c_abs - x0] if (
                        0 <= c_abs - x0 < w and 0 <= r_abs - y0 < w
                    ) else np.nan
                    if not np.isnan(vv):
                        tsum += vv
                        n += 1
            for r_abs in range(max(1, row_abs - size), min(rows, row_abs + size + 1)):
                for c_abs in (max(0, col_abs - size), min(cols - 1, col_abs + size)):
                    vv = grid[r_abs - y0, c_abs - x0] if (
                        0 <= c_abs - x0 < w and 0 <= r_abs - y0 < w
                    ) else np.nan
                    if not np.isnan(vv):
                        tsum += vv
                        n += 1
            if n > 0:
                return tsum / n
        return np.nan

    return _fill_nodata(
        raster, _ring, cols=cols, rows=rows, tile=tile, halo=int(max_size) + 1, value=value
    )


def void_fill_idw(
    raster: DataFrame,
    *,
    radius: float,
    count: int,
    exp: float,
    cols: int,
    rows: int,
    tile: int = 256,
    max_radius: float | None = None,
    value: str = "value",
) -> DataFrame:
    """W5: expanding-radius IDW void fill (src/raster.cpp:161-221).

    Per the reference: for each nodata cell, grow the search radius by
    1.0 from ``radius`` until >= count valid neighbors fall within
    rad^2 of SQUARED cell distance; weight = 1/d0^exp where d0 is the
    SQUARED distance; fill = sum(w*v)/sum(w). Cells never satisfied
    stay nodata (reference warns).

    Scale path: tiled NumPy with halo = max_radius (bounded, else the
    op degenerates to all-pairs). Dense rasters only.
    """
    maxr = float(max_radius if max_radius is not None else radius * 4)

    def _idw(grid, gx, gy, x0, y0):
        w = grid.shape[0]
        rad = float(radius)
        while rad <= maxr:
            d = rad * rad
            r0 = slice(max(0, gy - int(rad)), min(w, gy + int(rad) + 1))
            c0 = slice(max(0, gx - int(rad)), min(w, gx + int(rad) + 1))
            sub = grid[r0, c0]
            ry, rx = np.mgrid[r0, c0]
            d0 = (ry - gy) ** 2.0 + (rx - gx) ** 2.0
            m = (d0 <= d) & ~np.isnan(sub) & (d0 > 0)
            if int(m.sum()) >= count:
                dp = 1.0 / np.power(d0[m], exp)
                return float((dp * sub[m]).sum() / dp.sum())
            rad += 1.0
        return np.nan

    return _fill_nodata(
        raster, _idw, cols=cols, rows=rows, tile=tile,
        halo=int(math.ceil(maxr)) + 1, value=value,
    )
