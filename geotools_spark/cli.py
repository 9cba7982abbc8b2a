"""``python -m geotools_spark <tool> ...`` — the command surface a
reference user expects, one subcommand per geotools program, with the
parameter names of the reference's config structs (pointstats_config
``defaultResolution``/``defaultAngleLimit``/... src/pointstats.cpp:
46-60; the reference itself drives these via Qt UIs and config
structs, not getopt — this CLI exposes the same knobs as flags over
the Spark operators).

I/O model: inputs are parquet point tables with the engine's point
schema (pid, x, y, z, cls, intensity, return_num, num_returns, ...) —
produce one from the interleaved documents table with the ``derive``
subcommand. Outputs are parquet directories (add ``--csv`` for a CSV
directory via the csvio sink).

Every subcommand is a thin argparse wrapper over an operator that is
independently oracled/tested; nothing here adds semantics.
"""

from __future__ import annotations

import argparse
import sys


def _spark(args):
    from geotools_spark.session import get_spark

    return get_spark(
        f"geotools-{args.tool}",
        cores=args.cores,
        shuffle_partitions=args.shuffle_partitions,
    )


def _read_points(spark, args, path=None):
    df = spark.read.parquet(path if path is not None else args.input)
    if args.cls or args.angle_limit is not None:
        from geotools_spark.operators.gridstats import point_filters

        df = point_filters(
            df,
            cls_set=[int(c) for c in args.cls.split(",")] if args.cls else None,
            scan_angle_max=args.angle_limit,
        )
    return df


def _with_cells(df, args):
    from pyspark.sql import functions as F

    from geotools_spark.functions.cells import snap_bounds, with_cell

    if getattr(args, "bounds", ""):
        # explicit grid: skips the extent-probe scan (the scale path —
        # a data-dependent grid always costs one stats pass first)
        minx, miny, maxx, maxy = (
            float(v) for v in args.bounds.split(",")
        )
        minx, miny, maxx, maxy = snap_bounds(
            minx, miny, maxx, maxy, res=args.resolution
        )
    else:
        b = df.agg(
            F.min("x"), F.max("x"), F.min("y"), F.max("y")
        ).first()
        minx, miny, maxx, maxy = snap_bounds(
            b[0], b[2], b[1], b[3], res=args.resolution
        )
    cols = max(1, int(round((maxx - minx) / args.resolution)))
    rows = max(1, int(round((maxy - miny) / args.resolution)))
    out = with_cell(
        df, minx=minx, miny=miny, res=args.resolution, cols=cols, rows=rows,
        yflip=True,
    )
    # points exactly on the snapped max bound floor to cell == cols
    # (and yflip maps them to row -1): clamp onto the last cell, the
    # closed-max convention of the reference's bounds containment
    clamp = {"cell_col": cols - 1, "cell_row": rows - 1}
    return out.select(*[
        F.least(F.greatest(F.col(c), F.lit(0)), F.lit(clamp[c])).alias(c)
        if c in clamp else F.col(c)
        for c in out.columns
    ])


def _write(df, args) -> None:
    if getattr(args, "csv", False):
        from geotools_spark.sources.csvio import write_stats_csv

        write_stats_csv(df, args.output)
    else:
        df.write.mode("overwrite").parquet(args.output)


def _cmd_derive(args) -> None:
    """-> point table parquet. Two sources: ``--from-docs`` treats the
    input as an interleaved documents table and runs the engine's span
    explode + vectorized point decode (the LAS-scan analogue);
    otherwise the input is a driver-testdata directory and points come
    from the deterministic lineitem derivation (testkit.derive)."""
    spark = _spark(args)
    if args.from_docs:
        from geotools_spark.operators.spans import (
            explode_spans,
            parse_point_spans,
        )

        docs = spark.read.parquet(args.input)
        _write(parse_point_spans(explode_spans(docs)), args)
    else:
        from geotools_spark.testkit import derive

        _write(derive.points_df(spark, args.input.rstrip("/")), args)


def _cmd_pointstats(args) -> None:
    spark = _spark(args)
    from geotools_spark.operators.gridstats import cell_stats

    pts = _with_cells(_read_points(spark, args), args)
    _write(
        cell_stats(
            pts,
            value=args.attribute,
            stats=tuple(args.type.split(",")),
            res=args.resolution,
            quantile_num=args.quantiles,
        ),
        args,
    )


def _cmd_lasgrid(args) -> None:
    # lasgrid is pointstats' single-pass sibling; same grid semantics
    _cmd_pointstats(args)


def _cmd_lasmerge(args) -> None:
    spark = _spark(args)
    from geotools_spark.operators.merge import header_stats, merge_points

    # per-input class/angle filters apply BEFORE the merge (the
    # reference filters each source file on read)
    dfs = [_read_points(spark, args, path=p) for p in args.input.split(",")]
    bounds = (
        tuple(float(v) for v in args.bounds.split(",")) if args.bounds else None
    )
    merged = merge_points(dfs, bounds=bounds)
    _write(merged, args)
    if args.header_out:
        header_stats(merged).write.mode("overwrite").parquet(args.header_out)


def _cmd_pointzonalstats(args) -> None:
    spark = _spark(args)
    from pyspark.sql import functions as F

    from geotools_spark.functions.cells import cell_cols
    from geotools_spark.operators.zonal import zonal_stats, zone_lookup

    # zones: long-form (cell_col, cell_row, zone_id) raster table.
    # Point cells use the ZONE RASTER's fixed grid — --origin +
    # --resolution, floor, no y-flip (the engine's zonal convention) —
    # never a data-dependent extent, which would silently shift the
    # join whenever the input (or a --cls filter) changes.
    ox, oy = (float(v) for v in args.origin.split(","))
    ccol, crow = cell_cols(F.col("x"), F.col("y"), minx=ox, miny=oy, res=args.resolution)
    pts = _read_points(spark, args).select(
        "*", ccol.alias("cell_col"), crow.alias("cell_row")
    )
    zones = spark.read.parquet(args.zones)
    _write(zonal_stats(zone_lookup(pts, zones)), args)


def _cmd_pointnormalize(args) -> None:
    spark = _spark(args)
    from geotools_spark.operators.terrain import normalize_heights

    _write(
        normalize_heights(
            _read_points(spark, args),
            res=args.resolution,
            rings=args.rings,
            ground_cls=args.ground_cls,
            drop_negative=args.drop_negative,
        ),
        args,
    )


def _cmd_las2csrs(args) -> None:
    spark = _spark(args)
    from geotools_spark.operators.csrs import las2csrs

    _write(
        las2csrs(
            _read_points(spark, args),
            ffrom=args.ffrom,
            efrom=args.efrom,
            eto=args.eto,
            fsrid=args.fsrid,
            tsrid=args.tsrid,
        ),
        args,
    )


def _cmd_lasclip(args) -> None:
    spark = _spark(args)
    from geotools_spark.operators.pip import pip_join

    pts = _read_points(spark, args)
    polys = spark.read.parquet(args.polygons)
    how = "inner" if args.keep_poly_id else "left_semi"
    _write(pip_join(pts, polys, res=args.bucket_res, how=how), args)


def _cmd_lasboundary(args) -> None:
    spark = _spark(args)
    from geotools_spark.operators.terrain import boundary_edges

    _write(
        boundary_edges(
            _read_points(spark, args),
            res=args.resolution,
            max_edge=args.max_edge,
        ),
        args,
    )


def _cmd_lasvalidate(args) -> None:
    spark = _spark(args)
    from geotools_spark.operators.terrain import validate_stations

    pts = _read_points(spark, args)
    pts = pts.toDF(*["sid" if c == "pid" else c for c in pts.columns])
    stations = spark.read.parquet(args.stations)
    _write(validate_stations(stations, pts, radius=args.radius), args)


_TOOLS = {
    "derive": (_cmd_derive, "documents table -> point table"),
    "pointstats": (_cmd_pointstats, "grid-cell statistics (pointstats)"),
    "lasgrid": (_cmd_lasgrid, "grid-cell statistics (lasgrid semantics)"),
    "lasmerge": (_cmd_lasmerge, "merge point tables (+bounds, header)"),
    "pointzonalstats": (_cmd_pointzonalstats, "zone x class statistics"),
    "lasclip": (_cmd_lasclip, "clip points to polygons (PIP semi-join)"),
    "pointnormalize": (_cmd_pointnormalize, "TIN height normalization"),
    "las2csrs": (_cmd_las2csrs, "datum/epoch transform"),
    "lasboundary": (_cmd_lasboundary, "alpha-shape boundary edges"),
    "lasvalidate": (_cmd_lasvalidate, "station TIN validation"),
}


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="geotools_spark",
        description=__doc__.split("\n")[0],
    )
    sub = p.add_subparsers(dest="tool", required=True)
    for name, (_fn, help_) in _TOOLS.items():
        sp = sub.add_parser(name, help=help_)
        sp.add_argument("input", help="input parquet path")
        sp.add_argument("output", help="output parquet/CSV directory")
        sp.add_argument("--cores", type=int, default=4)
        sp.add_argument("--shuffle-partitions", type=int, default=8)
        sp.add_argument("--csv", action="store_true", help="CSV output")
        if name != "derive":  # derive has no point columns to filter
            sp.add_argument(
                "--cls", default="", help="class filter, comma list"
            )
            sp.add_argument(
                "--angle-limit", type=float, default=None,
                help="abs scan-angle limit (defaultAngleLimit)",
            )
        if name == "derive":
            sp.add_argument(
                "--from-docs", action="store_true",
                help="input is an interleaved documents table: span "
                     "explode + point decode instead of the testdata "
                     "derivation",
            )
        if name in ("pointstats", "lasgrid"):
            sp.add_argument(
                "--resolution", type=float, default=10.0,
                help="cell size (defaultResolution)",
            )
            sp.add_argument(
                "--type", default="mean",
                help="comma list: count,min,max,mean,median,stddev,variance,density,quantiles",
            )
            sp.add_argument("--attribute", default="z")
            sp.add_argument(
                "--quantiles", type=int, default=4,
                help="quantile divisions (defaultQuantiles)",
            )
            sp.add_argument(
                "--bounds", default="",
                help="minx,miny,maxx,maxy grid extent (skips the "
                     "extent-probe scan; the scale path)",
            )
        elif name == "lasmerge":
            sp.add_argument("--bounds", default="", help="minx,miny,maxx,maxy")
            sp.add_argument("--header-out", default="")
        elif name == "pointzonalstats":
            sp.add_argument(
                "--zones", required=True,
                help="zones parquet: (cell_col, cell_row, zone_id)",
            )
            sp.add_argument(
                "--resolution", type=float, default=10.0,
                help="zone raster cell size",
            )
            sp.add_argument(
                "--origin", default="0,0",
                help="zone raster origin minx,miny (grid convention: "
                     "floor((p-origin)/res), no y-flip)",
            )
        elif name == "lasclip":
            sp.add_argument(
                "--polygons", required=True,
                help="polygons parquet: (poly_id, ring array<struct<x,y>>)",
            )
            sp.add_argument("--bucket-res", type=float, default=8.0)
            sp.add_argument(
                "--keep-poly-id", action="store_true",
                help="inner join (point x containing polygon) instead of clip",
            )
        elif name == "pointnormalize":
            sp.add_argument("--resolution", type=float, default=10.0)
            sp.add_argument("--rings", type=int, default=1)
            sp.add_argument("--ground-cls", type=int, default=2)
            sp.add_argument("--drop-negative", action="store_true")
        elif name == "las2csrs":
            sp.add_argument("--ffrom", default="itrf2000")
            sp.add_argument("--efrom", type=float, default=1986.0)
            sp.add_argument("--eto", type=float, default=2011.0)
            sp.add_argument("--fsrid", type=int, default=26912)
            sp.add_argument("--tsrid", type=int, default=2956)
        elif name == "lasboundary":
            sp.add_argument("--resolution", type=float, default=5.0)
            sp.add_argument("--max-edge", type=float, default=10.0)
        elif name == "lasvalidate":
            sp.add_argument("--stations", required=True)
            sp.add_argument("--radius", type=float, default=5.0)
    return p


def main(argv: list[str] | None = None) -> int:
    args = _parser().parse_args(argv)
    _TOOLS[args.tool][0](args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
