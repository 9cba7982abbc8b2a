"""Guarded driver-side sample collection, and driver-built tables.

planar/kriging/natural-neighbour collect their SAMPLE side by contract
(the reference interpolates one tile's samples at a time — e.g.
src/interp/Interpolators.cpp:140-206 builds a sample-sized dense
system), but a mis-use at 100 TB would silently OOM the driver.  The
guard caps the collect with a ``limit(max+1)`` probe — one job, bounded
driver memory, and a clear error instead of an executor-to-driver
flood.

The reverse direction, a small table the driver builds from Python
rows (candidate cells, shift tables, lineage records), goes through
:func:`local_frame`: one Arrow table, no Python worker.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import DataType, DoubleType, StructField, StructType

#: default cap on driver-collected sample rows (~48 MB of float64 xyz)
MAX_SAMPLE_ROWS = int(os.environ.get("GEOTOOLS_SPARK_MAX_SAMPLE_ROWS", "2000000"))


def collect_capped(
    df: DataFrame, cols, *, max_rows: int | None = None, what: str = "side"
) -> list:
    """Collect ``df[cols]`` to the driver, raising if it exceeds the
    cap BEFORE materializing it all (``limit(cap+1)`` probe — bounded
    driver memory, one job)."""
    cap = MAX_SAMPLE_ROWS if max_rows is None else int(max_rows)
    rows = df.select(*cols).limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"{what} exceeds the driver-collect cap ({cap} rows): this "
            "operator materializes it on the driver by contract; reduce "
            "the side or raise GEOTOOLS_SPARK_MAX_SAMPLE_ROWS explicitly"
        )
    return rows


def local_frame(spark, rows, ddl: str) -> DataFrame:
    """A DataFrame of the driver-side ``rows`` (tuples in the order of
    the ``ddl`` schema), shipped as one ``pyarrow.Table`` typed from the
    schema. The plan scans a ``LocalTableScan``: ``createDataFrame`` on
    a Python list would instead parallelize pickled rows (``Scan
    ExistingRDD``) and run Python worker tasks over them every time the
    table is read."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = DataType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def collect_sample_xyz(
    samples: DataFrame, cols: tuple[str, str, str], *, max_rows: int | None = None
) -> np.ndarray:
    """Collect (x, y, z) sample rows to the driver through
    :func:`collect_capped`."""
    rows = collect_capped(samples, cols, max_rows=max_rows, what="sample side")
    return np.array([[r[0], r[1], r[2]] for r in rows], dtype=np.float64).reshape(-1, 3)


def map_with_samples(
    queries: DataFrame, samples: DataFrame, cols, out_col: str, evaluate, *, prepare=None
) -> DataFrame:
    """Collect the (x, y, z) ``samples`` with :func:`collect_sample_xyz`,
    broadcast ``prepare(xyz)`` (the xyz array itself when ``prepare``
    is None) and add the double column ``out_col`` =
    ``evaluate(state, batch)`` to each Arrow batch of ``queries``."""
    xyz = collect_sample_xyz(samples, cols)
    bc = queries.sparkSession.sparkContext.broadcast(
        xyz if prepare is None else prepare(xyz)
    )
    schema = StructType([*queries.schema.fields, StructField(out_col, DoubleType())])

    def _map(batches):
        state = bc.value
        for pdf in batches:
            out = pdf.copy()
            out[out_col] = evaluate(state, pdf)
            yield out

    return queries.mapInPandas(_map, schema)
