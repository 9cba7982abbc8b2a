"""Source-level rules the package keeps (no Spark session needed)."""

from pathlib import Path

import geotools_spark

PACKAGE = Path(geotools_spark.__file__).parent


def test_no_withcolumn_in_package():
    # each operator builds its columns in one projection
    # (select("*", expr.alias(name))), never a withColumn chain
    hits = [
        f"{path.relative_to(PACKAGE.parent)}:{n}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if ".withColumn(" in line
    ]
    assert not hits, hits
