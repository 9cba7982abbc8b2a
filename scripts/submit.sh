#!/usr/bin/env bash
# Package the engine and launch the N-vs-4N scaling run
# (scripts/scaling.py) via spark-submit --py-files (north rule).
#
# Usage:
#   scripts/submit.sh [extra spark-submit args...]
#
# The launch master is $SPARK_MASTER (e.g. spark://host:7077 or yarn),
# else local[$SPARK_GRAFT_CPUS], else local[<usable CPUs>]; the timed
# runs themselves start their own local-cluster sessions.
set -euo pipefail
cd "$(dirname "$0")/.."

ZIP=/tmp/geotools_spark.zip
rm -f "$ZIP"
python -c "
import shutil, zipfile, os
with zipfile.ZipFile('$ZIP', 'w', zipfile.ZIP_DEFLATED) as z:
    for root, _, files in os.walk('geotools_spark'):
        if '__pycache__' in root: continue
        for f in files:
            p = os.path.join(root, f)
            z.write(p, p)
print('packaged', '$ZIP')
"

CPUS="${SPARK_GRAFT_CPUS:-$(python -c 'import os; print(len(os.sched_getaffinity(0)))')}"
MASTER="${SPARK_MASTER:-local[$CPUS]}"
exec spark-submit --master "$MASTER" --py-files "$ZIP" "$@" scripts/scaling.py
