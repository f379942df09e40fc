#!/usr/bin/env bash
# Package the engine and run the replay job via spark-submit --py-files —
# the north rule's deployment shape. Topology and sizing are set here, on
# the spark-submit line: under spark-submit, the job's get_spark applies
# only the engine confs. MASTER defaults to local[N] with N =
# SPARK_GRAFT_CPUS or the CPU count; on a cluster pass MASTER=yarn /
# spark://host:7077. The driver heap is $SPARK_DRIVER_MEM, else the
# engine's default (session._driver_mem: half of RAM, at most 48g).
set -euo pipefail
cd "$(dirname "$0")/.."

CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
MASTER="${MASTER:-local[$CPUS]}"
DRIVER_MEM="$(python -c 'from omicidx_etl_spark.session import _driver_mem; print(_driver_mem())')"
ZIP=/tmp/omicidx_etl_spark.zip

rm -f "$ZIP"
(cd . && python -c "
import zipfile, os
with zipfile.ZipFile('$ZIP', 'w') as z:
    for root, _, files in os.walk('omicidx_etl_spark'):
        for f in files:
            if f.endswith('.py'):
                p = os.path.join(root, f)
                z.write(p, p)
")

exec spark-submit --master "$MASTER" --py-files "$ZIP" \
    --conf spark.driver.memory="$DRIVER_MEM" \
    --conf spark.sql.shuffle.partitions="$CPUS" \
    jobs/replay_job.py "$@"
