#!/usr/bin/env bash
# spark-submit --py-files launch path (the north rule's deployment shape).
#
# On a real cluster, swap --master for yarn/k8s and the same invocation holds:
# the package ships as a zip via --py-files, the job script is bench.py (or
# any pipeline entry), and no driver-site imports are assumed on executors.
# In this sandbox it runs local[N] — the point is proving the artifact +
# launch path, identical to multi-executor deployment.
#
# Usage: tools/submit_bench.sh [master] [job.py ...]
#   tools/submit_bench.sh                      # bench.py on local[nproc]
#   tools/submit_bench.sh local[8] bench.py    # explicit
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
MASTER="${1:-local[${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}]}"
shift || true
JOB=("${@:-$REPO/bench.py}")
# the session's default heap: half of MemTotal, capped at 48g
DRIVER_MEM="${SPARK_GRAFT_DRIVER_MEM:-$(cd "$REPO" && python3 -c \
  'from gis_shapefile_spark.session import default_driver_memory, mem_total_mb; print(default_driver_memory(mem_total_mb()))')}"

ZIP="$(mktemp -d)/gis_shapefile_spark.zip"
(cd "$REPO" && zip -qr "$ZIP" gis_shapefile_spark -i '*.py')

exec spark-submit \
  --master "$MASTER" \
  --py-files "$ZIP" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  --conf spark.driver.memory="$DRIVER_MEM" \
  "${JOB[@]}"
