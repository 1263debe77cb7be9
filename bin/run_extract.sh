#!/usr/bin/env bash
# Launch the extraction job via spark-submit (the production surface).
#
#   bin/run_extract.sh <master> <input> <out> [extra ExtractMain args...]
#
# Examples (the north rule's two-cluster-size comparison is just two
# invocations with different --master/executor topology):
#   bin/run_extract.sh 'local[8]'  synth:100000 /tmp/extract_n  --run-id n
#   bin/run_extract.sh 'local[32]' synth:100000 /tmp/extract_4n --run-id 4n
# On a real cluster:
#   bin/run_extract.sh yarn s3://corpus/pages /data/extracted \
#     --buckets 4096 --partitions 8192 --resume
set -euo pipefail
cd "$(dirname "$0")/.."
MASTER=$1; INPUT=$2; OUT=$3; shift 3

JAR=target/scala-2.13/pdf_extractorspark_2.13-0.1.0.jar
[ -f "$JAR" ] || sbt -batch package

# A local master runs every task in the driver: give it build.sbt's heap
# (SPARK_DRIVER_MEM, else half of physical memory clamped to 2-8 GiB), not
# spark-submit's 1 GiB, under which parquet shrinks its row groups.
SUBMIT=(--master "$MASTER")
if [[ $MASTER == local* ]]; then
  SUBMIT+=(--driver-memory "${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
    END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}")
fi

exec /opt/spark/bin/spark-submit \
  "${SUBMIT[@]}" \
  --class graft.spark.ExtractMain \
  "$JAR" \
  --input "$INPUT" --out "$OUT" "$@"
