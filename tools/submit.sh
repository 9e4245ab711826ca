#!/usr/bin/env bash
# spark-submit --py-files packaging (north rule: "run via spark-submit
# --py-files"). Zips the library, ships it to executors, and runs the
# validation CLI. All runner flags pass through, e.g.:
#
#   tools/submit.sh --synth 1000000 --strict
#   tools/submit.sh --input /path/transcripts.parquet \
#       --checkpoint /tmp/manifest --violations-out /tmp/violations
#
# Which settings win: the --master and --conf values below (MASTER
# defaults to local[$CORES], CORES to 32; on a real cluster set
# MASTER=yarn / k8s:// and the same zip works unchanged). Because
# spark-submit runs the script, the library's session.get_spark keeps
# the submit's master and every --conf, and fills only the keys left
# unset (AQE, UTC session time, zstd block compression, Arrow, ...).
# The runner's --cores flag therefore has no effect here.
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CORES="${CORES:-32}"
MASTER="${MASTER:-local[$CORES]}"
ZIP="$(mktemp -d)/ocsf_validator_spark.zip"
(cd "$REPO" && zip -qr "$ZIP" ocsf_validator_spark -x '*__pycache__*')
exec "${SPARK_HOME:-/opt/spark}/bin/spark-submit" \
  --master "$MASTER" \
  --conf spark.sql.shuffle.partitions="$CORES" \
  --py-files "$ZIP" \
  "$REPO/tools/submit_entry.py" "$@"
