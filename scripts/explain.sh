#!/bin/bash
# Capture .explain("formatted") plans under the session graft.Bench
# times them with (GraftSession, input-derived shuffle partitions):
#   scripts/explain.sh <plans dir> <suffix> <query>...
# writes <plans dir>/<query>_<suffix>.txt for each query (one ExplainOne
# session for all of them — sbt startup paid once). SPARK_GRAFT_SF_DIR
# and SPARK_GRAFT_CPUS select the input and parallelism, as for Bench.
set -e
dir=$1; suffix=$2; shift 2
mkdir -p "$dir"
out=$(mktemp)
sbt -batch "runMain graft.ExplainOne $*" > "$out" 2>/dev/null
for q in "$@"; do
  awk -v q="==== $q" 'index($0, q) == 1 {f=1; next} /^==== / {f=0} f' "$out" \
    > "$dir/${q}_${suffix}.txt"
  echo "$dir/${q}_${suffix}.txt: $(wc -l < "$dir/${q}_${suffix}.txt") lines"
done
rm -f "$out"
