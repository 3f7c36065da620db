#!/usr/bin/env bash
# Compare two directories of formatted query plans (the q_*.txt files
# graft.Profile dumps under SPARK_GRAFT_EXPLAIN_DIR), file by file, after
# masking what moves between runs and trees: source line numbers
# (.scala:NNN), plan_id, expression ids (#NNN), RDD ids (RDD[NNN]) and the
# file locations inside the persisted IVF-PQ index that q_sim_ann_ivfpq_idx
# builds in a fresh temporary directory per run (/tmp/graft-ivfpq-idx*).
# Every other location is compared. Prints one "DIFF <file>" line per plan
# that differs or exists on one side only, and exits 1 if there is any.
#
# Usage: scripts/plandiff.sh <dirA> <dirB>
set -u
if [ $# -ne 2 ] || [ ! -d "$1" ] || [ ! -d "$2" ]; then
  echo "usage: $0 <dirA> <dirB>" >&2
  exit 2
fi
norm() {
  sed -E 's/\.scala:[0-9]+/.scala:L/g; s/plan_id=[0-9]+/plan_id=N/g; s/#[0-9]+/#N/g; s/RDD\[[0-9]+\]/RDD[N]/g; s#file:/tmp/graft-ivfpq-idx[^],]*#file:/tmp/graft-ivfpq-idx-T#g' "$1"
}
status=0
for f in $( (cd "$1" && ls q_*.txt; cd - >/dev/null && cd "$2" && ls q_*.txt) 2>/dev/null | sort -u); do
  if [ ! -f "$1/$f" ] || [ ! -f "$2/$f" ]; then
    echo "DIFF $f"; status=1
  elif ! cmp -s <(norm "$1/$f") <(norm "$2/$f"); then
    echo "DIFF $f"; status=1
  fi
done
exit $status
