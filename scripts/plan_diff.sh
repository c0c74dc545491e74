#!/bin/bash
# Diff two graft.Explain plan dumps after stripping what differs between
# two runs of the same code: expression ids (`#123`), `plan_id=`, RDD ids
# (`RDD[45]`), `/tmp/graft-*` temp-table paths, lambda variable counters
# (`x_457`), JVM lambda class names (`$$Lambda$6769/0x…@71421a5`) and the
# identity hashes that array arguments print as (`[[D@5a318de1`).
#
# usage: scripts/plan_diff.sh A B
#   A and B are two dump files, or two directories of dump files compared
#   by relative path. Make a dump with, for example,
#     scripts/run_verify.sh graft.Explain SF_DIR graph_pagerank graph_hits \
#       > dumps/a/graph.txt
# Prints the diff of the normalized dumps; exits 0 when they are identical.
set -euo pipefail
[ $# -eq 2 ] || { echo "usage: $0 A B" >&2; exit 2; }

normalize() {
  sed -E \
    -e 's/#[0-9]+/#N/g' \
    -e 's/plan_id=[0-9]+/plan_id=N/g' \
    -e 's/RDD\[[0-9]+\]/RDD[N]/g' \
    -e 's#/tmp/graft-[^],[:space:]]*#/tmp/graft-X#g' \
    -e 's/\b([xyz])_[0-9]+\b/\1_N/g' \
    -e 's#\$\$Lambda\$[0-9]+/0x[0-9a-f]+@[0-9a-f]+#$$Lambda$N#g' \
    -e 's/(\[+[DIJ])@[0-9a-f]+/\1@N/g' \
    "$1"
}

work=$(mktemp -d)
trap 'rm -rf "$work"' EXIT
for side in a b; do
  src=$([ "$side" = a ] && echo "$1" || echo "$2")
  mkdir -p "$work/$side"
  if [ -d "$src" ]; then
    (cd "$src" && find . -type f) | while read -r f; do
      mkdir -p "$work/$side/$(dirname "$f")"
      normalize "$src/$f" > "$work/$side/$f"
    done
  else
    normalize "$src" > "$work/$side/dump"
  fi
done
cd "$work" && diff -r a b
