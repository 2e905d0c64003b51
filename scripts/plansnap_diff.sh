#!/usr/bin/env bash
# Plan identity of the working tree against a git ref: dump the
# normalized pre-execution plan of every registered query (or of the
# named ones) with graft.tools.PlanSnap at sf0.01 on 4 cores, once for
# the ref and once for the working tree, then `diff -r` the dumps.
#
# Usage: scripts/plansnap_diff.sh <git-ref> [query...]
#
# The ref is exported with `git archive` into a temporary directory and
# dumped with the working tree's tools/PlanSnap.scala, so both sides
# normalize alike. The two dumps run one after the other, never
# overlapping: a build of another commit rebuilds the fixtures the two
# share on the sf dir. Prints the differences and exits non-zero if
# there are any.
set -euo pipefail
[ $# -ge 1 ] || { echo "usage: $0 <git-ref> [query...]" >&2; exit 2; }
ref=$1; shift
root=$(git rev-parse --show-toplevel)
# the sf0.01 directory as TESTDATA.md lists it
sf=$(sed -n 's/^| 0\.01 | `\(.*\)\/` |.*/\1/p' "$root/TESTDATA.md")
[ -d "$sf" ] || { echo "no sf0.01 directory '$sf' (TESTDATA.md)" >&2; exit 2; }
tmp=$(mktemp -d)
trap 'rm -rf "$tmp"' EXIT

mkdir -p "$tmp/ref"
git -C "$root" archive "$ref" | tar -x -C "$tmp/ref"
mkdir -p "$tmp/ref/src/main/scala/graft/tools"
cp "$root/src/main/scala/graft/tools/PlanSnap.scala" \
  "$tmp/ref/src/main/scala/graft/tools/PlanSnap.scala"

# snap <checkout> <side>: dump into $tmp/<side>, sbt log in $tmp/<side>.log
snap() {
  echo "dumping $2 plans ..." >&2
  if ! (cd "$1" && SPARK_GRAFT_CPUS=4 sbt -batch -Dsbt.log.noformat=true \
      "runMain graft.tools.PlanSnap $sf $tmp/$2 snap ${*:3}") \
      > "$tmp/$2.log" 2>&1; then
    tail -n 40 "$tmp/$2.log" >&2
    echo "PlanSnap failed on the $2 side ($1)" >&2
    exit 2
  fi
}
snap "$tmp/ref" base "$@"
snap "$root" head "$@"

if diff -r "$tmp/base" "$tmp/head"; then
  echo "plans identical: $ref vs the working tree ($(ls "$tmp/head" | wc -l) queries)"
else
  echo "plans differ: $ref vs the working tree" >&2
  exit 1
fi
