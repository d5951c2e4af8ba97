#!/usr/bin/env bash
# A/B bench: compare the working tree's compiled binary against REF on an
# isolated query list IN THE SAME WINDOW — the adjudication device behind
# TUNE_r19's regression table, as one command. Round-over-round grids run
# in different host windows, so a raw diff confounds code with window;
# this harness checks the REF binary out in a worktree, compiles it, and
# interleaves ref/cur bench runs back-to-back so both binaries see the
# same window. Window drift then shows up as disagreement between a
# binary's own runs, not as a phantom code regression.
#
# Usage: tools/ab_bench.sh <ref> <q1,q2,...> [sfdir] [repeats] [pairs]
#   ref       any git ref (the r18 closeout commit, a tag, HEAD~5, ...)
#   queries   comma-separated SparkEntry query names (isolated set)
#   sfdir     testdata dir          (default /root/testdata/sf0.1)
#   repeats   per-run Bench repeats (default 3, interleaved inside Bench)
#   pairs     alternating ref/cur run pairs (default 2)
# Env: SPARK_JARS_DIR (default /opt/spark/jars), SPARK_GRAFT_CPUS (default 8),
#   AB_DIR (default /tmp): holds the ref checkout (graft_ab_<sha>, a
#   `git archive` export) and the run artifacts and per-side tmpdirs
#   (graft_ab_out_<sha>).
set -euo pipefail
cd "$(dirname "$0")/.."
REF="${1:?usage: ab_bench.sh <ref> <q1,q2,...> [sfdir] [repeats] [pairs]}"
QUERIES="${2:?query list required (comma-separated SparkEntry names)}"
SFDIR="${3:-/root/testdata/sf0.1}"
REPEATS="${4:-3}"
PAIRS="${5:-2}"
SPARK_JARS_DIR="${SPARK_JARS_DIR:-/opt/spark/jars}"
CPUS="${SPARK_GRAFT_CPUS:-8}"

SHORT=$(git rev-parse --short "$REF")
AB_DIR="${AB_DIR:-/tmp}"
WT="$AB_DIR/graft_ab_$SHORT"
OUT="$AB_DIR/graft_ab_out_$SHORT"
if [ ! -d "$WT" ]; then
  echo "== export of $REF at $WT =="
  mkdir -p "$WT"
  git archive "$REF" | tar -x -C "$WT"
fi
rm -rf "$OUT"
mkdir -p "$OUT/tmp_ref" "$OUT/tmp_cur"
echo "== compiling current tree =="
sbt -batch compile > /dev/null
echo "== compiling $REF =="
(cd "$WT" && sbt -batch compile > /dev/null)

# mirror build.sbt's jdk17AddOpens: without java.base/java.nio etc. the
# Kryo-broadcasting ANN queries (q49/q130/q137) fail on a bare JVM
JAVA_OPTS="-Dderby.system.home=$OUT/derby"
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net          java.nio java.util java.util.concurrent java.util.concurrent.atomic          sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  JAVA_OPTS="$JAVA_OPTS --add-opens=java.base/$p=ALL-UNNAMED"
done
# each side keeps its own java.io.tmpdir across its runs, so neither binary
# serves (or rebuilds) a store or index the other one wrote
run() { # $1 = classes dir, $2 = artifact path, $3 = tmpdir
  rm -f "$2"
  SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_CPUS="$CPUS" \
  SPARK_GRAFT_BENCH_REPEATS="$REPEATS" SPARK_GRAFT_BENCH_ONLY="$QUERIES" \
  SPARK_GRAFT_BENCH_OUT="$2" \
  java $JAVA_OPTS -Djava.io.tmpdir="$3" -cp "$1:$SPARK_JARS_DIR/*" graft.Bench \
    > /dev/null 2>&1 || true
  if [ ! -f "$2" ]; then
    echo "FAIL: bench run for classes=$1 produced no artifact"
    exit 1
  fi
}

echo "== A/B in one window: $PAIRS x (ref, cur) =="
for i in $(seq 1 "$PAIRS"); do
  run "$WT/target/scala-2.13/classes" "$OUT/ref$i.json" "$OUT/tmp_ref"
  run "target/scala-2.13/classes"     "$OUT/cur$i.json" "$OUT/tmp_cur"
done

python3 tools/ab_table.py \
  $(for i in $(seq 1 "$PAIRS"); do echo "$OUT/ref$i.json"; done) \
  $(for i in $(seq 1 "$PAIRS"); do echo "$OUT/cur$i.json"; done)
