#!/usr/bin/env bash
# Two-PROCESS race audits for the store-txn protocol, forked as real JVMs
# against one store root — the cross-JVM companions of TxStoreSpec's
# in-process races:
#
#   1. COMMIT race: two JVMs stage the SAME transaction id under
#      writer-unique nonces and race the atomic commit claim; exactly one
#      must win (hard-link / O_EXCL arbitration across page caches), the
#      reader must end clean, and vacuum must reclaim exactly the loser's
#      orphan.
#   2. CHECKPOINT race: two JVMs run StoreTxn.checkpoint concurrently;
#      the maintenance lease must arbitrate — one performs the fold, the
#      other refuses LOUDLY (never a shared staging_ckpt/ interleave) and
#      its retry after the winner completes succeeds as a clean redo, with
#      the committed read byte-stable throughout.
#
# Usage: tools/commit_race.sh   (from the repo root; needs target/
#        compiled — run `sbt compile` first)
# Env:   GRAFT_SF_DIR   testdata dir      (default /root/testdata/sf0.001)
#        SPARK_JARS_DIR spark jars dir    (default /opt/spark/jars)
#
# Each run keeps its store root, derby home and logs under one fresh
# `mktemp -d` dir (the forked JVMs' java.io.tmpdir), so two checkouts
# can run the script at once. The dir is removed on success and its
# path printed on failure.
set -euo pipefail
cd "$(dirname "$0")/.."
SPARK_JARS_DIR="${SPARK_JARS_DIR:-/opt/spark/jars}"
CP="target/scala-2.13/classes:$SPARK_JARS_DIR/*"
RUN="$(mktemp -d -t commit_race.XXXXXX)"
trap 'if [ $? -eq 0 ]; then rm -rf "$RUN"; else
  echo "commit_race: store, logs and derby home kept in $RUN"; fi' EXIT
JAVA_OPTS="--add-exports=java.base/sun.nio.ch=ALL-UNNAMED -Djava.io.tmpdir=$RUN -Dderby.system.home=$RUN/derby"

echo "== prep (reset + pristine bases) =="
java $JAVA_OPTS -cp "$CP" graft.tools.CommitRace prep

echo "== race: two JVMs, one txn id =="
java $JAVA_OPTS -cp "$CP" graft.tools.CommitRace race A > $RUN/race_A.log 2>&1 &
PA=$!
java $JAVA_OPTS -cp "$CP" graft.tools.CommitRace race B > $RUN/race_B.log 2>&1 &
PB=$!
wait $PA $PB
grep -h RACE_RESULT $RUN/race_A.log $RUN/race_B.log

WINNERS=$(grep -h "outcome=winner" $RUN/race_A.log $RUN/race_B.log | wc -l)
LOSERS=$(grep -h "outcome=loser" $RUN/race_A.log $RUN/race_B.log | wc -l)
if [ "$WINNERS" != "1" ] || [ "$LOSERS" != "1" ]; then
  echo "FAIL: expected exactly one winner and one loser (winners=$WINNERS losers=$LOSERS)"
  exit 1
fi

echo "== check (one commit, clean reader, orphan vacuumed) =="
java $JAVA_OPTS -cp "$CP" graft.tools.CommitRace check

echo "== ckptprep (reset + two committed transactions) =="
java $JAVA_OPTS -cp "$CP" graft.tools.CommitRace ckptprep

echo "== checkpoint race: two JVMs, one maintenance lease =="
java $JAVA_OPTS -cp "$CP" graft.tools.CommitRace ckpt A > $RUN/ckpt_A.log 2>&1 &
PA=$!
java $JAVA_OPTS -cp "$CP" graft.tools.CommitRace ckpt B > $RUN/ckpt_B.log 2>&1 &
PB=$!
wait $PA $PB
grep -h -e CKPT_RESULT -e CKPT_RETRY $RUN/ckpt_A.log $RUN/ckpt_B.log

CWINNERS=$(grep -h "outcome=winner" $RUN/ckpt_A.log $RUN/ckpt_B.log | wc -l)
CREFUSED=$(grep -h "outcome=refused" $RUN/ckpt_A.log $RUN/ckpt_B.log | wc -l)
CRETRIED=$(grep -h "CKPT_RETRY" $RUN/ckpt_A.log $RUN/ckpt_B.log | grep -c ok || true)
if [ "$CWINNERS" != "1" ] || [ "$CREFUSED" != "1" ] || [ "$CRETRIED" != "1" ]; then
  echo "FAIL: expected one winner, one loud refusal, one successful retry" \
       "(winners=$CWINNERS refused=$CREFUSED retried=$CRETRIED)"
  exit 1
fi

echo "== ckptcheck (fold landed once, no residue, read byte-stable) =="
java $JAVA_OPTS -cp "$CP" graft.tools.CommitRace ckptcheck
echo "COMMIT_RACE pass"
