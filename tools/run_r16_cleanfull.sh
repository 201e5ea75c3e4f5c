#!/bin/bash
# Round-16: FULL-corpus string-granularity oracle coverage for
# dedup_substr_clean at 100x, as 20 DuckDB-feasible chunks — closing
# the last non-pass in CORRECTNESS_UP2 (round-15 verdict #2). The
# dedup.cleanchunk knob restricts the excision RE-JOIN to doc bucket b
# (span derivation stays corpus-wide); the 20 buckets PARTITION the
# doc_ids (spec-pinned in SubstrDedupSpec), and the re-join is per-doc
# independent, so bucket-by-bucket hash equality IS full-corpus
# equality of the string form — while each chunk's ordered string_agg
# stays ~1/20 of the token rows that made the one-piece oracle die
# even at a 100 GB cap.
#
# Two phases: (A) ONE Spark JVM dumps all 20 bucket restrictions via
# graft.VerifyCleanChunks — the corpus-wide span derivation is paid
# once and CacheLife serves the other 19 (the original
# one-JVM-per-bucket spelling re-derived it 20x); (B) one fresh DuckDB
# process per bucket (the string_agg is the memory hog — fresh
# processes keep each chunk's allocation honest). Restartable: phase A
# re-dumps only buckets with no rec file; phase B skips checked ones.
# Runs from the repository root after run_passes.sh's bench stage (phase
# A is correctness-only but CPU-heavy — never beside a timing run).
cd "$(dirname "$0")/.." || exit 1
LOG=/tmp/r16_cleanfull.log
exec >>"$LOG" 2>&1
echo "==== run_r16_cleanfull $(date -u +%FT%TZ) ===="
set -o pipefail

# GRAFT_JAVA, when set, names a launcher taking `<main> <args...>`;
# otherwise phase A runs through sbt as run_passes.sh's stages do.
launch() {
  if [ -n "$GRAFT_JAVA" ]; then "$GRAFT_JAVA" "$@"
  else sbt -batch "runMain $*"; fi
}

# phase A: buckets still needing a Spark dump
missing=""
for b in $(seq 0 19); do
  if [ ! -f /tmp/rec_r16_cleanb$b.json ] && \
     [ ! -f /tmp/verify_r16_clean/b$b/oracle_sql.json ]; then
    missing="$missing,$b"
  fi
done
missing=${missing#,}
if [ -n "$missing" ]; then
  echo; echo "---- phase A: dump buckets [$missing] $(date -u +%T) ----"
  launch graft.VerifyCleanChunks testdata_up/sf10 \
    /tmp/verify_r16_clean "$missing" 2>&1 | grep -E "\[cleanchunks\]|Exception" || exit 1
fi

# phase B: one fresh DuckDB gate per bucket
for b in $(seq 0 19); do
  if [ -f /tmp/rec_r16_cleanb$b.json ]; then continue; fi
  echo; echo "---- phase B: oracle bucket $b $(date -u +%T) ----"
  python3 tools/check_oracle_chunked.py /tmp/verify_r16_clean/b$b \
    testdata_up/sf10 /tmp/rec_r16_cleanb$b.json 1 64GB 100GB | tail -3
done

echo; echo "---- cleanfull DONE $(date -u +%T) ----"
ls /tmp/rec_r16_cleanb*.json 2>/dev/null | wc -l
