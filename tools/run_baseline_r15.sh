#!/bin/bash
# Round-15 baseline protocol: identical method to r12/r13 (full-plan
# action, canary before every leg, paired back-to-back Spark/DuckDB
# legs per SF, dedicated c_-only sf100 leg, sf100 first; the isolate
# pass is gone with graft.Explain) — re-run IN FULL on r15-final code so BASELINE
# carries single-code-version legs (r14 verdict task 2 cadence). Regenerates
# the oracle dump first so the DuckDB replay always matches HEAD.
set -e
cd /root/repo
OUT=/tmp/baseline_r15
mkdir -p "$OUT"

clean() { rm -rf /tmp/graft_local-* /tmp/graft_db_* 2>/dev/null || true; }

guard() {
  # r15: never start a leg while another graft JVM / replay is live
  # (the r14 protocol contaminated BENCH_r14; Bench also stamps
  # "contended" itself now, but not-starting is strictly better)
  while ps -eo pid,args | grep -E "[s]bt-launch|[j]ava @/tmp/sbt-args|[b]ench_duckdb" \
      | grep -vw $$ > /dev/null; do
    echo "[guard] another graft JVM/replay is live — waiting 60s $(date +%H:%M:%S)"
    sleep 60
  done
}


canary() {
  echo "--- canary before $1 ($(date +%H:%M:%S))" >> "$OUT/canary.log"
  python3 tools/canary.py >> "$OUT/canary.log" 2>&1 || true
}

run_sf() {
  local tag=$1 dir=$2 excl=$3 only=$4
  echo "=== $tag spark ($(date +%H:%M:%S)) ==="
  guard
  clean
  canary "$tag spark"
  rm -f bench_full.json bench_headline.json
  SPARK_DRIVER_MEM=64g SPARK_GRAFT_SF_DIR=$dir SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_EXCLUDE=$excl SPARK_GRAFT_ONLY=$only \
    sbt -batch "runMain graft.Bench" > "$OUT/spark_$tag.stdout" 2>/dev/null
  if [ -s bench_full.json ]; then
    cp bench_full.json "$OUT/spark_$tag.json"
  else
    grep -F '"metric":"queries_full"' "$OUT/spark_$tag.stdout" \
      | sed 's/^\[info\] //' > "$OUT/spark_$tag.json"
  fi
  echo "=== $tag duckdb ($(date +%H:%M:%S)) ==="
  canary "$tag duckdb"
  GRAFT_EXCLUDE=$excl GRAFT_ONLY=$only python3 tools/bench_duckdb.py $dir \
    /tmp/graft_out/oracle_sql.json 3 2>/dev/null \
    | grep -F '"metric"' > "$OUT/duck_$tag.json"
  clean
}

# fresh oracle dump from HEAD (the DuckDB legs replay this file)
guard
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/graft_out" \
  > "$OUT/verify.stdout" 2>&1

run_sf sf100 benchdata/sf100 c_ ""
df -h / | tail -1
run_sf sf100c benchdata/sf100 "" c_
run_sf sf10 benchdata/sf10 "" ""
run_sf sf1 benchdata/sf1 "" ""
run_sf sf0.1 /root/testdata/sf0.1 "" ""
echo "=== DONE ($(date +%H:%M:%S)) ==="
echo "Render: python3 tools/mk_baseline.py \\"
for tag in sf0.1 sf1 sf10 sf100 sf100c; do
  echo "  $tag=$OUT/spark_$tag.json,$OUT/duck_$tag.json \\"
done
echo "  > BASELINE.md"
