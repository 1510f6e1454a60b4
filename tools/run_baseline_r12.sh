#!/bin/bash
# Round-12 baseline protocol: r11's method (full-plan action, canary
# before every leg, paired back-to-back Spark/DuckDB legs per SF,
# dedicated c_-only sf100 leg, sf100 first). Its fresh-JVM isolate
# pass ran through graft.Explain, which no longer exists, and is gone.
set -e
cd /root/repo
OUT=/tmp/baseline_r12
mkdir -p "$OUT"

clean() { rm -rf /tmp/graft_local-* /tmp/graft_db_* 2>/dev/null || true; }

canary() {
  echo "--- canary before $1 ($(date +%H:%M:%S))" >> "$OUT/canary.log"
  python3 tools/canary.py >> "$OUT/canary.log" 2>&1 || true
}

run_sf() {
  local tag=$1 dir=$2 excl=$3 only=$4
  echo "=== $tag spark ($(date +%H:%M:%S)) ==="
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
