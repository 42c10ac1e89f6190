#!/usr/bin/env bash
# Oracle check in two execution regimes. graft.Verify writes every
# SparkEntry query's result as parquet, and tools/compare_oracle.py
# compares each against DuckDB over the same tables. It runs twice:
#   default  - the session as Verify builds it (at sf0.01 every join
#              broadcasts);
#   shuffle  - broadcast joins off and plan-change validation on, so the
#              shuffled joins and the shuffle-gated rewrites
#              (EagerCountPushdown) are what gets checked.
# Prints both tallies at the end, then, per regime, how many "Broadcasting
# large task binary" and "No Partition Defined for Window" warnings each
# query logged (a warning belongs to the last "[verify] <name>" line above
# it); exits non-zero when either tally has a failure.
#
# Usage: tools/verify_regimes.sh SF_DIR [OUT_ROOT]
#   SF_DIR    the sf0.01 parquet tables (TESTDATA.md)
#   OUT_ROOT  where the two result sets go (default: target/verify_regimes)
# Run from the repository root; sbt and python3 with duckdb and pandas
# must be on the path.
set -euo pipefail

if [ $# -lt 1 ]; then
  sed -n '2,20p' "$0" >&2
  exit 2
fi
sf_dir=$1
out_root=${2:-target/verify_regimes}

run_regime() { # name, then the extra JVM options of the forked Verify run
  local name=$1; shift
  local out="$out_root/$name"
  rm -rf "$out"
  local opts=""
  for o in "$@"; do opts="$opts, \"$o\""; done
  sbt --batch -Dsbt.log.noformat=true \
    "set javaOptions ++= Seq(${opts#, })" \
    "runMain graft.Verify $sf_dir $out" >"$out_root/$name.verify.log" 2>&1
  python3 tools/compare_oracle.py "$sf_dir" "$out" >"$out_root/$name.oracle.log"
  grep -h '^FAIL' "$out_root/$name.oracle.log" || true
  echo "$name: $(tail -n 1 "$out_root/$name.oracle.log")"
}

warnings() { # name: the per-query warning counts of its Verify log
  awk -v regime="$1" '
    BEGIN { q = "(before the first query)" }
    /^\[verify\] [^ ]+$/ { q = $2 }
    /Broadcasting large task binary/ { big[q]++; hit[q] = 1; nbig++ }
    /No Partition Defined for Window/ { win[q]++; hit[q] = 1; nwin++ }
    END {
      printf "%s warnings: %d large task binary, %d window without partition\n",
        regime, nbig, nwin
      fflush()
      for (k in hit)
        printf "  %s: %d large task binary, %d window without partition\n",
          k, big[k], win[k] | "sort"
    }' "$out_root/$1.verify.log"
}

mkdir -p "$out_root"
default=$(run_regime default)
shuffle=$(run_regime shuffle \
  -Dspark.sql.autoBroadcastJoinThreshold=-1 \
  -Dspark.sql.planChangeValidation=true)
echo "$default"
echo "$shuffle"
warnings default
warnings shuffle
! grep -q ' [1-9][0-9]* fail' <<<"$default$shuffle"
