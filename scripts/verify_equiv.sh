#!/bin/bash
# Result-equivalence check for a change that must move no result: compiles
# two checkouts, runs each one's graft.Verify (through its own
# scripts/run_main.sh) on the same data, and compares the two dumps.
# Exits 0 only when oracle_sql.json has the same sha256 on both sides and
# digests.tsv is identical; otherwise prints the keys whose digest lines
# differ and exits 1. Exits 2 when a compile or a Verify run fails.
# sf0.01 (the default) takes about 5 minutes per side on a 4-core host.
# Usage: scripts/verify_equiv.sh <parent-checkout> <change-checkout> [sfDir]
set -u
if [ $# -lt 2 ]; then
  sed -n '2,9p' "$0" >&2
  exit 2
fi
PARENT=$(cd "$1" && pwd) || exit 2
CHANGE=$(cd "$2" && pwd) || exit 2
SF=${3:-/root/testdata/sf0.01}
OUT=$(mktemp -d "${TMPDIR:-/tmp}/verify_equiv_XXXX")
export COURSIER_MODE=${COURSIER_MODE:-offline}
export SBT_OPTS=${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}

for side in parent change; do
  dir=$PARENT; [ "$side" = change ] && dir=$CHANGE
  echo "[verify_equiv] $side: $dir on $SF"
  if ! (cd "$dir" && sbt --batch -Dsbt.log.noformat=true compile) >"$OUT/$side.compile.log" 2>&1; then
    echo "[verify_equiv] $side: compile failed, see $OUT/$side.compile.log" >&2
    exit 2
  fi
  if ! "$dir/scripts/run_main.sh" graft.Verify "$SF" "$OUT/$side" >"$OUT/$side.log" 2>&1; then
    echo "[verify_equiv] $side: graft.Verify failed, see $OUT/$side.log" >&2
    exit 2
  fi
  # keep the two compared files, drop the per-key parquet dumps
  find "$OUT/$side" -mindepth 1 -maxdepth 1 -type d -exec rm -rf {} +
done

rc=0
sha_p=$(sha256sum <"$OUT/parent/oracle_sql.json" | cut -d' ' -f1)
sha_c=$(sha256sum <"$OUT/change/oracle_sql.json" | cut -d' ' -f1)
echo "oracle_sql.json sha256: parent $sha_p, change $sha_c"
[ "$sha_p" = "$sha_c" ] || { echo "oracle_sql.json DIFFERS"; rc=1; }

echo "digests.tsv keys: parent $(wc -l <"$OUT/parent/digests.tsv"), change $(wc -l <"$OUT/change/digests.tsv")"
if cmp -s "$OUT/parent/digests.tsv" "$OUT/change/digests.tsv"; then
  echo "digests.tsv identical"
else
  echo "digests.tsv DIFFERS; keys whose digest lines differ:"
  comm -3 <(sort "$OUT/parent/digests.tsv") <(sort "$OUT/change/digests.tsv") |
    sed 's/^\t//' | cut -f1 | sort -u | sed 's/^/  /'
  rc=1
fi
echo "[verify_equiv] outputs in $OUT"
exit $rc
