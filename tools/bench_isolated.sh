#!/usr/bin/env bash
# Dev-only: collect ISOLATED per-query medians (fresh pinned-heap JVM
# per query — graft.tools.Probe time) for the sf10 bench rows, so the
# committed artifact carries both protocols: the uniform suite-context
# pair (BENCH_sf10.json, same-window vs DuckDB) AND the isolated
# medians cross-round row comparisons need (suite-context rows for
# sub-4 s queries read 1.5-5x above isolated — round-15 verdict
# item 2). Serial by construction: one JVM at a time.
# Usage: tools/bench_isolated.sh <sf_dir> <out.json> [iters] [q ...]
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
SF="${1:?sf dir}"; OUT="${2:?out json}"; ITERS="${3:-5}"
shift $(( $# < 3 ? $# : 3 ))   # shift only what exists: 2-arg calls must
                               # fall through to the default query list
QUERIES=("$@")
if [ ${#QUERIES[@]} -eq 0 ]; then
  # default: every query in the committed sf10 artifact
  mapfile -t QUERIES < <(python3 -c "
import json
print('\n'.join(sorted(json.load(open('$REPO/BENCH_sf10.json'))['queries'])))")
fi
echo "{" > "$OUT.tmp"
first=1
for q in "${QUERIES[@]}"; do
  line=$(SPARK_GRAFT_SF_DIR="$SF" "$REPO/tools/run_main.sh" \
    graft.tools.Probe time "$q" "$ITERS" 2>/dev/null | grep "median=" || true)
  med=$(echo "$line" | sed -n 's/.*median=\([0-9.]*\).*/\1/p')
  mn=$(echo "$line" | sed -n 's/.*samples=\([0-9.,]*\) .*/\1/p' \
    | tr ',' '\n' | sort -g | head -1)
  if [ -n "$med" ]; then
    [ $first -eq 0 ] && echo "," >> "$OUT.tmp"
    printf '  "%s": {"median": %s, "min": %s}' "$q" "$med" "${mn:-$med}" >> "$OUT.tmp"
    first=0
    echo "[bench_isolated] $q median=$med min=${mn:-?}" >&2
  else
    echo "[bench_isolated] $q FAILED" >&2
  fi
done
echo "" >> "$OUT.tmp"; echo "}" >> "$OUT.tmp"
mv "$OUT.tmp" "$OUT"
python3 -c "import json; d=json.load(open('$OUT')); print(len(d), 'rows ->', '$OUT')"
