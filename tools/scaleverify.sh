#!/usr/bin/env bash
# Oracle-verify the headline queries against an N× key-shifted replica —
# correctness at scale, the evidence class the driver's sf0.01 gate never
# produces. Orchestrates graft.ScaleVerify (replica + result dump) and
# tools/check.py (DuckDB hash compare on the replica), then writes the
# per-query JSON artifact.
#
# Usage: tools/scaleverify.sh [srcSfDir] [copies] [artifact.json]
# Env:   SPARK_GRAFT_ONLY / SPARK_GRAFT_SCALE_ALL=1 widen or narrow the
#        query set (default: Bench.headline); SPARK_GRAFT_CPUS (default:
#        the machine's processor count).
set -euo pipefail
cd "$(dirname "$0")/.."

SRC="${1:-/root/testdata/sf0.1}"
COPIES="${2:-5}"
ARTIFACT="${3:-SCALEVERIFY.json}"
WORK="$(mktemp -d /tmp/graft-scaleverify-XXXXXX)"
trap 'rm -rf "$WORK"' EXIT

REPLICA="$WORK/replica"
OUT="$WORK/out"

tools/run.sh graft.ScaleVerify "$SRC" "$REPLICA" "$COPIES" "$OUT" 2>"$WORK/stderr.log" || {
    echo "[scaleverify] ScaleVerify JVM failed; stderr tail:" >&2
    tail -20 "$WORK/stderr.log" >&2
    exit 1
  }
grep '^\[verify\]' "$WORK/stderr.log" >&2 || true

python3 tools/check.py "$REPLICA" "$OUT" --json "$ARTIFACT.tmp" || CHECK_RC=$?
python3 - "$ARTIFACT.tmp" "$ARTIFACT" "$SRC" "$COPIES" <<'EOF'
import json, sys
tmp, dest, src, copies = sys.argv[1:5]
d = json.load(open(tmp))
d["src_sf_dir"] = src
d["copies"] = int(copies)
json.dump(d, open(dest, "w"), indent=1, sort_keys=True)
EOF
rm -f "$ARTIFACT.tmp"
echo "[scaleverify] artifact: $ARTIFACT"
exit "${CHECK_RC:-0}"
