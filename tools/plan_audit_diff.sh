#!/bin/bash
# Regenerate PLAN_AUDIT.md into a temp file and diff it against the
# committed one, ignoring the `Generated by` line. Prints the rows that
# differ ("-" committed, "+" regenerated) and exits 1 on any difference;
# exits 0 when the audit is unchanged.
# Runs graft.PlanAudit through tools/run.sh, so compile first (sbt compile).
# Usage: tools/plan_audit_diff.sh [sfDir]   (default: PlanAudit's sf0.001)
set -euo pipefail
HERE="$(cd "$(dirname "$0")" && pwd)"
COMMITTED="$HERE/../PLAN_AUDIT.md"
TMP="$(mktemp)"
trap 'rm -f "$TMP"' EXIT
bash "$HERE/run.sh" graft.PlanAudit "$@" 2>/dev/null > "$TMP"
rows() { grep -v '^Generated by' "$1"; }
if diff <(rows "$COMMITTED") <(rows "$TMP") > /dev/null; then
  echo "PLAN_AUDIT.md unchanged"
  exit 0
fi
echo "PLAN_AUDIT.md differs (- committed, + regenerated):"
diff <(rows "$COMMITTED") <(rows "$TMP") | grep '^[<>]' | sed 's/^</-/; s/^>/+/'
exit 1
