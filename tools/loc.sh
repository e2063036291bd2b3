#!/bin/bash
# Non-blank, non-comment line counts per src/main Scala file, then the total.
# A comment line is one whose first non-blank characters are `//`, `/*`, `*`
# or `*/` (scaladoc and block-comment bodies included).
# Usage: tools/loc.sh [source-root]   (default: src/main, relative to the repo)
set -e
ROOT="${1:-$(dirname "$0")/../src/main}"
find "$ROOT" -name '*.scala' | sort | while read -r f; do
  n=$(grep -cvE '^[[:space:]]*($|//|/\*|\*)' "$f" || true)
  printf '%6d %s\n' "$n" "${f#"$ROOT"/}"
done | awk '{ print; total += $1 } END { printf "%6d total\n", total }'
