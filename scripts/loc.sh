#!/usr/bin/env bash
# Code lines of the Scala sources under src/main: non-blank lines whose
# first non-space characters are not `//`, `*` or `/**`. Prints one
# "<lines> <file>" row per file, then "<lines> total".
# usage: scripts/loc.sh [dir]   (default: src/main, from the repo root)
set -euo pipefail
dir="${1:-$(dirname "$0")/../src/main}"
find "$dir" -name '*.scala' | LC_ALL=C sort | while read -r f; do
  n=$(grep -cvE '^[[:space:]]*($|//|\*|/\*\*)' "$f" || true)
  echo "$n ${f#"$dir"/}"
done | awk '{ print; t += $1 } END { print t, "total" }'
