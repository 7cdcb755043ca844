#!/usr/bin/env bash
# Count non-comment main lines: non-blank lines of src/main/scala/**/*.scala
# that are not `//` line comments or scaladoc/block-comment lines (`/*`,
# `/**`, `*`, `*/`). Usage: scripts/main_lines.sh [repo root]
set -euo pipefail
root="${1:-$(cd "$(dirname "$0")/.." && pwd)}"
find "$root/src/main/scala" -name '*.scala' -print0 | xargs -0 cat |
  awk '{ s = $0; sub(/^[ \t]+/, "", s)
         if (s == "" || s ~ /^\/\// || s ~ /^\/\*/ || s ~ /^\*/) next
         n++ }
       END { print n + 0 }'
