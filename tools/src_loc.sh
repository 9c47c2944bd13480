#!/usr/bin/env bash
# Count the code lines of src/main: lines of src/main/**/*.scala that are
# not blank and, after leading whitespace, do not start with `//`, `*` or
# `/*` (so scaladoc and line comments are excluded).
#
#   tools/src_loc.sh
set -euo pipefail
cd "$(dirname "$0")/.."
find src/main -name '*.scala' -print0 | xargs -0 cat \
  | grep -v '^[[:space:]]*$' \
  | grep -cv '^[[:space:]]*\(//\|\*\|/\*\)'
