#!/usr/bin/env bash
# Report the top-level defs of graft/{operators,functions,streaming,
# expressions,windows,engine,util}
# that nothing in src/main refers to: for each `  def name` or
# `  private[graft] def name` (two-space indent; a `private[graft]` def
# that only the specs call is a test hook) of a public object, class or
# trait there, count
# the code lines of src/main that mention `name` as a word, leaving out
# the def line itself and every comment line (scaladoc included). A def
# with no such line is printed as `Owner.name  file:line`. Same-named
# defs share their references, so the report can miss a def but never
# lists one that is called. It only reports: the exit status is 0
# whatever it finds.
#
#   tools/unreached_defs.sh
set -euo pipefail
cd "$(dirname "$0")/.."
main=src/main/scala
# every code line of src/main as file:line:text, comment lines dropped
code=$(grep -rn --include='*.scala' '' "$main" \
  | grep -v '^[^:]*:[0-9]*:[[:space:]]*\(//\|\*\|/\*\)')
for f in "$main"/graft/{operators,functions,streaming,expressions,windows,engine,util}/*.scala; do
  awk '/^[a-z]/ && / *(object|class|trait) [A-Za-z]/ {
         owner = $0
         sub(/.*(object|class|trait) /, "", owner)
         sub(/[^A-Za-z0-9_].*/, "", owner)
         if ($1 ~ /^private/) owner = ""
       }
       owner != "" && /^  (private\[graft\] )?def [A-Za-z0-9_]+/ {
         name = ($1 == "def") ? $2 : $3; sub(/[^A-Za-z0-9_].*/, "", name)
         print owner, name, FNR
       }' "$f" |
  while read -r owner name line; do
    uses=$(grep -v "^$f:$line:" <<<"$code" | grep -cw -- "$name" || true)
    if [ "$uses" -eq 0 ]; then
      printf '%s.%s  %s:%s\n' "$owner" "$name" "$f" "$line"
    fi
  done
done
