#!/usr/bin/env bash
# Size counters for the simplicity aims in ROADMAP.md: main and test
# lines of Scala, the distinct `spark.graft.*` options, the distinct
# environment variables the main code reads and the ad hoc stderr
# warning sites (`System.err.println`) in it.
#
# Usage: tools/counts.sh [tree]   (default: this repository)
set -eu
cd "${1:-$(dirname "$0")/..}"

lines() { find "$1" -name '*.scala' -print0 | xargs -0 cat | wc -l; }
echo "main LoC: $(lines src/main)"
echo "test LoC: $(lines src/test)"

opts=$(grep -rhoE '"spark\.graft\.[A-Za-z0-9_.]+"' src/main | sort -u)
echo "spark.graft.* options: $(printf '%s' "$opts" | grep -c . || true)"
printf '%s\n' "$opts" | sed '/^$/d; s/^/  /'

knobs=$(grep -rhoE '(sys\.env(\.get|\.getOrElse)?|getenv)\(\s*"[A-Za-z0-9_]+"' \
  src/main | grep -oE '"[A-Za-z0-9_]+"' | sort -u)
echo "env knobs: $(printf '%s' "$knobs" | grep -c . || true)"
printf '%s\n' "$knobs" | sed '/^$/d; s/^/  /'

echo "System.err.println sites: $(grep -rhoE 'System\.err\.println' src/main | wc -l)"
