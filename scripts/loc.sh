#!/bin/bash
# Code lines per file and in total.
#
#   scripts/loc.sh [path...]        (default: the repo's src/main)
#
# A code line is a non-blank line whose first non-blank characters are not
# `//`, `/*` or `*` (so scaladoc and comment blocks do not count). Paths may
# be files or directories; directories are searched for *.scala, *.py and
# *.sh files. Prints "<lines> <file>" per file, then "<lines> total".
set -u
[ $# -gt 0 ] || { cd "$(dirname "$0")/.." && set -- src/main; }
find "$@" -type f \( -name '*.scala' -o -name '*.py' -o -name '*.sh' \) | sort |
  xargs -r awk '
    FNR == 1 && NR > 1 { print n, prev; n = 0 }
    { prev = FILENAME; s = $0; sub(/^[ \t]+/, "", s) }
    s != "" && s !~ /^(\/\/|\/\*|\*)/ { n++ }
    END { if (NR > 0) print n, prev }' |
  awk '{ total += $1; print } END { print total + 0, "total" }'
