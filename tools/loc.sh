#!/usr/bin/env bash
# Net lines of code under src/main between a base revision and the working
# tree (tracked changes plus untracked new files).
#
#   tools/loc.sh <base-rev>
#
# Prints the lines added and deleted (git diff numstat, every line counts),
# then per changed file the non-comment non-blank line count before and
# after, and the totals. A line is a comment when, trimmed, it starts with
# `//`, `/*`, `*` or `*/` (the repo's Scala comment and scaladoc style).
set -euo pipefail

base="${1:?usage: tools/loc.sh <base-rev>}"
cd "$(git rev-parse --show-toplevel)"
git rev-parse --verify -q "$base^{commit}" >/dev/null || { echo "unknown revision: $base" >&2; exit 2; }

# Non-comment non-blank lines on stdin.
code_lines() {
  awk '{ sub(/^[ \t]+/, "") } $0 != "" && $0 !~ /^(\/\/|\/\*|\*)/ { n++ } END { print n + 0 }'
}

changed=$( { git diff --name-only "$base" -- src/main; git ls-files --others --exclude-standard -- src/main; } | sort -u)

added=0 deleted=0
while read -r a d _; do
  [ "$a" = "-" ] && continue # binary
  added=$((added + a)) deleted=$((deleted + d))
done < <(git diff --numstat "$base" -- src/main)
for f in $(git ls-files --others --exclude-standard -- src/main); do
  added=$((added + $(wc -l < "$f")))
done

printf 'src/main vs %s: +%d -%d lines (net %+d)\n' "$base" "$added" "$deleted" $((added - deleted))
printf '%-60s %8s %8s %8s\n' "file (non-comment non-blank)" before after delta
before_total=0 after_total=0
for f in $changed; do
  before=$( (git show "$base:$f" 2>/dev/null || true) | code_lines)
  after=0
  [ -f "$f" ] && after=$(code_lines < "$f")
  before_total=$((before_total + before)) after_total=$((after_total + after))
  printf '%-60s %8d %8d %+8d\n' "${f#src/main/scala/}" "$before" "$after" $((after - before))
done
printf '%-60s %8d %8d %+8d\n' total "$before_total" "$after_total" $((after_total - before_total))
