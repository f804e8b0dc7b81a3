#!/usr/bin/env bash
# Plan-identity check for refactors that must not move any registered
# plan: dump every op's formatted plan (graft.Explain, sf0.001) at
# <parent-rev> and in the working tree, mask the ids that differ between
# two runs of the SAME code, and diff. Empty diff = identical plans.
#
#   scripts/plan_diff.sh <parent-rev> [work-dir]
#
# The parent is a `git archive` copy (not a worktree) under work-dir
# (default: a fresh temp dir), built by its own sbt. Both dumps stay in
# work-dir as ex_parent.txt / ex_change.txt.
#
# Masked: `#\d+` expression ids, exchange plan_ids, codegen and AQE
# query-stage ids (stage materialization order is concurrent), temp-dir
# suffixes and lambda class names. Temp-dir PREFIXES stay, so a renamed
# persisted-table location shows up in the diff.
#
# Output: the names of the ops whose masked plans differ, one a line,
# each with its parent -> change counts of Exchange, BroadcastExchange,
# Window, SortMergeJoin and `Scan parquet` nodes; then the full diff.
# Exit 0 when identical, 1 otherwise.
set -euo pipefail
rev=${1:?usage: scripts/plan_diff.sh <parent-rev> [work-dir]}
work=${2:-$(mktemp -d -t graft_plan_diff.XXXXXX)}
root=$(git rev-parse --show-toplevel)
mkdir -p "$work/parent"
git -C "$root" archive "$rev" | tar -x -C "$work/parent"
(cd "$work/parent" && sbt -batch "runMain graft.Explain") > "$work/ex_parent.txt"
(cd "$root" && sbt -batch "runMain graft.Explain") > "$work/ex_change.txt"
mask() {
  grep -v '^\[' "$1" | sed -E 's/#[0-9]+/#N/g; s/plan_id=[0-9]+/plan_id=N/g;
    s/codegen id : [0-9]+/codegen id : N/g; s/^Arguments: [0-9]+$/Arguments: N/;
    s#/tmp/([a-z_]+)[0-9a-f_-]+([/ ]|]|$)#/tmp/\1N\2#g;
    s#(/tmp/[A-Za-z0-9_]*[A-Za-z_])-?[0-9]{6,}#\1N#g; s/Lambda\$[^ ]*/Lambda/g'
}
# every masked plan line prefixed with its op's name (from the
# `========== name ==========` section headers), so diff lines name the op
by_op() {
  awk '/^========== .* ==========$/ {op = $2; next} {print op "\t" $0}' "$1"
}
mask "$work/ex_parent.txt" > "$work/ex_parent.masked"
mask "$work/ex_change.txt" > "$work/ex_change.masked"
# the ops whose masked plans differ (or exist on one side only), one a line
{ diff <(by_op "$work/ex_parent.masked") <(by_op "$work/ex_change.masked") || true; } |
  awk -F'\t' '/^[<>] / {print substr($1, 3)}' | sort -u > "$work/moved.txt"
# per moved op, parent -> change counts of the plan nodes that name a
# plan move, read from the formatted tree lines (the block after
# `== Physical Plan ==`, up to the first blank line): a node is the
# first word after the `+- ` / `:- ` tree marks and the `* ` codegen
# mark; a scan is any `Scan parquet …` node
shape() {
  awk -v want="$2" '
    /^========== .* ==========$/ {op = $2; tree = 0; next}
    op != want {next}
    /^== Physical Plan ==$/ {tree = 1; next}
    /^ *$/ {tree = 0; next}
    !tree {next}
    {
      line = $0
      sub(/^[ :|+-]*/, "", line); sub(/^\* /, "", line)
      if (line ~ /^Scan parquet/) n["Scan parquet"]++
      split(line, w, " "); n[w[1]]++
    }
    END {
      printf "%s %s %s %s %s", n["Exchange"] + 0, n["BroadcastExchange"] + 0,
        n["Window"] + 0, n["SortMergeJoin"] + 0, n["Scan parquet"] + 0
    }' "$1"
}
while read -r op; do
  [ -n "$op" ] || continue
  read -r e1 b1 w1 s1 p1 <<< "$(shape "$work/ex_parent.masked" "$op")"
  read -r e2 b2 w2 s2 p2 <<< "$(shape "$work/ex_change.masked" "$op")"
  echo "$op  Exchange $e1->$e2  BroadcastExchange $b1->$b2  Window $w1->$w2" \
    " SortMergeJoin $s1->$s2  Scan parquet $p1->$p2"
done < "$work/moved.txt"
if diff "$work/ex_parent.masked" "$work/ex_change.masked"; then
  echo "plan_diff: identical ($work)"
else
  echo "plan_diff: plans differ ($work)"
  exit 1
fi
