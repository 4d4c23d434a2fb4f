#!/bin/bash
# A/B comparison of two checkouts on one perfbench workload.
#
#   scripts/ab.sh <parentdir> <changedir> <workload> <seed>...
#
# For each seed, runs `python3 perfbench/run.py --workload <workload>
# --seed <seed> --seconds $AB_SECONDS --trace 0` (AB_SECONDS defaults to 10)
# once in each checkout, alternating which side runs first (the first seed
# starts with the parent). Prints one row per run (setup_s, work_per_cpu_s,
# host steal), then, per end-to-end metric of the parent's BENCHMARK.json,
# each side's median and quartiles and the change's win count. The verdict
# follows the pairing rule: a gain holds when the change wins at least nine
# tenths of the pairs (ties count for neither side) and the medians differ
# by more than the parent's interquartile range. A no-regression line
# follows: the change's median against the parent's, as a fraction of the
# parent's median, checked against the metric's `bound`. It reads
# `unresolved` when the parent's IQR/median is wider than the bound (unless
# every change run beats every parent run), else `within bound` or
# `exceeds bound`.
#
# Raw records are kept in $AB_OUT (default: a new directory under /tmp).
set -u
[ $# -ge 4 ] || { echo "usage: $0 <parentdir> <changedir> <workload> <seed>..." >&2; exit 2; }
PARENT=$(cd "$1" && pwd) CHANGE=$(cd "$2" && pwd) WORKLOAD=$3
shift 3
OUT=${AB_OUT:-$(mktemp -d /tmp/ab.XXXXXX)}
mkdir -p "$OUT"
echo "records in $OUT"

run() {  # <side> <dir> <seed>
  local f="$OUT/$WORKLOAD.$3.$1.json"
  (cd "$2" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$3" \
    --seconds "${AB_SECONDS:-10}" --trace 0 2>"$f.err" | tail -2 >"$f")
  python3 - "$f" "$1" "$3" <<'EOF'
import json, sys
path, side, seed = sys.argv[1:]
try:
    rec = json.loads(open(path).read().splitlines()[0])["record"]
    e2e, steal = rec["end_to_end"], rec["regime"].get("loop_steal_frac")
    print("%-6s seed %-6s setup_s %8.2f  work_per_cpu_s %9.3f  steal %s  correct %s" % (
        side, seed, e2e["setup_s"], e2e["work_per_cpu_s"],
        "-" if steal is None else "%.3f" % steal, rec["correct"]))
except Exception as e:
    print("%-6s seed %-6s FAILED (%s); see %s.err" % (side, seed, e, path))
EOF
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then
    run parent "$PARENT" "$seed"; run change "$CHANGE" "$seed"
  else
    run change "$CHANGE" "$seed"; run parent "$PARENT" "$seed"
  fi
  i=$((i + 1))
done

python3 - "$OUT" "$WORKLOAD" "$PARENT/BENCHMARK.json" "$@" <<'EOF'
import json, statistics, sys
out, workload, spec_path, seeds = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4:]

def value(side, seed, name):
    try:
        with open("%s/%s.%s.%s.json" % (out, workload, seed, side)) as fh:
            return json.loads(fh.read().splitlines()[0])["record"]["end_to_end"][name]
    except Exception:
        return None

def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3

for m in json.load(open(spec_path))["end_to_end"]:
    name, higher = m["name"], m["better"] == "higher"
    pairs = [(value("parent", s, name), value("change", s, name)) for s in seeds]
    pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
    if not pairs:
        print("%s: no complete pair" % name)
        continue
    wins = sum(1 for p, c in pairs if (c > p if higher else c < p))
    pq, cq = quartiles(sorted(p for p, _ in pairs)), quartiles(sorted(c for _, c in pairs))
    gain = (cq[1] - pq[1]) if higher else (pq[1] - cq[1])
    iqr = pq[2] - pq[0]
    holds = wins >= 0.9 * len(pairs) and gain > iqr
    print("%s (%s is better): parent median %.3f [q1 %.3f, q3 %.3f]; change median %.3f "
          "[q1 %.3f, q3 %.3f]; change %+.1f%%; change wins %d of %d pairs; parent IQR %.3f; "
          "gain %s" % (name, "higher" if higher else "lower", pq[1], pq[0], pq[2], cq[1],
                       cq[0], cq[2], 100.0 * (cq[1] - pq[1]) / pq[1], wins, len(pairs), iqr,
                       "holds" if holds else "not shown"))
    bound = m["bound"]
    worse = -gain / pq[1]
    spread = iqr / pq[1]
    ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
    all_better = min(cs) > max(ps) if higher else max(cs) < min(ps)
    if spread > bound and not all_better:
        verdict = "unresolved"
    else:
        verdict = "exceeds bound" if worse > bound else "within bound"
    print("%s no-regression: change median is %.1f%% %s than the parent's; bound %.1f%%; "
          "parent IQR/median %.1f%%; %s" % (
              name, 100.0 * abs(worse), "worse" if worse > 0 else "better", 100.0 * bound,
              100.0 * spread, verdict))
EOF
