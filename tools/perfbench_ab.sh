#!/usr/bin/env bash
# Interleaved A/B of perfbench/run.py: the working tree against a checkout
# of the parent, N pairs per workload on fresh seeds, alternating which
# side runs first so a drift in host speed lands on both sides alike. Runs
# are untraced, --seconds 14 (the BENCHMARK.json setting).
#
# Usage: tools/perfbench_ab.sh [-n PAIRS] [-s FIRST_SEED] PARENT_DIR [WORKLOAD...]
#   -n  pairs per workload (default 10)
#   -s  first seed; pair i runs seed FIRST_SEED + i on both sides (default 5001)
#   PARENT_DIR  a checkout of the parent revision outside this tree, e.g.
#               git clone -q . ../parent && git -C ../parent checkout -q HEAD~1
#   WORKLOAD    default: every workload BENCHMARK.json declares
#
# For each workload it prints every run's end-to-end metrics and peak RSS
# beside its host probe (perfbench's pre/post spin times and window CPU
# steal), and flags each pair whose two sides' steal differs by more than 2
# points: a median can hide one side having run on a contended host. Then,
# per end-to-end metric, each side's median and quartiles, the change's win
# count over the pairs, and the gap between the medians next to the
# parent's interquartile range; and each side's median peak RSS, so memory
# is read as its own metric beside a speed change. Raw result lines are
# kept in $AB_OUT (default: a new temp dir, printed at the start).
set -euo pipefail

pairs=10 seed0=5001
usage() { sed -n '7,12p' "$0"; exit 2; }
while getopts "n:s:" o; do
  case $o in
    n) pairs=$OPTARG ;;
    s) seed0=$OPTARG ;;
    *) usage ;;
  esac
done
shift $((OPTIND - 1))
[ $# -ge 1 ] && [ -f "$1/perfbench/run.py" ] || usage
parent=$(cd "$1" && pwd)
shift

change=$(git rev-parse --show-toplevel)
out=${AB_OUT:-$(mktemp -d -t perfbench-ab.XXXXXX)}
mkdir -p "$out"
echo "results in $out" >&2

if [ $# -eq 0 ]; then
  set -- $(python3 -c 'import json, sys; print(" ".join(w["name"] for w in json.load(open(sys.argv[1]))["workloads"]))' "$change/BENCHMARK.json")
fi

run() { # side dir workload seed
  local line probe rss
  line=$(cd "$2" && python3 perfbench/run.py --workload "$3" --seed "$4" --seconds 14 --trace 0 \
    2>>"$out/$1-$3-$4.err" | tee "$out/$1-$3-$4.out" | tail -1) || true
  probe=$(grep -m1 'host probe' "$out/$1-$3-$4.out" | sed 's/^ *//') || true
  rss=$(awk '$1 == "peak_rss_mb" {print $2; exit}' "$out/$1-$3-$4.out") || true
  printf '%s\t%s\t%s\t%s\t%s\t%s\n' "$1" "$3" "$4" "${line:-{\}}" "$probe" "$rss" >>"$out/results.tsv"
  echo "$1 $3 seed $4: ${line:0:160}" >&2
}

for w in "$@"; do
  for ((i = 0; i < pairs; i++)); do
    s=$((seed0 + i))
    if ((i % 2 == 0)); then
      run parent "$parent" "$w" "$s"; run change "$change" "$w" "$s"
    else
      run change "$change" "$w" "$s"; run parent "$parent" "$w" "$s"
    fi
  done
done

python3 - "$out/results.tsv" "$change/BENCHMARK.json" "$@" <<'EOF'
import json, re, statistics, sys

STEAL_GAP = 2.0  # points of window CPU steal between the two sides of a pair

rows = [l.rstrip("\n").split("\t") for l in open(sys.argv[1]) if l.strip()]
metrics = json.load(open(sys.argv[2]))["end_to_end"]
res, probe, rss = {}, {}, {}
for side, w, seed, line, *rest in rows:
    try:
        res[(side, w, seed)] = json.loads(line)
    except ValueError:
        res[(side, w, seed)] = {}
    probe[(side, w, seed)] = rest[0] if rest else ""
    try:
        rss[(side, w, seed)] = float(rest[1])
    except (IndexError, ValueError):
        pass

def steal(key):
    m = re.search(r"window CPU steal ([0-9.]+)%", probe.get(key, ""))
    return float(m.group(1)) if m else None

def q(xs):
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3

for w in sys.argv[3:]:
    seeds = sorted({s for _, ww, s in res if ww == w}, key=int)
    ok = {side: sum(1 for s in seeds if res.get((side, w, s), {}).get("correct")
                    and res[(side, w, s)].get("failed") == 0) for side in ("parent", "change")}
    print(f"{w}: {len(seeds)} pairs; correct with 0 failed: parent {ok['parent']}, change {ok['change']}")
    flagged = []
    for s in seeds:
        for side in ("parent", "change"):
            ms = res.get((side, w, s), {}).get("metrics", {})
            vals = "  ".join(f"{m['name']} {ms[m['name']]['value']:.4g}" if m["name"] in ms
                             else f"{m['name']} -" for m in metrics)
            mb = rss.get((side, w, s))
            mb = "-" if mb is None else f"{mb:.0f}"
            print(f"  seed {s} {side:<6} {vals}  peak_rss_mb {mb}  | {probe.get((side, w, s)) or 'no host probe'}")
        sp, sc = steal(("parent", w, s)), steal(("change", w, s))
        if sp is not None and sc is not None and abs(sp - sc) > STEAL_GAP:
            flagged.append(f"seed {s} (parent {sp:.1f}%, change {sc:.1f}%)")
    print(f"  steal differs by more than {STEAL_GAP:g} points in {len(flagged)} of {len(seeds)} pairs"
          + (": " + "; ".join(flagged) if flagged else ""))
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        val = lambda side, s: res.get((side, w, s), {}).get("metrics", {}).get(name, {}).get("value")
        pairs = [(val("parent", s), val("change", s)) for s in seeds]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        if not pairs:
            print(f"  {name:<11} no data")
            continue
        pq, cq = q([p for p, _ in pairs]), q([c for _, c in pairs])
        wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
        print(f"  {name:<11} parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}]  "
              f"change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  "
              f"change wins {wins}/{len(pairs)}  |median gap| {abs(cq[1] - pq[1]):.4g} "
              f"vs parent IQR {pq[2] - pq[0]:.4g}  ({m['better']} is better)")
    peaks = {side: [rss[(side, w, s)] for s in seeds if (side, w, s) in rss] for side in ("parent", "change")}
    print("  peak_rss_mb " + "  ".join(
        f"{side} {statistics.median(v):.0f} MB (n={len(v)})" if v else f"{side} no data"
        for side, v in peaks.items()) + "  (median JVM VmHWM)")
EOF
