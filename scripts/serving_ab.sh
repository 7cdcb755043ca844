#!/usr/bin/env bash
# Interleaved A/B of the serving benchmark (perfbench/run.py) between a git
# revision (the parent side) and this checkout's working tree (the change
# side).
#
#   scripts/serving_ab.sh [--out DIR] <rev> [workload...]
#
# <rev> is `git archive`d into a temp dir. Pair p = 1..10 runs
# both sides with seed p, `--seconds 20 --trace 0`; odd pairs run the
# parent first, even pairs the change first. Workloads default to every one
# BENCHMARK.json declares. The last stdout line of each run is kept as
# DIR/<workload>.<side>.<seed>.json (DIR defaults to a new temp dir).
#
# Then, per workload and end-to-end metric: the parent and change medians,
# the parent's IQR/median, the change as a share of the parent median
# (signed, > 0 is worse in the metric's direction), both of those as a
# ratio of the metric's BENCHMARK.json bound, and in how many pairs the
# change was better. Runs whose result is not `correct: true` with 0
# failed are counted per side. Needs SPARK_HOME; one run takes about a
# minute on a 4-vCPU VM, so run nothing else meanwhile.
set -euo pipefail

root="$(cd "$(dirname "$0")/.." && pwd)"
pairs=10  # fixed: seed = pair number, as in the 10-pair protocol
out=""
while [ $# -gt 0 ]; do
  case "$1" in
    --out) out="$2"; shift 2 ;;
    -*) echo "unknown flag $1" >&2; exit 2 ;;
    *) break ;;
  esac
done
[ $# -ge 1 ] || { sed -n '2,20p' "$0" >&2; exit 2; }
rev="$1"; shift
if [ $# -gt 0 ]; then
  workloads=("$@")
else
  mapfile -t workloads < <(python3 -c 'import json, sys
print("\n".join(w["name"] for w in json.load(open(sys.argv[1]))["workloads"]))' \
    "$root/BENCHMARK.json")
fi

parent="$(mktemp -d "${TMPDIR:-/tmp}/serving_ab.XXXXXX")"
trap 'rm -rf "$parent"' EXIT
git -C "$root" archive "$rev" | tar -x -C "$parent"
[ -n "$out" ] || out="$(mktemp -d "${TMPDIR:-/tmp}/serving_ab_out.XXXXXX")"
mkdir -p "$out"
echo "parent $(git -C "$root" rev-parse --short "$rev") in $parent; results in $out" >&2

run() { # <side> <dir> <workload> <seed>
  local f="$out/$3.$1.$4.json"
  echo "== $3 seed $4: $1" >&2
  if ! (cd "$2" && python3 perfbench/run.py --workload "$3" --seed "$4" \
        --seconds 20 --trace 0 2>"$out/$3.$1.$4.log" | tail -n 1 >"$f"); then
    echo "   run failed (see $out/$3.$1.$4.log)" >&2
    rm -f "$f"
  fi
}

for w in "${workloads[@]}"; do
  for p in $(seq 1 "$pairs"); do
    if [ $((p % 2)) -eq 1 ]; then
      run parent "$parent" "$w" "$p"; run change "$root" "$w" "$p"
    else
      run change "$root" "$w" "$p"; run parent "$parent" "$w" "$p"
    fi
  done
done

python3 - "$root/BENCHMARK.json" "$out" "$pairs" "${workloads[@]}" <<'EOF'
import json, os, statistics, sys

bench, out, pairs, workloads = sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4:]
metrics = json.load(open(bench))["end_to_end"]

def load(w, side, seed):
    try:
        return json.load(open(os.path.join(out, f"{w}.{side}.{seed}.json")))
    except (OSError, ValueError):
        return None

def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]

for w in workloads:
    runs = {s: {p: load(w, s, p) for p in range(1, pairs + 1)} for s in ("parent", "change")}
    print(f"\n## {w} ({pairs} pairs)")
    for s, rs in runs.items():
        ok = sum(1 for r in rs.values() if r and r["correct"] and r["failed"] == 0)
        failed = sum(r["failed"] for r in rs.values() if r)
        print(f"{s}: {ok}/{pairs} runs correct with 0 failed; failed ops {failed}")
    print("| metric | parent p50 | change p50 | parent IQR/p50 | change vs parent"
          " | spread/bound | change/bound | change better |")
    print("|---|---|---|---|---|---|---|---|")
    for m in metrics:
        name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
        both = [(rp["metrics"][name]["value"], rc["metrics"][name]["value"])
                for rp, rc in ((runs["parent"][p], runs["change"][p])
                               for p in range(1, pairs + 1))
                if rp and rc and name in rp["metrics"] and name in rc["metrics"]]
        if not both:
            print(f"| {name} | – | – | – | – | – | – | – |")
            continue
        ps, cs = [a for a, _ in both], [b for _, b in both]
        pm, cm = statistics.median(ps), statistics.median(cs)
        q1, q3 = quartiles(ps)
        spread = (q3 - q1) / pm if pm else float("nan")
        worse = ((cm - pm) if lower else (pm - cm)) / pm if pm else float("nan")
        better = sum(1 for a, b in both if (b < a if lower else b > a))
        print(f"| {name} | {pm:.4g} | {cm:.4g} | {spread:.3f} | {worse:+.3f}"
              f" | {spread / bound:.2f} | {worse / bound:+.2f} | {better}/{len(both)} |")
EOF
