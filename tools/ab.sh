#!/usr/bin/env bash
# Interleaved A/B of the benchmark: graftbench runs of <rev> (the
# parent, A) and of this checkout (the change, B), alternating, on fresh
# seeds.
#
#   tools/ab.sh <rev> <workload> <pairs>
#
# <rev> is exported with `git archive` to .bench_work/ab-<sha>/ (no
# worktree metadata is left in .git) and built there by graftbench's
# own build on its first run; the change side is this checkout as it
# stands. Pair i runs `graftbench/run.py --workload <workload> --seed
# <base+i> --seconds 10 --trace 0` once per side: A first on odd i, B
# first on even i. <base> comes from the clock, so each invocation uses
# seeds no earlier one did; it is printed so a set can be re-run.
#
# Prints one line per run (side, seed, correct, failed, the host's CPU
# steal during the run, every end-to-end metric), then per end-to-end
# metric of BENCHMARK.json: A's median, B's median, B/A, a 90% paired
# bootstrap interval of median(B)/median(A) (pairs resampled with
# replacement, 2000 draws, fixed seed), A's interquartile range and the
# number of pairs B wins (better in the metric's direction). A metric is
# marked `over bound` only when its whole interval lies past its
# BENCHMARK.json bound in the worse direction. Raw result objects go to
# .bench_work/ab-<time>.jsonl.
set -euo pipefail
cd "$(dirname "$0")/.."

[[ $# -eq 3 ]] || { echo "usage: tools/ab.sh <rev> <workload> <pairs>" >&2; exit 2; }
rev=$1 workload=$2 pairs=$3
sha=$(git rev-parse --verify "$rev^{commit}")
root=$PWD
work=$root/.bench_work
a_dir=$work/ab-$sha
mkdir -p "$work"
if [[ ! -d $a_dir ]]; then
  mkdir -p "$a_dir.tmp"
  git archive "$sha" | tar -x -C "$a_dir.tmp"
  mv "$a_dir.tmp" "$a_dir"
fi

base=$(( $(date +%s) % 1000000 * 100 ))
log=$work/ab-$(date +%Y%m%d-%H%M%S).jsonl
echo "[ab] A=$sha ($rev)  B=$root (checkout)  workload=$workload pairs=$pairs base_seed=$base"
echo "[ab] results: $log"

steal() { awk '/^cpu /{print $9, $2+$3+$4+$5+$6+$7+$8+$9}' /proc/stat; }

run_side() {  # side dir seed pair
  local side=$1 dir=$2 seed=$3 pair=$4 s0 s1 out
  s0=$(steal)
  # the exported tree lies inside this checkout: keep git from reporting
  # the checkout's revision as the export's
  out=$(cd "$dir" && GIT_CEILING_DIRECTORIES=$work python3 graftbench/run.py \
        --workload "$workload" --seed "$seed" --seconds 10 --trace 0 2>/dev/null | tail -1) || true
  s1=$(steal)
  python3 - "$side" "$seed" "$pair" "$s0" "$s1" "$out" "$log" <<'EOF'
import json, sys
side, seed, pair, s0, s1, out, log = sys.argv[1:]
(st0, tot0), (st1, tot1) = (map(int, s0.split()), map(int, s1.split()))
steal = 100.0 * (st1 - st0) / max(1, tot1 - tot0)
try:
    res = json.loads(out)
except ValueError:
    res = {"correct": False, "attempted": 0, "failed": -1, "metrics": {}}
rec = {"side": side, "seed": int(seed), "pair": int(pair), "steal_pct": round(steal, 1), **res}
with open(log, "a") as fh:
    fh.write(json.dumps(rec) + "\n")
vals = " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items()))
print(f"[ab] pair {pair} {side} seed={seed} correct={res['correct']} failed={res['failed']} "
      f"steal={steal:.1f}% {vals}", flush=True)
EOF
}

for i in $(seq 1 "$pairs"); do
  seed=$((base + i))
  if (( i % 2 )); then
    run_side A "$a_dir" "$seed" "$i"; run_side B "$root" "$seed" "$i"
  else
    run_side B "$root" "$seed" "$i"; run_side A "$a_dir" "$seed" "$i"
  fi
done

python3 - "$log" BENCHMARK.json <<'EOF'
import json, random, statistics, sys
recs = [json.loads(l) for l in open(sys.argv[1])]
metrics = json.load(open(sys.argv[2]))["end_to_end"]
def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]
def ratio_interval(got, draws=2000, level=0.90):
    """Paired bootstrap of median(B)/median(A): resample whole pairs."""
    rng = random.Random(7)
    ratios = []
    for _ in range(draws):
        s = [got[rng.randrange(len(got))] for _ in got]
        ma = statistics.median(x for x, _ in s)
        if ma:
            ratios.append(statistics.median(y for _, y in s) / ma)
    if not ratios:
        return float("nan"), float("nan")
    ratios.sort()
    tail = (1 - level) / 2
    return ratios[int(tail * (len(ratios) - 1))], ratios[int((1 - tail) * (len(ratios) - 1))]
by = {(r["pair"], r["side"]): r for r in recs}
pairs = sorted({r["pair"] for r in recs})
print(f"[ab] {'metric':<16} {'A median':>10} {'B median':>10} {'B/A':>6} {'90% interval':>15} "
      f"{'A IQR':>9} {'B wins':>7}")
for m in metrics:
    name, lower = m["name"], m["better"] == "lower"
    got = [(by[(p, "A")]["metrics"].get(name, {}).get("value"),
            by[(p, "B")]["metrics"].get(name, {}).get("value"))
           for p in pairs if (p, "A") in by and (p, "B") in by]
    got = [(a, b) for a, b in got if a is not None and b is not None]
    if not got:
        print(f"[ab] {name:<16} no data")
        continue
    a = [x for x, _ in got]; b = [y for _, y in got]
    ma, mb = statistics.median(a), statistics.median(b)
    q1, q3 = quartiles(sorted(a))
    wins = sum(1 for x, y in got if (y < x if lower else y > x))
    lo, hi = ratio_interval(got)
    over = lo > 1 + m["bound"] if lower else hi < 1 - m["bound"]
    print(f"[ab] {name:<16} {ma:>10.4g} {mb:>10.4g} {mb / ma if ma else float('nan'):>6.3f} "
          f"{f'[{lo:.3f}, {hi:.3f}]':>15} {q3 - q1:>9.4g} {wins:>4}/{len(got)}"
          f"{'  over bound' if over else ''}")
bad = [r for r in recs if not r["correct"] or r["failed"] != 0]
print(f"[ab] runs: {len(recs)}, not correct or failed > 0: {len(bad)}")
EOF
