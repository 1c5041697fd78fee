#!/usr/bin/env bash
# Alternating-order A/B of one perfbench workload: a parent ref against the
# current checkout, one pair of fresh-JVM runs per seed.
#
#   tools/ab_pairs.sh <parent-ref> <workload> <seed>...
#
# Run from the root of the checkout. The parent ref is exported with
# `git archive` into $AB_DIR/parent (default /tmp/ab_pairs; re-exported on
# every call, so a stale tree is never measured); each side builds its own
# benchmark from its own sources on first use. Pair n runs the parent first
# when n is even and the checkout first when n is odd, so a drift across the
# sequence of runs cancels. Each run is
#   python3 perfbench/run.py --workload W --seed S --seconds R --trace 0
# with R the run length BENCHMARK.json declares (`run_seconds`).
#
# Prints one row per pair (op_s_p50, setup_s, shuffle_mb, quality on each
# side), then per metric the number of pairs the checkout won (ties count
# for neither side), each side's median and quartile spread (IQR), and
# whether the medians differ by more than the parent's IQR. Every result
# line is kept in $AB_DIR/results.jsonl.
#
# With AB_TRACE=1 it then runs one traced pair (`--trace 1`, first seed,
# parent first) and prints both sides' per-layer metrics for the
# workload's own layers — `spark.*` plus `dedup.*` (dedup_docs), `model.*`
# (als_serve) or `als.*` (the fits) — so one command shows the end-to-end
# result and the layer that moved. Traced lines go to $AB_DIR/trace.jsonl.
# It also prints, for every span name of the traced runs, each side's median
# jobs, stages and shuffle_write_bytes over the timed ops (a span's own
# counts plus those of the spans nested in it), read from the span JSONL
# each run writes to <checkout>/.bench_build/perfbench/traces/ — this shows
# the Spark work of layers that have no per-layer metric of their own.
set -euo pipefail

if [ $# -lt 3 ]; then
  sed -n '2,31p' "$0" | sed 's/^# \{0,1\}//'
  exit 2
fi
ref=$1
workload=$2
shift 2

root=$(git rev-parse --show-toplevel)
dir=${AB_DIR:-/tmp/ab_pairs}
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$root/BENCHMARK.json")
parent=$dir/parent
results=$dir/results.jsonl
traces=$dir/trace.jsonl

git -C "$root" rev-parse --verify --quiet "$ref^{commit}" > /dev/null ||
  { echo "ab_pairs: unknown ref $ref" >&2; exit 2; }
mkdir -p "$dir"
rm -rf "$parent"
mkdir -p "$parent"
git -C "$root" archive "$ref" | tar -x -C "$parent"
: > "$results"

run() { # side checkout seed pair [trace]
  local line trace=${5:-0} out=$results
  [ "$trace" = 1 ] && out=$traces
  line=$(cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
    --seconds "$seconds" --trace "$trace" 2> "$dir/$1-$3-t$trace.err" | tail -n 1) ||
    { echo "ab_pairs: $1 run failed on seed $3 (see $dir/$1-$3-t$trace.err)" >&2; exit 1; }
  printf '{"pair": %d, "seed": %d, "side": "%s", "result": %s}\n' \
    "$4" "$3" "$1" "$line" >> "$out"
  echo "ab_pairs: pair $4 seed $3 $1 (trace $trace) done" >&2
}

n=0
for seed in "$@"; do
  if [ $((n % 2)) -eq 0 ]; then
    run parent "$parent" "$seed" "$n"; run change "$root" "$seed" "$n"
  else
    run change "$root" "$seed" "$n"; run parent "$parent" "$seed" "$n"
  fi
  n=$((n + 1))
done
: > "$traces"
if [ "${AB_TRACE:-0}" = 1 ]; then
  run parent "$parent" "$1" 0 1; run change "$root" "$1" 0 1
fi

python3 - "$results" "$traces" "$ref" "$workload" "$parent" "$root" "$1" <<'EOF'
import json
import os
import statistics
import sys

path, trace_path, ref, workload, parent_dir, change_dir, first_seed = sys.argv[1:]
runs = [json.loads(line) for line in open(path)]
pairs = {}
for r in runs:
    pairs.setdefault(r["pair"], {"seed": r["seed"]})[r["side"]] = r["result"]
metrics = [("op_s_p50", "lower"), ("setup_s", "lower"), ("shuffle_mb", "lower"),
           ("quality", "higher")]


def value(result, name):
    return result["metrics"][name]["value"]


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return q[0], statistics.median(xs), q[2]


print(f"{workload}: parent {ref} vs checkout, {len(pairs)} pairs")
print("each metric: parent, then checkout")
print("pair seed first  " + "  ".join(f"{m:>23}" for m, _ in metrics))
for n in sorted(pairs):
    p, c = pairs[n]["parent"], pairs[n]["change"]
    first = "parent" if n % 2 == 0 else "change"
    cells = "  ".join(f"{value(p, m):>11.6g} {value(c, m):>11.6g}" for m, _ in metrics)
    print(f"{n:>4} {pairs[n]['seed']:>4} {first:<6} {cells}")
failed = sum(r["result"]["failed"] for r in runs)
print(f"failed ops: {failed} of {sum(r['result']['attempted'] for r in runs)}")
for m, better in metrics:
    ps = [value(pairs[n]["parent"], m) for n in pairs]
    cs = [value(pairs[n]["change"], m) for n in pairs]
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(ps, cs) if sign * (p - c) > 0)
    losses = sum(1 for p, c in zip(ps, cs) if sign * (c - p) > 0)
    pq, cq = quartiles(ps), quartiles(cs)
    diff = cq[1] - pq[1]
    rel = diff / pq[1] if pq[1] else float("nan")
    piqr = pq[2] - pq[0]
    print(f"{m}: checkout wins {wins}/{len(ps)} (losses {losses}); "
          f"median parent {pq[1]:.6g} [IQR {piqr:.4g}] checkout {cq[1]:.6g} "
          f"[IQR {cq[2] - cq[0]:.4g}]; diff {diff:+.6g} ({rel:+.1%}); "
          f"|diff| > parent IQR: {abs(diff) > piqr}")
traced = {r["side"]: r["result"] for r in map(json.loads, open(trace_path))}
if traced:
    family = ("dedup." if workload.startswith("dedup") else
              "model." if workload == "als_serve" else "als.")
    names = [n for n in traced["parent"]["metrics"]
             if n.startswith("spark.") or n.startswith(family)]
    print(f"traced pair, seed {runs[0]['seed']}: per-layer metrics, parent then checkout")
    for n in names:
        p, c = (traced[side]["metrics"][n]["value"] for side in ("parent", "change"))
        rel = f"{(c - p) / p:+.1%}" if p else "n/a"
        print(f"{n:<40} {p:>12.6g} {c:>12.6g}  {rel}")

    def span_medians(checkout):
        """Per span name: median inclusive (jobs, stages, shuffle bytes) over timed ops."""
        f = os.path.join(checkout, ".bench_build", "perfbench", "traces",
                         f"{workload}-seed{first_seed}.jsonl")
        spans = [json.loads(line) for line in open(f)]
        children = {}
        for s in spans:
            children.setdefault(s["parent"], []).append(s)

        def inclusive(s, key):
            return s[key] + sum(inclusive(ch, key) for ch in children.get(s["id"], []))

        keys = ("jobs", "stages", "shuffle_write_bytes")
        by_name = {}
        for s in spans:
            if s["op"] >= 0:
                by_name.setdefault(s["name"], []).append(s)
        return {name: tuple(statistics.median(inclusive(s, k) for s in ss) for k in keys)
                for name, ss in by_name.items()}

    sides = [span_medians(parent_dir), span_medians(change_dir)]
    print("traced pair: per-span medians over timed ops, parent -> checkout")
    print(f"{'span':<40} {'jobs':>13} {'stages':>13} {'shuffle_write_bytes':>25}")
    for name in list(sides[0]) + [n for n in sides[1] if n not in sides[0]]:
        p, c = (side.get(name, (float("nan"),) * 3) for side in sides)
        cells = [f"{a:g} -> {b:g}" for a, b in zip(p, c)]
        print(f"{name:<40} {cells[0]:>13} {cells[1]:>13} {cells[2]:>25}")
EOF
