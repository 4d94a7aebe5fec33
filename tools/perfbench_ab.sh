#!/usr/bin/env bash
# Interleaved A/B runs of perfbench: a git revision against the working tree.
#
#   tools/perfbench_ab.sh <rev> <workload> <first-seed> <pairs> [seconds]
#
# Exports <rev> and the working tree with `git archive` into two clean
# copies, base/ and change/, under $AB_DIR (default: a new temporary
# directory; earlier base/ and change/ copies there are replaced). The
# working tree is taken through `git stash create`, so it holds tracked
# files as they are now plus staged new files; the checkout itself is
# not touched. Then, for each seed first-seed .. first-seed +
# pairs - 1, it runs `python3 perfbench/run.py --workload <workload>
# --seed <seed> --seconds <seconds>` (default 10 s) in both copies,
# alternating which side runs first, and prints one line per pair: the
# seed, the side that ran first, and for each side its correct/failed
# flags and every end-to-end metric. Each run's JSON line is kept as
# $AB_DIR/<side>.<workload>.<seed>.json. The first run in each copy
# also compiles that copy (cached for the later runs).
#
# After the pairs it prints, for each end-to-end metric, each side's
# median [Q1, Q3] over the pairs in which both sides gave a result
# (quartiles by linear interpolation), the change's median relative to
# the base's, and the number of those pairs in which the change read
# lower.
#
# Last, it runs each side once more with `--trace 1` at first-seed and
# prints base -> change for the counters host load cannot move: Spark
# jobs, stages and tasks, shuffle bytes written and records, cache
# bytes written, streaming micro-batches and Catalyst query executions.
# Those runs are kept as $AB_DIR/<side>.<workload>.<first-seed>.trace.json.
set -euo pipefail
rev=${1:?usage: $0 <rev> <workload> <first-seed> <pairs> [seconds]}
workload=${2:?workload}
first=${3:?first seed}
pairs=${4:?pairs}
secs=${5:-10}
root=$(git rev-parse --show-toplevel)
dir=${AB_DIR:-$(mktemp -d)}
tree=$(git -C "$root" stash create)
for side in "base $rev" "change ${tree:-HEAD}"; do
  set -- $side
  rm -rf "${dir:?}/$1"
  mkdir -p "$dir/$1"
  git -C "$root" archive "$2" | tar -x -C "$dir/$1"
done
echo "# base=$rev change=${tree:-HEAD} dir=$dir workload=$workload seconds=$secs"
for ((i = 0; i < pairs; i++)); do
  seed=$((first + i))
  order="base change"
  ((i % 2)) && order="change base"
  for side in $order; do
    out="$dir/$side.$workload.$seed.json"
    (cd "$dir/$side" && python3 perfbench/run.py --workload "$workload" \
      --seed "$seed" --seconds "$secs" 2>/dev/null | tail -1) > "$out" || true
  done
  python3 - "$dir" "$workload" "$seed" $order <<'EOF'
import json, sys
d, workload, seed, first = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4]
cells = []
for side in ("base", "change"):
    try:
        with open(f"{d}/{side}.{workload}.{seed}.json") as f:
            r = json.loads(f.read())
        ms = " ".join(f"{k}={v['value']:.3f}" for k, v in r["metrics"].items())
        cells.append(f"{side}: correct={r['correct']} failed={r['failed']} {ms}")
    except (OSError, ValueError, KeyError):
        cells.append(f"{side}: no result")
print(f"seed={seed} first={first} | " + " | ".join(cells), flush=True)
EOF
done
python3 - "$dir" "$workload" "$first" "$pairs" <<'EOF'
import json, statistics, sys
d, workload, first, pairs = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
runs = []
for seed in range(first, first + pairs):
    try:
        pair = []
        for side in ("base", "change"):
            with open(f"{d}/{side}.{workload}.{seed}.json") as f:
                pair.append(json.loads(f.read())["metrics"])
        runs.append(pair)
    except (OSError, ValueError, KeyError):
        pass
def spread(xs):
    if len(xs) < 2:
        return f"{xs[0]:.3f} [-, -]"
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return f"{q2:.3f} [{q1:.3f}, {q3:.3f}]"
print(f"# summary over {len(runs)} of {pairs} pairs: base median [Q1, Q3] | "
      "change median [Q1, Q3] | change/base - 1 | pairs with change lower")
for k in (runs[0][0] if runs else {}):
    b = [p[0][k]["value"] for p in runs]
    c = [p[1][k]["value"] for p in runs]
    mb = statistics.median(b)
    rel = f"{statistics.median(c) / mb - 1:+.1%}" if mb else "n/a"
    lower = sum(y < x for x, y in zip(b, c))
    print(f"{k}: base {spread(b)} | change {spread(c)} | {rel} | {lower}/{len(runs)}")
EOF
for side in base change; do
  (cd "$dir/$side" && python3 perfbench/run.py --workload "$workload" \
    --seed "$first" --seconds "$secs" --trace 1 2>/dev/null | tail -1) \
    > "$dir/$side.$workload.$first.trace.json" || true
done
python3 - "$dir" "$workload" "$first" <<'EOF'
import json, sys
d, workload, seed = sys.argv[1], sys.argv[2], sys.argv[3]
sides = []
for side in ("base", "change"):
    try:
        with open(f"{d}/{side}.{workload}.{seed}.trace.json") as f:
            sides.append(json.loads(f.read())["metrics"])
    except (OSError, ValueError, KeyError):
        sides.append({})
print(f"# counters, one --trace 1 run per side at seed {seed}: base -> change")
for k in ("sched.jobs", "sched.stages", "sched.tasks", "shuffle.write_bytes",
          "shuffle.records", "cache.bytes_written", "streams.batches",
          "catalyst.executions"):
    b, c = (m[k]["value"] if k in m else None for m in sides)
    fmt = lambda v: "n/a" if v is None else f"{v:.0f}"
    delta = "" if b is None or c is None else f" ({c - b:+.0f})"
    print(f"{k}: {fmt(b)} -> {fmt(c)}{delta}")
EOF
