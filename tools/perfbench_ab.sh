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
