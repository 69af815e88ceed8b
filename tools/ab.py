"""Run a command alternately on this checkout and on a git ref, and
compare the metrics it reports.

Usage: python tools/ab.py REF --pairs N -- CMD...

Each pair runs CMD once in a detached `git worktree` of REF (made under
TMPDIR, removed at exit) and once in this checkout; the order swaps
from one pair to the next. `{pair}` in CMD becomes the pair number
(1..N). The last stdout line of every run must be a result in
perfbench's shape, {"metrics": {name: {"value": v, "unit": u}}}. A run
that exits nonzero stops the A/B. For every metric it prints each
side's median and quartiles, in how many pairs this checkout did
better (lower, unless BENCHMARK.json says higher) and every run's value.

Example, the parent commit against this checkout:
  python tools/ab.py HEAD~1 --pairs 5 -- python3 perfbench/run.py \\
      --workload olap_mix --seed {pair} --seconds 20 --trace 0
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIVE = "live"


def run(cmd: list[str], cwd: str, side: str, pair: int) -> dict[str, dict]:
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-2000:])
        raise SystemExit(f"ab: pair {pair}, side {side}: exit status {proc.returncode}")
    try:
        return json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]
    except (IndexError, KeyError, ValueError):
        raise SystemExit(f"ab: pair {pair}, side {side}: the last stdout line is not a result") from None


def quartiles(vals: list[float]) -> list[float]:
    return statistics.quantiles(vals, n=4, method="inclusive") if len(vals) > 1 else vals * 3


def report(ref: str, runs: dict[str, list[dict]]) -> None:
    better: dict[str, str] = {}
    spec_path = os.path.join(REPO, "BENCHMARK.json")
    if os.path.exists(spec_path):
        with open(spec_path) as fh:
            spec = json.load(fh)
        better = {m["name"]: m["better"] for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}
    every = runs[ref] + runs[LIVE]
    for name, first in runs[ref][0].items():
        if not all(name in r for r in every):
            continue
        old = [r[name]["value"] for r in runs[ref]]
        new = [r[name]["value"] for r in runs[LIVE]]
        sign = -1 if better.get(name) == "higher" else 1
        wins = sum(sign * b < sign * a for a, b in zip(old, new))
        print(f"{name} ({first['unit']}): {LIVE} better in {wins}/{len(old)} pairs")
        for side, vals in ((ref, old), (LIVE, new)):
            q1, med, q3 = quartiles(vals)
            print(f"  {side}: median {med:.4g} [{q1:.4g}-{q3:.4g}]  runs {' '.join(f'{v:.4g}' for v in vals)}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("ref")
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("cmd", nargs="+")
    args = ap.parse_args()
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")
    # a stopped A/B still removes its worktree
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = tempfile.mkdtemp(prefix="ab-")
    tree = os.path.join(tmp, "ref")
    runs: dict[str, list[dict]] = {args.ref: [], LIVE: []}
    try:
        subprocess.run(["git", "-C", REPO, "worktree", "add", "-q", "--detach", tree, args.ref], check=True)
        sides = [(args.ref, tree), (LIVE, REPO)]
        for pair in range(1, args.pairs + 1):
            cmd = [a.replace("{pair}", str(pair)) for a in args.cmd]
            for side, cwd in sides if pair % 2 else sides[::-1]:
                print(f"ab: pair {pair}, side {side}", file=sys.stderr, flush=True)
                runs[side].append(run(cmd, cwd, side, pair))
    finally:
        subprocess.run(["git", "-C", REPO, "worktree", "remove", "--force", tree], capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(["git", "-C", REPO, "worktree", "prune"], capture_output=True)
    report(args.ref, runs)
    return 0


if __name__ == "__main__":
    sys.exit(main())
