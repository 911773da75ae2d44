#!/usr/bin/env python3
"""Compare two checkouts on perfbench in alternating pairs.

Usage:
  tools/bench_pairs.py <parentDir> <changeDir> --workload W --seeds 301-310
      [--seconds 30] [--trace 0|1]

For each seed, runs `python3 perfbench/run.py --workload W --seed N
--seconds S --trace T` in the parent checkout and in the change checkout,
one after the other; the order flips on every pair, so a drift in the
machine's speed falls on both sides alike. Each run's last stdout line is
its JSON result. Prints, per metric, the median and the interquartile
range (IQR) of each side, the median's relative change and the number of
pairs in which the change read lower (a raw count, whichever way the
metric is better). A metric the change never reported is listed apart.
Then, per side, the operations that failed out of those attempted (summed
over the runs) and the median of the runs' start and end CPU probes, read
from each run's `machine:` line. Exits non-zero when a run printed no
result or reported `"correct": false`, or when the change failed a larger
share of its operations than the parent; the table still prints.
"""
import argparse
import json
import re
import statistics
import subprocess
import sys

PROBE = re.compile(r"machine:.*cpu probe (\d+) -> (\d+) ms")


def seed_range(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(checkout, args, seed):
    """The JSON result of one perfbench run, or None when it printed none,
    with the run's (start, end) CPU probe in ms under "probe" when its
    `machine:` line gave one."""
    cmd = ["python3", "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True).stdout
    lines = out.strip().splitlines()
    try:
        res = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None
    probe = PROBE.search(out)
    if res is not None and probe:
        res["probe"] = (float(probe.group(1)), float(probe.group(2)))
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seed_range, help="N or N-M")
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    pairs, bad = [], []
    for i, seed in enumerate(args.seeds):
        sides = [("parent", args.parent), ("change", args.change)]
        got = {}
        for name, checkout in (sides if i % 2 == 0 else sides[::-1]):
            res = run(checkout, args, seed)
            got[name] = res
            if res is None or not res.get("correct"):
                bad.append(f"seed {seed} {name}: " + ("no result" if res is None else "correct=false"))
        pairs.append({"seed": seed, **got})
        print(f"seed {seed} done", file=sys.stderr, flush=True)

    ok = [p for p in pairs if p["parent"] and p["change"]]
    names = sorted(set().union(*(p["parent"]["metrics"] for p in ok))) if ok else []
    print(f"{args.workload}: {len(ok)} pairs (seeds {args.seeds[0]}-{args.seeds[-1]})")
    print(f"{'metric':40s} {'parent med':>12s} {'IQR':>21s} {'change med':>12s} {'IQR':>21s}"
          f" {'delta':>8s} {'change<parent':>14s}")
    missing = []
    for m in names:
        both = [(p["parent"]["metrics"][m]["value"], p["change"]["metrics"][m]["value"])
                for p in ok if m in p["parent"]["metrics"] and m in p["change"]["metrics"]]
        if not both:
            missing.append(m)
            continue
        par, chg = [b[0] for b in both], [b[1] for b in both]
        mp, mc = statistics.median(par), statistics.median(chg)
        (p1, p3), (c1, c3) = quartiles(par), quartiles(chg)
        delta = f"{(mc - mp) / mp:+.1%}" if mp else "n/a"
        lower = sum(c < p for p, c in both)
        print(f"{m:40s} {mp:12.4f} {f'[{p1:.4f}, {p3:.4f}]':>21s} {mc:12.4f}"
              f" {f'[{c1:.4f}, {c3:.4f}]':>21s} {delta:>8s} {f'{lower}/{len(both)}':>14s}")
    for m in missing:
        print(f"{m:40s} reported by the parent only")
    share = {}
    for side in ("parent", "change"):
        runs = [p[side] for p in pairs if p[side]]
        failed = sum(r.get("failed", 0) for r in runs)
        attempted = sum(r.get("attempted", 0) for r in runs)
        share[side] = failed / attempted if attempted else 0.0
        probes = [r["probe"] for r in runs if "probe" in r]
        probe = (f"cpu probe median {statistics.median(p[0] for p in probes):.0f} -> "
                 f"{statistics.median(p[1] for p in probes):.0f} ms" if probes else "no cpu probe")
        print(f"{side}: {failed}/{attempted} operations failed; {probe}")
    if share["change"] > share["parent"]:
        bad.append(f"the change failed {share['change']:.2%} of its operations, "
                   f"the parent {share['parent']:.2%}")
    for b in bad:
        print(f"FAILED {b}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
