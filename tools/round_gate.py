#!/usr/bin/env python3
"""Round open/close gate (VERDICT r6 item 4): reconcile the builder's
view of the world with the DRIVER's artifacts, so a round can never again
close on stale local state ("157/157 green" while the driver saw 60
errors).

Checks, in order:
  1. Latest CORRECTNESS_r{N}.json: row count, green / no_oracle / error
     split. FAIL if any error rows.
  2. Expected query-surface size (``--expect N`` or inferred from a
     Verify outDir's oracle_sql.json via ``--verify-dir``): FAIL if the
     correctness file has fewer rows than expected (queries that THROW
     never reach the file, so a shrunken row count is the breakage
     signature this script exists to catch).
  3. Latest BENCH_r{N}.json: FAIL if n_errors > 0 (when present).

Usage:  tools/round_gate.py [--expect N] [--verify-dir DIR] [--repo DIR]
Exit 0 = gate green; exit 1 = gate red (details on stdout).
"""
import argparse, glob, json, os, re, sys


def latest(pattern):
    files = glob.glob(pattern)
    if not files:
        return None
    def rnum(p):
        m = re.search(r"_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1
    return max(files, key=rnum)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--expect", type=int, default=None,
                    help="expected number of gated queries (SparkEntry.board size)")
    ap.add_argument("--verify-dir", default=None,
                    help="a Verify outDir; its oracle_sql.json gives the expected size")
    args = ap.parse_args()

    failures = []

    expect = args.expect
    if expect is None and args.verify_dir:
        osql = os.path.join(args.verify_dir, "oracle_sql.json")
        if os.path.exists(osql):
            with open(osql) as f:
                expect = len(json.load(f))

    cpath = latest(os.path.join(args.repo, "CORRECTNESS_r*.json"))
    if cpath is None:
        failures.append("no CORRECTNESS_r*.json found")
    else:
        with open(cpath) as f:
            corr = json.load(f)
        greens = [q for q, r in corr.items() if r.get("hash_match") is True]
        no_oracle = [q for q, r in corr.items() if r.get("err") == "no_oracle"]
        errs = {q: r.get("err") for q, r in corr.items()
                if r.get("err") not in (None, "no_oracle")}
        not_green = [q for q, r in corr.items()
                     if r.get("err") is None and r.get("hash_match") is not True]
        print(f"{os.path.basename(cpath)}: {len(corr)} rows — "
              f"{len(greens)} green, {len(no_oracle)} no_oracle, "
              f"{len(errs)} error, {len(not_green)} hash-mismatch")
        if errs:
            failures.append(f"{len(errs)} queries errored: "
                            + ", ".join(sorted(errs)[:10]) + ("…" if len(errs) > 10 else ""))
        if not_green:
            failures.append(f"{len(not_green)} queries not hash-green: "
                            + ", ".join(sorted(not_green)[:10]))
        if expect is not None and len(corr) < expect:
            failures.append(
                f"correctness file has {len(corr)} rows but {expect} queries are "
                f"declared — {expect - len(corr)} queries never produced output "
                f"(thrown at analysis/run time?)")
        elif expect is not None:
            print(f"surface size OK: {len(corr)} rows >= {expect} declared")

    bpath = latest(os.path.join(args.repo, "BENCH_r*.json"))
    if bpath:
        with open(bpath) as f:
            bench = json.load(f)
        # driver wraps the Bench JSON line under "parsed"
        parsed = bench.get("parsed") if isinstance(bench.get("parsed"), dict) else bench
        n_err = parsed.get("n_errors", 0) or 0
        print(f"{os.path.basename(bpath)}: total={parsed.get('value')}s "
              f"n_queries={parsed.get('n_queries')} n_errors={n_err}")
        if n_err:
            failures.append(f"bench reported {n_err} erroring queries")

    if failures:
        print("\nGATE RED:")
        for f in failures:
            print(f"  - {f}")
        return 1
    print("\nGATE GREEN")
    return 0


if __name__ == "__main__":
    sys.exit(main())
