#!/usr/bin/env python3
"""End-to-end benchmark of the graft Spark engine.

Usage, from the repository root:
  python3 perfbench/run.py --workload report_cycle|ann_serve \
      --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source (perfbench/build.py), runs
one workload in one JVM on local[nproc] (one client thread, closed loop),
checks the outputs, prints every metric with its unit and, as the last
line, one JSON object {correct, attempted, failed, metrics}. --trace 0
reports the end-to-end metrics, --trace 1 the per-layer ones and writes
the span trace to .bench_build/traces/. Exits non-zero when a
correctness check fails. perfbench/README.md describes the workloads
and the metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import stats  # noqa: E402
import test_stats  # noqa: E402

OUT = build.OUT
JVM_TIMEOUT_S = 165
JAVA_OPTS = ["-Xmx3g", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def self_test():
    result = unittest.TextTestRunner(stream=open(os.devnull, "w")).run(
        unittest.defaultTestLoader.loadTestsFromModule(test_stats))
    if not result.wasSuccessful():
        for _, tb in result.failures + result.errors:
            print(tb, file=sys.stderr)
        sys.exit("perfbench: self-tests of the benchmark's arithmetic failed")


def cpu_jiffies():
    """(steal, total) jiffies of all CPUs from /proc/stat, or None where
    there is no such file. Steal is time the hypervisor ran something
    else while this VM's CPUs were ready to run."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return None


def run_jvm(args, classes, jars, run_dir):
    raw = os.path.join(run_dir, "raw.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={os.path.abspath(tmp)}", "-cp",
                                   os.pathsep.join([classes, os.path.join(jars, "*")]),
                                   "graft.perfbench.Main",
                                   "--workload", args.workload, "--seed", str(args.seed),
                                   "--seconds", str(args.seconds), "--trace", str(args.trace),
                                   "--data", os.path.join(HERE, "data"),
                                   "--work", os.path.abspath(run_dir), "--out", raw])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.abspath(os.path.join(run_dir, "spark-local")))
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:  # on a timeout or a signal, the JVM ends with us
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        tail = open(log_path, errors="replace").read()[-3000:]
        sys.exit(f"perfbench: JVM {'timed out' if rc is None else f'exited {rc}'}\n{tail}")
    with open(raw) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(stats.SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(f"perfbench: stopped by signal {signum}"))
    self_test()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    unit = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    stats.check_names(unit)
    try:
        classes, jars = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")

    run_dir = os.path.join(OUT, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        j0 = cpu_jiffies()
        rec = run_jvm(args, classes, jars, run_dir)
        j1 = cpu_jiffies()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    rec["diag"]["steal_frac"] = ((j1[0] - j0[0]) / (j1[1] - j0[1])
                                 if j0 and j1 and j1[1] > j0[1] else None)
    ops = rec["ops"]
    failed = [o for o in ops if o["error"] is not None]
    if args.trace:
        metrics, tables = stats.per_layer(rec)
    else:
        metrics, tables = stats.end_to_end(rec)
    if sorted(metrics) != sorted(unit):
        sys.exit(f"perfbench: metrics {sorted(metrics)} do not match BENCHMARK.json {sorted(unit)}")

    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "timed_s": (rec["timed_ms"][1] - rec["timed_ms"][0]) / 1e3,
               "setup_s": rec["setup_s"], "diag": rec["diag"],
               "metrics": metrics}
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    result_path = os.path.join(OUT, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if args.trace:
        untraced = result_path.replace("-trace1.json", "-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["timed_s"]
            summary["tracing_overhead"] = summary["timed_s"] / base
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        trace_path = os.path.join(OUT, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as fh:
            json.dump(dict(summary, spans=rec["trace"]["spans"], **tables), fh)
    else:
        summary["diag"] = dict(summary["diag"], **tables)
        summary["ops_ms"] = [[o["kind"], o["name"], o["t1Ms"] - o["t0Ms"]] for o in ops]
    with open(result_path, "w") as fh:
        json.dump(summary, fh)

    # human-readable report
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"{len(ops)} operations, {len(failed)} failed, timed {summary['timed_s']:.2f} s, "
          f"setup runs {', '.join(f'{s:.2f}' for s in rec['setup_s'])} s")
    d = rec["diag"]
    print(f"  machine: loadavg {d['loadavg_start']:.2f} at start, cpu probe "
          f"{d['probe_start_ms']:.0f} -> {d['probe_end_ms']:.0f} ms; "
          f"untimed prepare {d['prepare_s']:.2f} s, checks {d['checks_s']:.2f} s")
    if d["steal_frac"] is not None:
        print(f"  hypervisor steal: {d['steal_frac']:.1%} of all CPU time during the run")
    if not args.trace:
        print(f"  request tail percentile p{tables['request_tail_percentile']:.1f} "
              f"of {tables['request_ops']} requests; {tables['batch_ops']} batch operations")
    if "tracing_overhead" in summary:
        print(f"  tracing overhead: traced/untraced timed wall = {summary['tracing_overhead']:.3f}")
    for o in failed:
        print(f"  FAILED {o['kind']} {o['name']}: {o['error']}")
    for name in unit:
        print(f"  {name:40s} {metrics[name]:>16.4f} {unit[name]}")
    for c in rec["checks"]:
        print(f"  check {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail'][:300]})")

    correct = all(c["ok"] for c in rec["checks"]) and bool(rec["checks"])
    print(json.dumps({
        "correct": correct, "attempted": len(ops), "failed": len(failed),
        "metrics": {k: {"value": min(v, sys.float_info.max), "unit": unit[k]}
                    for k, v in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
