#!/usr/bin/env python3
"""Outside-in benchmark of the graft engine (see perfbench/README.md).

One run, from the repository root:

  python3 perfbench/run.py --workload transcripts --seed 1 --seconds 10 --trace 0

builds the program and the benchmark if needed (perfbench/build.py), runs
the workload in one JVM, checks its outputs, and prints every metric by
name and unit. The last stdout line is one JSON object with the keys
correct, attempted, failed and metrics (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1).

Steadiness mode runs two sets of runs, alternating which set goes first, and
prints each metric's median, quartiles and relative spread per set and
whether the sets agree within the bounds in BENCHMARK.json:

  python3 perfbench/run.py --steady 10 --workload all --seconds 10 [--other DIR]

With --other DIR the second set runs the benchmark of another checkout
(for example the parent commit), which makes it a parent-versus-change
comparison.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

# JVM logs and trace files
OUT = os.path.join(ROOT, ".perfbench_out")
WORKLOADS = ["transcripts", "corpus_prep"]
# every run must end within this many seconds once built
RUN_LIMIT_S = 170
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
HEAP = "3g"


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def run_jvm(cmd, limit_s, log):
    """Run `cmd` in its own process group, echo its stdout, send its stderr
    to `log`, return the stdout lines. Kills the whole group and raises if
    it outlives `limit_s`."""
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)
    lines = []
    deadline = time.monotonic() + limit_s
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            if not line.startswith("{"):
                print(line, end="", flush=True)
            if time.monotonic() > deadline:
                raise TimeoutError(f"run exceeded {limit_s:.0f} s")
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        proc.stdout.close()
    if proc.returncode != 0:
        raise RuntimeError(f"benchmark JVM exited with {proc.returncode}")
    return lines


def run_one(workload, seed, seconds, trace):
    cp = build.build()
    t_start = time.monotonic()
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC"] + opens +
               ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
                "--seconds", str(seconds), "--trace", str(trace), "--work", work,
                "--cores", str(cores())])
        os.makedirs(OUT, exist_ok=True)
        log = os.path.join(OUT, f"jvm-{workload}-{seed}.log")
        lines = run_jvm(cmd, RUN_LIMIT_S - (time.monotonic() - t_start), log)
        result = json.loads(next(l for l in reversed(lines) if l.startswith("{")))
        print(f"[result] fail_ratio {result['failed'] / result['attempted']:.4f} "
              f"({result['failed']}/{result['attempted']} operations)")
        if trace:
            dst = os.path.join(OUT, f"trace-{workload}-{seed}.jsonl")
            shutil.move(os.path.join(work, "trace.jsonl"), dst)
            print(f"[trace] spans written to {os.path.relpath(dst, ROOT)}")
        return {k: result[k] for k in ("correct", "attempted", "failed", "metrics")}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def steady(args):
    """Two sets of runs (this checkout, and --other or this checkout again),
    alternating which set runs first; reports spread and agreement."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    dirs = {"A": ROOT, "B": os.path.abspath(args.other or ROOT)}
    workloads = [w["name"] for w in spec["workloads"]] if args.workload == "all" else [args.workload]
    report = {}
    ok = True
    for w in workloads:
        values = {"A": {}, "B": {}}
        for r in range(args.steady):
            seed = args.seed + r
            for side in ("AB" if r % 2 == 0 else "BA"):
                cmd = [sys.executable, os.path.join(dirs[side], "perfbench", "run.py"), "--workload", w,
                       "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
                out = subprocess.run(cmd, cwd=dirs[side], capture_output=True, text=True, check=True).stdout
                res = json.loads(out.strip().splitlines()[-1])
                if not res["correct"]:
                    ok = False
                for m, v in res["metrics"].items():
                    values[side].setdefault(m, []).append(v["value"])
                print(f"[steady] {w} seed {seed} set {side}: " +
                      " ".join(f"{m}={v['value']:.4g}" for m, v in res["metrics"].items()), flush=True)
        report[w] = {}
        for m, b in bounds.items():
            row = {}
            for side in "AB":
                q1, med, q3 = quartiles(values[side][m])
                row[side] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}
            worse = row["B"]["median"] / row["A"]["median"] - 1
            if b["better"] == "higher":
                worse = -worse
            spread_ok = all(row[s]["spread"] <= b["bound"] for s in "AB")
            row["B_worse_by"] = worse
            row["agree"] = abs(worse) <= b["bound"] and spread_ok
            ok = ok and row["agree"]
            report[w][m] = row
            print(f"[steady] {w:12s} {m:18s} " + "  ".join(
                f"{s}: median {row[s]['median']:.4g} q1 {row[s]['q1']:.4g} q3 {row[s]['q3']:.4g} "
                f"spread {row[s]['spread']:.3f}" for s in "AB") +
                f"  B worse by {worse:+.3f} (bound {b['bound']}) {'agree' if row['agree'] else 'DISAGREE'}")
    print(json.dumps({"steady": report, "agree": ok}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, help=" | ".join(WORKLOADS) + " (| all with --steady)")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steady", type=int, default=0, help="runs per set in steadiness mode")
    ap.add_argument("--other", help="checkout whose benchmark forms the second set")
    args = ap.parse_args()
    if args.steady:
        return steady(args)
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload}")
    result = run_one(args.workload, args.seed, args.seconds, args.trace)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # no result line: the run failed
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
