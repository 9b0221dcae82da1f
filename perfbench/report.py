#!/usr/bin/env python3
"""Print the per-layer table of every workload and the tracing overhead.

    python3 perfbench/report.py [--seed 1] [--seconds 15] [--workloads vis_session,batch]

Run from the repository root. For each workload it makes one untraced
and one traced run with the same seed (both through perfbench/run.py),
prints the traced run's span table (count, total and self time per
span, Spark jobs included) and per-layer metrics, and then the tracing
overhead: each end-to-end metric of the traced run minus that of the
untraced run. One pair of runs is one sample: repeat with other seeds
before reading a small overhead as real.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("vis_session", "batch")


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, text=True)
    lines = p.stdout.splitlines()
    e2e = next((json.loads(l.split(" ", 2)[2]) for l in lines
                if l.startswith("[perfbench] end_to_end ")), None)
    if p.returncode != 0 or e2e is None:
        sys.exit(f"{workload} --trace {trace} failed (exit {p.returncode}):\n" + "\n".join(lines[-5:]))
    return lines, e2e


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    a = ap.parse_args()
    for w in a.workloads.split(","):
        _, plain = run(w, a.seed, a.seconds, 0)
        lines, traced = run(w, a.seed, a.seconds, 1)
        print("\n".join(l for l in lines if not l.startswith("{") and
                        not l.startswith("[perfbench] end_to_end")))
        print(f"[perfbench] tracing overhead, {w} (traced minus untraced, seed {a.seed})")
        for name, m in plain.items():
            u, t = m["value"], traced[name]["value"]
            share = f"{(t - u) / u:+8.1%}" if u else "     n/a"
            print(f"  {name:<12} untraced {u:12.4f}  traced {t:12.4f}  {t - u:+12.4f} {m['unit']:<3} {share}")
        print()


if __name__ == "__main__":
    main()
