#!/usr/bin/env python3
"""Collect sets of benchmark runs and compare them against the bounds.

    # ten runs of one workload, one seed each, saved under DIR/<workload>/
    python3 perfbench/steadiness.py run --workload egal_ingest --seeds 1-10 --out DIR

    # spread of each end-to-end metric in one set
    python3 perfbench/steadiness.py spread DIR

    # two sets of the same code: spreads within bounds, medians agree
    python3 perfbench/steadiness.py compare DIR_A DIR_B

For every workload x end-to-end metric, the spread is the distance
between the first and third quartile of the runs
(statistics.quantiles(n=4)) over their median. `compare` fails when a
spread exceeds the metric's bound in BENCHMARK.json, or when the second set's median is worse than the first's by more than
the bound. Run from the root of a checkout.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys


def spec():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def seeds(text):
    out = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def run(a):
    s = spec()
    secs = a.seconds or s["run_seconds"]
    os.makedirs(os.path.join(a.out, a.workload), exist_ok=True)
    for seed in seeds(a.seeds):
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(secs), "--trace", "0"],
            capture_output=True, text=True)
        last = p.stdout.strip().splitlines()[-1:] if p.returncode == 0 else []
        if not last:
            sys.stderr.write(p.stderr[-2000:])
            sys.exit(f"{a.workload} seed {seed}: rc={p.returncode}, no result")
        path = os.path.join(a.out, a.workload, f"seed{seed}.json")
        with open(path, "w") as f:
            f.write(last[0] + "\n")
        r = json.loads(last[0])
        print(f"{a.workload} seed {seed}: correct={r['correct']} "
              f"attempted={r['attempted']} failed={r['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
              flush=True)


def load(d):
    """workload -> metric -> values, from DIR/<workload>/*.json."""
    out = {}
    for path in sorted(glob.glob(os.path.join(d, "*", "*.json"))):
        with open(path) as f:
            r = json.loads(f.read().strip().splitlines()[-1])
        w = os.path.basename(os.path.dirname(path))
        for k, v in r["metrics"].items():
            out.setdefault(w, {}).setdefault(k, []).append(v["value"])
    return out


def spread(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def report(sets):
    metrics = {m["name"]: m for m in spec()["end_to_end"]}
    ok = True
    first = sets[0]
    for w in sorted(first):
        for name, m in metrics.items():
            cells = []
            for data in sets:
                xs = data.get(w, {}).get(name)
                if not xs or len(xs) < 2:
                    cells.append("   (no runs)")
                    ok = False
                    continue
                sp = spread(xs)
                bad = sp > m["bound"]
                ok &= not bad
                cells.append(f"med {statistics.median(xs):10.4g} "
                             f"spread {sp:6.3f}{'!' if bad else ' '}")
            line = f"{w:15s} {name:15s} bound {m['bound']:.2f}  " + " | ".join(cells)
            if len(sets) == 2 and all(name in d.get(w, {}) for d in sets):
                a = statistics.median(sets[0][w][name])
                b = statistics.median(sets[1][w][name])
                worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
                bad = worse > m["bound"]
                ok &= not bad
                line += f" | worse by {worse:+.3f}{' FAIL' if bad else ''}"
            print(line)
    return ok


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--seconds", type=float)
    r.add_argument("--out", required=True)
    s = sub.add_parser("spread")
    s.add_argument("dir")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    a = ap.parse_args()
    if a.cmd == "run":
        run(a)
    elif a.cmd == "spread":
        sys.exit(0 if report([load(a.dir)]) else 1)
    else:
        sys.exit(0 if report([load(a.a), load(a.b)]) else 1)


if __name__ == "__main__":
    main()
