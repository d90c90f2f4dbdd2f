#!/usr/bin/env python3
"""Alternating A/B runs of perfbench between two checkouts.

Usage, from anywhere:

    python3 scripts/ab_perfbench.py --base /path/to/parent --change /path/to/change \
        --workload serve_hit --seeds 41-50 [--seconds 15] [--trace 0] [--out ab.json]

For each seed it runs `python3 perfbench/run.py` once in each checkout,
one after the other, and swaps which side goes first on every other seed,
so slow drift of the machine falls on both sides alike. Each checkout
builds its own engine on first use.

Printed per end-to-end metric of the change's BENCHMARK.json: each side's
q1 / median / q3, IQR/median, the change of the median, and on how many
seeds the change was better. Then the `correct` and `failed` totals per
side and, per run, `setup_s_each` from the detail line. With `--trace 1`
the per-layer metrics are reported the same way. `--out` keeps every
run's detail and result objects as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            seeds.extend(range(int(lo), int(hi) + 1))
        elif part:
            seeds.append(int(part))
    return seeds


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, stdin=subprocess.DEVNULL)
    lines = [line for line in proc.stdout.splitlines() if line.strip()]
    if proc.returncode != 0 or len(lines) < 2 or not lines[-1].startswith('{"correct"'):
        return {"error": f"exit {proc.returncode}", "stderr_tail": proc.stderr.splitlines()[-5:]}
    return {"detail": json.loads(lines[-2])["detail"], "result": json.loads(lines[-1])}


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def spread(q):
    """IQR over median; NaN for a metric whose median is 0 (e.g. spill bytes)."""
    return (q[2] - q[0]) / q[1] if q[1] else float("nan")


def metric(run, name):
    m = run.get("result", {}).get("metrics", {}).get(name)
    return None if m is None else m["value"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 41-50 or 1,3,5")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--out", help="write every run's output here as JSON")
    args = ap.parse_args()

    sides = {"base": os.path.abspath(args.base), "change": os.path.abspath(args.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = {"base": [], "change": []}
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            out = run_once(sides[side], args.workload, seed, args.seconds, args.trace)
            out["seed"] = seed
            runs[side].append(out)
            status = out.get("error") or f"setup_s_each={out['detail'].get('setup_s_each')}"
            print(f"seed {seed} {side}: {status}", file=sys.stderr, flush=True)

    def report(name, better):
        pairs = [(metric(b, name), metric(c, name)) for b, c in zip(runs["base"], runs["change"])]
        pairs = [(b, c) for b, c in pairs if b is not None and c is not None]
        if not pairs:
            return
        base, change = [b for b, _ in pairs], [c for _, c in pairs]
        wins = sum(1 for b, c in pairs if (c < b if better == "lower" else c > b))
        bq, cq = quartiles(base), quartiles(change)
        rel = (cq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
        print(f"{name:34s} base {bq[0]:10.4g} {bq[1]:10.4g} {bq[2]:10.4g} (IQR/med {spread(bq):.3f})"
              f" | change {cq[0]:10.4g} {cq[1]:10.4g} {cq[2]:10.4g} (IQR/med {spread(cq):.3f})"
              f" | median {rel:+.1%} | change better {wins}/{len(pairs)} ({better} is better)")

    print(f"workload {args.workload}, seeds {args.seeds}, {args.seconds} s, trace {args.trace}")
    print("metric                             side q1 / median / q3")
    for m in bench["end_to_end"]:
        report(m["name"], m["better"])
    if args.trace == "1":
        for m in bench.get("per_layer", []):
            report(m["name"], m["better"])
    for side in ("base", "change"):
        ok = [r for r in runs[side] if "result" in r]
        print(f"{side}: runs {len(ok)}/{len(runs[side])} ok, "
              f"correct {sum(1 for r in ok if r['result']['correct'])}/{len(ok)}, "
              f"attempted {sum(r['result']['attempted'] for r in ok)}, "
              f"failed {sum(r['result']['failed'] for r in ok)}")
        for r in runs[side]:
            each = r.get("detail", {}).get("setup_s_each")
            print(f"  seed {r['seed']}: setup_s_each "
                  f"{[round(x, 3) for x in each] if each else r.get('error')}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"args": vars(args), "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
