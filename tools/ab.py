#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on one benchmark workload.

Usage, from anywhere:

    python3 tools/ab.py --parent DIR --change DIR --workload pipeline_df \\
        --seeds 2101-2110 --out ab.jsonl [--seconds 18]

Runs one pair per seed: `python3 sqlbench/run.py --workload W --seed N
--seconds S --trace 0` in each checkout, the parent first on the first
pair and the change first on the next, alternating. Each run's result
line (the JSON line run.py ends with) is appended to `--out` as it
arrives, with its side, seed and order. A run that exits non-zero is
recorded with its exit code and counts in no pair.

At the end it prints, for every end-to-end metric of the parent's
BENCHMARK.json: each side's median and quartiles, the pairs the change
won (ties count for neither side), and whether the gain rule holds: the
change wins at least nine tenths of the pairs and the medians differ, in
the better direction, by more than the parent's interquartile range.
Nothing in either checkout is changed; run.py builds each checkout
itself.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    lo, _, hi = spec.partition("-")
    lo, hi = int(lo), int(hi or lo)
    if hi < lo:
        sys.exit(f"ab: empty seed range {spec}")
    return list(range(lo, hi + 1))


def run(checkout, workload, seed, seconds):
    """One benchmark run; (result dict or None, exit code, wall s)."""
    cmd = [sys.executable, "sqlbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True,
                       stdin=subprocess.DEVNULL)
    wall = time.time() - t0
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        return None, p.returncode, wall
    return json.loads(lines[-1]), 0, wall


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B, inclusive")
    ap.add_argument("--out", required=True, help="raw result lines (JSONL)")
    ap.add_argument("--seconds", type=float, default=18)
    args = ap.parse_args()

    with open(os.path.join(args.parent, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    pairs = []
    with open(args.out, "a") as out:
        for i, seed in enumerate(seeds(args.seeds)):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            got = {}
            for pos, side in enumerate(order):
                res, code, wall = run(sides[side], args.workload, seed, args.seconds)
                rec = {"side": side, "seed": seed, "first": pos == 0,
                       "workload": args.workload, "exit": code,
                       "wall_s": round(wall, 1), "result": res}
                out.write(json.dumps(rec) + "\n")
                out.flush()
                got[side] = res
                summary = "failed (exit %d)" % code if res is None else " ".join(
                    f"{m['name']}={res['metrics'][m['name']]['value']:.4g}"
                    for m in metrics) + f" correct={res['correct']} failed={res['failed']}"
                print(f"ab: seed {seed} {side}: {summary}", file=sys.stderr)
            if got["parent"] is not None and got["change"] is not None:
                pairs.append(got)

    print(f"# {args.workload}: {len(pairs)} complete pairs of "
          f"{len(seeds(args.seeds))}; seeds {args.seeds}")
    if not pairs:
        return
    incorrect = sum(1 for p in pairs for s in p.values()
                    if not s["correct"] or s["failed"])
    print(f"# runs with a failed check or statement: {incorrect}")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        val = {side: [p[side]["metrics"][name]["value"] for p in pairs]
               for side in ("parent", "change")}
        won = sum(1 for a, b in zip(val["parent"], val["change"])
                  if (b < a if lower else b > a))
        pq1, pmed, pq3 = quartiles(val["parent"])
        cq1, cmed, cq3 = quartiles(val["change"])
        gap = (pmed - cmed) if lower else (cmed - pmed)
        holds = won * 10 >= 9 * len(pairs) and gap > pq3 - pq1
        rel = (cmed - pmed) / pmed * 100 if pmed else float("nan")
        print(f"{name} ({m['unit']}, {m['better']} is better): "
              f"parent {pmed:.4g} [{pq1:.4g}, {pq3:.4g}]  "
              f"change {cmed:.4g} [{cq1:.4g}, {cq3:.4g}]  "
              f"({rel:+.1f} %)  won {won}/{len(pairs)}  "
              f"gain rule {'holds' if holds else 'does not hold'}")


if __name__ == "__main__":
    main()
