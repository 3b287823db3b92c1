#!/usr/bin/env python3
"""Inclusive share of named frames in the main thread's measured passes.

Reads the JSON that `jfr print` writes for execution samples:

    jfr print --json --stack-depth 1024 --events jdk.ExecutionSample rec.jfr > rec.json
    python3 tools/jfr_share.py rec.json --after 25 \
        QueryPlan.seqToExpressions GeneratePredicate StoredRows.sameElements

Keeps the samples of the thread named `main` whose stack holds
`sqlbench.Runner.runPass` (the benchmark's passes) and that were taken
at least `--after` seconds after the first sample of the recording, so
the warm-up passes drop out. A kept sample is a write when its stack
holds `graft.Dml$.dispatch` and a read otherwise: every statement enters
that dispatch, but a query leaves it after its pattern ladder, so the
few samples a read takes there count as writes.

For each name it prints the inclusive count (samples with at least one
matching frame) as a share of all kept samples, of the reads and of the
writes, and the self count (samples whose top frame matches) as a share
of all kept samples. A name matches a frame when it is a substring of
`class.method`, with the method name also tried without Scala's mangled
prefix (`org$apache$...$$seqToExpressions`) and suffix (`$1`,
`$adapted`).
"""
import argparse
import datetime
import json
import re
import sys

THREAD = "main"
PASS_FRAME = "sqlbench.Runner.runPass"
WRITE_FRAME = "graft.Dml$.dispatch"

def frame_names(frame):
    """The `class.method` spellings a name is matched against."""
    method = frame.get("method") or {}
    cls = ((method.get("type") or {}).get("name") or "").replace("/", ".")
    name = method.get("name") or ""
    plain = re.sub(r"(\$\d+|\$adapted)+$", "", re.sub(r"^.*\$\$", "", name))
    return {f"{cls}.{name}", f"{cls}.{plain}"}


def stamp(text):
    """Seconds since the epoch of a JFR start time (nanoseconds dropped)."""
    text = re.sub(r"(\.\d{6})\d+", r"\1", text.replace("Z", "+00:00"))
    return datetime.datetime.fromisoformat(text).timestamp()


def events(text):
    """The objects of the recording's "events" array, decoded one at a
    time: a long recording's JSON is hundreds of MB, too large to hold as
    Python objects all at once."""
    dec = json.JSONDecoder()
    i = text.index("[", text.index('"events"')) + 1
    while True:
        while text[i] in " \t\r\n,":
            i += 1
        if text[i] == "]":
            return
        event, i = dec.raw_decode(text, i)
        yield event


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("json", help="output of jfr print --json (- for stdin)")
    ap.add_argument("names", nargs="+", help="frame names to report")
    ap.add_argument("--after", type=float, default=0.0,
                    help="seconds after the first sample to start counting")
    args = ap.parse_args()

    with (sys.stdin if args.json == "-" else open(args.json)) as fh:
        text = fh.read()

    def matches(names, needle):
        return any(needle in n for n in names)

    start = None
    samples = []  # (seconds, is_write, frame spellings, top frame's spellings)
    for e in events(text):
        if e.get("type") != "jdk.ExecutionSample":
            continue
        v = e["values"]
        t = stamp(v["startTime"])
        start = t if start is None else min(start, t)
        if (v.get("sampledThread") or {}).get("javaName") != THREAD:
            continue
        frames = (v.get("stackTrace") or {}).get("frames") or []
        names = set()
        for f in frames:
            names |= frame_names(f)
        if matches(names, PASS_FRAME):
            samples.append((t, matches(names, WRITE_FRAME), names, frame_names(frames[0])))
    if start is None:
        sys.exit("jfr_share: no jdk.ExecutionSample events")
    kept = [s[1:] for s in samples if s[0] - start >= args.after]

    total = len(kept)
    writes = sum(1 for w, _, _ in kept if w)
    reads = total - writes
    print(f"{THREAD}-thread samples in {PASS_FRAME} from {args.after:g} s: "
          f"{total} ({reads} reads, {writes} writes)")

    def pct(n, d):
        return f"{100.0 * n / d:5.1f} % ({n})" if d else "    - (0)"

    width = max(len(n) for n in args.names)
    print(f"{'frame':<{width}}  {'all':>13}  {'reads':>13}  {'writes':>13}  {'self':>13}")
    for name in args.names:
        hit_r = sum(1 for w, ns, _ in kept if not w and matches(ns, name))
        hit_w = sum(1 for w, ns, _ in kept if w and matches(ns, name))
        top = sum(1 for _, _, tn in kept if matches(tn, name))
        print(f"{name:<{width}}  {pct(hit_r + hit_w, total):>13}  "
              f"{pct(hit_r, reads):>13}  {pct(hit_w, writes):>13}  {pct(top, total):>13}")


if __name__ == "__main__":
    main()
