#!/usr/bin/env python3
"""Count the classes Spark's code generator compiled, from its DEBUG log.

Spark's CodeGenerator logs the source of every class it compiles at
DEBUG, each line prefixed with its number as `/* NNN */`, and
"Code generated in N ms" at INFO. `tools/log4j2-codegen.properties`
writes both to a file of their own. Build first (a plain run), so the
logged JVM is the benchmark's and not sbt's:

    python3 sqlbench/run.py --workload pipeline_df --seed 5 --seconds 18 --trace 0
    JAVA_TOOL_OPTIONS=-Dlog4j2.configurationFile=tools/log4j2-codegen.properties \\
      python3 sqlbench/run.py --workload pipeline_df --seed 5 --seconds 18 --trace 0
    python3 tools/codegen_census.py target/codegen.log

Prints the number of compiles, the number of distinct sources (a source
is its text with the line-number prefixes stripped), the summed compile
time, and each source compiled more than once: how often, by which
threads (`task` for an executor's task threads), a digest of it and the
line that names its class. `--since` and `--until` (HH:MM:SS[.mmm], the
log's clock) keep only the records logged in that window, say the last
warm pass.
"""
import argparse
import collections
import hashlib
import re
import sys

RECORD = re.compile(r"^(\d\d:\d\d:\d\d\.\d{3}) \[(.*)\] (\w+) (\S+): (.*)$")
LINE_NO = re.compile(r"^/\* \d+ \*/ ?")
TIME = re.compile(r"Code generated in ([\d.]+) ms")


def records(path):
    """Yields (time, thread, level, message lines) for each log record."""
    head, body = None, []
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = RECORD.match(line)
            if m:
                if head:
                    yield head + (body,)
                head, body = (m.group(1), m.group(2), m.group(3)), [m.group(5)]
            elif head:
                body.append(line)
    if head:
        yield head + (body,)


def thread_kind(name):
    """`task` for an executor's task threads, else the name without its
    trailing number (`shuffle-exchange-12` -> `shuffle-exchange`)."""
    if name.startswith("Executor task launch worker"):
        return "task"
    return re.sub(r"-\d+$", "", name)


def label(source):
    """A short digest of the source and the line that names its class."""
    digest = hashlib.sha1("\n".join(source).encode()).hexdigest()[:8]
    for line in source:
        if "codegenStageId" in line or re.search(r"\bclass Specific\w+", line):
            return f"{digest}  {line.strip()}"
    return digest


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--since", default="")
    ap.add_argument("--until", default="")
    a = ap.parse_args()
    compiles = collections.Counter()
    threads = collections.defaultdict(collections.Counter)
    ms = 0.0
    for ts, thread, level, lines in records(a.log):
        if ts < a.since or (a.until and ts > a.until):
            continue
        t = TIME.search(lines[0])
        if t:
            ms += float(t.group(1))
        elif level == "DEBUG" and any(LINE_NO.match(l) for l in lines):
            src = tuple(LINE_NO.sub("", l) for l in lines if LINE_NO.match(l))
            compiles[src] += 1
            threads[src][thread_kind(thread)] += 1
    if not compiles:
        sys.exit(f"{a.log}: no compiled sources logged (was CodeGenerator at DEBUG?)")
    repeated = [(n, s) for s, n in compiles.most_common() if n > 1]
    print(f"compiles: {sum(compiles.values())}")
    print(f"distinct sources: {len(compiles)}")
    print(f"compile ms: {ms:.1f}")
    print(f"sources compiled more than once: {len(repeated)} "
          f"({sum(n for n, _ in repeated)} compiles)")
    for n, src in repeated:
        by = ", ".join(f"{k} {v}" for k, v in sorted(threads[src].items()))
        print(f"  {n:4d}  [{by}]  {label(src)[:100]}")


if __name__ == "__main__":
    main()
