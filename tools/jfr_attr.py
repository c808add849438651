#!/usr/bin/env python3
"""Count JFR execution samples per thread group and per marker frame.

    jfr print --json --stack-depth 1024 --events jdk.ExecutionSample rec.jfr \
        | python3 tools/jfr_attr.py - [--marker FRAME ...] [--window FROM,TO]

Reads the JSON that `jfr print --json` writes (a file, or `-` for stdin)
one event at a time, so a recording of several GB of JSON needs little
memory. Record with `-XX:FlightRecorderOptions:stackdepth=1024`: the
default depth of 64 frames cuts Spark's serialization stacks before
their callers, and a truncated stack can match no caller marker.

Each sample's thread falls in one group (stream execution, executor,
main, dag-scheduler, stage, other; first matching pattern below). A
marker is a substring of a frame's `package.Class.method`, e.g.
`SparkClosureCleaner.clean`; `A>B` matches a sample whose stack holds a
frame matching A below (a caller of) a frame matching B, e.g.
`RDD.collect>SparkClosureCleaner.clean`. A
sample counts once per marker however often the marker repeats in it.
`--window FROM,TO` keeps the samples taken FROM to TO seconds after the
first sample of the input.

Prints one table: a row per marker (and `all`), a column per group.
"""
import argparse
import datetime
import json
import re
import sys

GROUPS = [
    ("stream", re.compile(r"^stream execution thread")),
    ("executor", re.compile(r"^Executor task launch worker")),
    ("main", re.compile(r"^main$")),
    ("dag-scheduler", re.compile(r"^dag-scheduler")),
    # adaptive query stages, broadcasts and subqueries materialize on pools
    ("stage", re.compile(r"^(broadcast-exchange|shuffle-exchange|subquery|QueryStageCreator|"
                         r"spark-listener-group|task-result-getter)")),
]
CHUNK = 1 << 22


def group_of(thread):
    name = (thread or {}).get("javaName") or (thread or {}).get("osName") or ""
    return next((g for g, pat in GROUPS if pat.search(name)), "other")


def events(f):
    """Yields each object of the input's `recording.events` array."""
    dec = json.JSONDecoder()
    buf, pos, eof = "", 0, False

    def fill():
        nonlocal buf, pos, eof
        more = f.read(CHUNK)
        eof = not more
        buf, pos = buf[pos:] + more, 0

    while True:
        m = re.search(r'"events"\s*:\s*\[', buf)
        if m:
            pos = m.end()
            break
        if eof:
            return
        buf = buf[-64:]
        fill()
    while True:
        while pos < len(buf) and buf[pos] in " \t\r\n,":
            pos += 1
        if pos >= len(buf):
            if eof:
                raise SystemExit("jfr_attr: input ends inside the events array")
            fill()
            continue
        if buf[pos] == "]":
            return
        try:
            obj, pos = dec.raw_decode(buf, pos)
        except json.JSONDecodeError:
            if eof:
                raise
            fill()
            continue
        yield obj


def frames(sample):
    """The sample's frames as `package.Class.method`, innermost first; a
    Scala object's class drops its trailing `$`."""
    st = sample.get("stackTrace") or {}
    return [(fr["method"]["type"]["name"].replace("/", ".").rstrip("$") + "." + fr["method"]["name"])
            for fr in st.get("frames") or []]


def matches(marker, stack):
    parts = marker.split(">")
    if len(parts) == 1:
        return any(marker in fr for fr in stack)
    caller, callee = parts
    inner = next((i for i, fr in enumerate(stack) if callee in fr), None)
    return inner is not None and any(caller in fr for fr in stack[inner + 1:])


def seconds(iso):
    """An ISO-8601 instant from jfr, nanoseconds cut to microseconds."""
    iso = re.sub(r"(\.\d{6})\d*", r"\1", iso.replace("Z", "+00:00"))
    return datetime.datetime.fromisoformat(iso).timestamp()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("json", help="`jfr print --json` output, or - for stdin")
    ap.add_argument("--marker", action="append", default=[], help="frame substring, or CALLER>CALLEE")
    ap.add_argument("--window", help="FROM,TO seconds after the first sample")
    a = ap.parse_args()
    lo, hi = (float(x) for x in a.window.split(",")) if a.window else (None, None)

    rows = ["all"] + a.marker
    counts = {r: {} for r in rows}
    t0 = None
    truncated = 0
    f = sys.stdin if a.json == "-" else open(a.json, encoding="utf-8")
    with f:
        for ev in events(f):
            if ev.get("type") != "jdk.ExecutionSample":
                continue
            v = ev["values"]
            t = seconds(v["startTime"])
            t0 = t if t0 is None else t0
            if lo is not None and not lo <= t - t0 < hi:
                continue
            g = group_of(v.get("sampledThread"))
            stack = frames(v)
            truncated += bool((v.get("stackTrace") or {}).get("truncated"))
            for r in rows:
                if r == "all" or matches(r, stack):
                    counts[r][g] = counts[r].get(g, 0) + 1

    cols = [g for g, _ in GROUPS] + ["other"]
    width = max(len(r) for r in rows)
    print(f"{'':{width}}  " + "  ".join(f"{c:>13}" for c in cols + ["total"]))
    for r in rows:
        vals = [counts[r].get(c, 0) for c in cols]
        print(f"{r:{width}}  " + "  ".join(f"{x:>13}" for x in vals + [sum(vals)]))
    if truncated:
        print(f"{truncated} samples have truncated stacks: record with a larger stackdepth",
              file=sys.stderr)


if __name__ == "__main__":
    main()
