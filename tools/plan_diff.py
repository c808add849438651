#!/usr/bin/env python3
"""Compare two `graft.Explain` plan dumps, ignoring identifiers that change
from run to run.

    python3 tools/plan_diff.py PLANS.txt /tmp/plans_fresh.txt

Before comparing, both dumps have these masked:
  expression and object ids     `vec_id#27L`, `obj#182`        -> `#N`
  exchange ids                  `[plan_id=645]`                -> `plan_id=N`
  RDD ids                       `MapPartitionsRDD[413]`        -> `RDD[N]`
  lambda classes                `$$Lambda$4037/0x00007ff4...`  -> `$$Lambda$N`
  object hash codes             `CmsAggregator@e888636`        -> `@H`
  source lines                  `at Dedup.scala:1305`          -> `Dedup.scala:N`

Prints each query whose masked plan differs, with a unified diff of its
masked lines, and exits 1 if any query differs or is in one dump only;
exits 0 when the dumps are equal apart from the masked identifiers.
"""
import difflib
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"Lambda\$\d+/0x[0-9a-f]+"), "Lambda$N"),
    (re.compile(r"(?<=[\w$])@[0-9a-f]{1,8}\b"), "@H"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
]
RULE = "=" * 78


def mask(line):
    for pattern, repl in MASKS:
        line = pattern.sub(repl, line)
    return line


def sections(path):
    """Query key -> masked plan lines. A section starts at a `== key` line
    between two rules of `=`; lines before the first section go under ''."""
    with open(path, encoding="utf-8") as f:
        lines = f.read().splitlines()
    out, key, i = {"": []}, "", 0
    while i < len(lines):
        if (lines[i] == RULE and i + 2 < len(lines) and lines[i + 1].startswith("== ")
                and lines[i + 2] == RULE):
            key = lines[i + 1][3:]
            out[key] = []
            i += 3
            continue
        out[key].append(mask(lines[i]))
        i += 1
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().split("\n\n")[1], file=sys.stderr)
        return 2
    old, new = sections(argv[1]), sections(argv[2])
    differ = 0
    for key in sorted(old.keys() | new.keys()):
        label = key or "(before the first query)"
        if key not in new or key not in old:
            print(f"only in {argv[1] if key in old else argv[2]}: {label}")
            differ += 1
        elif old[key] != new[key]:
            print(f"differs: {label}")
            diff = difflib.unified_diff(old[key], new[key], argv[1], argv[2], n=1, lineterm="")
            for line in list(diff)[2:]:
                print("  " + line)
            differ += 1
    print(f"{len(old.keys() | new.keys()) - differ} equal, {differ} differ", file=sys.stderr)
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
