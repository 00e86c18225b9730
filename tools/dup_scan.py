#!/usr/bin/env python3
"""Near-duplicate line census of the operator query code.

Usage: python3 tools/dup_scan.py [repo_root] [--show FAMILY]

For each family file under src/main/scala/graft/operators/ (the seven
`Operators` objects), up to its `def oracles` map: drop comment lines
and lines under 10 characters, trim the rest, replace string literals
with S and numeric literals with N, and slide a window of 4 such lines.
A line counts as duplicated when it lies in the second or a later copy
of a window. Prints the total and the per-family counts as one JSON
line; --show FAMILY lists that family's duplicated lines (normalized)
instead, each run headed by the line of its first copy.
"""
import json
import os
import re
import sys

FAMILIES = ["Similarity", "Multimodal", "EventPipeline", "Dedup",
            "TextAnalysis", "CoreAnalytics", "Packing"]
STRING = re.compile(r'"(?:\\.|[^"\\])*"')
NUMBER = re.compile(r'\b\d+(?:\.\d+)?[LlDdFf]?\b')
WINDOW = 4


def lines_of(root, family):
    path = os.path.join(root, "src/main/scala/graft/operators", family + ".scala")
    out = []
    with open(path) as f:
        for no, line in enumerate(f, 1):
            if re.match(r'\s*def oracles', line):
                break
            t = line.strip()
            if t.startswith(("//", "*", "/*")) or len(t) < 10:
                continue
            out.append((no, NUMBER.sub("N", STRING.sub("S", t))))
    return out


def duplicated(lines):
    """line number -> line number of the window's first copy"""
    first, dup = {}, {}
    for j in range(len(lines) - WINDOW + 1):
        key = tuple(t for _, t in lines[j:j + WINDOW])
        if key in first:
            for no, _ in lines[j:j + WINDOW]:
                dup[no] = first[key]
        else:
            first[key] = lines[j][0]
    return dup


def main(argv):
    show = argv[argv.index("--show") + 1] if "--show" in argv else None
    rest = [a for a in argv if a != "--show" and a != show]
    root = rest[0] if rest else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if show:
        lines = lines_of(root, show)
        dup = duplicated(lines)
        prev = None
        for no, text in lines:
            if no not in dup:
                continue
            if prev is None or no > prev + WINDOW - 1:
                print(f"-- copy of the window at line {dup[no]}")
            print(f"{no}: {text}")
            prev = no
        return
    counts = {f: len(duplicated(lines_of(root, f))) for f in FAMILIES}
    print(json.dumps({"total": sum(counts.values()), **counts}))


if __name__ == "__main__":
    main(sys.argv[1:])
