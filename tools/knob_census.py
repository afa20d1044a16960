#!/usr/bin/env python3
"""Count the options of the main tree: every parameter with a default value
in a `def` or `case class` parameter list under src/main (a defaulted
`case class` field is a config field).

    python3 tools/knob_census.py [ROOT]      # ROOT defaults to the repo root

Prints the total, then the count per file. Stdlib only.
"""
import os, re, sys

HEAD = re.compile(r"\b(?:def\s+[\w$]+|case\s+class\s+\w+)\s*(?:\[[^\]]*\])?\s*\(")
DEPTH = {"(": 1, "[": 1, "{": 1, ")": -1, "]": -1, "}": -1}


def param_lists(src, i):
    """Yield the text of each consecutive `(...)` list starting at `i`."""
    while i < len(src) and src[i] == "(":
        depth, j = 0, i
        while j < len(src):
            depth += {"(": 1, ")": -1}.get(src[j], 0)
            if depth == 0:
                break
            j += 1
        yield src[i + 1:j]
        i = j + 1
        while i < len(src) and src[i] in " \t\n":
            i += 1


def defaulted(plist):
    depth, params, cur = 0, [], ""
    for ch in plist + ",":
        depth += DEPTH.get(ch, 0)
        if ch == "," and depth == 0:
            params.append(cur.strip())
            cur = ""
        else:
            cur += ch
    return sum(1 for p in params if re.search(r"^[^=]*:[^=]*=(?!>)", p))


def count_file(path):
    src = open(path, encoding="utf-8").read()
    src = re.sub(r"/\*.*?\*/", "", src, flags=re.S)
    src = re.sub(r'"(?:\\.|[^"\\\n])*"', '""', re.sub(r"//[^\n]*", "", src))
    return sum(defaulted(p) for m in HEAD.finditer(src) for p in param_lists(src, m.end() - 1))


if __name__ == "__main__":
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..")
    counts = {}
    for d, _, files in os.walk(os.path.join(root, "src", "main")):
        for f in files:
            if f.endswith(".scala"):
                counts[os.path.relpath(os.path.join(d, f), root)] = count_file(os.path.join(d, f))
    print(f"total {sum(counts.values())}")
    for f, n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
        if n:
            print(f"{n:5d}  {f}")
