#!/usr/bin/env python3
"""List every `def` in src/main/scala that nothing in src/main reaches.

A def counts as reached when its name occurs, outside comments, more
often across src/main/scala than it is defined there (so a definition
alone does not count). Names are matched as whole words, so a reference
through any object, an overload or an eta-expansion counts; a name
shared by two definitions counts as reached if either is. Exits 1 and
prints `path:line: name` for each unreached def; prints nothing and
exits 0 when there is none.

Not reported:
- `override def`: the supertype's caller reaches it;
- ALLOW: entry points, members called without their name, and the
  test hooks and reference implementations that specs measure
  remaining code against.

Run from anywhere:  python3 tools/unreached_defs.py
"""
import os
import re
import sys
from collections import Counter

ROOT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "src", "main", "scala")

ALLOW = {
    # entry points: JVM mains and SparkEntry's external smoke entry
    "main", "entry",
    # called without their name: `apply` through call syntax, and a
    # ThreadFactory member implemented without `override`
    "apply", "newThread",
    # test hooks a remaining spec gate reads
    "retainedCount",            # Caching: persisted-relation release gate
    "registeredDirs",           # ScratchDirs: scratch-dir registry gate
    "drainCount",               # StreamOps: CatalogSpec's drain-count gate
    "fileStats", "overlapping",  # ZOrder: file min/max overlap gates
    "contaminationCandidates",  # VectorOps: q142 candidate-ratio gate
    "cpCandidatePairs",         # VectorOps: q38 candidate-ratio gate
    # reference implementations specs compare the fast path against
    "dotInterpreted",           # VectorOps
    "languageIdComposed",       # TextOps
}

DEF = re.compile(r"^\s*((?:(?:@[\w.]+(?:\([^)]*\))?|"
                 r"(?:private|protected)(?:\[\w+\])?|final|"
                 r"implicit|override|inline)\s+)*)def\s+([A-Za-z_]\w*)")
LITERAL = re.compile(r'"""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*"'
                     r"|'(?:\\.|[^'\\\n])'")


def strip_comments(text):
    """Blank out // and /* */ comments, keeping string and char
    literals and line numbers."""
    out, i, n = [], 0, len(text)
    while i < n:
        m = LITERAL.match(text, i)
        if m:
            out.append(m.group(0))
            i = m.end()
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append("\n" * text.count("\n", i, j))
            i = j
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


def main():
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(ROOT)
                   for f in fs if f.endswith(".scala"))
    if not files:
        print(f"no .scala files under {ROOT}", file=sys.stderr)
        return 2
    words, defs = Counter(), []
    for path in files:
        with open(path, encoding="utf-8") as fh:
            code = strip_comments(fh.read())
        words.update(re.findall(r"[A-Za-z_]\w*", code))
        for no, line in enumerate(code.split("\n"), 1):
            m = DEF.match(line)
            if m:
                defs.append((path, no, m.group(2),
                             "override" in m.group(1).split()))
    n_defs = Counter(name for _, _, name, _ in defs)
    unreached = [(p, no, name) for p, no, name, ovr in defs
                 if not ovr and name not in ALLOW
                 and words[name] <= n_defs[name]]
    for p, no, name in unreached:
        print(f"{p}:{no}: {name}")
    return 1 if unreached else 0


if __name__ == "__main__":
    sys.exit(main())
