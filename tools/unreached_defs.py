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
CHAR = re.compile(r"'(?:\\.|[^'\\\n])'")


def strip_comments(text):
    """Blank out // and /* */ comments, keeping string and char
    literals and line numbers. Interpolated strings are followed into
    their `${...}` blocks, so a literal nested in one (an oracle that
    passes a triple-quoted argument to `r6sql`) neither ends the outer
    literal nor turns SQL after it into code."""
    out, n = [], len(text)

    def code(i, nested):
        depth = 0
        while i < n:
            if text.startswith("//", i):
                j = text.find("\n", i)
                i = n if j < 0 else j
            elif text.startswith("/*", i):
                j = text.find("*/", i + 2)
                j = n if j < 0 else j + 2
                out.append("\n" * text.count("\n", i, j))
                i = j
            elif text[i] == '"':
                i = string(i)
            elif m := CHAR.match(text, i):
                out.append(m.group(0))
                i = m.end()
            else:
                if nested and text[i] == "}":
                    if depth == 0:
                        return i
                    depth -= 1
                elif nested and text[i] == "{":
                    depth += 1
                out.append(text[i])
                i += 1
        return i

    def string(i):
        interp = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
        q = '"""' if text.startswith('"""', i) else '"'
        out.append(q)
        i += len(q)
        while i < n:
            if text.startswith(q, i):
                if q == '"""':
                    while text.startswith('""""', i):
                        out.append('"')
                        i += 1
                out.append(q)
                return i + len(q)
            if (q == '"' and text[i] == "\\") or (
                    interp and text.startswith("$$", i)):
                out.append(text[i:i + 2])
                i += 2
            elif interp and text.startswith("${", i):
                out.append("${")
                i = code(i + 2, True)
                out.append("}")
                i += 1
            else:
                out.append(text[i])
                i += 1
        return i

    code(0, False)
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
