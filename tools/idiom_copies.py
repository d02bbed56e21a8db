#!/usr/bin/env python3
"""List every hand copy, in src/main/scala, of an idiom that has a
helper with a hand-written DuckDB twin.

Plans and oracles agree bit for bit only because both sides spell a few
idioms the same way, so each idiom is written once, in its helper's
file, and everything else calls the helper:

- 6-decimal rounding and micro-unit quantization, `floor(x * 1e6 + 0.5)`
  in either engine or on a JVM double: `Rounding.r6` / `r6sql`,
  `Rounding.micros` / `microsSql` (Rounding.scala);
- epoch day of a timestamp, `... div 86400000000` in Spark SQL and
  `... // 86400000000` in DuckDB: `Features.epochDay` / `epochDaySql`
  (ops/Features.scala);
- whitespace tokens, `split(trim(..), ' ')` in Spark and
  `string_split(trim(..), ' ')` in DuckDB: `TextOps.tokens` /
  `tokensSql` (text/TextOps.scala).

The truncating quantization `floor(x * 1000000)` (no `+ 0.5`) is a
different idiom and is not reported. Comments are skipped. Exits 1 and
prints `path:line: idiom: text` for each copy outside its helper's
file; prints nothing and exits 0 when there is none.

Run from anywhere:  python3 tools/idiom_copies.py
"""
import os
import re
import sys

from unreached_defs import ROOT, strip_comments

# idiom -> (the helper's own file under ROOT, pattern of a raw copy)
IDIOMS = {
    "fixed-point": (os.path.join("graft", "Rounding.scala"),
                    re.compile(r"\*\s*(?:1000000|lit\(1000000L?\)|1e6)"
                               r"\s*\+\s*(?:lit\(\s*)?0\.5")),
    "epoch-day": (os.path.join("graft", "ops", "Features.scala"),
                  re.compile(r"(?:\bdiv|//)\s*86400000000\b")),
    "tokens": (os.path.join("graft", "text", "TextOps.scala"),
               re.compile(r"\b(?:string_)?split\(\s*trim\(")),
}


def main():
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(ROOT)
                   for f in fs if f.endswith(".scala"))
    if not files:
        print(f"no .scala files under {ROOT}", file=sys.stderr)
        return 2
    copies = []
    for path in files:
        rel = os.path.relpath(path, ROOT)
        with open(path, encoding="utf-8") as fh:
            code = strip_comments(fh.read())
        lines = code.split("\n")
        for idiom, (home, pattern) in IDIOMS.items():
            if rel == home:
                continue
            for m in pattern.finditer(code):
                no = code.count("\n", 0, m.start()) + 1
                copies.append(f"{path}:{no}: {idiom}: {lines[no - 1].strip()}")
    for c in copies:
        print(c)
    return 1 if copies else 0


if __name__ == "__main__":
    sys.exit(main())
