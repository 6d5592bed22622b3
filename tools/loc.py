#!/usr/bin/env python3
"""Code-size counts for the Scala sources.

Prints, per .scala file under the given roots, the number of code lines
(blank lines and comment-only lines excluded: `//` lines and lines wholly
inside `/* ... */` blocks), a total per root, and the number of public
`def`s declared directly in `object Ann` (`src/main/scala/graft/ops/
Ann.scala`), `object Stream` (`src/main/scala/graft/streaming/
Stream.scala`) and `object Binding` (`src/main/scala/graft/plans/
AnnRewrite.scala`): a line inside the object's block (from its
`object <Name> {` line to the next line that is a lone `}`) that starts
with two spaces then `def `; members of nested types and `private` defs
are not counted. `--defs` also prints those defs' names, sorted, one
line per object, so two checkouts can be compared by name.

Run it from the root of a checkout; roots are relative to it.

Usage: python3 tools/loc.py [root ...]        (default: src/main)
       python3 tools/loc.py --summary [root ...]  (totals only)
       python3 tools/loc.py --defs [root ...]     (plus the def names)
"""
import re
import sys
from pathlib import Path

# (object, the file that declares it)
OBJECTS = [("Ann", Path("src/main/scala/graft/ops/Ann.scala")),
           ("Stream", Path("src/main/scala/graft/streaming/Stream.scala")),
           ("Binding", Path("src/main/scala/graft/plans/AnnRewrite.scala"))]
PUBLIC_DEF = re.compile(r"^  def (\w+)")


def code_lines(text):
    """Lines carrying code: not blank, not a `//` line, not wholly inside
    a block comment. A line that closes a block comment and then has
    code counts; so does code before a block comment opens."""
    n = 0
    in_block = False
    for line in text.splitlines():
        s = line.strip()
        has_code = False
        while s:
            if in_block:
                end = s.find("*/")
                if end < 0:
                    s = ""
                else:
                    in_block = False
                    s = s[end + 2:].strip()
            elif s.startswith("//"):
                s = ""
            elif s.startswith("/*"):
                in_block = True
                s = s[2:]
            else:
                has_code = True
                start = s.find("/*")
                # a `/*` inside a string literal is rare enough in this
                # tree to ignore; the count stays a size measure
                if start < 0 or s.find("*/", start) >= 0:
                    s = ""
                else:
                    in_block = True
                    s = ""
        if has_code:
            n += 1
    return n


def public_defs(name, path):
    """Names of the public defs in the block of top-level
    `object <name>`, in declaration order (an overloaded name appears
    once per def) — a file may declare several top-level objects."""
    names = []
    inside = False
    for line in path.read_text().splitlines():
        if not inside:
            inside = line.startswith(f"object {name} ")
        elif line.rstrip() == "}":
            break
        else:
            m = PUBLIC_DEF.match(line)
            if m:
                names.append(m.group(1))
    return names


def main(argv):
    flags = {"--summary", "--defs"}
    summary = "--summary" in argv
    roots = [a for a in argv if a not in flags] or ["src/main"]
    for root in roots:
        files = sorted(Path(root).rglob("*.scala"))
        total = 0
        for f in files:
            n = code_lines(f.read_text())
            total += n
            if not summary:
                print(f"{n:7d}  {f}")
        print(f"{total:7d}  total code lines under {root} "
              f"({len(files)} files)")
    for name, path in OBJECTS:
        defs = public_defs(name, path)
        print(f"{len(defs):7d}  public defs in object {name}")
        if "--defs" in argv:
            print(f"         {name}: {' '.join(sorted(defs))}")


if __name__ == "__main__":
    main(sys.argv[1:])
