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

`--against REV` compares the working tree with the git revision REV
(its tracked files, read through `git show`): each file whose code-line
count differs as `REV -> tree (delta)`, the totals per root, and per
object the public-def counts with the added (+) and removed (-) names.
The last line says how many counts differ, so "0 counts differ" means
the tree and REV count the same.

Run it from the root of a checkout; roots are relative to it.

Usage: python3 tools/loc.py [root ...]        (default: src/main)
       python3 tools/loc.py --summary [root ...]  (totals only)
       python3 tools/loc.py --defs [root ...]     (plus the def names)
       python3 tools/loc.py --against REV [root ...]
"""
import re
import subprocess
import sys
from collections import Counter
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


def public_defs(name, text):
    """Names of the public defs in the block of top-level
    `object <name>` in `text`, in declaration order (an overloaded name
    appears once per def) — a file may declare several top-level
    objects."""
    names = []
    inside = False
    for line in text.splitlines():
        if not inside:
            inside = line.startswith(f"object {name} ")
        elif line.rstrip() == "}":
            break
        else:
            m = PUBLIC_DEF.match(line)
            if m:
                names.append(m.group(1))
    return names


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def tree_sources(root):
    """{path: text} of the .scala files under `root` in the working tree."""
    return {str(f): f.read_text() for f in sorted(Path(root).rglob("*.scala"))}


def rev_sources(rev, root):
    """{path: text} of the tracked .scala files under `root` at `rev`."""
    paths = git("ls-tree", "-r", "--name-only", rev, "--", root).split("\n")
    return {p: git("show", f"{rev}:{p}") for p in paths if p.endswith(".scala")}


def against(rev, roots):
    """Print REV -> tree counts; returns the number of counts that
    differ."""
    differ = 0
    for root in roots:
        old = {p: code_lines(t) for p, t in rev_sources(rev, root).items()}
        new = {p: code_lines(t) for p, t in tree_sources(root).items()}
        for p in sorted(old.keys() | new.keys()):
            a, b = old.get(p, 0), new.get(p, 0)
            if a != b or (p in old) != (p in new):
                differ += 1
                print(f"{a:7d} -> {b:7d}  ({b - a:+d})  {p}")
        a, b = sum(old.values()), sum(new.values())
        print(f"{a:7d} -> {b:7d}  ({b - a:+d})  total code lines under "
              f"{root} ({len(old)} -> {len(new)} files)")
    for name, path in OBJECTS:
        was = rev_sources(rev, str(path)).get(str(path), "")
        now = path.read_text() if path.exists() else ""
        a, b = public_defs(name, was), public_defs(name, now)
        added = sorted((Counter(b) - Counter(a)).elements())
        removed = sorted((Counter(a) - Counter(b)).elements())
        differ += len(added) + len(removed)
        names = " ".join([f"+{n}" for n in added] + [f"-{n}" for n in removed])
        print(f"{len(a):7d} -> {len(b):7d}  ({len(b) - len(a):+d})  public "
              f"defs in object {name}" + (f": {names}" if names else ""))
    print(f"{differ} counts differ from {rev}")
    return differ


def main(argv):
    if "--against" in argv:
        i = argv.index("--against")
        roots = argv[:i] + argv[i + 2:]
        against(argv[i + 1], roots or ["src/main"])
        return
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
        defs = public_defs(name, path.read_text())
        print(f"{len(defs):7d}  public defs in object {name}")
        if "--defs" in argv:
            print(f"         {name}: {' '.join(sorted(defs))}")


if __name__ == "__main__":
    main(sys.argv[1:])
