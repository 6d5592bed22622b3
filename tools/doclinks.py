#!/usr/bin/env python3
"""Stale scaladoc links in the Scala sources.

Reports every scaladoc link `[[target]]` in the .scala files under the
given root whose last name segment is declared nowhere under that root,
one line each as `path:line: [[target]]`, then a count; exits 1 when
any is found. The build does not run scaladoc, so nothing else notices
a link to a name that was renamed or deleted.

What counts:
  - a link is read only inside a `/** ... */` comment, so `[[` in code
    (a regex in a string literal, say) is never taken for one;
  - a declared name is any identifier after `def`, `val`, `var`,
    `class`, `object`, `trait`, `type` or `package`, or before a `:` in
    a parameter or field list, in code outside comments and string
    literals;
  - the last segment is what follows the last `.` or `#` of the
    target, with a trailing `$`, `!`, `*` or argument list dropped.

What is skipped:
  - targets under a package not declared under the root (the leading
    lower-case segments of a dotted target name its package, e.g.
    `scala` in `scala.Option` or `org.apache.spark.sql` in
    `org.apache.spark.sql.DataFrame`), and URLs;
  - targets whose first segment the file imports (`[[DataFrame]]`,
    `[[Window.partitionBy]]` after `import ....Window`).

Usage: python3 tools/doclinks.py [root]   (default: src/main; run from
the root of a checkout)
"""
import re
import sys
from itertools import takewhile
from pathlib import Path

DOC = re.compile(r"/\*\*.*?\*/", re.S)
LINK = re.compile(r"\[\[([^\]\s]+)[^\]]*\]\]")
DECL = re.compile(r"\b(?:def|val|var|class|object|trait|type)\s+"
                  r"`?([A-Za-z_][A-Za-z0-9_]*)")
PARAM = re.compile(r"\b([A-Za-z_][A-Za-z0-9_]*)\s*:(?!:)")
PACKAGE = re.compile(r"^\s*package\s+([\w.]+)", re.M)
IMPORT = re.compile(r"^\s*import\s+(\w+(?:\.\w+)*)(?:\.\{([^}]*)\})?", re.M)
# comments and string literals, removed before declarations are read
NOISE = re.compile(r'/\*.*?\*/|//[^\n]*|"""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*"',
                   re.S)


def declared(texts):
    """(names declared, packages declared) over every file's code."""
    names, packages = set(), set()
    for text in texts:
        for p in PACKAGE.findall(text):
            names.update(p.split("."))
            packages.add(p)
        code = NOISE.sub(" ", text)
        names.update(DECL.findall(code))
        names.update(PARAM.findall(code))
    return names, packages


def imported(text):
    """Names a file brings in by import (renames included)."""
    names = set()
    for path, group in IMPORT.findall(text):
        if group:
            for item in group.split(","):
                names.update(n.strip() for n in item.split("=>")
                             if n.strip() not in ("", "_"))
        else:
            names.add(path.rsplit(".", 1)[-1])
    return names


def last_segment(target):
    t = re.sub(r"\(.*$", "", target).rstrip("$!*")
    return re.split(r"[.#]", t)[-1].rstrip("$!*")


def stale_links(root):
    """[(path, line, target)] of the links no declaration answers."""
    files = sorted(Path(root).rglob("*.scala"))
    texts = {f: f.read_text() for f in files}
    names, packages = declared(texts.values())
    found = []
    for f, text in texts.items():
        imports = imported(text)
        for doc in DOC.finditer(text):
            for link in LINK.finditer(doc.group(0)):
                target = link.group(1)
                first = re.split(r"[.#(]", target)[0]
                if "://" in target or first in imports:
                    continue
                if "." in target and first[:1].islower():
                    pkg = ".".join(takewhile(lambda s: s[:1].islower(),
                                             re.split(r"[.#]", target)))
                    if pkg not in packages:
                        continue
                if last_segment(target) not in names:
                    line = text.count("\n", 0, doc.start() + link.start()) + 1
                    found.append((str(f), line, target))
    return found


def main(argv):
    root = argv[0] if argv else "src/main"
    found = stale_links(root)
    for path, line, target in found:
        print(f"{path}:{line}: [[{target}]]")
    print(f"{len(found)} stale scaladoc links under {root}")
    return 1 if found else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
