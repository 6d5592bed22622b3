#!/usr/bin/env python3
"""Self-test of `tools/loc.py --against REV`.

Clones the current checkout's HEAD into a temporary directory (a local
clone: no network), then from that clone
  1. `loc.py --against HEAD` must report no difference: the same files
     read through `git show` and from disk count the same;
  2. after a planted change to the clone's `ops/Ann.scala` (one new
     public def in `object Ann` spanning two code lines, one comment
     line, and one public def made private), it must report exactly
     that: Ann.scala +2 code lines, `+<new name>` and `-<removed name>`,
     and no other file.

Usage: python3 tools/loc_selftest.py   (run from the root of a checkout;
exit 0 = loc.py behaves)
"""
import re
import subprocess
import sys
import tempfile
from pathlib import Path

LOC = Path(__file__).resolve().parent / "loc.py"
ANN = Path("src/main/scala/graft/ops/Ann.scala")


def loc_against(cwd):
    return subprocess.run([sys.executable, str(LOC), "--against", "HEAD"],
                          cwd=cwd, check=True, capture_output=True,
                          text=True).stdout


def main():
    with tempfile.TemporaryDirectory() as d:
        clone = Path(d) / "repo"
        subprocess.run(["git", "clone", "-q", ".", str(clone)], check=True)

        # 1. HEAD against itself: no difference
        out = loc_against(clone)
        assert out.rstrip().endswith("0 counts differ from HEAD"), out
        assert "public defs in object Ann\n" in out, out

        # 2. a planted change is reported by count and by name
        ann = clone / ANN
        text = ann.read_text()
        first = re.search(r"^  def (\w+)", text, re.M)
        assert first, "object Ann has no public def to remove"
        # make the first public def private: one removed name, no line
        text = text[:first.start()] + "  private def" + \
            text[first.start() + len("  def"):]
        marker = "object Ann {\n"
        assert marker in text, "object Ann not found"
        text = text.replace(
            marker, marker + "  // planted by loc_selftest\n"
            "  def plantedByLocSelftest: Int =\n    1\n", 1)
        ann.write_text(text)
        out = loc_against(clone)
        lines = out.splitlines()
        changed = [l for l in lines if l.endswith(".scala")]
        assert len(changed) == 1 and changed[0].endswith(str(ANN)), out
        assert "(+2)" in changed[0], out
        ann_line = next(l for l in lines if "object Ann" in l)
        assert "(+0)" in ann_line, out
        assert "+plantedByLocSelftest" in ann_line, out
        assert f"-{first.group(1)}" in ann_line, out
        assert lines[-1] == "3 counts differ from HEAD", out
    print("loc_selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
