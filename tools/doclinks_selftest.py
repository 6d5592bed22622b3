#!/usr/bin/env python3
"""Self-test of `tools/doclinks.py`.

Copies the checkout's `src/main` into a temporary directory, then over
that copy
  1. `doclinks.py` must report no stale link and exit 0;
  2. after planting, in the scaladoc of `object Stream`, one link to a
     deleted name plus three links that must stay silent (a declared
     def, an external package's type, and a name the file imports),
     and a `[[` in a string literal outside any comment, it must report
     exactly the planted stale link, on its line, and exit 1.

Usage: python3 tools/doclinks_selftest.py   (run from the root of a
checkout; exit 0 = doclinks.py behaves)
"""
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

DOCLINKS = Path(__file__).resolve().parent / "doclinks.py"
STREAM = Path("src/main/scala/graft/streaming/Stream.scala")


def doclinks(cwd):
    return subprocess.run([sys.executable, str(DOCLINKS)], cwd=cwd,
                          capture_output=True, text=True)


def main():
    with tempfile.TemporaryDirectory() as d:
        clone = Path(d) / "repo"
        shutil.copytree("src/main", clone / "src/main")

        # 1. the tree as it stands: no stale link
        run = doclinks(clone)
        assert run.returncode == 0, run.stdout
        assert run.stdout.rstrip().endswith(
            "0 stale scaladoc links under src/main"), run.stdout

        # 2. one planted stale link is reported, and only it
        path = clone / STREAM
        text = path.read_text()
        marker = "object Stream {\n"
        assert marker in text, "object Stream not found"
        planted = ("  /** Planted: [[graft.ops.Ann.plantedGoneName]], "
                   "[[ingestAppend]],\n"
                   "    * [[org.apache.spark.sql.Dataset]], "
                   "[[Encoders]]. */\n"
                   '  private val plantedRegex = "[[^\\\\]]*x"\n')
        text = text.replace(marker, marker + planted, 1)
        path.write_text(text)
        line = text[:text.index("plantedGoneName")].count("\n") + 1
        run = doclinks(clone)
        assert run.returncode == 1, run.stdout
        assert run.stdout.splitlines() == [
            f"{STREAM}:{line}: [[graft.ops.Ann.plantedGoneName]]",
            "1 stale scaladoc links under src/main"], run.stdout
    print("doclinks_selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
