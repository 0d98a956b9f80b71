"""The benchmark's own tests: the Scala self-test of the generators and
reference models, then the compare tool's unit tests.

    python3 perfbench/test.py
"""
import os
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402


def main():
    cp = build.classpath()
    code = subprocess.run(["java", "-cp", os.pathsep.join(cp), "perfbench.SelfTest"]).returncode
    if code != 0:
        return code
    suite = unittest.defaultTestLoader.discover(str(BENCH / "tests"))
    ok = unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
