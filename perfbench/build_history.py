"""Build the history warehouse that the daily and analyst workloads
start from, in a process of its own:

    python3 perfbench/build_history.py <target dir> <scratch dir>

Run from the repository root. ``run.py`` calls it before it starts its
own Spark session, so that session's first operation stays cold.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
import workloads  # noqa: E402


def main() -> int:
    target, work = sys.argv[1:3]
    os.makedirs(work)
    try:
        spark = run.start_spark(work)
        try:
            workloads.build_history(spark, work, target)
        finally:
            run.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
