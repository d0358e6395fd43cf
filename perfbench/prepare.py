"""Build the benchmark's cached indexes in a Spark session of their own.

``run.py`` calls this once per checkout, before it opens its measuring
session, so every measured run starts from a cold JVM, the first one
included.
"""

from __future__ import annotations

import os
import shutil

import run
import workloads


def main() -> None:
    work = os.path.join(run.STATE, f"prepare-{os.getpid()}")
    spark = run.open_session(work)
    try:
        workloads.build_caches(spark, run.STATE)
    finally:
        run.stop(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
