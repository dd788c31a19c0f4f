"""Fixed CPU cost of one Python task, before its UDF does any work.

    python tools/pertask_cost.py        # from any directory

At local[1] (tasks run one after another) it caches a 30-partition frame,
then times a no-op ``mapInArrow`` over it minus a plain ``count`` of it:
the difference divided by the partition count is what each Python task
costs to set up. The no-op imports ``balrog_spark``, as every engine UDF
does, so the worker runs what an engine stage runs. Prints the four
repetitions and their median in seconds per task, the last line as
``PERTASK_S=<median>``.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# local Spark workers import the engine via PYTHONPATH, not this sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

PARTS = 30
REPS = 4


def _noop(batches):
    import balrog_spark  # noqa: F401

    for _ in batches:
        pass
    yield from ()


def _timed(action) -> float:
    t0 = time.perf_counter()
    action()
    return time.perf_counter() - t0


def main() -> None:
    from balrog_spark.session import get_spark

    spark = get_spark(app="pertask-cost", master="local[1]")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        df = spark.range(0, PARTS * 100, numPartitions=PARTS).cache()
        df.count()
        noop = df.mapInArrow(_noop, "id long")
        noop.count()  # starts the Python worker
        reps = [(_timed(noop.count) - _timed(df.count)) / PARTS
                for _ in range(REPS)]
        print("per-task s:", " ".join(f"{s:.3f}" for s in reps))
        print(f"PERTASK_S={statistics.median(reps):.3f}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
