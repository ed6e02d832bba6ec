"""One injected task fault for the retry tests.

The fault fails the FIRST attempt of partition 0 of every stage that
evaluates it, after that attempt did its work, and lets the retry
through; Spark then runs the task again (the session needs task retries:
master ``local[N,2]`` or more). The child scripts of
``tests/test_commit_footers.py`` and ``tests/reliable_tier.py`` import
this module with ``tests/`` on ``sys.path``.

Everything that runs on executors is built inside a factory, so it
pickles by value: executors never import this module.
"""

from __future__ import annotations


def first_attempt_fault(marker_dir: str | None = None):
    """A function of no arguments that raises ``RuntimeError("injected
    first-attempt failure")`` in the first attempt of partition 0 and
    returns True otherwise. With ``marker_dir`` each firing first
    touches ``stage-<id>`` there, so a test can prove the fault ran."""

    def fault() -> bool:
        import os

        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc.partitionId() == 0 and tc.attemptNumber() == 0:
            if marker_dir is not None:
                open(os.path.join(marker_dir, f"stage-{tc.stageId()}"), "w").close()
            raise RuntimeError("injected first-attempt failure")
        return True

    return fault


def flaky_frame(df, marker_dir: str | None = None):
    """``df`` in two partitions whose partition 0 fails its first
    attempt after yielding all of its rows (a write task that dies
    after writing)."""
    fault = first_attempt_fault(marker_dir)

    def flaky(batches):
        yield from batches
        fault()

    return df.repartition(2).mapInPandas(flaky, df.schema)


def flaky_udf(fn, return_type, marker_dir: str | None = None):
    """A UDF computing ``fn`` that fails its first attempt in partition
    0 before computing anything."""
    from pyspark.sql import functions as F

    fault = first_attempt_fault(marker_dir)

    def call(*args):
        fault()
        return fn(*args)

    return F.udf(call, return_type)
