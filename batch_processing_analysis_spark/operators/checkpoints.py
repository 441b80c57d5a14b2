"""Barriers (checkpointed frames) with exact, thread-safe release.

``DataFrame.localCheckpoint`` persists rows in the block manager with no
handle to free them; a pipeline that stages per step would leak one copy
per step for the session lifetime.

Ownership rule: a barrier frame is the only source of its id. The frame
returned by :func:`data_barrier` (or ``localCheckpoint``) is a scan of
one RDD, ``logical().rdd()``, and :func:`release` frees exactly that
RDD's blocks. Nothing diffs the session-global persistent-RDD set, so
calls running concurrently in one session never see each other's
blocks. A frame made on behalf of a result is registered with it
(:func:`own` / :func:`hold`) and freed by :func:`release_held`.

A local checkpoint has no lineage to recompute from: release a barrier
ONLY when nothing will read it again, i.e. after every action on it and
on everything derived from it, or once a later barrier has materialized.

Barrier policy (SURVEY §6): local checkpoints keep blocks on executors
only, so an executor loss fails the job instead of recomputing. That
suits a single host; on a cluster, DATA-SIZED staged frames (token
tables, exploded (doc, gram) rows, full event frames) should survive it.
``SPARK_GRAFT_CHECKPOINT=reliable`` turns every :func:`data_barrier`
into a reliable ``DataFrame.checkpoint()`` under
``SPARK_GRAFT_CHECKPOINT_DIR`` (default: a per-session temp dir).
Values are identical in both modes (tests/test_checkpoint_policy.py),
and releasing a reliable barrier is a no-op.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame

_MODE_ENV = "SPARK_GRAFT_CHECKPOINT"
_DIR_ENV = "SPARK_GRAFT_CHECKPOINT_DIR"
_HELD = "_bpa_held"


def _reliable_mode() -> bool:
    return os.environ.get(_MODE_ENV, "local") == "reliable"


def _ensure_checkpoint_dir(df: DataFrame) -> None:
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        ckdir = os.environ.get(_DIR_ENV) or tempfile.mkdtemp(
            prefix="bpa_reliable_ckpt_")
        sc.setCheckpointDir(ckdir)


def data_barrier(df: DataFrame, eager: bool = False) -> DataFrame:
    """Stage a DATA-SIZED frame per the module docstring's policy.
    ``eager=False`` defers materialization to the NEXT action on the
    returned frame, fusing "materialize" and "compute" into one job."""
    if _reliable_mode():
        _ensure_checkpoint_dir(df)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def release(*barriers: DataFrame) -> None:
    """Drop the blocks behind each barrier frame (non-blocking). See the
    module docstring for when this is safe."""
    for b in barriers:
        b._jdf.queryExecution().logical().rdd().unpersist(False)


def own(result: DataFrame, *barriers: DataFrame) -> DataFrame:
    """Make ``result`` the owner of ``barriers`` and of every frame later
    :func:`hold`-ed on its behalf; returns ``result``."""
    setattr(result, _HELD, list(barriers))
    return result


def hold(owner: DataFrame, barrier: DataFrame) -> DataFrame:
    """Add ``barrier`` (staged from ``owner``) to the held list that
    ``owner`` shares with its :func:`own` result, if it has one; later
    stagings of ``barrier`` join the same list. Returns ``barrier``."""
    held = getattr(owner, _HELD, None)
    if held is not None:
        held.append(barrier)
        setattr(barrier, _HELD, held)
    return barrier


def release_held(owner: DataFrame) -> None:
    """Release every barrier held on ``owner``'s behalf; idempotent."""
    held = getattr(owner, _HELD, None) or []
    release(*held)
    held.clear()
