"""Lineage-truncation shim: local checkpoints locally, reliable on a cluster.

Iterative operators (connected components' large-star/small-star rounds,
k-means centroid updates, managed-table mutation chains, per-micro-batch
streaming state) must truncate their logical-plan lineage or the plan grows
unboundedly. Locally, ``localCheckpoint(eager=True)`` is right: it persists
to executor block storage with zero filesystem setup. On a real cluster,
localCheckpoint is a correctness hazard — the checkpointed blocks live on
executors, so losing one executor invalidates the lineage-truncated frame
mid-job (SCALE.md "Known local-vs-cluster deltas").

Setting ``SPARK_GRAFT_CHECKPOINT_DIR`` (an HDFS/S3/posix path visible to all
executors) switches every call site to reliable ``checkpoint()`` against that
directory — no code edits, the same pattern as the AQE / broadcast-threshold
/ ANSI env knobs (VERDICT r10 task 7).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage; reliable iff SPARK_GRAFT_CHECKPOINT_DIR set."""
    ckdir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if not ckdir:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    current = sc.getCheckpointDir()
    if current is None:
        sc.setCheckpointDir(ckdir)
    elif _base_dir(current) != _base_dir(ckdir):
        # first-writer-wins would silently checkpoint to the OLD directory,
        # defeating the reliability guarantee the env var requests — raise,
        # mirroring session._check_env_conf for the other env knobs. (Spark
        # appends a per-context UUID subdir, hence the base-dir compare.)
        raise RuntimeError(
            f"SPARK_GRAFT_CHECKPOINT_DIR={ckdir!r} but this SparkContext "
            f"already checkpoints under {current!r}; one process uses one "
            "checkpoint dir — set the env before the first checkpoint call"
        )
    return df.checkpoint(eager=eager)


def _base_dir(path: str) -> str:
    """Normalize for comparison: strip scheme, trailing slash, and the
    per-context UUID subdir Spark appends in setCheckpointDir."""
    p = path.split("://", 1)[-1]
    if p.startswith("file:"):
        p = p[len("file:"):]
    p = p.rstrip("/")
    leaf = p.rsplit("/", 1)[-1]
    # only a real 8-4-4-4-12 hex leaf is Spark's generated UUID subdir; a
    # user-chosen leaf that merely has 4 dashes and 36 chars must NOT be
    # stripped, or two different dirs could compare equal (ADVICE r11)
    if re.fullmatch(
        r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", leaf
    ):
        p = p.rsplit("/", 1)[0]
    return p
