"""Stage materialization: one policy point for the lazy checkpoints
that fold a multi-branch subtree into one materialized frame.

A frame read by several branches of one plan re-derives its whole
subtree once per branch unless it is materialized. :func:`stage_ck`
decides, per call, whether the re-derivation is worth a checkpoint
(the corpus-size gate below) and which checkpoint to take (local or
reliable, the ``RELIABLE`` deployment setting). Every materialization
lives for one query build: nothing is kept between calls.

Semantics are unaffected by the decision: a checkpoint truncates
lineage and materializes, it never changes rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

# False = executor-local checkpoint storage (single-node default: an
#         executor loss re-runs the whole deterministic batch query,
#         never wrong results — see SCALE.md's fault-tolerance note).
# True  = reliable df.checkpoint() against the session's checkpoint
#         directory (HDFS/object store on a cluster) — the "one-line
#         production swap" SCALE.md documents, executed by
#         tests/test_r12_ops.py::test_stage_ck_reliable_parity so the
#         claim stays a tested fact rather than a comment.
RELIABLE = False

# Corpus-size gate: a checkpoint costs a write and a read, while the
# re-derivation it prevents is a scan of the source table, which at
# local scale the OS page cache serves. Queries pass their source
# table's size (driver-side FS metadata, no job); below the threshold
# stage_ck is an identity and every branch re-derives its subtree.
# The crossover was measured between 4.5 MB and 34 MB of source
# parquet — see SCALE.md r12 for the numbers behind the default.
STAGE_MAT_MIN_BYTES = 16 * 1024 * 1024


def table_bytes(sf_dir: str, table: str = "documents"):
    """On-disk bytes of a source table (file or directory), driver-side
    FS metadata only — None when unknown (unknown => materialize, the
    safe-at-scale default)."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(path)
                for f in fs
            )
    except OSError:
        pass
    return None


def stage_ck(df: DataFrame, src_bytes=None, compute_heavy=False) -> DataFrame:
    """Lazy localCheckpoint under the stage-materialization policy;
    identity when the corpus-size gate says the rescan is cheaper than
    the checkpoint; reliable filesystem checkpoint when RELIABLE
    deployment mode is on.

    ``compute_heavy`` exempts the frame from the corpus-size gate: the
    gate prices a re-derivation as a SCAN of ``src_bytes``, which is
    the right model for relational subtrees but wrong when the
    subtree's cost is CPU that byte-sizing cannot see: (a) per-row
    kernel CPU — in-tree codec decodes, Arrow kernels, token explodes,
    MinHash signatures (measured r13: multimodal_phash_neardup 4.07s
    -> 1.79s at sf0.1 once the decoded-hash aggregate is materialized,
    while its source is 0.6 MB — far under the 16 MB gate); and (b)
    post-shuffle aggregation CPU re-run per consumer when the frame
    feeds several branches (the frequent_itemsets basket frame). In
    both, what the checkpoint saves is compute the byte-keyed gate
    prices at zero. A call without ``src_bytes`` always checkpoints."""
    if (
        not compute_heavy
        and src_bytes is not None
        and src_bytes < STAGE_MAT_MIN_BYTES
    ):
        return df
    if RELIABLE:
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise RuntimeError(
                "stagemat.RELIABLE=True needs a checkpoint directory: "
                "call spark.sparkContext.setCheckpointDir(<HDFS/S3 "
                "path>) first (same refusal-over-temp-dir policy as "
                "connected_components(reliable=True))"
            )
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)
