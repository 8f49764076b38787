"""The one materialization policy: dimensions become driver-local
relations, and multiply-consumed corpus subtrees are shared.

:func:`local_dimension` collects a dimension (district polygons,
intersection circles, a crosswalk) to the driver once per session and
plan, as Arrow, and re-declares it from those rows.  Under Spark's
``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by
default) the result plans as a ``LocalRelation``; above it, as a
JVM-side Arrow RDD.  Either way no later scan of it starts a Python
worker or lists a file, whatever plan the caller passed in (a
``createDataFrame`` over Python lists is a Python RDD, re-run through
the Python workers by every action).  A dimension must be
driver-sized, as it already is wherever it is broadcast.

:func:`share_corpus_subtree` materializes a corpus-scale subtree
once.  Catalyst clones a DataFrame's upstream plan into every
consumer, so an operator whose intermediate feeds 2+ branches
re-executes the whole subtree per branch unless the subtree is
materialized once.  The r12
optimization round used ``localCheckpoint(eager=False)`` for that
everywhere; for DIMENSION-sized relations (aggregates, norms, per-key
summaries) that is unconditionally right.  For CORPUS-sized relations
it has two costs that only show up at cluster scale (r12 VERDICT item
2):

- the checkpointed blocks live at MEMORY_AND_DISK in executor
  *storage* memory, competing with execution memory for the very
  shuffles the operator still runs (guide §5), and
- ``localCheckpoint`` TRUNCATES lineage: the blocks are
  non-replicated, so one executor loss fails the whole job instead of
  recomputing a partition.

:func:`share_corpus_subtree` keeps the local/bench behavior --
``localCheckpoint(eager=False)`` -- whenever the subtree's estimated
INPUT is small, and switches to ``persist(StorageLevel.DISK_ONLY)``
past the bound: same one-materialization-per-action plan shape (the
CacheManager substitutes the cached relation into every consumer),
no storage-memory competition (disk only), and lineage preserved --
an executor loss recomputes the lost partitions instead of killing
the job.

Sizing: the sum of the plan's FILE-relation leaf estimates (real
parquet file sizes, read off the analyzed plan on the driver in
<1 ms, no job).  Leaf sizes are the one Catalyst estimate that is
reliable -- join/explode OUTPUT estimates are multiplicative guesses
(an r13 probe measured a sf0.1 self-join estimated at 24000x its
input) -- and "how much source data feeds this subtree" is exactly
the scale question: corpus-derived intermediates are within a small
factor of their corpus input, never orders of magnitude away.
Non-file leaves (localCheckpoint RDDs, local relations) contribute
nothing; a subtree with NO file leaves keeps the checkpoint branch.

The bound is deliberately order-of-magnitude
(``$SPARK_GRAFT_SHARED_MATERIALIZE_MAX_BYTES``, default 32 GiB): a
narrow intermediate derived from <=32 GiB of input fits comfortably
in cluster storage, while a 100 TB corpus is 3.5 orders of magnitude
past the bound, so intermediate-width misestimates can never flip
the branch.

The leaves are read off the ANALYZED plan, before the CacheManager
substitutes persisted relations: a subtree built on a relation an
earlier call persisted DISK_ONLY still counts that relation's files,
so a chain of shares over one corpus (the nightly makes three) takes
the same branch at every link.

The DISK_ONLY branch is never taken in the local bench/oracle runs
(sf inputs are MBs), so bench timings keep re-materializing per rep
exactly as before -- nothing is cached across timed runs.  Persisted
relations live until they are unpersisted: :func:`released_on_exit`
scopes them to a block, so a long-lived session past the bound does
not pile them up.  It acts only past the bound; a caller there should
run each night (each ``run_nightly`` and its commits) inside one.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager
from typing import Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from nyc_crash_mapper_etl_script_spark import plancache

_ENV = "SPARK_GRAFT_SHARED_MATERIALIZE_MAX_BYTES"
_DEFAULT_MAX_BYTES = 32 * 1024**3

#: ``_local.held``: the relations persisted DISK_ONLY inside this
#: thread's open :func:`released_on_exit` block (None outside one)
_local = threading.local()


def file_input_bytes(df: DataFrame) -> int:
    """Sum of the FILE-relation leaf size estimates of ``df``'s
    analyzed plan -- the bytes of source data feeding the subtree,
    persisted relations included.  Driver-side, sub-millisecond, no
    job.  Returns -1 when the plan cannot be inspected (API drift);
    non-file leaves (checkpointed RDDs, local relations) count 0."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRelation":
                total += int(str(leaf.stats().sizeInBytes()))
        return total
    except Exception:  # noqa: BLE001 -- estimate is best-effort
        return -1


def local_dimension(df: DataFrame) -> DataFrame:
    """``df`` re-declared from its rows collected to the driver as
    Arrow: a local relation with ``df``'s schema.  Memoized on
    ``df``'s plan identity (plancache) and its session, so each
    dimension is collected once per session; a parquet dimension
    rewritten at the same path keys differently (plancache folds in
    the file listing), and a later session never gets a frame bound
    to a stopped one."""
    spark = df.sparkSession
    return plancache.memo(
        df,
        "local_dimension",
        (id(spark._jsparkSession),),
        lambda: spark.createDataFrame(df.toArrow(), schema=df.schema),
    )


def share_corpus_subtree(df: DataFrame) -> DataFrame:
    """Materialize a multiply-consumed CORPUS-scale subtree once.

    Under the bound (the whole local/bench regime):
    ``localCheckpoint(eager=False)`` -- plans and bench identical to
    the r12 behavior.  Past it: ``persist(DISK_ONLY)`` -- one
    materialization per action, lineage-preserving, out of executor
    storage memory.  An uninspectable plan (-1) takes the checkpoint
    branch so local behavior can never silently change.  A relation
    persisted inside a :func:`released_on_exit` block is unpersisted
    when the block exits."""
    bound = int(os.environ.get(_ENV, _DEFAULT_MAX_BYTES))
    if file_input_bytes(df) <= bound:
        return df.localCheckpoint(eager=False)
    out = df.persist(StorageLevel.DISK_ONLY)
    held = getattr(_local, "held", None)
    if held is not None:
        held.append(out)
    return out


@contextmanager
def released_on_exit() -> Iterator[None]:
    """Unpersist, on exit, every relation :func:`share_corpus_subtree`
    persisted DISK_ONLY on this thread inside the block.  Act on the
    shared plan inside the block: after it, its consumers recompute
    the subtree.  Blocks do not nest.  The checkpoint branch needs no
    scope; its blocks go when the plan is no longer referenced."""
    _local.held = []
    try:
        yield
    finally:
        held, _local.held = _local.held, None
        for df in held:
            df.unpersist()
