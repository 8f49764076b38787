"""CONTINUOUS embedding ingest with incremental SemDeDup: the
embedding-family twin of ``plans/corpus_stream.py``, completing the
continuous-ingest story for both halves of the dedup stack.

Topology::

    embeddings TxTable --txtable-changes stream--> three stored tables
        (raw batches,         per micro-batch:
         retain_history)      bootstrap quantizer (first batch only) ->
                              assign batch with STORED centroids ->
                              prune vs stored assignment index ->
                              append assignment to `index`
                              append kept ids   to `kept`

State tables (all TxTable, all append-only after bootstrap):

- ``quantizer``: the coarse centroids, trained ONCE on the first
  batch (``select_centroids``, md5-deterministic) and never
  re-trained -- cluster geometry is stable for the life of the
  stream, exactly the ``semantic_dedup_incremental`` contract.
- ``index``: ``(vec_id, embedding, cell_id)`` for EVERY ingested
  vector (kept or not -- the prune rule is about cluster membership,
  not kept-ness).  Written hive-partitioned by cell_id (enforced by
  ``apply_semantic_batch``), and each batch's prune pool is a
  PARTITION-PRUNED read of only the cells the batch was assigned to
  (``TxTable.read_partitions`` -- untouched cells' files are never
  listed or opened, the ivf_probe contract; strict-file-subset
  pytest in tests/test_embedding_stream.py).
- ``kept``: ``(vec_id, cell_id)`` keep decisions, strictly additive.

Exactness (pytest-pinned): with ``max_cluster=None`` the kept table
after any number of batches equals one full-corpus ``semantic_dedup``
run over everything ingested, using the stored centroids -- streaming
is an incremental evaluation of the same query.  With a cap the
candidate set is "capped as of arrival": a later vector can displace
an earlier one from the md5-ordered cap, so a one-shot full run may
keep a vector the stream dropped (documented, bounded, never a wrong
keep of an in-cap candidate); run uncapped when exact parity with a
batch recompute is required.

Crash-safety: every state-table commit carries ``app_txn=(app_id,
batch_id)`` and each append is guarded by that table's own
``last_txn_version`` -- a micro-batch replayed after a crash anywhere
in the sink (including BETWEEN the index append and the kept append)
re-applies only the missing writes.  The prune pool excludes the
batch's own ids from the stored index (one anti-join), so a
half-applied replay computes the same kept set the clean run would.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from nyc_crash_mapper_etl_script_spark.operators.similarity import (
    ivf_assign,
    select_centroids,
    semantic_dedup,
    semantic_dedup_incremental,
)
from nyc_crash_mapper_etl_script_spark.sources.txtable import TxTable


def apply_semantic_batch(
    spark: SparkSession,
    ins: DataFrame,
    batch_id: int,
    app_id: str,
    quantizer: TxTable,
    index: TxTable,
    kept: TxTable,
    n_cells: int = 8,
    threshold: float = 0.4,
    max_cluster: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One micro-batch of the semantic-dedup ingest, idempotent per
    state table (see module docstring).  Exposed as a plain function
    so the crash windows between the three commits are unit-testable
    without orchestrating a mid-sink kill."""
    last = kept.last_txn_version(app_id) if kept.exists() else None
    if last is not None and batch_id <= last:
        return  # fully-applied replay
    # the index is ALWAYS laid out hive-partitioned by cell_id -- that
    # layout is what makes the per-batch prune pool a partition-pruned
    # scan of only the cells the batch touched (the operator's own
    # 100 TB contract, similarity.py `semantic_dedup_incremental`).
    # The assignment goes through TxTable's validated setter: resumed
    # tables inherit the log-persisted spec, cluster_by handles and
    # contradictory logged layouts raise, and every commit re-persists
    # the spec, so a bare handle's compact()/merge can't flatten the
    # layout out from under read_partitions (which itself degrades to
    # a full correct scan on pre-upgrade unpartitioned live files).
    if not index.partition_by:
        index.partition_by = ["cell_id"]
    elif index.partition_by != ["cell_id"]:
        raise ValueError(
            f"index table must be partitioned by cell_id, got "
            f"{index.partition_by}"
        )
    ins = ins.select(id_col, vec_col)
    if not quantizer.exists():
        quantizer.init(
            select_centroids(ins, n_cells, id_col, vec_col),
            app_txn=(app_id, batch_id),
        )
    cents = quantizer.read(spark)
    assigned = ivf_assign(ins, cents, id_col, vec_col)
    if index.exists():
        # the pool is a PARTITION-PRUNED scan of the stored index:
        # only the cells this batch's vectors were assigned to can
        # hold a pruning candidate (the join is equi on cell_id), so
        # the untouched cells' files are never listed or opened --
        # O(touched cells), not O(index), per micro-batch.  The
        # distinct-cell collect is bounded by n_cells (the quantizer
        # dimension, a stat), never the batch or the corpus.
        # `assigned` is persisted around the collect + index append so
        # the Arrow assignment UDF runs once per batch, not once per
        # action.
        assigned = assigned.persist()
        try:
            cells = [
                r["cell_id"]
                for r in assigned.select("cell_id").distinct().collect()
            ]
            # exclude this batch's own ids from the pool: after a
            # crash BETWEEN the index append and the kept append, the
            # replayed batch is already in the index and would
            # otherwise occupy cap slots twice
            pool = index.read_partitions(spark, "cell_id", cells).join(
                ins.select(id_col), id_col, "left_anti"
            )
            kept_rows = semantic_dedup_incremental(
                ins,
                pool,
                cents,
                threshold=threshold,
                id_col=id_col,
                vec_col=vec_col,
                max_cluster=max_cluster,
            )
            li = index.last_txn_version(app_id)
            if li is None or batch_id > li:
                index.append(
                    assigned.select(id_col, vec_col, "cell_id"),
                    app_txn=(app_id, batch_id),
                )
        finally:
            # the try owns the unpersist from the moment the cache
            # exists: a failure in the collect or the prune must not
            # leak cached vector blocks across foreachBatch retries
            assigned.unpersist()
    else:
        kept_rows = semantic_dedup(
            ins,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
            max_cluster=max_cluster,
            centroids=cents,
        )
        index.init(
            assigned.select(id_col, vec_col, "cell_id"),
            app_txn=(app_id, batch_id),
        )
    kept_rows = kept_rows.select(id_col, "cell_id")
    if kept.exists():
        kept.append(kept_rows, app_txn=(app_id, batch_id))
    else:
        kept.init(kept_rows, app_txn=(app_id, batch_id))


def assignment_drift(
    spark: SparkSession,
    quantizer: TxTable,
    index: TxTable,
    vec_col: str = "embedding",
) -> DataFrame:
    """The auditable quantizer-drift signal: one row of
    ``(n, mean_dist_e6)`` -- the mean distance (1 - round-6 cosine)
    of every indexed vector to its ASSIGNED stored centroid, averaged
    on the e6 integer grid (the ``semantic_assignment_drift``
    registry row's expression, which also splits it by arrival
    regime).  Track it across batches: a rising trend means the
    frozen quantizer no longer describes the incoming distribution
    and :func:`requantize_semantic_index` is due.  One broadcast
    equi-join on cell_id + one codegen aggregate -- no shuffle of the
    index beyond its own scan."""
    from nyc_crash_mapper_etl_script_spark.functions.vectors import dot, norm

    cents = quantizer.read(spark)
    idx = index.read(spark).select(
        F.col(vec_col), F.col("cell_id").cast("int").alias("cell_id")
    )
    c = idx.join(F.broadcast(cents), "cell_id").select(
        F.round(
            dot(F.col(vec_col), F.col("cv"))
            / F.nullif(norm(F.col(vec_col)) * norm(F.col("cv")), F.lit(0.0)),
            6,
        ).alias("c")
    )
    return c.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.floor(
            F.sum(F.round((F.lit(1) - F.col("c")) * 1000000, 0).cast("long"))
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("mean_dist_e6"),
    )


def requantize_semantic_index(
    spark: SparkSession,
    quantizer: TxTable,
    index: TxTable,
    kept: TxTable,
    rebuild_id: int,
    n_cells: int = 8,
    threshold: float = 0.4,
    max_cluster: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Quantizer-drift maintenance (r6 VERDICT item 6): re-train the
    coarse centroids on EVERYTHING ingested and rebuild the three
    state tables to exactly what a fresh full-corpus run with the new
    quantizer would produce -- the semantic analog of
    ``rebuild_rollup`` (plans/continuous.py), which replaces the crash
    rollup with a full recompute in one overwrite.  Here the rebuild
    repairs the geometry degradation a frozen quantizer accrues under
    distribution shift (measure it first with :func:`assignment_drift`).

    Crash-safe and idempotent per table: each overwrite carries
    ``app_txn=(app_id, rebuild_id)`` and is skipped when that table
    already recorded this rebuild.  Re-training reads only
    ``(id, vec)`` -- which every partial state agrees on -- so a
    rebuild replayed after a crash between the three commits
    recomputes identical centroids (md5-deterministic
    ``select_centroids``) and completes the missing overwrites with
    the same rows the clean run would have written.  The kept rebuild
    reads the NEW index (already re-assigned) rather than the pinned
    pre-rebuild plan, so no stage ever reads files a prior commit
    retired.  Run while the ingest stream is stopped, like every
    RMW maintenance op (a concurrent append raises
    ``ConcurrentWriteError`` and the rebuild re-runs).

    After the rebuild the stream resumes against the new quantizer:
    ``apply_semantic_batch`` reads centroids per batch, and the
    incremental contract (keeps additive, batch == full-run
    restricted) holds with the NEW geometry from the rebuild point
    on -- exactly as if the stream had started from a one-shot run
    with these centroids.
    """
    app_id = f"semantic_requant:{os.path.abspath(index.root)}"
    if not index.partition_by:
        index.partition_by = ["cell_id"]

    def _done(t: TxTable) -> bool:
        v = t.last_txn_version(app_id)
        return v is not None and v >= rebuild_id

    vecs = index.read(spark).select(id_col, vec_col)
    if not _done(quantizer):
        quantizer.overwrite(
            select_centroids(vecs, n_cells, id_col, vec_col),
            app_txn=(app_id, rebuild_id),
        )
    cents = quantizer.read(spark)
    if not _done(index):
        index.overwrite(
            ivf_assign(vecs, cents, id_col, vec_col).select(
                id_col, vec_col, "cell_id"
            ),
            app_txn=(app_id, rebuild_id),
        )
    if not _done(kept):
        kept.overwrite(
            semantic_dedup(
                index.read(spark).select(id_col, vec_col),
                threshold=threshold,
                id_col=id_col,
                vec_col=vec_col,
                max_cluster=max_cluster,
                centroids=cents,
            ).select(id_col, "cell_id"),
            app_txn=(app_id, rebuild_id),
        )


def semantic_dedup_stream(
    spark: SparkSession,
    source: TxTable,
    quantizer: TxTable,
    index: TxTable,
    kept: TxTable,
    checkpoint_dir: str,
    n_cells: int = 8,
    threshold: float = 0.4,
    max_cluster: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    starting_version: int = 0,
    trigger_available_now: bool = True,
    max_versions_per_batch: int | None = None,
    max_bytes_per_batch: int | None = None,
    compact_every_n_commits: int | None = None,
    requantize_drift_threshold_e6: int | None = None,
    cleanup_log_keep_versions: int | None = None,
) -> StreamingQuery:
    """Open the chained stream: ``source``'s commit log ->
    quantizer/index/kept state tables.  Restart-safe from
    ``checkpoint_dir``; vector deletes in the feed are ignored by
    design (an embedding corpus is append-only in the ingest path --
    retracting vectors is a batch rebuild).  ``max_versions_per_batch``
    / ``max_bytes_per_batch`` right-size catch-up micro-batches by
    commit count / changed-file bytes (see ``read_txtable_stream``).

    ``compact_every_n_commits`` (opt-in) bounds the index/kept
    tables' live-file counts under continuous appends via
    ``TxTable.compact_if_due`` after each batch (r8 VERDICT #3);
    ``cleanup_log_keep_versions`` (opt-in) bounds their LOGS the same
    way via ``TxTable.cleanup_log(keep_versions=N)`` -- see
    corpus_stream for the consumer-lag sizing rule.

    ``requantize_drift_threshold_e6`` (opt-in) wires the measured
    drift signal to the audited rebuild (r8 VERDICT #7): after each
    batch, :func:`assignment_drift` is evaluated and, when
    ``mean_dist_e6`` reaches the threshold, the exact
    :func:`requantize_semantic_index` runs between batches with
    ``rebuild_id=batch_id`` -- so a threshold-triggered rebuild is
    byte-for-byte the manual one an operator would have run at that
    boundary, idempotent under micro-batch replay through the same
    app_txn bookkeeping.  Cost when armed: one index scan + one
    aggregate per batch for the signal; the rebuild itself is the
    documented O(index) maintenance op and runs only at the
    threshold."""
    from nyc_crash_mapper_etl_script_spark.sources.txstream import (
        CHANGE_COL,
        read_txtable_stream,
    )

    app_id = f"semantic_dedup:{os.path.abspath(checkpoint_dir)}"

    def sink(batch: DataFrame, batch_id: int) -> None:
        ins = batch.where(F.col(CHANGE_COL) == "insert")
        apply_semantic_batch(
            spark,
            ins,
            batch_id,
            app_id,
            quantizer,
            index,
            kept,
            n_cells=n_cells,
            threshold=threshold,
            max_cluster=max_cluster,
            id_col=id_col,
            vec_col=vec_col,
        )
        if requantize_drift_threshold_e6 is not None and index.exists():
            # crash-resume FIRST, signal second: a crash between the
            # rebuild's three overwrites leaves the state tables at
            # different requant app_txn versions, and the partial
            # rebuild itself suppresses the drift signal (the new
            # quantizer scores its own assignments near zero) -- so a
            # resume gated on the live signal would never happen.
            # Detect the half-done rebuild from the app_txn log and
            # complete it through the same idempotent _done() path
            # before consulting the signal at all.
            requant_app = f"semantic_requant:{os.path.abspath(index.root)}"
            rebuilt = [
                t.last_txn_version(requant_app)
                for t in (quantizer, index, kept)
                if t.exists()
            ]
            done = {v for v in rebuilt if v is not None}
            resume_id = max(done) if len(done) > 0 and (
                len(done) > 1 or any(v is None for v in rebuilt)
            ) else None
            if resume_id is None:
                drift = assignment_drift(
                    spark, quantizer, index, vec_col=vec_col
                ).collect()[0]
                # mean can be NULL with n > 0 (zero-norm vectors make
                # every cosine NULL; sum() skips NULLs) -- a NULL
                # signal must not kill the stream, and it cannot
                # justify a rebuild either
                if (
                    drift["n"] > 0
                    and drift["mean_dist_e6"] is not None
                    and drift["mean_dist_e6"] >= requantize_drift_threshold_e6
                ):
                    resume_id = batch_id
            if resume_id is not None:
                requantize_semantic_index(
                    spark,
                    quantizer,
                    index,
                    kept,
                    rebuild_id=resume_id,
                    n_cells=n_cells,
                    threshold=threshold,
                    max_cluster=max_cluster,
                    id_col=id_col,
                    vec_col=vec_col,
                )
        index.compact_if_due(spark, compact_every_n_commits)
        kept.compact_if_due(spark, compact_every_n_commits)
        if cleanup_log_keep_versions:
            index.cleanup_log(keep_versions=cleanup_log_keep_versions)
            kept.cleanup_log(keep_versions=cleanup_log_keep_versions)

    writer = (
        read_txtable_stream(
            spark,
            source.root,
            starting_version,
            max_versions_per_batch=max_versions_per_batch,
            max_bytes_per_batch=max_bytes_per_batch,
            columns=[id_col, vec_col],
        )
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
