"""CONTINUOUS corpus preparation: the LLM-data stack chained the way
``plans/continuous.py`` chains the crash stack's rollup off the fact
table's commit log (r5 VERDICT item 6).

Topology::

    documents TxTable  --txtable-changes stream-->  scored-corpus TxTable
        (raw ingest,          per micro-batch:          (doc_id, source,
         retain_history)      model-score gate ->        fp, ntok, q_logit,
                                                         fp_pfx partition)
                              within-batch exact dedup ->
                              anti-join vs stored corpus ->
                              idempotent append

Semantics contract (pytest-pinned,
tests/test_corpus_stream.py): with monotone doc_ids across batches
(the append/crawl regime), the corpus table after draining N batches
equals the BATCH pipeline (``pipeline_corpus_prep_scored``'s
gate -> keep-lowest-id exact dedup) recomputed over everything
ingested so far -- streaming is an incremental evaluation of the
same query, not a different query.

Exactly-once: the sink is BATCH-ID-AWARE (the ``app_txn`` contract of
``chain_rollup_stream``): every corpus commit records
``(app_id, batch_id)``; a micro-batch replayed after a crash that
landed between the corpus commit and the streaming checkpoint's
commit sees ``batch_id <= last_txn_version`` and no-ops, so rows are
never appended twice.

Scale shape per batch: gate + fingerprint are pure codegen column
work over the CHANGED FILES only (the stream plans O(changed files),
never O(table)); within-batch dedup is one groupBy-min + N-to-1 join
back (no window); the cross-batch guard is one anti-join of
|batch-kept| rows against the corpus on the 32-byte fp key.  The
corpus table is written hive-partitioned by ``fp_pfx`` (the fp's
first two hex chars, 256 dirs -- enforced by the sink), and the
anti-join's corpus side is a PARTITION-PRUNED read of only the
batch's own distinct prefixes (``TxTable.read_partitions``):
untouched prefixes' files are never listed or opened, so per-batch
cost is O(matching partitions), not O(corpus).  Strict-file-subset
pytest in tests/test_corpus_stream.py; the batch side is tiny by
construction.

Reference parity: this is the streaming form of the reference's
"skip rows whose socrata_id already exists" ingest guard
(main.py:112-129 fetches existing ids; main.py:366-370 inserts only
``socrata_id NOT IN (SELECT socrata_id FROM ...)``) composed with the
quality gate -- generalized from key-equality to
fingerprint-equality over a scored corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from nyc_crash_mapper_etl_script_spark.functions.text import (
    doc_fingerprint,
    whitespace_token_count,
)
from nyc_crash_mapper_etl_script_spark.operators.quality_model import gate_quality
from nyc_crash_mapper_etl_script_spark.sources.txtable import TxTable


def prep_batch(batch: DataFrame, threshold_logit: float = -0.35) -> DataFrame:
    """The per-batch document transform, shared verbatim by the
    streaming sink and the batch-recompute oracle in tests: model
    gate (``gate_quality``, codegen scan projection) -> fingerprint +
    token count -> within-batch keep-lowest-id exact dedup (groupBy
    min + join back -- the windowless ``select_canonical`` shape)."""
    gated = gate_quality(batch, threshold_logit=threshold_logit).select(
        "doc_id",
        "source",
        doc_fingerprint(F.col("text")).alias("fp"),
        whitespace_token_count(F.col("text")).cast("long").alias("ntok"),
        "q_logit",
    )
    best = gated.groupBy("fp").agg(F.min("doc_id").alias("__keep_id"))
    return (
        gated.join(best, "fp")
        .where(F.col("doc_id") == F.col("__keep_id"))
        .select("doc_id", "source", "fp", "ntok", "q_logit")
    )


def corpus_prep_stream(
    spark: SparkSession,
    source: TxTable,
    corpus: TxTable,
    checkpoint_dir: str,
    threshold_logit: float = -0.35,
    starting_version: int = 0,
    trigger_available_now: bool = True,
    max_versions_per_batch: int | None = None,
    max_bytes_per_batch: int | None = None,
    compact_every_n_commits: int | None = None,
    cleanup_log_keep_versions: int | None = None,
) -> StreamingQuery:
    """Open the chained stream: ``source``'s commit log -> scored
    ``corpus`` table.  Restart-safe from ``checkpoint_dir``; the
    commit log is the only coupling between ingest and prep (either
    side restarts independently, like the chained nightly).  Document
    deletes in the feed are ignored by design: a training corpus is
    append-only, and retracting a doc post-hoc is a batch rebuild,
    not a streaming concern.  ``max_versions_per_batch`` /
    ``max_bytes_per_batch`` right-size catch-up micro-batches by
    commit count / changed-file bytes (see ``read_txtable_stream``;
    bytes is the executor-memory cap when commit sizes vary).

    ``compact_every_n_commits`` (opt-in) bounds the corpus table's
    live-file count under continuous appends: after each batch's
    commit, small files bin-pack via ``TxTable.compact_if_due`` --
    O(small-file bytes) per compaction, so a stream left running for
    days no longer accumulates O(batches) files between operator
    interventions (r8 VERDICT #3).

    ``cleanup_log_keep_versions`` (opt-in) bounds the LOG the same
    way compaction bounds the files: after each batch,
    ``TxTable.cleanup_log(keep_versions=N)`` drops entries a
    checkpoint covers outside the trailing N-commit window --
    O(listing) per trigger in steady state.  Pick N large enough for
    the slowest downstream change-feed consumer's lag; the corpus's
    own sink is idempotent via app_txn, which rides in every
    checkpoint, so replay safety is unaffected."""
    from nyc_crash_mapper_etl_script_spark.sources.txstream import (
        CHANGE_COL,
        read_txtable_stream,
    )

    app_id = f"corpus_prep:{os.path.abspath(checkpoint_dir)}"

    def sink(batch: DataFrame, batch_id: int) -> None:
        last = corpus.last_txn_version(app_id) if corpus.exists() else None
        if last is not None and batch_id <= last:
            return  # replayed micro-batch: rows already appended
        # the corpus is ALWAYS laid out hive-partitioned by fp_pfx
        # (the fingerprint's first two hex chars, 256 dirs): that
        # layout is what lets the cross-batch anti-join prune to the
        # prefixes the batch actually carries.  The assignment goes
        # through TxTable's validated setter: it inherits a
        # log-persisted spec for resumed tables, raises on a
        # cluster_by handle or a contradictory logged layout, and the
        # spec is re-persisted with every commit -- a bare handle can
        # no longer flatten the layout out from under the prune
        # (read_partitions additionally degrades to a full correct
        # scan if pre-upgrade unpartitioned live files are found).
        if not corpus.partition_by:
            corpus.partition_by = ["fp_pfx"]
        elif corpus.partition_by != ["fp_pfx"]:
            raise ValueError(
                f"corpus table must be partitioned by fp_pfx, got "
                f"{corpus.partition_by}"
            )
        ins = batch.where(F.col(CHANGE_COL) == "insert")
        kept = prep_batch(ins, threshold_logit=threshold_logit).withColumn(
            "fp_pfx", F.substring("fp", 1, 2)
        )
        if corpus.exists():
            # PARTITION-PRUNED cross-batch guard: the anti-join is
            # equi on fp, and equal fps share a prefix, so only the
            # corpus partitions for the batch's own distinct prefixes
            # can hold a match -- the other ~256-|touched| dirs'
            # files are never listed or opened (strict-file-subset
            # pytest in tests/test_corpus_stream.py).  The prefix
            # collect is bounded by the 256-value prefix alphabet,
            # never the batch or the corpus.  `kept` is persisted
            # around collect+append so the gate/fingerprint/dedup
            # transform runs ONCE per batch, not once per action.
            kept = kept.persist()
            try:
                pfxs = [
                    r["fp_pfx"]
                    for r in kept.select("fp_pfx").distinct().collect()
                ]
                fresh = kept.join(
                    corpus.read_partitions(spark, "fp_pfx", pfxs).select("fp"),
                    "fp",
                    "left_anti",
                ).select("doc_id", "source", "fp", "ntok", "q_logit", "fp_pfx")
                corpus.append(fresh, app_txn=(app_id, batch_id))
            finally:
                kept.unpersist()
        else:
            corpus.init(kept, app_txn=(app_id, batch_id))
        corpus.compact_if_due(spark, compact_every_n_commits)
        if cleanup_log_keep_versions:
            corpus.cleanup_log(keep_versions=cleanup_log_keep_versions)

    writer = (
        read_txtable_stream(
            spark,
            source.root,
            starting_version,
            max_versions_per_batch=max_versions_per_batch,
            max_bytes_per_batch=max_bytes_per_batch,
            # project at the source: the prep pipeline reads exactly
            # these three; lang/n_chars/etc. never ship through Arrow
            columns=["doc_id", "text", "source"],
        )
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def corpus_stats(corpus_df: DataFrame) -> DataFrame:
    """Per-source corpus statistics over the scored table -- the same
    aggregate ``pipeline_corpus_prep_scored`` reports, so the
    streamed table can be checked against the batch recompute with
    one groupBy."""
    return corpus_df.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("ntok").alias("n_tokens"),
        F.floor(
            F.sum(F.round(F.col("q_logit") * 1000000).cast("long")) / F.count("*")
        )
        .cast("long")
        .alias("avg_logit_e6"),
    )
