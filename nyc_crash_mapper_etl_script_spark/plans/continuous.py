"""The reference nightly as a CONTINUOUS incremental pipeline.

``plans/nightly.py`` reproduces the reference main() as one batch DAG
(cron-shaped, like the original).  This module is the streaming
promotion of the same semantics, as two chained Structured Streaming
queries over transactional state -- what the reference would be if it
were built stream-first instead of as an hours-long nightly batch
(SURVEY §2.9; main.py:1132-1200).

Stream 1, ingest (feed -> month-partitioned fact TxTable), per
micro-batch (foreachBatch -- the sink owns multi-action transactional
logic):

1. in-batch dedup + anti-join against the fact table -> the INSERT
   set (reference main.py:85-132 semantics);
2. the insert set alone is enriched: serial ids continue from the
   table's max key, extent sanity filter, district point-in-polygon
   linkage, vehicle flags + blame allocation folded into one pass --
   O(batch) work, never a table rewrite;
3. enriched inserts APPEND (blind, multi-writer-safe);
4. already-present keys are the UPDATE set: tally mismatches merge
   into only the touched month partitions (C2).

Stream 2, rollup (fact table's commit log -> intersection crashcount
view, the reference's ~10-min materialized view rebuild):
:func:`chain_rollup_stream` reads the fact table's change feed, maps
it to circle matches with ``_change_type`` carried through
(``operators.enrichment.circle_matches``) and folds them into the view
with signed-delta arithmetic.  An update's file-level retraction
decrements the old circles and the repaired row increments the new
ones, so membership-changing updates (a crash whose injured count
flips between 0 and >0) keep the view equal to a full recompute with
O(changed files) work.

Both sinks are replay-safe.  A replayed ingest batch finds its rows
already in the table and writes nothing new; the rollup stream keeps
its fact-table version in its own checkpoint and records its batch id
in each rollup commit, so a process killed between any two commits
resumes to the same view.  :func:`rebuild_rollup` remains the
reference's periodic full recompute.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from nyc_crash_mapper_etl_script_spark.operators.blame import allocate_blame
from nyc_crash_mapper_etl_script_spark.operators.dedup_merge import new_rows
from nyc_crash_mapper_etl_script_spark.operators.enrichment import (
    circle_matches,
    filter_to_extent,
    intersection_crash_counts,
    link_districts,
    vehicle_flag_exprs,
)
from nyc_crash_mapper_etl_script_spark.operators.ingest import normalize_soda_feed
from nyc_crash_mapper_etl_script_spark.operators.reconcile import (
    apply_tally_updates,
    tally_mismatches,
)
from nyc_crash_mapper_etl_script_spark.plans.nightly import assign_serial_ids
from nyc_crash_mapper_etl_script_spark.schemas import SODA_FEED_SCHEMA
from nyc_crash_mapper_etl_script_spark.sources.txstream import (
    CHANGE_COL,
    read_txtable_stream,
)
from nyc_crash_mapper_etl_script_spark.sources.txtable import TxTable


def _enrich(fresh: DataFrame, existing: DataFrame, districts, crosswalk) -> DataFrame:
    """The batch enrichment stack applied to an increment only."""
    fresh = assign_serial_ids(fresh, existing)
    fresh = filter_to_extent(fresh, districts)
    fresh = link_districts(fresh, districts)
    return allocate_blame(fresh, extra_cols=vehicle_flag_exprs(fresh, crosswalk))


def continuous_nightly(
    spark: SparkSession,
    feed_dir: str,
    table_path: str,
    rollup_path: str,
    checkpoint_dir: str,
    districts: DataFrame,
    intersections: DataFrame,
    crosswalk: DataFrame,
    trigger_available_now: bool = True,
) -> tuple[StreamingQuery, Callable[[], StreamingQuery]]:
    """Start the ingest stream; returns ``(ingest_query,
    start_rollup)``.

    State lives in two TxTables: the month-partitioned enriched fact
    table at ``table_path`` (written with ``retain_history=True`` so
    its change feed stays readable) and the (cartodb_id, howmany)
    rollup at ``rollup_path``.  ``start_rollup()`` starts the rollup
    stream off the fact table's commit log; call it after -- or
    concurrently with -- the ingest query.  Each stream keeps its own
    checkpoint under ``checkpoint_dir`` and restarts independently;
    the commit log is the only coupling.
    ``trigger_available_now=True`` drains what is there then stops
    (cron-equivalent, restart-safe); False runs continuous
    micro-batches."""
    raw = spark.readStream.schema(SODA_FEED_SCHEMA).json(feed_dir)
    normalized = normalize_soda_feed(raw)

    def sink(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        batch = batch.dropDuplicates(["socrata_id"]).withColumn(
            "__ym", F.concat_ws("-", "year", "month")
        ).localCheckpoint()
        tx = TxTable(table_path, partition_by=["__ym"], retain_history=True)
        if tx.exists():
            existing = tx.read(s)
            fresh = new_rows(batch, existing, "socrata_id")
        else:
            # bootstrap: no table yet -> everything is fresh; serial
            # ids start from 0 (the empty frame needs the key column
            # for assign_serial_ids' max-key probe)
            existing = batch.where("1=0").withColumn(
                "cartodb_id", F.lit(None).cast("long")
            )
            fresh = batch
        # enrich ONLY the increment; pin before any table mutation
        enriched = _enrich(fresh, existing, districts, crosswalk).localCheckpoint()
        if enriched.count():
            if tx.exists():
                tx.append(enriched)
            else:
                tx.init(enriched)
        # update set: tally reconcile into touched months only (C2)
        if tx.exists():
            updated = batch.join(
                fresh.select("socrata_id"), "socrata_id", "left_anti"
            ).localCheckpoint()
            if updated.limit(1).count():
                merged = tx.read(s)
                mismatches = tally_mismatches(updated, merged, "socrata_id")
                if mismatches.limit(1).count():
                    to_fix = merged.join(
                        mismatches.select("socrata_id"), "socrata_id", "left_semi"
                    ).localCheckpoint()
                    repaired = apply_tally_updates(
                        to_fix, mismatches, "socrata_id"
                    ).localCheckpoint()
                    tx.merge(repaired, "socrata_id")

    writer = normalized.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir + "/ingest"
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    q_ingest = writer.start()

    def start_rollup() -> StreamingQuery:
        return chain_rollup_stream(
            spark,
            TxTable(table_path, partition_by=["__ym"], retain_history=True),
            TxTable(rollup_path),
            ["cartodb_id"],
            checkpoint_dir + "/rollup",
            count_col="howmany",
            trigger_available_now=trigger_available_now,
            transform=lambda feed: circle_matches(
                feed, intersections, carry=(CHANGE_COL,)
            ),
        )

    return q_ingest, start_rollup


def rebuild_rollup(
    spark: SparkSession,
    table_path: str,
    rollup_path: str,
    intersections: DataFrame,
) -> None:
    """Periodic full recompute of the rollup (the reference's nightly
    MV rebuild), replacing the view in one atomic ``overwrite``
    commit.  Run it while the rollup stream is caught up with the
    fact table: the stream folds later commits onto the rebuilt view,
    so a change it had not yet folded would be counted twice."""
    counts = intersection_crash_counts(
        TxTable(table_path, partition_by=["__ym"]).read(spark),
        intersections,
        months_window=None,
    )
    mv = TxTable(rollup_path)
    if mv.exists():
        mv.overwrite(counts)
    else:
        mv.init(counts)


def chain_rollup_stream(
    spark: SparkSession,
    fact: TxTable,
    rollup: TxTable,
    group_cols: list[str],
    checkpoint_dir: str,
    count_col: str = "n",
    sum_cols: dict[str, str] | None = None,
    starting_version: int = 0,
    trigger_available_now: bool = True,
    transform=None,
    max_versions_per_batch: int | None = None,
    max_bytes_per_batch: int | None = None,
    columns: "list[str] | None" = None,
) -> StreamingQuery:
    """TABLE-TO-TABLE chaining (r3 VERDICT item 2): a downstream
    pipeline consumes an upstream TxTable's commit log through the
    streaming source (``sources/txstream.py`` -- commit versions as
    offsets) and maintains a derived rollup TxTable with signed-delta
    MV refresh.  This is the Spark-native form of the reference's
    chained nightly stages, each consuming the previous stage's
    committed state (main.py:1132-1200) -- except the downstream
    keeps its own offset in the streaming checkpoint, so an upstream
    writer and any number of downstream consumers are fully
    decoupled (restart either side independently; the log is the
    contract).

    Per micro-batch: the change feed splits into inserts/deletes,
    ``refresh_signed_mv`` folds them into the current rollup (exact
    under updates AND under the feed's rewrite noise -- equal-value
    +/- pairs cancel in signed arithmetic), and the result replaces
    the rollup table in one atomic ``overwrite`` commit.  Work per
    batch is O(changed files) + O(rollup dimension), never O(fact
    table).

    Exactly-once: the sink is BATCH-ID-AWARE (Delta's
    ``txnAppId``/``txnVersion`` idempotent-writes pattern).  Each
    rollup commit records ``(app_id, batch_id)``; when Spark replays
    a micro-batch after a crash that landed BETWEEN the rollup
    commit and the streaming checkpoint's commit, the sink sees
    ``batch_id <= last_txn_version`` and no-ops instead of folding
    the same signed deltas twice.  The app_id is derived from the
    checkpoint location, so independent queries over the same rollup
    track their own positions.

    Without a ``transform`` the feed is auto-projected at the source
    to exactly the group keys + sum sources (the txtable-changes
    ``columns`` option); with one, pass ``columns`` to prune to what
    the transform reads.

    No auto-compaction knob here, deliberately: a signed-MV rollup
    refreshed by ``overwrite`` is file-bounded by construction (every
    commit replaces the whole file set), so ``compact_if_due``'s
    commits-since-rewrite counter would reset each batch and the
    policy could never fire -- the knob belongs to the APPEND-based
    pipelines (``corpus_prep_stream``, ``semantic_dedup_stream``)."""
    from nyc_crash_mapper_etl_script_spark.operators.mv import (
        refresh_signed_mv,
        signed_mv_init,
    )

    app_id = f"chain_rollup:{os.path.abspath(checkpoint_dir)}"

    def sink(batch: DataFrame, batch_id: int) -> None:
        last = rollup.last_txn_version(app_id) if rollup.exists() else None
        if last is not None and batch_id <= last:
            return  # replayed micro-batch: deltas already folded
        if transform is not None:
            # derive the rollup's input rows from the raw change feed
            # (e.g. a spatial circle-match join); the transform MUST
            # carry _change_type through so retractions stay signed
            batch = transform(batch)
        ins = batch.where(F.col(CHANGE_COL) == "insert")
        dels = batch.where(F.col(CHANGE_COL) == "delete")
        cur = (
            rollup.read(spark)
            if rollup.exists()
            else signed_mv_init(ins.limit(0), group_cols, count_col, sum_cols)
        )
        nxt = refresh_signed_mv(
            cur, ins, dels, group_cols, count_col=count_col, sum_cols=sum_cols
        )
        if rollup.exists():
            rollup.overwrite(nxt, app_txn=(app_id, batch_id))
        else:
            rollup.init(nxt, app_txn=(app_id, batch_id))

    if columns is None and transform is None:
        # the rollup's plan is fully known here: project exactly the
        # group keys + sum sources at the SOURCE (r6 columns option),
        # so parquet I/O and Arrow transport never ship the rest of
        # the fact row.  A transform sees the raw feed, so its column
        # needs are its own: pass `columns` explicitly to prune.
        columns = list(
            dict.fromkeys(list(group_cols) + list((sum_cols or {}).values()))
        )
    writer = (
        read_txtable_stream(
            spark,
            fact.root,
            starting_version,
            max_versions_per_batch=max_versions_per_batch,
            max_bytes_per_batch=max_bytes_per_batch,
            columns=columns,
        )
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
