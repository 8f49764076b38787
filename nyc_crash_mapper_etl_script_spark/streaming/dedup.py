"""Streaming deduplication (exact, key-scoped state).

The streaming twin of the batch exact dedup
(``operators.dedup_text.exact_duplicates`` /
``operators.dedup_merge.new_rows``): the first arrival of a key
passes, every later arrival is dropped.  Two flavors:

 - :func:`dedup_stream` -- unbounded exactness: state holds every key
   seen since the query started.  Right for bounded key universes
   (entity ids) or short-lived queries.
 - :func:`dedup_stream_within_watermark` -- state expires with the
   event-time watermark: duplicates are only suppressed while they
   can still legally arrive (the late-data window), so state size is
   O(keys per watermark window), the only regime that survives an
   unbounded 100 TB/day feed.  This is Spark's
   ``dropDuplicatesWithinWatermark``: a duplicate older than the
   watermark was already dropped as late data upstream, so expiring
   its key loses nothing.

Both compose with the TxTable append sink: dedup-then-append gives
the reference's INSERT-only-new-rows semantics (SURVEY §2.4 J1,
main.py:521-556) as a continuous query instead of a nightly diff.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["dedup_stream", "dedup_stream_within_watermark"]


def dedup_stream(stream: DataFrame, key_cols: list[str]) -> DataFrame:
    """First arrival per key wins, forever (state never expires)."""
    return stream.dropDuplicates(key_cols)


def dedup_stream_within_watermark(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    watermark_delay: str,
) -> DataFrame:
    """First arrival per key wins while the key is inside the
    watermark window; state for older keys is reclaimed."""
    return stream.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        key_cols
    )


def near_dedup_stream(
    stream: DataFrame,
    index_table,
    id_col: str,
    text_col: str,
    sink,
    checkpoint_dir: str,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
):
    """Continuous NEAR-duplicate suppression: each micro-batch is
    LSH-dedup'd against a band-index TxTable that the stream itself
    maintains.

    Per batch (foreachBatch, so the index read is fresh each time):

    1. compute the batch's (id, sig, band-key) rows ONCE
       (``minhash_banded_rows`` -- the only signature work ever done
       for these docs);
    2. ``minhash_dedup_incremental`` against the stored index: a
       streaming equi-join on the band key, cost O(batch x bucket
       density), never O(corpus);
    3. batch docs that near-match a STORED doc are dropped; matches
       within the batch keep the smallest id (first-wins, same rule
       as the batch dedup family);
    4. survivors' band rows are APPENDED to the index (blind append:
       multi-writer-safe, no read dependency) and the surviving doc
       rows go to ``sink``.

    This is the streaming twin of ``dedup_minhash_incremental`` --
    the registry entry and its oracle pin the per-batch semantics;
    this wrapper pins the state maintenance (pytest drives two
    batches through a real index table).
    """
    from pyspark.sql import functions as F

    from nyc_crash_mapper_etl_script_spark.operators.dedup_text import (
        minhash_banded_rows,
        minhash_dedup_incremental,
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.localCheckpoint()  # stable across the multi-action batch
        banded = minhash_banded_rows(
            batch,
            id_col=id_col,
            text_col=text_col,
            num_perm=num_perm,
            bands=bands,
        ).localCheckpoint()
        if index_table.exists():
            index = index_table.read(spark)
            pairs = minhash_dedup_incremental(
                banded, index, num_perm=num_perm, threshold=threshold
            )
            stored_ids = index.select("id").distinct()
        else:
            pairs = minhash_dedup_incremental(
                banded, banded.limit(0), num_perm=num_perm, threshold=threshold
            )
            stored_ids = banded.select("id").limit(0)
        # drop any batch doc matching a stored doc; within-batch pairs
        # drop the larger id (first-wins by id order)
        batch_ids = batch.select(F.col(id_col).alias("id")).distinct()
        dup_vs_stored = (
            pairs.join(stored_ids.withColumnRenamed("id", "sid"),
                       F.col("id_a") == F.col("sid"), "left_semi")
            .select(F.col("id_b").alias("dup"))
            .union(
                pairs.join(stored_ids.withColumnRenamed("id", "sid"),
                           F.col("id_b") == F.col("sid"), "left_semi")
                .select(F.col("id_a").alias("dup"))
            )
        )
        within = (
            pairs.join(batch_ids.withColumnRenamed("id", "ba"),
                       F.col("id_a") == F.col("ba"), "left_semi")
            .join(batch_ids.withColumnRenamed("id", "bb"),
                  F.col("id_b") == F.col("bb"), "left_semi")
            .select(F.col("id_b").alias("dup"))
        )
        doomed = dup_vs_stored.union(within).distinct()
        kept = batch.join(
            doomed, batch[id_col] == doomed["dup"], "left_anti"
        ).localCheckpoint()
        kept_bands = banded.join(
            kept.select(F.col(id_col).alias("id")), on="id", how="left_semi"
        )
        if index_table.exists():
            index_table.append(kept_bands)
        else:
            index_table.init(kept_bands)
        sink(kept, batch_id)

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(process)
        .start()
    )
