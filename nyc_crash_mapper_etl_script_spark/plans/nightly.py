"""The nightly ETL (reference main() at main.py:1132-1200) as ONE
DataFrame DAG.

Reference orchestration: 2 HTTP GETs, ~N/50 INSERT POSTs, 4 polled
batch jobs, a VACUUM -- hours of throttled API calls.  Here the nine
stages compose into one DataFrame DAG; Catalyst fuses the enrichment
projections (vehicle flags + blame are pure column work on the same
pass) and AQE picks join strategies.  The DAG is cut at the three
places where it forks (the merged input, the enriched fact table, the
updated intersection tallies) by shared materializations, and every
stage runs once per night, not once per output: under AQE a lazy
``localCheckpoint`` runs its subtree's shuffle stages where it is
declared, so declaring the night runs most of it, and writing the
three outputs runs what is left above the cuts.  (Past the size bound
of ``functions/materialize.py`` the shares persist DISK_ONLY instead,
and the first write that reads each one computes it.)

Stage map (reference -> here):
  1 ingest+normalize+dedup  get_soda_data/format_soda_response/
                            create_sql_insert    -> normalize + anti-join
  2 bbox geo filter         filter_carto_data    -> filter_to_extent
  3-4 tally/geom reconcile  find_updated_*       -> reconcile.* (optional
                            input: an updates snapshot)
  5 intersection tallies    batch job            -> intersection_crash_counts
  6 district enrichment     8 ST_Within UPDATEs  -> link_districts (one join)
  7 vehicle flags           8 && UPDATEs         -> vehicle_flags (no join)
  8 blame allocation        3 chained UPDATEs    -> allocate_blame (one pass)
  9 VACUUM                  compaction           -> writer repartition
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nyc_crash_mapper_etl_script_spark.operators.blame import allocate_blame
from nyc_crash_mapper_etl_script_spark.operators.dedup_merge import new_rows
from nyc_crash_mapper_etl_script_spark.operators.enrichment import (
    filter_to_extent,
    intersection_crash_counts,
    link_districts,
    update_intersection_counts,
    vehicle_flags,
)
from nyc_crash_mapper_etl_script_spark.operators.ingest import normalize_soda_feed
from nyc_crash_mapper_etl_script_spark.operators.reconcile import (
    apply_tally_updates,
    moved_geoms,
    tally_mismatches,
)
from nyc_crash_mapper_etl_script_spark.operators.topk import top_k


def assign_serial_ids(fresh: DataFrame, existing: DataFrame, key: str = "cartodb_id") -> DataFrame:
    """Serial-PK analog for new rows: continue from max(existing),
    ids dense and ordered by socrata_id.

    Scalable two-phase rank (no single-task global window): range-
    partition by socrata_id, rank locally inside each range, then add
    the broadcast cumulative count of the ranges before it.  Because
    ranges are ordered and socrata_id is unique, local_rank + offset
    IS the global rank no matter where the sampled range boundaries
    fall, so the ids are deterministic while every task holds only its
    own slice of the batch."""
    from nyc_crash_mapper_etl_script_spark.plancache import memo

    # parquet-stat-cheap max over the key column, memoized on the
    # existing table's plan: re-declaring against an unchanged table
    # version skips the driver job (plancache)
    start = memo(
        existing,
        "max_key",
        (key,),
        lambda: existing.agg(F.coalesce(F.max(key), F.lit(0)).alias("mx")).first()["mx"],
    )
    # Rank the WIDE rows directly through one range exchange.  The
    # alternative (rank a narrow socrata_id branch, hash-join ids
    # back) was A/B'd twice -- r2 without the downstream checkpoint
    # and r3 with it -- and lost both times (r3: 3.9s vs 1.4s nightly
    # exec): the full-width join-back costs more than the range
    # sampling it saves, and the run_nightly checkpoint already
    # ensures the sampling's upstream double-evaluation is paid once.
    ranged = fresh.repartitionByRange("socrata_id").withColumn(
        "__pid", F.spark_partition_id()
    )
    w = Window.partitionBy("__pid").orderBy("socrata_id")
    local = ranged.withColumn("__rn", F.row_number().over(w))
    # exclusive prefix sum over the per-range counts (n_partitions
    # rows) -- folded into one sorted array + HOF instead of a global
    # running-sum window, which would plan a no-partition WindowExec
    # (a genuine hazard marker elsewhere, noise on a provably tiny
    # aggregate)
    counts = local.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    packed = counts.agg(
        F.array_sort(F.collect_list(F.struct("__pid", "__cnt"))).alias("arr")
    )
    offsets = packed.select(
        F.explode(
            F.transform(
                F.col("arr"),
                lambda s, i: F.struct(
                    s["__pid"].alias("__pid"),
                    F.aggregate(
                        F.slice(F.col("arr"), 1, i),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x["__cnt"],
                    ).alias("__off"),
                ),
            )
        ).alias("o")
    ).select("o.__pid", "o.__off")
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(key, (F.col("__rn") + F.col("__off") + F.lit(start)).cast("long"))
        .drop("__pid", "__rn", "__off")
    )


def run_nightly(
    feed: DataFrame,
    crashes: DataFrame,
    districts: DataFrame,
    intersections: DataFrame,
    crosswalk: DataFrame,
    updates_feed: DataFrame | None = None,
    months_window: int = 24,
    reference_date=None,
    top_k_size: int = 500,
) -> dict[str, DataFrame]:
    """Compose the full nightly DAG; returns the new table versions.

    Declaration runs work: the shuffle stages under each of the three
    shared subtrees (the merged input after the extent filter, the
    enriched fact table, the updated intersection tallies) run here,
    so ingest, dedup, serial ids, reconciliation, district linkage,
    blame and the tallies execute once, whichever outputs the caller
    writes; a caller that writes only ``crashes`` still pays for the
    tallies.  Acting on the outputs runs what is left: the top-k view
    and the final scans of the shared relations.

    The three dimensions are made local once per session
    (``functions.materialize.local_dimension``): the first night
    collects each to the driver, and every later night over the same
    dimension plans reads those rows, with no Python worker and no
    file listing.  They must be driver-sized, as they already are
    wherever they are broadcast.

    Under the size bound of ``functions/materialize.py`` the shares
    are localCheckpoints, held in executor storage until the returned
    frames are no longer referenced; ``TxTable.overwrite`` writes a
    checkpointed output without pinning it again, so the fact table is
    stored once.  A lost executor cannot recompute the shares, so it
    fails the night even between two commits.

    ``updates_feed``: optional re-fetched window of updated source
    rows (the :updated_at path, stages 3-4); when present, tally
    mismatches overwrite and moved geoms re-trigger district linkage
    exactly like the reference's NULL-then-recompute
    (main.py:949, 1068).
    """
    # imported per call, like the operators' plancache imports, so a
    # wrapper installed on the module (perfbench's tracer) sees it
    from nyc_crash_mapper_etl_script_spark.functions.materialize import (
        local_dimension,
        share_corpus_subtree,
    )

    districts, intersections, crosswalk = (
        local_dimension(d) for d in (districts, intersections, crosswalk)
    )

    # stage 1: normalize + dedup-merge
    staged = normalize_soda_feed(feed)
    fresh = assign_serial_ids(new_rows(staged, crashes, "socrata_id"), crashes)
    merged = crashes.unionByName(fresh, allowMissingColumns=True)

    # stage 2: borough-extent sanity filter
    merged = filter_to_extent(merged, districts)

    # the merged fact table feeds THREE independent consumers (the
    # district-linkage matches branch, the wide enrichment path, and
    # the late-data reconciliation) -- without a materialization
    # barrier each one re-evaluates the ingest/dedup/serial-id
    # upstream from scratch (column-pruned, but still a full pass).
    # Size-aware shared materialization (r13): one lazy
    # localCheckpoint under the input-bytes bound (the local/bench
    # regime, identical to r12), lineage-preserving DISK_ONLY
    # persistence past it -- the staged increment is fact-table-scale.
    merged = share_corpus_subtree(merged)

    # stages 3-4: late-data reconciliation
    if updates_feed is not None:
        upd = normalize_soda_feed(updates_feed)
        tallies = tally_mismatches(upd, merged, "socrata_id")
        merged = apply_tally_updates(merged, tallies, "socrata_id")
        moved = moved_geoms(upd, merged, "socrata_id")
        moved_keys = moved.select("socrata_id")
        new_points = moved.select(
            "socrata_id",
            F.col("new_lng"),
            F.col("new_lat"),
        )
        merged = (
            merged.join(new_points, "socrata_id", "left")
            .withColumn("longitude", F.coalesce("new_lng", "longitude"))
            .withColumn("latitude", F.coalesce("new_lat", "latitude"))
            .withColumn(
                "the_geom",
                F.when(
                    F.col("new_lng").isNotNull(),
                    F.struct(
                        F.col("new_lng").alias("lng"), F.col("new_lat").alias("lat")
                    ),
                ).otherwise(F.col("the_geom")),
            )
            .drop("new_lng", "new_lat")
        )
        # NULL the district columns of moved rows -> re-enrichment
        # (main.py:1068)
        from nyc_crash_mapper_etl_script_spark.operators.enrichment import DISTRICT_KINDS

        flag = moved_keys.withColumn("__moved", F.lit(True))
        merged = merged.join(flag, "socrata_id", "left")
        for kind in DISTRICT_KINDS:
            if kind in merged.columns:
                merged = merged.withColumn(
                    kind, F.when(F.col("__moved"), F.lit(None)).otherwise(F.col(kind))
                )
        merged = merged.drop("__moved")

    # stage 6: district linkage (only_null preserves prior values)
    merged = link_districts(merged, districts)

    # stages 7+8: vehicle flags + blame allocation, folded into the
    # same projections (flags inline into blame stage 1) -- one fewer
    # analysis pass over the wide tree per declaration, identical
    # runtime (codegen CSE evaluates each flag once)
    from nyc_crash_mapper_etl_script_spark.operators.enrichment import (
        vehicle_flag_exprs,
    )

    # the outputs fork twice: the enriched fact table is both the
    # ``crashes`` output and the tallies' input, and the updated
    # tallies are both the ``intersections`` output and top-k's input.
    # Sharing each fork runs its upstream once per night instead of
    # once per output written.
    merged = share_corpus_subtree(
        allocate_blame(merged, extra_cols=vehicle_flag_exprs(merged, crosswalk))
    )

    # stage 5: intersection tallies + top-k view
    counts = intersection_crash_counts(
        merged, intersections, months_window=months_window, reference_date=reference_date
    )
    inters = share_corpus_subtree(update_intersection_counts(intersections, counts))
    high = top_k(
        inters.where(F.col("crashcount") > 0), "crashcount", top_k_size, "cartodb_id"
    )

    return {"crashes": merged, "intersections": inters, "highcrash": high}


def run_backfill(
    feed: DataFrame,
    crashes: DataFrame,
    districts: DataFrame,
    intersections: DataFrame,
    crosswalk: DataFrame,
    month: str,
    **kwargs,
) -> dict[str, DataFrame]:
    """Backfill (backlog/check_backlog.py:361-406): the SAME pipeline
    with a month predicate on the feed -- one code path, different
    filter (the reference duplicates 400 lines for this)."""
    month_feed = feed.where(F.substring("crash_date", 1, 7) == month)
    return run_nightly(month_feed, crashes, districts, intersections, crosswalk, **kwargs)
