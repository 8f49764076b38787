"""Geo/array enrichment joins (reference §2.3 J2/J6/J7/J8/J9, §2.4 A1).

District linkage (J6/J8): the reference runs 8 near-identical
``UPDATE crashes SET col = d.identifier FROM nyc_<kind> d WHERE
ST_Within(crashes.the_geom, d.the_geom) AND col IS NULL``
(main.py:408-533), chunked by ``cartodb_id % 20`` when bulk
(initialpolygonlinkage/linkthem.py:67-79).  Here: ONE broadcast join
of the fact table against all 8 polygon families at once -- the
modulo chunking is Spark's partitioning, the per-family UPDATE loop is
a conditional pivot of the join result.

Scale: districts are tiny (hundreds of polygons) -> broadcast; the
fact side streams through codegen once.  The join predicate is
bbox-range AND exact pip, so virtually all non-matches die on the
cheap range check.

Intersection tallies (J7/A1): crashes-within-circle counted per
intersection over a trailing window (main.py:618-647) -- broadcast
join on haversine<=radius + hash aggregate.

Vehicle flags (J9): ``vehicle_type && (SELECT ARRAY_AGG(alias) ...)``
per canonical code (main.py:1082-1102) -- collect the tiny crosswalk
once, one ``arrays_overlap`` per flag, zero joins in the fact pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyc_crash_mapper_etl_script_spark.schemas import CROSSWALK_CODE_TO_KIND

#: fact column written per district family (main.py:408-533); the
#: value column is `identifier` except borough/businessdistrict quirks
DISTRICT_KINDS = [
    "borough",
    "city_council",
    "senate",
    "assembly",
    "businessdistrict",
    "community_board",
    "neighborhood",
    "nypd_precinct",
]
#: families whose guard treats '' like NULL (main.py:419, 515)
BLANKABLE_KINDS = {"borough", "neighborhood", "businessdistrict"}
#: families whose identifier is cast to int (main.py:528, 437-533)
INT_KINDS = {"city_council", "community_board", "nypd_precinct", "senate", "assembly"}


def link_districts(
    crashes: DataFrame,
    districts: DataFrame,
    key: str = "cartodb_id",
    point_col: str = "the_geom",
    only_null: bool = True,
) -> DataFrame:
    """Fill the 8 district columns by point-in-polygon containment.

    ``only_null=True`` preserves the reference's ``AND col IS NULL``
    guard semantics (incremental: never overwrite an existing value;
    blankable families also treat '' as unset, main.py:419);
    ``only_null=False`` is recompute-all (what the bulk linkthem.py
    pass does after NULLing at main.py:1068).

    Plan shape: (narrow key+point projection) grid-bucketed
    broadcast HASH join against the polygon dims (spatial_join.py --
    equi-join on cell, never a nested-loop) -> one small delta keyed
    by ``key`` with one column per family -> joined back onto the
    fact table.  The fact table shuffles once (the join-back); the
    pip probe itself never shuffles.
    """
    from nyc_crash_mapper_etl_script_spark.operators.spatial_join import (
        points_in_polygons,
    )

    dims = districts.withColumnRenamed("the_geom", "__poly")
    pts = crashes.select(F.col(key), F.col(point_col)).where(
        F.col(point_col).isNotNull()
    )
    joined = points_in_polygons(
        pts, dims, point_col=point_col, polygon_col="__poly", how="inner"
    )
    matches = joined.groupBy(F.col(f"p.{key}").alias(key)).agg(
        *[
            F.max(F.when(F.col("g.kind") == k, F.col("g.identifier"))).alias(f"__hit_{k}")
            for k in DISTRICT_KINDS
        ]
    )
    out = crashes.join(matches, key, "left")
    # ONE select builds the final projection (replace-or-append per
    # family + drop the __hit columns): chained withColumn re-ran
    # Catalyst analysis over the whole upstream plan per family, and
    # even withColumns + drop paid two passes on the composed DAG
    cols: dict[str, F.Column] = {}
    for kind in DISTRICT_KINDS:
        hit = F.col(f"__hit_{kind}")
        if kind in INT_KINDS:
            hit = hit.cast("int")
        if kind in crashes.columns and only_null:
            cur = F.col(kind)
            unset = cur.isNull() | (
                (cur == F.lit("")) if kind in BLANKABLE_KINDS else F.lit(False)
            )
            cols[kind] = F.when(unset, hit).otherwise(cur)
        else:
            cols[kind] = hit
    final = [
        (cols[c].alias(c) if c in cols else F.col(c)) for c in crashes.columns
    ] + [cols[k].alias(k) for k in DISTRICT_KINDS if k not in crashes.columns]
    return out.select(*final)


def vehicle_flag_exprs(
    crashes: DataFrame, crosswalk: DataFrame, only_null: bool = True
) -> dict[str, "F.Column"]:
    """The ``hasvehicle_<kind>`` expressions as a column dict, for
    callers that fold the flag pass into an adjacent projection
    (``allocate_blame(extra_cols=...)``) instead of paying a separate
    Catalyst analysis pass over the wide composed tree."""
    from nyc_crash_mapper_etl_script_spark.plancache import memo

    def _alias_map() -> dict[str, list[str]]:
        amap: dict[str, list[str]] = {
            kind: [] for kind in CROSSWALK_CODE_TO_KIND.values()
        }
        for row in crosswalk.groupBy("crashmapper_vehicletype").agg(
            F.collect_set("nyc_vehicletype").alias("aliases")
        ).collect():
            kind = CROSSWALK_CODE_TO_KIND.get(row["crashmapper_vehicletype"])
            if kind:
                amap[kind] = sorted(row["aliases"])
        return amap

    alias_map = memo(crosswalk, "crosswalk_aliases", (), _alias_map)
    cols: dict[str, F.Column] = {}
    for kind, aliases in sorted(alias_map.items()):
        flag = f"hasvehicle_{kind}"
        if aliases:
            lit_arr = F.array(*[F.lit(a) for a in aliases])
            hit = F.arrays_overlap(
                F.coalesce(F.col("vehicle_type"), F.array().cast("array<string>")),
                lit_arr,
            )
        else:
            hit = F.lit(False)
        if only_null and flag in crashes.columns:
            cols[flag] = F.coalesce(F.col(flag), hit)
        else:
            cols[flag] = hit
    return cols


def vehicle_flags(crashes: DataFrame, crosswalk: DataFrame, only_null: bool = True) -> DataFrame:
    """Set ``hasvehicle_<kind>`` via array overlap with crosswalk
    aliases (main.py:1082-1102, invoked x8 at main.py:1176-1185).

    The crosswalk is collected to the driver (it is a dimension of a
    few hundred rows; the reference embeds it as an ARRAY_AGG scalar
    subquery) and inlined as literal arrays -> the fact-table pass is
    pure codegen, no join, no shuffle.
    """
    # every canonical kind always gets its flag column (the fact-table
    # schema has all 8 regardless of crosswalk contents); kinds with
    # no aliases are simply never TRUE.  The dimension collect is
    # memoized on the crosswalk plan (plancache) so repeated DAG
    # declarations over an unchanged crosswalk skip the driver job.
    # Single atomic withColumns (chained withColumn = one full
    # analysis pass per flag; see link_districts).
    return crashes.withColumns(vehicle_flag_exprs(crashes, crosswalk, only_null))


def unmapped_vehicle_types(crashes: DataFrame, crosswalk: DataFrame) -> DataFrame:
    """Audit: distinct free-text vehicle types present in crashes but
    missing from the crosswalk (vehicletypecrosswalk/
    check_vehicletypes.py:17-24) -- explode + distinct + anti-join."""
    present = (
        crashes.where(F.size(F.coalesce(F.col("vehicle_type"),
                                        F.array().cast("array<string>"))) > 0)
        .select(F.explode("vehicle_type").alias("nyc_vehicletype"))
        .distinct()
    )
    return present.join(F.broadcast(crosswalk.select("nyc_vehicletype").distinct()),
                        "nyc_vehicletype", "left_anti")


def circle_matches(
    crashes: DataFrame, intersections: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """One ``(cartodb_id, *carry)`` row per injury/fatality crash
    inside each intersection circle: the match grain that
    :func:`intersection_crash_counts` counts and the continuous
    nightly's rollup stream folds (carrying ``_change_type``).

    Grid-bucketed equi-join (spatial_join.points_in_circles): hash
    join on cell id, exact haversine only on same-cell pairs -- at
    prod scale (1.5M crashes x 40k circles) a nested-loop spatial
    join would evaluate 60G predicates; this evaluates ~1 per point.
    """
    from nyc_crash_mapper_etl_script_spark.operators.spatial_join import (
        points_in_circles,
    )

    filtered = crashes.where(
        (F.col("number_of_persons_injured") > 0) | (F.col("number_of_persons_killed") > 0)
    ).where(F.col("the_geom").isNotNull())
    circles = intersections.select(
        F.col("cartodb_id").alias("__i_id"),
        F.col("the_geom.center").alias("center"),
        F.col("the_geom.radius_m").alias("radius_m"),
    )
    joined = points_in_circles(
        filtered.select("the_geom", *carry), circles, how="inner"
    )
    return joined.select(
        F.col("g.__i_id").alias("cartodb_id"), *[F.col(f"p.{c}") for c in carry]
    )


def intersection_crash_counts(
    crashes: DataFrame,
    intersections: DataFrame,
    months_window: int | None = 24,
    reference_date=None,
) -> DataFrame:
    """Per-intersection crash count: injury/fatality crashes inside
    each circle over the trailing window (main.py:618-647)."""
    if months_window is not None:
        ref = F.lit(reference_date).cast("date") if reference_date is not None else F.current_date()
        crashes = crashes.where(F.col("date_val") >= F.add_months(ref, -months_window))
    return circle_matches(crashes, intersections).groupBy("cartodb_id").agg(
        F.count("*").alias("howmany")
    )


def update_intersection_counts(intersections: DataFrame, counts: DataFrame) -> DataFrame:
    """UPDATE-from-join (J11): overwrite ``crashcount`` with fresh
    counts.  The reference clears ALL counts to NULL first
    (main.py:613-615) and then updates only matched rows
    (main.py:637-640), so intersections with no crashes end up NULL —
    not 0 — in the materialized table; we reproduce that observable
    NULL."""
    return (
        intersections.drop("crashcount")
        .join(counts.withColumnRenamed("cartodb_id", "__k"),
              F.col("cartodb_id") == F.col("__k"), "left")
        .withColumn("crashcount", F.col("howmany").cast("int"))
        .drop("__k", "howmany")
    )


def filter_to_extent(crashes: DataFrame, districts: DataFrame,
                     kind: str = "borough") -> DataFrame:
    """J2: NULL the geom of points outside the borough bounding box
    (main.py:378-405 computes ST_Extent of nyc_borough then NULLs
    non-intersecting geoms)."""
    from nyc_crash_mapper_etl_script_spark.functions.geo import extent_agg
    from nyc_crash_mapper_etl_script_spark.plancache import memo

    polys = districts.where(F.col("kind") == kind).select(
        F.explode("the_geom").alias("v")
    ).select(F.col("v.x").alias("x"), F.col("v.y").alias("y"))
    # dimension-stat job memoized on the districts plan: re-declaring
    # the DAG over unchanged dimensions skips the extent probe
    box = memo(districts, "extent", (kind,), lambda: extent_agg(polys, "x", "y").first())
    pt = F.col("the_geom")
    inside = (
        (pt["lng"] >= F.lit(box["xmin"])) & (pt["lng"] <= F.lit(box["xmax"]))
        & (pt["lat"] >= F.lit(box["ymin"])) & (pt["lat"] <= F.lit(box["ymax"]))
    )
    keep = pt.isNull() | inside
    # only the_geom is nulled (main.py:378-405 sets the_geom = NULL
    # and nothing else): the raw longitude/latitude columns survive so
    # downstream geom-repair (the reference ecosystem's fixnullgeom)
    # can rebuild the point from them
    return crashes.withColumn("the_geom", F.when(keep, pt))
