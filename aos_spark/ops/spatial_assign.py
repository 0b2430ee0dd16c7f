"""Zone-assignment operators over axis-aligned boxes.

This is the relational core of the reference's spatial joins: Web-Mercator
tiles ARE axis-aligned boxes (quadkey ↔ bbox is a closed-form identity,
custom_data/README.md:227-245), so point-in-zone counting
(impact_analysis.py:932-950, J7), the buffered facility impact test
(impact_analysis.py:1666-1686, J2) and the 3-step tile→admin assignment
(impact_analysis.py:990-1068, J3→J4→J5) all reduce to numeric interval
predicates once geometries are represented by their bounding boxes.
Irregular polygon refinement on the boundary set is layered on top by
aos_spark.geo.sjoin; everything here is pure Catalyst.

Scale notes: the zone side is always broadcast-size (admin regions,
envelopes ≤ 408 rows); the item side (tiles/points, billions at 100 TB)
never shuffles for steps 1–3 — each step is a broadcast join plus a
per-item argmin/argmax window partitioned by the item key.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def point_within_box_buffer(px: F.Column, py: F.Column, buffer: float) -> F.Column:
    """True where the point (px, py) lies within Euclidean distance
    ``buffer`` of the box (xmin, xmax, ymin, ymax) — a point buffered by a
    DISC, as the reference's gpd .buffer() is. A per-axis expansion would
    test the Chebyshev square and count points in the corner lune (box
    distance in (r, r·√2]) as false positives. Exact point-to-box distance,
    squared on both sides so no sqrt enters the cross-engine-exact
    predicate."""
    dx = F.greatest(F.col("xmin") - px, px - F.col("xmax"), F.lit(0.0))
    dy = F.greatest(F.col("ymin") - py, py - F.col("ymax"), F.lit(0.0))
    return dx * dx + dy * dy <= F.lit(float(buffer) * float(buffer))


def count_points_in_zones(
    points: DataFrame,
    zones: DataFrame,
    point_keys: list[str],
    x_col: str = "x",
    y_col: str = "y",
    buffer: float = 0.0,
) -> DataFrame:
    """J2/J7: per point, how many zones contain it (with an optional buffer
    around the point — the reference's 150 m facility buffer,
    impact_analysis.py:175). Left join keeps zero-hit points with n_zones=0.

    zones: (zone_id, xmin, xmax, ymin, ymax) — broadcast side.
    """
    pred = point_within_box_buffer(F.col(x_col), F.col(y_col), buffer)
    joined = points.join(F.broadcast(zones), pred, "left")
    return joined.groupBy(*point_keys).agg(
        F.count(F.col("zone_id")).alias("n_zones")
    )


def _overlap_area() -> F.Column:
    """Axis-aligned intersection area between item box and zone box."""
    ix = F.greatest(
        F.least(F.col("bxmax"), F.col("xmax")) - F.greatest(F.col("bxmin"), F.col("xmin")),
        F.lit(0.0),
    )
    iy = F.greatest(
        F.least(F.col("bymax"), F.col("ymax")) - F.greatest(F.col("bymin"), F.col("ymin")),
        F.lit(0.0),
    )
    return ix * iy


def bbox_union(df: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """A12: spatial union aggregate, bbox formulation — min/max over the
    box bounds (ST_UNION_AGG at snowflake_utils.py:603 / union_all at
    impact_analysis.py:1158). Exact polygon union is deliberately NOT
    implemented: every consumer in the reference uses the union only as a
    DISTANCE pre-filter input, where the bbox is the correct conservative
    object (bbox distance ≤ true distance, so nothing in range is lost);
    an exact union would add cost without changing any downstream result."""
    aggs = [
        F.min("xmin").alias("xmin"),
        F.max("xmax").alias("xmax"),
        F.min("ymin").alias("ymin"),
        F.max("ymax").alias("ymax"),
    ]
    return df.groupBy(*(group_cols or [])).agg(*aggs) if group_cols else df.agg(*aggs)


def zones_in_range(
    zones: DataFrame,
    envelopes: DataFrame,
    buffer: float,
    *,
    geodesic: bool = False,
) -> DataFrame:
    """S8/J12: the country-pruning pre-filter — keep zones (countries) whose
    bbox is within ``buffer`` of the ENVELOPE UNION's bbox (the reference's
    1,500 km ST_DWITHIN shipped into Snowflake, snowflake_utils.py:590-616).

    ``geodesic=False``: planar box-gap distance, ``buffer`` in coordinate
    units. ``geodesic=True``: boxes are lat/lon ((xmin,xmax)=lon,
    (ymin,ymax)=lat), ``buffer`` in METERS, and the test uses the EXACT
    minimum great-circle distance between the boxes
    (wkt.bbox_min_gc_distance_m) — matching the reference's geography-typed
    ST_DWITHIN instead of a degrees-as-meters approximation.

    This is the explicit cheap pre-join Catalyst cannot invent (SURVEY §4.1):
    the envelope union collapses to ONE broadcast row, so pruning costs one
    scan of the (tiny) zone dim — no data ever moves for out-of-range zones.
    Conservative either way: bbox distance ≤ true zone-geometry distance,
    so no false negatives.
    """
    u = bbox_union(envelopes).select(
        F.col("xmin").alias("uxmin"),
        F.col("xmax").alias("uxmax"),
        F.col("ymin").alias("uymin"),
        F.col("ymax").alias("uymax"),
    )
    joined = zones.crossJoin(F.broadcast(u))
    if geodesic:
        from pyspark.sql import types as T

        from aos_spark.geo import wkt as wktlib

        @F.pandas_udf(T.DoubleType())
        def gc_m(
            xmin: pd.Series, xmax: pd.Series, ymin: pd.Series, ymax: pd.Series,
            uxmin: pd.Series, uxmax: pd.Series, uymin: pd.Series, uymax: pd.Series,
        ) -> pd.Series:
            return pd.Series(
                [
                    wktlib.bbox_min_gc_distance_m((a, b, c, d), (e, f, g, h))
                    for a, b, c, d, e, f, g, h in zip(
                        xmin, xmax, ymin, ymax, uxmin, uxmax, uymin, uymax
                    )
                ]
            )

        dist = gc_m(
            F.col("xmin"), F.col("xmax"), F.col("ymin"), F.col("ymax"),
            F.col("uxmin"), F.col("uxmax"), F.col("uymin"), F.col("uymax"),
        )
        return joined.filter(dist <= F.lit(float(buffer))).drop(
            "uxmin", "uxmax", "uymin", "uymax"
        )
    dx = F.greatest(
        F.col("uxmin") - F.col("xmax"), F.col("xmin") - F.col("uxmax"), F.lit(0.0)
    )
    dy = F.greatest(
        F.col("uymin") - F.col("ymax"), F.col("ymin") - F.col("uymax"), F.lit(0.0)
    )
    return joined.filter(dx * dx + dy * dy <= buffer * buffer).drop(
        "uxmin", "uxmax", "uymin", "uymax"
    )


def zones_in_range_exact(
    zones: DataFrame,
    envelopes: DataFrame,
    buffer_m: float,
    zone_wkt: str = "wkt",
    env_wkt: str = "wkt",
) -> DataFrame:
    """S8/J12, exact tier: the reference's 1,500-km pre-filter is a true
    geography ST_DWITHIN between country GEOMETRY and the envelope union
    (snowflake_utils.py:597-609); the bbox tier (zones_in_range) is
    conservative — it never drops an in-range country but can KEEP one
    whose bbox is close while its actual polygon is not. This runs both
    phases: the cheap broadcast bbox cut first, then an exact WKT-tier
    geodesic polygon-distance verify on the survivors only.

    The envelope dim collects to the driver (≤ hundreds of rows — the
    same discipline as geo/sjoin.py's envelope broadcast) and its parsed
    polygons broadcast into one Arrow-batched verify UDF over the
    already-pruned zone dim — at scale the expensive kernel touches only
    bbox survivors, never the full dim."""
    from aos_spark.geo import wkt as wktlib

    from aos_spark.geo import quadkey as qklib

    survivors = zones_in_range(zones, envelopes, buffer_m, geodesic=True)
    # antimeridian-split BOTH sides before the planar segment/ray kernels
    # (r9 review): a dateline-crossing ring read planar stretches across
    # the whole map at its latitude, so an unsplit zone (Fiji-style) kept
    # ~0 distance to every envelope and survived this tier for storms an
    # ocean away — the over-selection the tier exists to remove.
    env_polys = qklib.split_polygons(
        [
            p
            for r in envelopes.select(env_wkt).collect()
            for p in wktlib.polygons_of(r[env_wkt])
        ]
    )
    bc = zones.sparkSession.sparkContext.broadcast(env_polys)

    @F.pandas_udf("double")
    def _min_d(wkts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                wktlib.polygon_set_distance_m(
                    qklib.split_polygons(wktlib.polygons_of(w)), bc.value
                )
                for w in wkts
            ]
        )

    return survivors.filter(_min_d(F.col(zone_wkt)) <= F.lit(float(buffer_m)))


def view_zoom_for_span(span_col) -> F.Column:
    """S21: the span→view-zoom case ladder (impact_analysis.py:1166-1167):
    11 if span < 0.5, 10 if < 1, 9 if < 2, 8 if < 4, else 7."""
    s = F.col(span_col) if isinstance(span_col, str) else span_col
    return (
        F.when(s < 0.5, 11)
        .when(s < 1.0, 10)
        .when(s < 2.0, 9)
        .when(s < 4.0, 8)
        .otherwise(7)
    )


def _exact_geom_udfs(zone_wkt: dict):
    """Arrow-batched exact-geometry kernels for the subset of zones that are
    TRUE polygons (J4's gpd.overlay parity, impact_analysis.py:1034-1047).
    The parsed polygon dict is closure-captured and shipped once per executor
    (broadcast-sized: admin zones). Both kernels short-circuit on the bbox
    result, so Python-side geometry runs only for candidate pairs whose
    bboxes overlap — the boundary sliver, not the full cross product."""
    from pyspark.sql import types as T

    from aos_spark.geo import quadkey as qklib
    from aos_spark.geo import wkt as wktlib

    # antimeridian-split: both kernels below are planar (ray-cast /
    # rect-clip); parts partition the polygon, so clip areas stay additive
    parsed = {
        int(z): qklib.split_polygons(wktlib.polygons_of(w))
        for z, w in zone_wkt.items()
    }

    @F.pandas_udf(T.DoubleType())
    def exact_area(
        zid: pd.Series,
        w: pd.Series,
        s: pd.Series,
        e: pd.Series,
        n: pd.Series,
        bbox_area: pd.Series,
    ) -> pd.Series:
        out = []
        for z, w_, s_, e_, n_, a in zip(zid, w, s, e, n, bbox_area):
            polys = parsed.get(int(z))
            if polys is None:
                out.append(float(a))  # rectangular zone: bbox overlap IS exact
            elif a <= 0.0:
                out.append(0.0)  # polygon ⊆ its bbox: disjoint bboxes → 0
            else:
                out.append(
                    float(
                        sum(
                            wktlib.rect_clip_area((w_, s_, e_, n_), rings)
                            for rings in polys
                        )
                    )
                )
        return pd.Series(out)

    @F.pandas_udf(T.BooleanType())
    def exact_center(
        zid: pd.Series, cx: pd.Series, cy: pd.Series, bbox_in: pd.Series
    ) -> pd.Series:
        out = []
        for z, x, y, b in zip(zid, cx, cy, bbox_in):
            polys = parsed.get(int(z))
            if polys is None:
                out.append(bool(b))
            elif not b:
                out.append(False)  # center outside bbox → outside polygon
            else:
                out.append(wktlib.point_in_any_polygon(float(x), float(y), polys))
        return pd.Series(out)

    return exact_center, exact_area


def assign_zones_3step(
    items: DataFrame,
    zones: DataFrame,
    item_key: str = "item_id",
    zone_wkt: dict | None = None,
) -> DataFrame:
    """J3→J4→J5: assign every item box to exactly one zone.

    items: (item_key, cx, cy, bxmin, bxmax, bymin, bymax) — center + box.
    zones: (zone_id, xmin, xmax, ymin, ymax) — broadcast side.
    zone_wkt: optional {zone_id: polygon WKT} for zones that are TRUE
    polygons (non-rectangular admin regions). For those zones, step 1 tests
    the center against the exact polygon and step 2 measures the exact
    rect×polygon clip area (wkt.rect_clip_area — the gpd.overlay parity,
    impact_analysis.py:1034-1047); their (xmin..ymax) row must be the
    polygon's bbox. Zones without a WKT entry stay on the pure-Catalyst
    bbox math, which is exact for rectangles.

    1. center-within-zone; ties (overlapping zones) → lowest zone_id
       (the reference's drop_duplicates keep-first made deterministic,
       impact_analysis.py:1031).
    2. unassigned items → zone with the largest overlap area
       (gpd.overlay + idxmax, impact_analysis.py:1034-1047); tie → lowest
       zone_id.
    3. still unassigned (ocean tiles) → nearest zone center by squared
       euclidean distance (sjoin_nearest, impact_analysis.py:1049-1064);
       tie → lowest zone_id. (For WKT zones the bbox center stands in for
       the centroid — the fallback tier only breaks open-ocean ties.)

    Returns (item_key, zone_id, method ∈ {'center','overlap','nearest'}).

    Physical strategy: ONE broadcast cross join (zone side is always tiny —
    admin regions / envelopes) + ONE per-item window. The three steps become
    a priority ordering instead of three joins + two anti-joins: step
    semantics and tie-breaks are identical, but the item side is scanned,
    shuffled, and windowed exactly once — the shape that survives a 100×
    scale-up of the item side. The exact-geometry tier adds one Arrow batch
    pass whose per-row cost collapses to a dict lookup away from polygon
    bboxes.
    """
    bbox_in = (
        (F.col("cx") >= F.col("xmin"))
        & (F.col("cx") <= F.col("xmax"))
        & (F.col("cy") >= F.col("ymin"))
        & (F.col("cy") <= F.col("ymax"))
    )
    zcx = (F.col("xmin") + F.col("xmax")) / 2
    zcy = (F.col("ymin") + F.col("ymax")) / 2
    d2 = (F.col("cx") - zcx) * (F.col("cx") - zcx) + (F.col("cy") - zcy) * (
        F.col("cy") - zcy
    )
    scored = (
        items.crossJoin(F.broadcast(zones))
        .withColumn("__bbox_in", bbox_in)
        .withColumn("__bbox_area", _overlap_area())
    )
    if zone_wkt:
        exact_center, exact_area = _exact_geom_udfs(zone_wkt)
        scored = scored.withColumn(
            "__in",
            exact_center(F.col("zone_id"), F.col("cx"), F.col("cy"), F.col("__bbox_in")),
        ).withColumn(
            "__area",
            exact_area(
                F.col("zone_id"),
                F.col("bxmin"),
                F.col("bymin"),
                F.col("bxmax"),
                F.col("bymax"),
                F.col("__bbox_area"),
            ),
        )
    else:
        scored = scored.withColumn("__in", F.col("__bbox_in")).withColumn(
            "__area", F.col("__bbox_area")
        )
    scored = (
        scored
        .withColumn(
            "__priority",
            F.when(F.col("__in"), 0).when(F.col("__area") > 0, 1).otherwise(2),
        )
        .withColumn(
            # within a priority class, the class's own ranking key:
            # center → zone_id (keep-first), overlap → area desc, nearest → d²
            "__key",
            F.when(F.col("__priority") == 0, F.col("zone_id").cast("double"))
            .when(F.col("__priority") == 1, -F.col("__area"))
            .otherwise(d2),
        )
    )
    w = Window.partitionBy(item_key).orderBy("__priority", "__key", "zone_id")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            item_key,
            "zone_id",
            F.element_at(
                F.array(F.lit("center"), F.lit("overlap"), F.lit("nearest")),
                F.col("__priority") + 1,
            ).alias("method"),
        )
    )
