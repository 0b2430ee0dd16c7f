"""Golden fixture for the quadkey-reduced spatial pipeline (J1/A1/A2):
a square envelope covering a known tile set → probability k/51 exactly
(FIXTURES.md §8.1-8.2).
"""

import math

from pyspark.sql import functions as F

from aos_spark.geo import quadkey as qk
from aos_spark.geo.sjoin import envelope_cover_df, tiles_hit_by_envelopes
from aos_spark.ops import probability

ZOOM = 8


def _grid(spark, lon0=9.0, lat0=9.0, n=6):
    """n×n tile grid around (lat0..), one row per quadkey."""
    keys = set()
    for i in range(n):
        for j in range(n):
            keys.add(qk.point_to_quadkey(lat0 + i * 0.7, lon0 + j * 0.7, ZOOM))
    return spark.createDataFrame([(k, 100.0) for k in sorted(keys)], "tile_id string, population double")


def _envelopes():
    """3 of 51 members reach the 34kt box; 1 reaches the nested 50kt box."""
    big = [[(9.5, 9.5), (12.5, 9.5), (12.5, 12.5), (9.5, 12.5)]]
    small = [[(10.0, 10.0), (11.5, 10.0), (11.5, 11.5), (10.0, 11.5)]]
    rows = []
    for member in (0, 1, 2):
        rows.append((member, 34, big))
    rows.append((0, 50, small))
    return rows


def test_probability_is_exact_fraction(spark):
    tiles = _grid(spark)
    env_rows = [
        (m, w, "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in poly[0]) + f", {poly[0][0][0]} {poly[0][0][1]}))")
        for m, w, poly in _envelopes()
    ]
    env = spark.createDataFrame(env_rows, "ensemble_member int, wind_threshold int, envelope_wkt string")

    cover = envelope_cover_df(spark, env, zoom=ZOOM)
    hits = tiles_hit_by_envelopes(tiles, cover)
    prob = probability.member_probability(
        hits, ["tile_id", "wind_threshold"], "ensemble_member"
    )
    rows = prob.collect()
    probs_34 = {r["tile_id"]: r["probability"] for r in rows if r["wind_threshold"] == 34}
    probs_50 = {r["tile_id"]: r["probability"] for r in rows if r["wind_threshold"] == 50}

    # every tile hit at 34kt was hit by exactly 3 members → 3/51
    assert probs_34 and all(math.isclose(p, 3 / 51) for p in probs_34.values())
    assert probs_50 and all(math.isclose(p, 1 / 51) for p in probs_50.values())
    # nesting: 50kt tiles are a subset of 34kt tiles
    assert set(probs_50) <= set(probs_34)

    # cross-check one tile against pure-python geometry
    big_cover = set(qk.expand_cover(qk.polygon_cover(_envelopes()[0][2], ZOOM), ZOOM))
    assert set(probs_34) == {t for t in big_cover if t in {r["tile_id"] for r in _grid(spark).collect()}}


def test_point_to_tile_equijoin(spark):
    """J7: facility point → tile via the closed-form quadkey formula."""
    from aos_spark.geo.sjoin import with_quadkey

    pts = spark.createDataFrame(
        [("s1", 10.2, 10.3), ("s2", 55.0, -120.0)], "id string, latitude double, longitude double"
    )
    out = {r["id"]: r["tile_id"] for r in with_quadkey(pts, ZOOM).collect()}
    assert out["s1"] == qk.point_to_quadkey(10.2, 10.3, ZOOM)
    assert out["s2"] == qk.point_to_quadkey(55.0, -120.0, ZOOM)


def test_dateline_envelope_boundary_points_verified_inside(spark):
    """r9 review (empirically confirmed): the boundary-verify UDF
    ray-cast the RAW unsplit WKT, so a dateline-crossing envelope's
    planar interior read as the complement and every inside point on a
    boundary leaf was dropped. The verifier now tests the same
    antimeridian-split parts the cover is built from."""
    from aos_spark.geo.sjoin import points_hit_by_envelopes

    wkt = "POLYGON ((170 10, -170 10, -170 20, 170 20, 170 10))"
    env = spark.createDataFrame(
        [(1, 34, wkt)],
        "ensemble_member int, wind_threshold int, envelope_wkt string",
    )
    cover = envelope_cover_df(spark, env, zoom=ZOOM)
    pts = spark.createDataFrame(
        [
            (1, 15.0, 175.0),    # inside, east of the seam
            (2, 15.0, -175.0),   # inside, west of the seam
            (3, 15.0, 0.0),      # far outside (the planar complement!)
            (4, 40.0, 175.0),    # outside in latitude
        ],
        "id long, latitude double, longitude double",
    )
    hits = points_hit_by_envelopes(pts, cover, {(1, 34): wkt}, zoom=ZOOM)
    got = sorted(r["id"] for r in hits.collect())
    assert got == [1, 2], got


def test_point_zone_circular_buffer_excludes_corner_lune(spark):
    """r9 review: the buffered point-in-zone test was a Chebyshev square;
    the reference buffers with a DISC. A point diagonally 140,140 from
    the corner (Euclidean ~198 > 150) must not count; axis-aligned 140
    must."""
    from aos_spark.ops.spatial_assign import count_points_in_zones

    zones = spark.createDataFrame(
        [(1, 0.0, 100.0, 0.0, 100.0)], "zone_id long, xmin double, xmax double, ymin double, ymax double"
    )
    pts = spark.createDataFrame(
        [(1, 240.0, 240.0), (2, 240.0, 50.0), (3, 50.0, 50.0)],
        "pid long, x double, y double",
    )
    out = {
        r["pid"]: r["n_zones"]
        for r in count_points_in_zones(
            pts, zones, ["pid"], "x", "y", buffer=150.0
        ).collect()
    }
    assert out == {1: 0, 2: 1, 3: 1}, out

    # the facility builder shares the disc predicate (2-unit buffer): a
    # facility diagonally 1.5,1.5 beyond the envelope corner (box distance
    # ~2.12, inside the Chebyshev square) gets probability 0; one axis-
    # aligned at distance 2 is hit by the one member
    from aos_spark.pipeline import jobs

    env = spark.createDataFrame(
        [("m0", 100, 0.0, 100.0, 0.0, 100.0)],
        "member string, wind_threshold int, xmin double, xmax double, ymin double, ymax double",
    )
    fac = spark.createDataFrame(
        [(1, "schools", 101.5, 101.5), (2, "schools", 102.0, 50.0)],
        "facility_id long, kind string, fx double, fy double",
    )
    probs = {
        r["facility_id"]: r["probability"]
        for r in jobs.facility_probability(fac, jobs.facility_hits(fac, env))
        .filter(F.col("wind_threshold") == 100)
        .collect()
    }
    assert probs == {1: 0.0, 2: 1 / jobs.ENSEMBLE_SIZE}, probs
