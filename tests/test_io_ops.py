"""Tests for the source/sink gap-fillers: CSV loaders (S15/S16), source
cascade (S14), bbox-union pre-filter (S8/J12/A12), view-zoom ladder (S21),
GeoSight export (S22), filename-compat export (S10/S11)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from aos_spark.io import readers, writers
from aos_spark.ops import spatial_assign


# -- S15 / S16 ---------------------------------------------------------------


def test_custom_points_csv_autogen_ids(spark, tmp_path):
    p = tmp_path / "AAA_schools.csv"
    p.write_text("latitude,longitude,name\n1.0,2.0,a\n3.0,4.0,b\n")
    df = readers.load_custom_points_csv(spark, str(p), "schools")
    rows = {r["name"]: r["school_id_giga"] for r in df.collect()}
    assert rows == {"a": "schools_0", "b": "schools_1"}


def test_jdbc_reader_options():
    opts = readers.jdbc_reader_options(
        "jdbc:postgresql://h/db",
        table="tc_tracks",
        partition_column="ensemble_member",
        lower_bound=0,
        upper_bound=51,
        num_partitions=8,
    )
    assert opts["dbtable"] == "tc_tracks"
    assert (opts["partitionColumn"], opts["lowerBound"], opts["upperBound"]) == (
        "ensemble_member",
        "0",
        "51",
    )
    assert opts["numPartitions"] == "8"
    assert opts["fetchsize"] == "10000"

    q = readers.jdbc_reader_options("jdbc:x://h/db", query="SELECT 1 AS one")
    assert q["query"] == "SELECT 1 AS one"

    with pytest.raises(ValueError, match="exactly one"):
        readers.jdbc_reader_options("jdbc:x://h/db")
    with pytest.raises(ValueError, match="exactly one"):
        readers.jdbc_reader_options("jdbc:x://h/db", table="t", query="q")
    with pytest.raises(ValueError, match="together"):
        readers.jdbc_reader_options(
            "jdbc:x://h/db", table="t", partition_column="c", num_partitions=4
        )
    with pytest.raises(ValueError, match="dbtable"):
        readers.jdbc_reader_options(
            "jdbc:x://h/db",
            query="SELECT 1",
            partition_column="c",
            lower_bound=0,
            upper_bound=1,
            num_partitions=2,
        )


def test_read_table_routes_jdbc(spark, monkeypatch):
    seen = {}

    def fake_read_jdbc(sp, url, **kw):
        seen.update(url=url, **kw)
        return "sentinel"

    monkeypatch.setattr(readers, "read_jdbc", fake_read_jdbc)
    out = readers.read_table(spark, "jdbc:postgresql://h/db#tc_envelopes")
    assert out == "sentinel"
    assert seen == {"url": "jdbc:postgresql://h/db", "table": "tc_envelopes"}

    with pytest.raises(ValueError, match="#table"):
        readers.read_table(spark, "jdbc:postgresql://h/db")


def test_sequential_ids_multi_partition(spark):
    """Dense global ordering from range-partition + per-partition offsets:
    ids must equal the rank by the order columns regardless of input
    partitioning (the partition-less-window replacement, VERDICT r1 #5)."""
    import random

    vals = list(range(100))
    random.Random(7).shuffle(vals)
    df = spark.createDataFrame(
        [(float(v), float(-v)) for v in vals], ["latitude", "longitude"]
    ).repartition(8)
    out = readers.sequential_ids(df, "p_", ["latitude", "longitude"], parts=5)
    got = {r["latitude"]: r["__seq_id"] for r in out.collect()}
    assert got == {float(v): f"p_{v}" for v in range(100)}


def test_custom_points_csv_id_alias_and_validation(spark, tmp_path):
    p = tmp_path / "AAA_wash.csv"
    p.write_text("id,latitude,longitude,wash_type\nw9,1.0,2.0,well\n")
    df = readers.load_custom_points_csv(spark, str(p), "wash")
    assert df.first()["osm_id"] == "w9"

    bad = tmp_path / "AAA_health_centers.csv"
    bad.write_text("latitude,longitude\n1.0,2.0\n")  # missing amenity
    with pytest.raises(ValueError, match="amenity"):
        readers.load_custom_points_csv(spark, str(bad), "health_centers")

    assert readers.load_custom_points_csv(spark, str(tmp_path / "nope.csv"), "schools") is None


def test_custom_tiles_csv_string_tile_id(spark, tmp_path):
    p = tmp_path / "tiles.csv"
    # leading-zero quadkey must survive as a string
    p.write_text("tile_id,population\n0231,100.5\n1203,7.0\n")
    df = readers.load_custom_tiles_csv(spark, str(p))
    assert df.schema["tile_id"].dataType.simpleString() == "string"
    assert {r["tile_id"] for r in df.collect()} == {"0231", "1203"}


# -- S14 ---------------------------------------------------------------------


def test_source_cascade_prefers_first_existing(spark, tmp_path):
    cache = tmp_path / "cache.parquet"
    spark.range(3).write.parquet(str(cache))
    called = []

    def api_tier():
        called.append(1)
        return spark.range(99)

    out = readers.read_first_available(
        spark, [str(tmp_path / "custom.parquet"), str(cache), api_tier]
    )
    assert out.count() == 3 and not called  # cache hit; API never called

    out2 = readers.read_first_available(spark, [str(tmp_path / "a"), api_tier])
    assert out2.count() == 99 and called


# -- S8 / J12 / A12 ----------------------------------------------------------


def test_bbox_union_and_range_prefilter(spark):
    envs = spark.createDataFrame(
        [(1, 0.0, 10.0, 0.0, 10.0), (2, 5.0, 20.0, 5.0, 15.0)],
        "envelope_id INT, xmin DOUBLE, xmax DOUBLE, ymin DOUBLE, ymax DOUBLE",
    )
    u = spatial_assign.bbox_union(envs).first()
    assert (u["xmin"], u["xmax"], u["ymin"], u["ymax"]) == (0.0, 20.0, 0.0, 15.0)

    zones = spark.createDataFrame(
        [
            ("NEAR", 25.0, 30.0, 0.0, 5.0),    # 5 from union edge
            ("FAR", 100.0, 110.0, 0.0, 5.0),   # 80 away
            ("INSIDE", 2.0, 3.0, 2.0, 3.0),    # distance 0
        ],
        "country STRING, xmin DOUBLE, xmax DOUBLE, ymin DOUBLE, ymax DOUBLE",
    )
    kept = {
        r["country"]
        for r in spatial_assign.zones_in_range(zones, envs, buffer=10.0).collect()
    }
    assert kept == {"NEAR", "INSIDE"}


def test_range_prefilter_geodesic(spark):
    """S8 geodesic form: buffer in METERS against exact great-circle box
    distance (reference ST_DWITHIN on geography). 1° lon at the equator is
    ~111.2 km; at 60°N it is ~55.6 km — the planar form can't tell these
    apart, the geodesic form must."""
    envs = spark.createDataFrame(
        [(1, 0.0, 1.0, 59.0, 60.0)],
        "envelope_id INT, xmin DOUBLE, xmax DOUBLE, ymin DOUBLE, ymax DOUBLE",
    )
    zones = spark.createDataFrame(
        [
            ("CLOSE_HIGH_LAT", 3.0, 4.0, 59.0, 60.0),   # 2° lon gap at ~60N ≈ 112 km
            ("FAR_EQUATOR", 3.0, 4.0, -1.0, 0.0),       # ≥ 59° of latitude away
        ],
        "country STRING, xmin DOUBLE, xmax DOUBLE, ymin DOUBLE, ymax DOUBLE",
    )
    kept = {
        r["country"]
        for r in spatial_assign.zones_in_range(
            zones, envs, buffer=1_500_000.0, geodesic=True
        ).collect()
    }
    assert kept == {"CLOSE_HIGH_LAT"}
    # wider radius reaches the equator zone too (~6,600 km)
    kept_wide = {
        r["country"]
        for r in spatial_assign.zones_in_range(
            zones, envs, buffer=7_000_000.0, geodesic=True
        ).collect()
    }
    assert kept_wide == {"CLOSE_HIGH_LAT", "FAR_EQUATOR"}


def test_view_zoom_ladder(spark):
    df = spark.createDataFrame(
        [(0.3,), (0.7,), (1.5,), (3.0,), (9.0,)], "span DOUBLE"
    ).withColumn("zoom", spatial_assign.view_zoom_for_span("span"))
    assert [r["zoom"] for r in df.orderBy("span").collect()] == [11, 10, 9, 8, 7]


# -- S22 ---------------------------------------------------------------------


def test_geosight_export_dedup_and_batching(spark, tmp_path):
    sink = tmp_path / "sent.jsonl"
    df = spark.createDataFrame(
        [
            ("S1", "20240101000000", 50, "g1", 10.0, 0.5),
            ("S1", "20240101000000", 50, "g1", 10.0, 0.5),  # dup of the 4-key
            ("S1", "20240101000000", 64, "g1", 4.0, 0.25),
            ("S1", "20240101000000", 50, "g2", 7.0, 0.75),
        ],
        "storm STRING, forecast_time STRING, wind_threshold INT, geom_id STRING, "
        "E_population DOUBLE, probability DOUBLE",
    )

    path = str(sink)

    def send_batch(rows):
        with open(path, "a") as f:
            for r in rows:
                f.write(json.dumps(r, sort_keys=True) + "\n")

    writers.export_geosight_rows(df.coalesce(1), send_batch, batch_size=2)
    sent = [json.loads(line) for line in open(path)]
    assert len(sent) == 3  # dedup on the 4-tuple
    keys = {(r["storm"], r["forecast_time"], r["wind_threshold"], r["geom_id"]) for r in sent}
    assert len(keys) == 3
    assert all(set(r) <= {"storm", "forecast_time", "wind_threshold", "geom_id",
                          "E_population", "probability"} for r in sent)


# -- S10/S11 filename-compat export -----------------------------------------


def test_export_filename_compat(spark, tmp_path):
    df = spark.createDataFrame(
        [("AAA", "S1", 50, 1, 0.5), ("AAA", "S1", 64, 2, 0.25), ("BBB", "S1", 50, 3, 1.0)],
        "country STRING, storm STRING, wind INT, tile INT, prob DOUBLE",
    )
    written = writers.export_filename_compat(
        df, str(tmp_path / "exp"), ["country", "storm", "wind"], fmt="csv"
    )
    names = {os.path.basename(w) for w in written}
    assert names == {"AAA_S1_50", "AAA_S1_64", "BBB_S1_50"}
    # each export holds only the non-key columns
    import glob

    files = glob.glob(str(tmp_path / "exp" / "AAA_S1_50" / "*.csv"))
    header = open(files[0]).readline().strip()
    assert header == "tile,prob"


def test_write_range_clustered_disjoint_file_ranges(spark, tmp_path):
    """Each output file must cover a disjoint key range (the property that
    makes parquet min/max stats prune range scans), and the file count
    must respect the requested bound."""
    import glob

    from pyspark.sql import functions as F

    from aos_spark.io.writers import write_range_clustered

    df = spark.range(50_000).select(
        (F.col("id") * 37 % 50_000).alias("k"), F.col("id").alias("v")
    )
    out = str(tmp_path / "rc")
    write_range_clustered(df, out, ["k"], n_files=8)
    files = glob.glob(out + "/part-*.parquet")
    assert 1 < len(files) <= 8
    ranges = []
    for f in files:
        mm = spark.read.parquet(f).agg(F.min("k"), F.max("k")).first()
        ranges.append((mm[0], mm[1]))
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint — enables min/max file pruning


def test_compact_dataset_reduces_file_count(spark, tmp_path):
    """64 tiny files compact to the byte-target count with identical data."""
    from pyspark.sql import functions as F

    from aos_spark.io.writers import compact_dataset

    out = str(tmp_path / "frag")
    spark.range(20_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).repartition(64).write.parquet(out)
    import glob

    before = len(glob.glob(out + "/part-*.parquet"))
    assert before == 64
    total = sum(
        __import__("os").path.getsize(f) for f in glob.glob(out + "/part-*")
    )
    n = compact_dataset(spark, out, target_file_bytes=max(total // 4, 1))
    after = len(glob.glob(out + "/part-*.parquet"))
    assert after == n <= 5
    got = spark.read.parquet(out)
    assert got.count() == 20_000
    assert got.agg(F.sum("k")).first()[0] == sum(range(20_000))


def test_partition_pruning_on_view_output(spark, tmp_path):
    """Reading a write_view output with a partition predicate must prune at
    planning time: the scan's partition count reflects the filter, not the
    dataset."""
    from pyspark.sql import functions as F

    from aos_spark.io.writers import write_view

    out = str(tmp_path / "pv")
    df = spark.range(1_000).select(
        (F.col("id") % 4).cast("string").alias("country"), F.col("id").alias("v")
    )
    write_view(df, out, partition_cols=["country"])
    pruned = spark.read.parquet(out).filter(F.col("country") == "2")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "country" in plan
    assert pruned.count() == 250

    # a misspelled partition column raises before anything is written: an
    # unpartitioned overwrite would replace the whole dataset
    import glob

    import pytest
    from pyspark.errors import AnalysisException

    layout = sorted(glob.glob(out + "/*"))
    with pytest.raises(AnalysisException):
        write_view(df.filter(F.col("country") == "1"), out, partition_cols=["contry"])
    assert sorted(glob.glob(out + "/*")) == layout
    assert spark.read.parquet(out).count() == 1_000


def test_compact_dataset_rejects_object_store_uris(spark):
    """compact_dataset is local-filesystem-only (os.rename does not speak
    s3://); the guard must fail loud instead of half-working (ADVICE r4)."""
    import pytest

    from aos_spark.io.writers import compact_dataset

    with pytest.raises(ValueError, match="local-filesystem-only"):
        compact_dataset(spark, "s3://bucket/dataset")


def test_exact_prefilter_excludes_bbox_overselection(spark):
    """ST_DWITHIN parity (VERDICT r4 #6): a zone whose BBOX is within the
    radius but whose actual polygon is not must survive the bbox cut and
    be excluded by the exact WKT-tier verify. Zone 'SLIVER' is a thin
    diagonal strip whose bbox corner approaches the envelope while the
    geometry stays far away."""
    # envelope: small box at the origin
    envs = spark.createDataFrame(
        [(1, 0.0, 1.0, 0.0, 1.0, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")],
        "envelope_id INT, xmin DOUBLE, xmax DOUBLE, ymin DOUBLE, ymax DOUBLE, wkt STRING",
    )
    # NEAR: a box ~550 km east (5° lon at equator) — within 1,500 km both ways
    near_wkt = "POLYGON ((5 0, 6 0, 6 1, 5 1, 5 0))"
    # SLIVER: bbox spans (2..30, 2..30) so bbox distance ≈ 160 km, but the
    # polygon is a thin strip hugging the FAR corner of that bbox
    sliver_wkt = "POLYGON ((28 28, 30 28, 30 30, 28 30, 28 28))"
    zones = spark.createDataFrame(
        [
            ("NEAR", 5.0, 6.0, 0.0, 1.0, near_wkt),
            ("SLIVER", 2.0, 30.0, 2.0, 30.0, sliver_wkt),
        ],
        "country STRING, xmin DOUBLE, xmax DOUBLE, ymin DOUBLE, ymax DOUBLE, wkt STRING",
    )
    bbox_kept = {
        r["country"]
        for r in spatial_assign.zones_in_range(
            zones, envs, buffer=1_500_000.0, geodesic=True
        ).collect()
    }
    assert bbox_kept == {"NEAR", "SLIVER"}  # bbox over-selects SLIVER
    exact_kept = {
        r["country"]
        for r in spatial_assign.zones_in_range_exact(
            zones, envs, 1_500_000.0
        ).collect()
    }
    assert exact_kept == {"NEAR"}  # exact geometry distance excludes it


def test_compact_dataset_rejects_hive_partitioned_layout(spark, tmp_path):
    """r9 review: on a partitioned layout compact_dataset saw zero
    top-level data files, coalesced everything through ONE task, and
    silently flattened the partition directories (killing pruning). Now
    it fails loud."""
    import pytest

    from aos_spark.io.writers import compact_dataset

    path = str(tmp_path / "parted")
    spark.createDataFrame(
        [("AA", 1), ("BB", 2)], "country string, v int"
    ).write.partitionBy("country").parquet(path)
    with pytest.raises(ValueError, match="Hive-partitioned"):
        compact_dataset(spark, path)


def test_read_first_available_skips_failing_callable(spark, tmp_path):
    """r9 review: a raising API tier aborted the whole cascade instead of
    falling through to the cache tier."""
    from aos_spark.io.readers import read_first_available

    cached = str(tmp_path / "cache.parquet")
    spark.createDataFrame([(1,)], "x int").write.parquet(cached)

    def flaky_api():
        raise ConnectionError("api down")

    out = read_first_available(spark, [flaky_api, cached])
    assert out is not None and out.count() == 1


def test_control_reads_empty_on_missing_but_raise_on_corrupt(spark, tmp_path):
    """r9 review: a bare except mapped ANY read error to an empty frame —
    a corrupt registry then got overwritten with a single row (data
    loss) and a corrupt run log made the idempotency gate reprocess
    everything. Missing -> empty; corrupt -> raise."""
    import os as _os

    import pytest

    from aos_spark.pipeline.control import read_countries, read_run_log

    wh = str(tmp_path / "wh")
    assert read_countries(spark, wh).count() == 0
    assert read_run_log(spark, wh).count() == 0

    reg = _os.path.join(wh, "control", "countries")
    _os.makedirs(reg)
    with open(_os.path.join(reg, "part-corrupt.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception):
        read_countries(spark, wh).count()


def test_export_filename_compat_null_keys_and_collisions(spark, tmp_path):
    """r9 review: a NULL key value filtered to zero rows (col == NULL is
    never true) and '_'-bearing key values silently collided under
    mode=overwrite. NULL keys now export their rows; collisions raise."""
    import pytest

    from aos_spark.io.writers import export_filename_compat

    df = spark.createDataFrame(
        [("AA", 1, 1.0), (None, 1, 2.0)], "country string, t int, v double"
    )
    written = export_filename_compat(df, str(tmp_path / "exp"), ["country", "t"])
    assert len(written) == 2
    null_dir = [w for w in written if "None_1" in w][0]
    assert spark.read.option("header", "true").csv(null_dir).count() == 1

    bad = spark.createDataFrame(
        [("a_b", "c", 1.0), ("a", "b_c", 2.0)], "k1 string, k2 string, v double"
    )
    with pytest.raises(ValueError, match="collide"):
        export_filename_compat(bad, str(tmp_path / "exp2"), ["k1", "k2"])


def test_sequential_ids_stable_across_parallelism_on_ties(spark):
    """r9 review: tied order_cols left id assignment to physical row
    order. With the full-row tiebreak, the same input row gets the same
    id at any partitioning."""
    from aos_spark.io.readers import sequential_ids

    rows = [(1.0, 2.0, f"site_{i:02d}") for i in range(30)]
    df = spark.createDataFrame(rows, "latitude double, longitude double, name string")
    a = {
        r["name"]: r["__seq_id"]
        for r in sequential_ids(df, "p_", ["latitude", "longitude"], parts=2).collect()
    }
    b = {
        r["name"]: r["__seq_id"]
        for r in sequential_ids(df, "p_", ["latitude", "longitude"], parts=7).collect()
    }
    assert a == b and len(set(a.values())) == 30


def test_sequential_ids_tolerates_map_columns(spark):
    """ADVICE r9: the full-row tiebreak ordered by every remaining column,
    so a MapType column (unorderable) turned a working call into an
    AnalysisException. The tiebreak now hashes the canonicalized
    (array_sort(map_entries)) map alongside the other columns — ids still
    equal the rank by the order cols."""
    df = spark.createDataFrame(
        [(2.0, {"a": 1}), (1.0, {"b": 2}), (3.0, {})],
        "latitude double, props map<string,int>",
    )
    out = readers.sequential_ids(df, "m_", ["latitude"], parts=2)
    got = {r["latitude"]: r["__seq_id"] for r in out.collect()}
    assert got == {1.0: "m_0", 2.0: "m_1", 3.0: "m_2"}


def test_sequential_ids_stable_on_map_only_diff_rows(spark):
    """ADVICE r10: rows differing ONLY in a map-typed column were excluded
    from the xxhash64 tiebreak, so their relative id order depended on
    physical row order — partitioning-dependent. With maps canonicalized
    into the hash as array_sort(map_entries(col)), the same row gets the
    same id at any parallelism."""
    from aos_spark.io.readers import sequential_ids

    rows = [(1.0, 2.0, {"k": i, "tag": i * 7}) for i in range(24)]
    df = spark.createDataFrame(
        rows, "latitude double, longitude double, props map<string,int>"
    )
    a = {
        tuple(sorted(r["props"].items())): r["__seq_id"]
        for r in sequential_ids(df, "p_", ["latitude", "longitude"], parts=2).collect()
    }
    b = {
        tuple(sorted(r["props"].items())): r["__seq_id"]
        for r in sequential_ids(df, "p_", ["latitude", "longitude"], parts=7).collect()
    }
    assert a == b and len(set(a.values())) == 24
