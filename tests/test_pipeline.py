"""End-to-end pipeline-tier tests: initialize → update → idempotency →
rewrite → patch → report, on sf0.001 into a temp warehouse."""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from aos_spark.pipeline import control, jobs
from aos_spark.queries import ORACLES
from aos_spark.report import assemble

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from check_oracle import value_hash  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
STORM = "TESTSTORM"
FC1 = "20240115000000"
FC2 = "20240115060000"  # 6 h later → delta tracking vs FC1


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    jobs.initialize(spark, SF_DIR, wh, country="AA")
    return wh


def test_initialize_base_layer(spark, warehouse):
    layer = spark.read.parquet(jobs.base_layer_path(warehouse))
    assert layer.count() > 0
    # every tile got an admin assignment (3-step always assigns)
    assert layer.filter(F.col("admin_id").isNull()).count() == 0
    assert set(layer.select("country").distinct().toPandas()["country"]) == {"AA"}


def test_initialize_admin_layer_preserves_empty(spark, warehouse):
    admin = spark.read.parquet(jobs.admin_layer_path(warehouse))
    # all 5 zones present even if some got no tiles; zero-filled sums
    assert admin.count() == 5
    assert admin.filter(F.col("population").isNull()).count() == 0


def test_update_writes_views_and_logs(spark, warehouse):
    res = jobs.update(spark, SF_DIR, warehouse, STORM, FC1)
    assert res["status"] == "SUCCESS"
    tiles = spark.read.parquet(os.path.join(warehouse, "views", "tiles"))
    assert set(
        r["wind_threshold"] for r in tiles.select("wind_threshold").distinct().collect()
    ) == set(jobs.WIND_THRESHOLDS)
    # probability bounded by construction; denominator is the FIXED ensemble
    assert tiles.filter(
        (F.col("probability") < 0) | (F.col("probability") > 1)
    ).count() == 0
    status = control.latest_run_status(spark, warehouse)
    row = status.filter(
        (F.col("storm") == STORM) & (F.col("forecast_time") == FC1)
    ).first()
    assert row["status"] == "SUCCESS"
    assert row["runtime_seconds"] > 0


def test_update_writes_facility_and_track_views(spark, warehouse):
    """View-family parity with impact_analysis.py:2809-2840,2922-2927: the
    four facility view families, the track severity view, and the
    track-segment view all exist per (storm, forecast [, threshold])."""
    fac = spark.read.parquet(os.path.join(warehouse, "views", "facilities"))
    assert set(r["kind"] for r in fac.select("kind").distinct().collect()) == set(
        jobs.FACILITY_KINDS
    )
    assert set(
        r["wind_threshold"] for r in fac.select("wind_threshold").distinct().collect()
    ) == set(jobs.WIND_THRESHOLDS)
    # one row per facility per threshold; probability in [0, 1]
    n_fac = fac.select("facility_id").distinct().count()
    assert fac.count() == n_fac * len(jobs.WIND_THRESHOLDS)
    assert (
        fac.filter((F.col("probability") < 0) | (F.col("probability") > 1)).count() == 0
    )
    # values: the forecast's facility view is the registry's
    # j2_facility_probability, so it must match that query's DuckDB oracle
    # (row count + order-insensitive value hash, as scripts/check_oracle.py)
    got = fac.filter(
        (F.col("storm") == STORM) & (F.col("forecast_compact") == FC1)
    ).drop("storm", "forecast_compact")
    con = duckdb.connect()
    for t in ("events", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    res = con.execute(ORACLES["j2_facility_probability"])
    want_cols = [d[0] for d in res.description]
    want = res.fetchall()
    got_rows = [tuple(r) for r in got.collect()]
    assert len(got_rows) == len(want)
    assert value_hash(got_rows, got.columns) == value_hash(want, want_cols)

    tracks = spark.read.parquet(os.path.join(warehouse, "views", "tracks"))
    for k in jobs.FACILITY_KINDS:
        assert f"severity_{k}" in tracks.columns
    assert "severity_population" in tracks.columns
    # at most one row per (member, threshold), members bounded by ensemble
    assert tracks.count() <= jobs.ENSEMBLE_SIZE * len(jobs.WIND_THRESHOLDS)

    seg = spark.read.parquet(os.path.join(warehouse, "views", "track_segments"))
    # n-1 segments per member track
    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    n_members = seg.select("member").distinct().count()
    assert seg.count() == n_events - n_members
    assert seg.filter(F.col("cx_next").isNull()).count() == 0


def test_update_is_idempotent(spark, warehouse):
    res = jobs.update(spark, SF_DIR, warehouse, STORM, FC1)
    assert res["status"] == "SKIPPED"


def test_update_rewrite_overwrites_cleanly(spark, warehouse):
    tiles_path = os.path.join(warehouse, "views", "tiles")
    before = spark.read.parquet(tiles_path).count()
    res = jobs.update(spark, SF_DIR, warehouse, STORM, FC1, rewrite=True)
    assert res["status"] == "SUCCESS"
    # dynamic partition overwrite: same partitions, no duplicated rows (F9)
    assert spark.read.parquet(tiles_path).count() == before


def test_report_contents_and_deltas(spark, warehouse):
    rep1 = assemble.load_report(warehouse, STORM, FC1)
    assert rep1 is not None
    assert rep1["has_previous"] is False
    assert rep1["max_active_threshold"] in (None, *jobs.WIND_THRESHOLDS)
    assert len(rep1["top_tiles"]) == assemble.TOP_K
    assert rep1["landfall"]["n_members_making_landfall"] <= jobs.ENSEMBLE_SIZE
    # None-vs-0 contract: keys exist; values are int-or-None, never NaN
    for th, vals in rep1["thresholds"].items():
        for v in vals.values():
            assert v is None or isinstance(v, int)

    # vulnerability section (A7/F8): all 8 band keys present; RWI exists in
    # the base layer, so the poverty keys must be concrete ints (not None)
    vuln = rep1["vulnerability"]
    for mlabel in ("pop", "built_surface"):
        for band in ("poverty", "severe", "urban", "rural"):
            assert f"expected_{mlabel}_{band}" in vuln
            v = vuln[f"expected_{mlabel}_{band}"]
            assert v is None or isinstance(v, int)
    assert isinstance(vuln["expected_pop_poverty"], int) or vuln[
        "expected_pop_poverty"
    ] is None  # contract shape
    # per-facility top-5 + expected counts: all four kinds, probabilities
    # descending within each list
    assert set(rep1["top_facilities"]) == set(jobs.FACILITY_KINDS)
    for kind, rows in rep1["top_facilities"].items():
        assert len(rows) <= assemble.TOP_K
        probs = [r["probability"] for r in rows]
        assert probs == sorted(probs, reverse=True)
    for kind in jobs.FACILITY_KINDS:
        v = rep1["expected_facilities"][f"expected_{kind}"]
        assert v is None or isinstance(v, int)

    # second forecast 6 h later sees the first → deltas keyed by name
    res = jobs.update(spark, SF_DIR, warehouse, STORM, FC2)
    assert res["status"] == "SUCCESS"
    rep2 = assemble.load_report(warehouse, STORM, FC2)
    assert rep2["has_previous"] is True
    assert any(k.endswith("expected_population_impacted") for k in rep2["deltas_vs_previous"])
    # same inputs → zero delta (numeric, not None)
    assert all(
        d == 0 for d in rep2["deltas_vs_previous"].values() if d is not None
    )


def test_patch_column_and_admin_reagg(spark, warehouse):
    layer = spark.read.parquet(jobs.base_layer_path(warehouse))
    some_tiles = [r["tile_id"] for r in layer.select("tile_id").limit(3).collect()]
    custom = spark.createDataFrame(
        [(t, 123456.0) for t in some_tiles], "tile_id BIGINT, value DOUBLE"
    )
    jobs.patch(spark, warehouse, "AA", "population", custom)
    patched = spark.read.parquet(jobs.base_layer_path(warehouse))
    got = {
        r["tile_id"]: r["population"]
        for r in patched.filter(F.col("tile_id").isin(some_tiles)).collect()
    }
    assert all(v == 123456.0 for v in got.values())
    # admin layer re-aggregated: total population reflects the patch
    admin = spark.read.parquet(jobs.admin_layer_path(warehouse))
    assert admin.agg(F.sum("population")).first()[0] >= 3 * 123456.0


def test_patch_never_reads_its_own_overwrite(spark, warehouse):
    """patch() must materialize to a temp subtree before overwriting the base
    layer — persist() is not a barrier (eviction → recompute reads the
    half-overwritten path). Verify full round-trip integrity: row count
    unchanged, un-patched rows byte-identical, temp subtree cleaned up."""
    before = {
        r["tile_id"]: (r["population"], r["built_surface"], r["rwi"])
        for r in spark.read.parquet(jobs.base_layer_path(warehouse)).collect()
    }
    target = sorted(before)[0]
    custom = spark.createDataFrame([(target, 77.0)], "tile_id BIGINT, value DOUBLE")
    jobs.patch(spark, warehouse, "AA", "rwi", custom)
    after = {
        r["tile_id"]: (r["population"], r["built_surface"], r["rwi"])
        for r in spark.read.parquet(jobs.base_layer_path(warehouse)).collect()
    }
    assert set(after) == set(before)
    assert after[target][2] == 77.0
    untouched = {t: v for t, v in before.items() if t != target}
    assert {t: after[t] for t in untouched} == untouched
    assert not os.path.exists(os.path.join(warehouse, "tmp", "patch_AA_rwi"))


def test_patch_rejects_unknown_column(spark, warehouse):
    custom = spark.createDataFrame([(1, 1.0)], "tile_id BIGINT, value DOUBLE")
    with pytest.raises(ValueError, match="not patchable"):
        jobs.patch(spark, warehouse, "AA", "no_such_metric", custom)


def test_registry_roundtrip(spark, warehouse):
    assert "AA" in control.active_countries(spark, warehouse)
    control.set_country_flag(spark, warehouse, "AA", active=False)
    assert "AA" not in control.active_countries(spark, warehouse)
    control.set_country_flag(spark, warehouse, "AA", active=True)


def test_compact_time_helpers():
    assert assemble.previous_forecast("20240115060000") == "20240115000000"
    assert assemble.human_time("20251015120000") == "October 15, 2025 12:00 UTC"


def test_update_failure_logs_error_and_reruns(spark, warehouse, monkeypatch):
    """A view build that raises leaves a FAILURE terminal row carrying the
    exception text verbatim (quotes, backslashes, newlines and ${…} are
    data, not SQL) and the start row's started_at; the forecast is then
    not SKIPPED on re-run."""
    storm = "FAILSTORM"
    msg = "it's a \\ back\nslash ${spark.sql.shuffle.partitions} " + "x" * 600

    def boom(*args, **kwargs):
        raise RuntimeError(msg)

    with monkeypatch.context() as m:
        m.setattr(jobs, "facility_probability", boom)
        with pytest.raises(RuntimeError) as exc:
            jobs.update(spark, SF_DIR, warehouse, storm, FC1)

    rows = (
        control.read_run_log(spark, warehouse)
        .filter((F.col("storm") == storm) & (F.col("forecast_time") == FC1))
        .collect()
    )
    start = [r for r in rows if r["status"] == "IN_PROGRESS"]
    assert len(start) == 1 and len(rows) == 2
    latest = control.latest_run_status(spark, warehouse).filter(
        (F.col("storm") == storm) & (F.col("forecast_time") == FC1)
    ).first()
    assert latest["status"] == "FAILURE"
    assert latest["run_id"] == start[0]["run_id"]
    assert latest["error"] == str(exc.value)[:500]
    assert latest["started_at"] == start[0]["started_at"]

    assert jobs.update(spark, SF_DIR, warehouse, storm, FC1)["status"] == "SUCCESS"


def test_lifecycle_builds_no_python_rdd_frames(spark, tmp_path, monkeypatch):
    """initialize → update → re-delivery → rewrite → patch without a single
    SparkSession.createDataFrame call: every driver-side frame on the
    lifecycle path is a JVM LocalRelation (io.local_frame)."""
    wh = str(tmp_path / "warehouse")
    custom = spark.createDataFrame([(1, 5.0)], "tile_id BIGINT, value DOUBLE")

    def no_python_rdd(*args, **kwargs):
        raise AssertionError("createDataFrame on the lifecycle path")

    monkeypatch.setattr(type(spark), "createDataFrame", no_python_rdd)
    jobs.initialize(spark, SF_DIR, wh, country="AA")
    assert jobs.update(spark, SF_DIR, wh, STORM, FC1)["status"] == "SUCCESS"
    assert jobs.update(spark, SF_DIR, wh, STORM, FC1)["status"] == "SKIPPED"
    assert jobs.update(spark, SF_DIR, wh, STORM, FC1, rewrite=True)["status"] == "SUCCESS"
    jobs.patch(spark, wh, "AA", "population", custom)
