"""The benchmark's workloads: each a closed loop with one caller.

``storm_lifecycle``  initialize, then ``update`` over forecasts 6 h apart,
                     a re-delivered forecast, a rewrite and several patches.
``query_heavy``      a fixed mix of registry queries, a cold pass and then
                     warm passes, each query collected to the driver.

A workload records each timed operation and its failed checks in ``Run``
and returns its end-to-end metrics plus the root spans and divisor that the
traced run's per-layer metrics use. Output checks run outside the timed
calls.
"""

from __future__ import annotations

import importlib.util
import os
import random
import resource
import statistics
import time
from contextlib import nullcontext
from datetime import datetime, timedelta
from pathlib import Path

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen

ROOT = Path(__file__).resolve().parent.parent

# The mix and scale keep one run near 50 s (cold pass ~17 s, warm pass
# ~8 s on 4 cores), so a set of ~50 benchmark runs stays under an hour.
QUERY_MIX = [
    "dedup_clusters", "incremental_dedup_status", "trimmed_mean_prices",
    "sim_pq_topk", "q1_pricing_summary", "q9_profit_by_nation",
    "w3_w4_cci", "a6_report_totals",
]
SF = 0.01
SETUPS = 3
STORM = "BENCH01"
FIRST_FORECAST = datetime(2024, 9, 1, 0)
MAX_FORECASTS = 12
PATCHES = 3
PATCH_TILES = 10


class Untraced:
    """Stand-in for ``spans.Tracer`` in the untraced runs: no spans, no
    wrapped functions, no status-store reads."""

    def op(self, name):
        return nullcontext(None)

    def compiled(self, df) -> None:
        pass


class Run:
    """Timed operations of one workload run plus their check outcomes."""

    def __init__(self, probe, seconds: int) -> None:
        self.probe = probe
        self.seconds = seconds
        self.ops: list[dict] = []

    def call(self, name: str, fn, *args, **kwargs):
        """Time ``fn`` as one operation; an exception fails the operation."""
        op = {"op": name, "failed": []}
        self.ops.append(op)
        with self.probe.op(name) as root:
            op["root"] = root
            t0 = time.perf_counter()
            try:
                op["result"] = fn(*args, **kwargs)
            except Exception as e:  # the run goes on; the failure is counted
                op["failed"].append(f"exception: {type(e).__name__}: {str(e)[:200]}")
                op["result"] = None
            op["s"] = time.perf_counter() - t0
        return op

    def check(self, op: dict, ok: bool, what: str) -> None:
        if not ok:
            op["failed"].append(what)


def start_session(inputs: Path, conf: dict):
    """get_spark through the first-touch warmup: JVM, a parquet footer read
    and the Python worker pool. Returns (spark, seconds)."""
    from aos_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", extra_conf=conf)
    spark.read.parquet(str(inputs / "nation.parquet")).count()
    n = spark.sparkContext.defaultParallelism
    spark.range(n * 4, numPartitions=n).mapInPandas(lambda it: it, "id long").count()
    return spark, time.perf_counter() - t0


def setup(inputs: Path, conf: dict):
    """Start the session SETUPS times, stopping in between. Returns the
    last session and the seconds of each start (``setup_s`` is their
    median)."""
    times = []
    for i in range(SETUPS):
        if i:
            spark.stop()
        spark, dt = start_session(inputs, conf)
        times.append(dt)
    return spark, times


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of the driver JVM that py4j launched,
    plus that of this Python driver."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def _loop(run: Run, body) -> None:
    """Call ``body(i)`` at least once and again while another call of the
    last one's length still fits in ``run.seconds``."""
    t0 = time.perf_counter()
    i, last = 0, 0.0
    while i == 0 or (time.perf_counter() - t0) + last <= run.seconds:
        t = time.perf_counter()
        if body(i) is False:
            break
        last = time.perf_counter() - t
        i += 1


def _rows(path: str) -> int:
    return pq.ParquetDataset(path).read(columns=[]).num_rows


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


# -- storm_lifecycle ----------------------------------------------------------


def storm_lifecycle(spark, work: Path, seed: int, run: Run) -> tuple[dict, dict]:
    from aos_spark.pipeline import jobs
    from aos_spark.report.assemble import dt_to_compact, load_report

    base = work / "inputs"
    wh = str(work / "warehouse")
    forecasts = [
        dt_to_compact(FIRST_FORECAST + timedelta(hours=6 * k)) for k in range(MAX_FORECASTS)
    ]
    dirs = datagen.forecast_series(base, work / "forecasts", forecasts, seed)
    tile_ids = pc.unique(pq.read_table(base / "events.parquet").column("user_id")).to_pylist()
    n_tiles = len(tile_ids)
    rng = np.random.default_rng([seed, 3])

    init = run.call("initialize", jobs.initialize, spark, str(base), wh)
    run.check(init, _rows(jobs.base_layer_path(wh)) == n_tiles, "base layer: one row per tile")

    updates: list[tuple[str, dict]] = []

    def one_update(i: int):
        if i + 1 >= MAX_FORECASTS:
            return False
        ft = forecasts[i + 1]
        updates.append((ft, run.call("update", jobs.update, spark, str(dirs[ft]), wh, STORM, ft)))

    first = forecasts[0]
    updates.append((first, run.call("update", jobs.update, spark, str(dirs[first]), wh, STORM, first)))
    _loop(run, one_update)
    done = [ft for ft, _ in updates]

    redeliver = done[len(done) // 2]
    red = run.call("redeliver", jobs.update, spark, str(dirs[redeliver]), wh, STORM, redeliver)
    run.check(red, (red["result"] or {}).get("status") == "SKIPPED", "re-delivery not SKIPPED")

    tiles_path = os.path.join(wh, "views", "tiles")
    rows_before = _rows(tiles_path)
    rew = run.call("rewrite", jobs.update, spark, str(dirs[first]), wh, STORM, first, rewrite=True)
    run.check(rew, (rew["result"] or {}).get("status") == "SUCCESS", "rewrite status")
    run.check(rew, _rows(tiles_path) == rows_before, "rewrite changed the tile-view row count")

    patch_ops = []
    for k in range(PATCHES):
        picked = rng.choice(sorted(tile_ids), PATCH_TILES, replace=False)
        vals = np.round(rng.uniform(1.0, 1e6, PATCH_TILES), 2)
        custom = spark.createDataFrame(
            [(int(t), float(v)) for t, v in zip(picked, vals)], "tile_id long, value double"
        )
        op = run.call("patch", jobs.patch, spark, wh, "AA", "population", custom)
        layer = pq.read_table(jobs.base_layer_path(wh), columns=["tile_id", "population"])
        got = dict(zip(layer.column("tile_id").to_pylist(), layer.column("population").to_pylist()))
        run.check(
            op, all(got.get(int(t)) == float(v) for t, v in zip(picked, vals)),
            "patched tiles do not carry their new value",
        )
        patch_ops.append(op)

    # per-update checks, read once after the timed calls
    views = pq.read_table(tiles_path, columns=["storm", "forecast_compact"]).to_pandas()
    per_fc = views[views["storm"] == STORM]["forecast_compact"].astype(str).value_counts().to_dict()
    for k, (ft, op) in enumerate(updates):
        run.check(op, (op["result"] or {}).get("status") == "SUCCESS", f"update {ft} status")
        run.check(
            op, per_fc.get(ft) == n_tiles * len(jobs.WIND_THRESHOLDS),
            f"update {ft}: tile view rows != tiles x thresholds",
        )
        if k:
            rep = load_report(wh, STORM, ft) or {}
            run.check(op, rep.get("has_previous") is True, f"update {ft}: no previous report")
            run.check(
                op, any(v not in (None, 0) for v in rep.get("deltas_vs_previous", {}).values()),
                f"update {ft}: all report deltas are zero",
            )

    e2e = {
        "initialize_s": init["s"],
        "update_first_s": updates[0][1]["s"],
        "update_p50_s": statistics.median([op["s"] for _, op in updates[1:]] + [rew["s"]]),
        "patch_p50_s": statistics.median([op["s"] for op in patch_ops]),
        "view_bytes_per_forecast": _dir_bytes(Path(wh) / "views") / len(done),
    }
    roots = [op["root"] for _, op in updates] + [rew["root"]]
    run_log = Path(wh) / "control" / "run_log"
    extra = {"pipeline.control.run_log_files": float(
        sum(1 for f in run_log.iterdir() if f.suffix == ".parquet"))}
    return e2e, {"roots": roots, "per": len(roots), "extra": extra,
                 "forecasts": len(done), "update_samples": len(roots) - 1}


# -- query_heavy --------------------------------------------------------------


def _check_oracle_module():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", ROOT / "scripts" / "check_oracle.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def query_heavy(spark, work: Path, seed: int, run: Run) -> tuple[dict, dict]:
    import duckdb

    from aos_spark.cache import release_tracked
    from aos_spark.queries import ORACLES, QUERIES

    co = _check_oracle_module()
    inputs = str(work / "inputs")
    con = duckdb.connect()
    for t in co.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    expected = {}
    for name in QUERY_MIX:
        res = con.execute(ORACLES[name])
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        expected[name] = (len(rows), co.value_hash(rows, cols))
    con.close()

    order_rng = random.Random(seed)
    passes: list[list[dict]] = []

    def one_pass(i: int):
        order = QUERY_MIX[:]
        order_rng.shuffle(order)
        ops = []
        for name in order:
            release_tracked()
            spark.catalog.clearCache()
            outcome = {}

            def execute(name=name, outcome=outcome):
                df = QUERIES[name](spark, inputs)
                outcome["rows"] = [tuple(r) for r in df.collect()]
                outcome["cols"] = df.columns
                run.probe.compiled(df)

            op = run.call(name, execute)
            if "rows" in outcome:
                got = (len(outcome["rows"]), co.value_hash(outcome["rows"], outcome["cols"]))
                run.check(op, got[0] == expected[name][0],
                          f"{name}: rows {got[0]} vs oracle {expected[name][0]}")
                run.check(op, got[1] == expected[name][1], f"{name}: value hash differs from oracle")
            ops.append(op)
        passes.append(ops)

    one_pass(0)  # cold
    _loop(run, lambda i: one_pass(i + 1))
    warm = [op["s"] for ops in passes[1:] for op in ops]
    e2e = {
        "cold_sweep_s": sum(op["s"] for op in passes[0]),
        "sweep_s": statistics.median([sum(op["s"] for op in ops) for ops in passes[1:]]),
        "query_p50_s": statistics.median(warm),
    }
    roots = [op["root"] for ops in passes for op in ops]
    return e2e, {"roots": roots, "per": len(passes), "extra": {},
                 "passes": len(passes), "query_samples": len(warm)}


WORKLOADS = {"storm_lifecycle": storm_lifecycle, "query_heavy": query_heavy}


def prepare_inputs(work: Path, seed: int) -> Path:
    inputs = work / "inputs"
    datagen.write_tables(inputs, SF, seed)
    return inputs
