"""Benchmark driver for the aos_spark engine.

    python3 perfbench/run.py --workload storm_lifecycle --seed 1 --seconds 10 --trace 0

Runs one workload (see workloads.py and README.md) on ``local[nproc]``
from inputs generated from ``--seed``. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it carries the workload's own metric names, the failed checks,
the seed and the environment. ``--trace 1`` also writes every span to
``.perfbench-out/`` (or ``--out``). Spark's progress output stays on
stderr.

Everything the run writes (inputs, warehouse, Spark local dirs, temp
files) lives in a temporary directory at the repository root that is
removed at exit. Exits non-zero without a result line when the engine
sources are missing next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

E2E_UNITS = {"setup_s": "s", "cold_s": "s", "steady_s": "s", "op_p50_s": "s"}
# the workload's own names for cold_s / steady_s / op_p50_s
E2E_NAMES = {
    "storm_lifecycle": {"cold_s": "update_first_s", "steady_s": "update_p50_s",
                        "op_p50_s": "patch_p50_s"},
    "query_heavy": {"cold_s": "cold_sweep_s", "steady_s": "sweep_s",
                    "op_p50_s": "query_p50_s"},
}
DETAIL_UNITS = {
    "initialize_s": "s", "view_bytes_per_forecast": "B", "peak_rss_mb": "MB",
    "failed_ops_ratio": "ratio",
}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "B"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def _pin_env(work: Path) -> dict:
    """Point every path the run writes at ``work``; return the Spark conf
    that does the same for the driver JVM."""
    tmp = work / "tmp"
    tmp.mkdir()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # Python UDF workers import aos_spark from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the spark-submit launcher JVM: no hsperfdata file in the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    return {
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.driver.extraJavaOptions": jvm_opts,
    }


def _shutdown(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its Python workers) to
    exit; the JVM ends when its stdin closes."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    spark.stop()
    SparkContext._gateway = None
    SparkContext._jvm = None
    gw.shutdown()
    proc = gw.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=str(ROOT / ".perfbench-out"))
    args = ap.parse_args(argv)

    if not (ROOT / "aos_spark" / "session.py").is_file() or not (
        ROOT / "scripts" / "check_oracle.py"
    ).is_file():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    load_at_start = list(os.getloadavg())
    t_start = time.perf_counter()
    work = Path(tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT))
    spark = None
    try:
        conf = _pin_env(work)
        workloads.prepare_inputs(work, args.seed)
        gen_s = time.perf_counter() - t_start
        if args.trace:
            import spans

            probe = spans.Tracer()
            probe.install()
        else:
            probe = workloads.Untraced()
        spark, setups = workloads.setup(work / "inputs", conf)
        setup_s = statistics.median(setups)
        run = workloads.Run(probe, args.seconds)
        t0 = time.perf_counter()
        e2e, info = workloads.WORKLOADS[args.workload](spark, work, args.seed, run)
        wall = time.perf_counter() - t0
        rss = workloads.peak_rss_mb(spark)
        from aos_spark.envinfo import env_fingerprint

        env = env_fingerprint(spark)
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    failures = [f"{op['op']}: {f}" for op in run.ops for f in op["failed"]]
    attempted = len(run.ops)
    failed = sum(1 for op in run.ops if op["failed"])
    names = E2E_NAMES[args.workload]
    generic = {"setup_s": setup_s, **{g: e2e[own] for g, own in names.items()}}
    own = {"setup_s": setup_s, "peak_rss_mb": rss, **e2e,
           "failed_ops_ratio": failed / attempted}
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "loadavg_at_start": load_at_start,
        "phases_s": {"inputs": gen_s, "setups": setups, "workload": wall,
                     "total": time.perf_counter() - t_start},
        "metrics": {k: {"value": v, "unit": E2E_UNITS.get(k) or DETAIL_UNITS.get(k, "s")}
                    for k, v in own.items()},
        "info": {k: v for k, v in info.items() if k not in ("roots", "extra")},
        "ops": [[op["op"], op["s"]] for op in run.ops],
        "failures": failures, "env": env,
    }
    if args.trace:
        layers = probe.summary(info["roots"], info["per"], info["extra"])
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
        out = Path(args.out)
        out.mkdir(parents=True, exist_ok=True)
        (out / f"{args.workload}-seed{args.seed}-trace.json").write_text(json.dumps(
            {**detail, "per_layer": metrics, "spans": probe.dump()}, indent=1, default=str
        ))
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in generic.items()}
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
