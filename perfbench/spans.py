"""Span recorder and Spark counters for the traced benchmark run.

Imported only by ``run.py --trace 1``. ``Tracer.install`` wraps the public
functions of the engine's layers by replacing module attributes, so the
engine itself is not edited:

* ``session``          ``session.get_spark``
* ``queries``          every ``QUERIES`` builder
* ``io.writers``       ``write_view`` as ``pipeline.jobs`` calls it
* ``report.assemble``  ``build_report``
* ``pipeline.control`` every public function of the module
* ``pipeline.jobs``    ``initialize`` / ``update`` / ``patch``
* ``ops``              public functions of rollup, cci, severity,
                       spatial_assign and windows

Each span records name, layer, start, end, parent span and the run's trace
id, plus the Spark job-id and stage-id high-water marks at both ends. The
benchmark's own top-level operations are root spans (layer ``bench``);
when one ends, the tracer reads the stages it launched from Spark's
in-process status store, which works with ``spark.ui.enabled=false``.
Spans stay in memory until ``summary``/``dump`` at the end of the run.
"""

from __future__ import annotations

import functools
import inspect
import os
import statistics
import time
import uuid
from contextlib import contextmanager
from pathlib import Path

from pyspark import SparkContext

CONTROL_TIMED = [
    "log_run_start", "log_run_complete", "latest_run_status", "signal_pipeline_complete",
]


def _public_functions(module) -> list[str]:
    return [
        name for name, obj in vars(module).items()
        if not name.startswith("_") and inspect.isfunction(obj)
        and obj.__module__ == module.__name__
    ]


def _union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _dir_usage(path: Path, since: float) -> tuple[int, int]:
    """(files, bytes) under ``path`` modified at or after ``since``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(root, n))
            if st.st_mtime >= since:
                files += 1
                size += st.st_size
    return files, size


class Tracer:
    def __init__(self) -> None:
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.overhead_s = 0.0

    # -- Spark counters ---------------------------------------------------

    @staticmethod
    def _sc():
        return SparkContext._active_spark_context

    def _marks(self):
        """(context id, next job id, next stage id); None with no context."""
        sc = self._sc()
        if sc is None:
            return None
        dag = sc._jsc.sc().dagScheduler()
        return (id(sc), dag.nextJobId(), dag.nextStageId())

    def _stages_since(self, first_stage: int) -> list[dict]:
        """Stages with id >= first_stage, read from the status store.
        ``stageList`` returns a Scala Seq sorted by descending stage id."""
        sc = self._sc()
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        gw = sc._gateway
        seq = jsc.statusStore().stageList(
            gw.jvm.java.util.ArrayList(), False, False,
            gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList(),
        )
        out = []
        for i in range(seq.size()):
            s = seq.apply(i)
            if s.stageId() < first_stage:
                break
            status = str(s.status())
            if status == "SKIPPED":
                continue
            sub, comp = s.submissionTime(), s.completionTime()
            out.append({
                "stage_id": s.stageId(),
                "status": status,
                "tasks": s.numTasks(),
                "executor_run_s": s.executorRunTime() / 1000.0,
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "end": comp.get().getTime() / 1000.0 if comp.isDefined() else None,
            })
        return out

    # -- spans ------------------------------------------------------------

    def _open(self, name: str, layer: str) -> int:
        t_in = time.perf_counter()
        span = {
            "id": len(self.spans), "name": name, "layer": layer,
            "parent": self.stack[-1] if self.stack else None,
            "trace_id": self.trace_id, "marks0": self._marks(),
        }
        self.spans.append(span)
        self.stack.append(span["id"])
        span["start"] = time.perf_counter()
        span["wall_start"] = time.time()
        self.overhead_s += span["start"] - t_in
        return span["id"]

    def _close(self, sid: int) -> None:
        span = self.spans[sid]
        span["end"] = time.perf_counter()
        span["marks1"] = self._marks()
        self.stack.pop()
        m0, m1 = span["marks0"], span["marks1"]
        same = m0 is not None and m1 is not None and m0[0] == m1[0]
        span["jobs"] = m1[1] - m0[1] if same else 0
        span["stage_range"] = (m0[2], m1[2]) if same else None
        self.overhead_s += time.perf_counter() - span["end"]

    def _wrap(self, owner, attr: str, name: str, layer: str, after=None) -> None:
        fn = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            sid = self._open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(sid)
                if after is not None:
                    t = time.perf_counter()
                    after(self.spans[sid], args, kwargs)
                    self.overhead_s += time.perf_counter() - t

        if isinstance(owner, dict):
            owner[attr] = wrapper
        else:
            setattr(owner, attr, wrapper)

    def install(self) -> None:
        from aos_spark import session
        from aos_spark.ops import cci, rollup, severity, spatial_assign, windows
        from aos_spark.pipeline import control, jobs
        from aos_spark.queries import QUERIES
        from aos_spark.report import assemble

        def _written(span, args, kwargs):
            path = Path(kwargs.get("path", args[1] if len(args) > 1 else ""))
            span["files"], span["bytes"] = _dir_usage(path, span["wall_start"])

        self._wrap(session, "get_spark", "session.get_spark", "session")
        for q in list(QUERIES):
            self._wrap(QUERIES, q, f"queries.{q}", "queries")
        self._wrap(jobs, "write_view", "io.writers.write_view", "io.writers", after=_written)
        self._wrap(assemble, "build_report", "report.assemble.build_report", "report.assemble")
        for f in _public_functions(control):
            self._wrap(control, f, f"pipeline.control.{f}", "pipeline.control")
        for f in ("initialize", "update", "patch"):
            self._wrap(jobs, f, f"pipeline.jobs.{f}", "pipeline.jobs")
        for mod in (rollup, cci, severity, spatial_assign, windows):
            short = mod.__name__.rsplit(".", 1)[-1]
            for f in _public_functions(mod):
                self._wrap(mod, f, f"ops.{short}.{f}", "ops")

    # -- the benchmark's hooks ----------------------------------------------

    @contextmanager
    def op(self, name: str):
        """Root span around one timed benchmark operation; on exit, reads the
        stages the operation launched."""
        overhead0 = self.overhead_s
        sid = self._open(name, "bench")
        try:
            yield sid
        finally:
            self._close(sid)
            t = time.perf_counter()
            span = self.spans[sid]
            rng = span["stage_range"]
            span["stages"] = self._stages_since(rng[0]) if rng else []
            done = time.perf_counter()
            self.overhead_s += done - t
            span["traced_s"] = done - span["start"]
            span["overhead_s"] = self.overhead_s - overhead0

    def compiled(self, df) -> None:
        """Attach Catalyst analysis+optimization+planning time of ``df``'s
        executed query to the innermost open span."""
        t = time.perf_counter()
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        ms = 0
        while it.hasNext():
            ms += it.next()._2().durationMs()
        span = self.spans[self.stack[-1]]
        span["compile_s"] = span.get("compile_s", 0.0) + ms / 1000.0
        self.overhead_s += time.perf_counter() - t

    # -- derived numbers ------------------------------------------------------

    def _children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s["id"])
        return kids

    @staticmethod
    def _dur(s: dict) -> float:
        return s["end"] - s["start"]

    def self_time(self, sid: int, kids: dict[int, list[int]]) -> float:
        """Span time minus the part of its interval child spans cover."""
        covered = _union_length(
            (self.spans[c]["start"], self.spans[c]["end"]) for c in kids.get(sid, [])
        )
        return self._dur(self.spans[sid]) - covered

    def _outermost(self, layer: str, name: str | None = None, within=None) -> list[dict]:
        """Spans of ``layer`` (optionally one ``name``) with no ancestor of
        the same layer, optionally restricted to descendants of ``within``."""
        out = []
        for s in self.spans:
            if s["layer"] != layer or (name and s["name"] != name):
                continue
            p, inside, nested = s["parent"], within is None, False
            while p is not None:
                ps = self.spans[p]
                nested |= ps["layer"] == layer
                inside |= within is not None and p in within
                p = ps["parent"]
            if inside and not nested:
                out.append(s)
        return out

    def summary(self, roots: list[int], per: int, extra: dict) -> dict[str, float]:
        """Per-layer metrics over the root spans ``roots`` (the timed
        operations), divided by ``per`` (updates or passes)."""
        kids = self._children()
        within = set(roots)
        per = max(per, 1)

        def total(layer, name=None, key=None):
            ss = self._outermost(layer, name, within)
            return sum((s.get(key, 0) if key else self._dur(s)) for s in ss) / per

        stages = [st for r in roots for st in self.spans[r].get("stages", [])]
        stage_wall = _union_length(
            (st["start"], st["end"]) for st in stages if st["start"] and st["end"]
        )
        wall = sum(self._dur(self.spans[r]) for r in roots)

        updates = self._outermost("pipeline.jobs", "pipeline.jobs.update", within)
        n_upd = max(len(updates), 1)
        m = {
            "session.get_spark_s": statistics.median(
                [self._dur(s) for s in self.spans if s["name"] == "session.get_spark"] or [0.0]
            ),
            "queries.build_s": total("queries"),
            "queries.build_jobs": total("queries", key="jobs"),
            "spark.compile_s": sum(self.spans[r].get("compile_s", 0.0) for r in roots) / per,
            "spark.jobs": sum(self.spans[r]["jobs"] for r in roots) / per,
            "spark.stages": len(stages) / per,
            "spark.tasks": sum(st["tasks"] for st in stages) / per,
            "spark.executor_run_s": sum(st["executor_run_s"] for st in stages) / per,
            "spark.stage_wall_s": stage_wall / per,
            "spark.gap_s": (wall - stage_wall) / per,
            "spark.shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in stages) / per,
            "spark.shuffle_read_bytes": sum(st["shuffle_read_bytes"] for st in stages) / per,
            "spark.spill_bytes": sum(st["spill_bytes"] for st in stages) / per,
            "io.writers.write_view_s": total("io.writers"),
            "io.writers.write_view_jobs": total("io.writers", key="jobs"),
            "io.writers.files_written": total("io.writers", key="files"),
            "io.writers.bytes_written": total("io.writers", key="bytes"),
            "report.assemble.build_report_s": total("report.assemble"),
            "report.assemble.build_report_jobs": total("report.assemble", key="jobs"),
            "pipeline.jobs.update_s": sum(self._dur(s) for s in updates) / n_upd,
            "pipeline.jobs.update_self_s": (
                sum(self.self_time(s["id"], kids) for s in updates) / n_upd
            ),
            "pipeline.jobs.update_child_s": sum(
                self._dur(s) - self.self_time(s["id"], kids) for s in updates
            ) / n_upd,
            "pipeline.jobs.update_jobs": sum(s["jobs"] for s in updates) / n_upd,
            "ops.build_s": total("ops"),
            "pipeline.control.run_log_files": 0.0,
        }
        for f in CONTROL_TIMED:
            m[f"pipeline.control.{f}_s"] = total("pipeline.control", f"pipeline.control.{f}")
        traced = sum(self.spans[r]["traced_s"] for r in roots)
        overhead = sum(self.spans[r]["overhead_s"] for r in roots)
        m["trace_overhead_ratio"] = traced / (traced - overhead) if traced > overhead else 1.0
        m.update(extra)
        return m

    def dump(self) -> list[dict]:
        keep = ("id", "name", "layer", "parent", "trace_id", "start", "end", "jobs",
                "files", "bytes", "compile_s", "overhead_s", "stages")
        return [{k: s[k] for k in keep if k in s} for s in self.spans]
