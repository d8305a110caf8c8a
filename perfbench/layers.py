"""Per-layer readings for the traced run, taken from outside the engine.

Every query runs under its own Spark job group.  Right after the query the
tracer reads that group's jobs and stages from the JVM status store, the
SQL executions the query started from the SQL status store, the Catalyst
phase times of the query's final DataFrame, and the RDDs still cached.
The status stores keep only the last 1,000 jobs, stages and executions, so
nothing is read later than the end of its own query.  Spans stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import re

from measure import uncovered, union_length

# name, unit, the end-to-end metric it should move, and the workload it
# should move it on
LAYER_METRICS = [
    ("session.start_s", "s", "setup_s", "all"),
    ("session.worker_warm_s", "s", "setup_s", "all"),
    ("session.jvm_peak_rss_mb", "MB", "none (diagnostic)", "all"),
    ("plans.build_s", "s", "pass_s, query_p50_s", "iterative"),
    ("plans.build_jobs", "count", "pass_s, query_p50_s", "iterative"),
    ("plans.build_job_s", "s", "pass_s, query_p50_s", "iterative"),
    ("pipelines.build_s", "s", "pass_s, query_p50_s", "esg_inference"),
    ("catalyst.analysis_ms", "ms", "query_p50_s", "catalog_mix"),
    ("catalyst.optimization_ms", "ms", "query_p50_s", "catalog_mix"),
    ("catalyst.planning_ms", "ms", "query_p50_s", "catalog_mix"),
    ("jobs.count", "count", "pass_s", "iterative"),
    ("jobs.stages", "count", "pass_s", "iterative"),
    ("jobs.tasks", "count", "pass_s", "iterative"),
    ("jobs.driver_gap_s", "s", "pass_s", "iterative"),
    ("executor.run_s", "s", "cpu_s, pass_s", "compute_heavy"),
    ("executor.cpu_s", "s", "cpu_s, pass_s", "compute_heavy"),
    ("executor.gc_s", "s", "cpu_s, pass_s", "compute_heavy"),
    ("executor.shuffle_read_mb", "MB", "cpu_s, pass_s", "compute_heavy"),
    ("executor.shuffle_write_mb", "MB", "cpu_s, pass_s", "compute_heavy"),
    ("executor.spill_mb", "MB", "cpu_s, pass_s", "compute_heavy"),
    ("sources.scans", "count", "cpu_s, pass_s", "catalog_mix"),
    ("sources.input_mb", "MB", "cpu_s, pass_s", "catalog_mix"),
    ("sources.write_s", "s", "pass_s", "esg_inference"),
    ("sources.output_mb", "MB", "pass_s", "esg_inference"),
    ("python.nodes", "count", "pass_s, cpu_s", "esg_inference"),
    ("python.run_s", "s", "pass_s, cpu_s", "esg_inference"),
    ("python.start_s", "s", "pass_s, cpu_s", "esg_inference"),
    ("python.sent_mb", "MB", "pass_s, cpu_s", "esg_inference"),
    ("python.recv_mb", "MB", "pass_s, cpu_s", "esg_inference"),
    ("cache.rdds", "count", "pass_s", "iterative"),
    ("cache.mb", "MB", "pass_s", "iterative"),
    ("trace.pass_s", "s", "none (traced pass, compare with pass_s)", "all"),
    ("trace.overhead_s", "s", "none (traced minus untraced pass time)", "all"),
]

# per-query metrics, summed per pass (the session.* ones are per run and
# trace.* are per pass)
QUERY_METRICS = [m[0] for m in LAYER_METRICS if not m[0].startswith(("session.", "trace."))]

_MB = 1024.0 * 1024.0
_SIZE = {"B": 1.0, "KiB": 1024.0, "MiB": _MB, "GiB": _MB * 1024, "TiB": _MB * _MB}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_TOTAL = " total (min, med, max (stageId: taskId))"
_NODE = re.compile(r'\[id="node\d+" labelType="html" label="(.*?)" tooltip=')
_NUMBER = re.compile(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A rendered SQL metric as a number: sizes in bytes, times in
    seconds, counts as counts (``"1.5 KiB"`` -> 1536.0)."""
    m = _NUMBER.match(text.strip())
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


def parse_plan_graph(dot: str) -> list[tuple[str, dict[str, float]]]:
    """``(node name, {metric: value})`` for every node of a SQL plan graph
    rendered as DOT with its metric values."""
    nodes = []
    for label in _NODE.findall(dot):
        parts = label.split("<br>")
        name = re.sub(r"</?b>", "", next((p for p in parts if "<b>" in p), "")).strip()
        metrics, i = {}, 0
        while i < len(parts):
            part = parts[i]
            if part.endswith(_TOTAL) and i + 1 < len(parts):
                metrics[part[: -len(_TOTAL)]] = parse_metric(parts[i + 1])
                i += 1
            elif ": " in part:
                key, _, val = part.partition(": ")
                metrics[key] = parse_metric(val)
            i += 1
        nodes.append((name, metrics))
    return nodes


def _epoch_s(opt) -> float | None:
    """A JVM ``Option[Date]`` as epoch seconds, or None."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


class Tracer:
    """Reads one query's layer metrics right after the query, and keeps
    the run's spans."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[dict] = []
        self._next_exec = 0
        self._skip_executions()

    def _skip_executions(self) -> None:
        while self.sql_store.execution(self._next_exec).isDefined():
            self._next_exec += 1

    def span(self, name: str, parent: int | None, start: float, end: float, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "parent": parent, "name": name,
                           "start": start, "end": end, **attrs})
        return len(self.spans) - 1

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)
        self._skip_executions()

    def _jobs(self, group: str) -> list[dict]:
        jobs = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(jid)
            start, end = _epoch_s(job.submissionTime()), _epoch_s(job.completionTime())
            if start is not None:
                jobs.append({"job": jid, "start": start, "end": end or start,
                             "stage_ids": _seq(job.stageIds())})
        return jobs

    def _stages(self, stage_ids) -> dict[str, float]:
        out = dict.fromkeys(("stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_mb",
                             "shuffle_write_mb", "spill_mb", "input_mb", "output_mb"), 0.0)
        for sid in sorted(set(stage_ids)):
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # a stage the store never saw (skipped)
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["run_s"] += st.executorRunTime() / 1e3
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            out["spill_mb"] += st.diskBytesSpilled() / _MB
            out["input_mb"] += st.inputBytes() / _MB
            out["output_mb"] += st.outputBytes() / _MB
        return out

    def _executions(self) -> list[list[tuple[str, dict[str, float]]]]:
        graphs = []
        while True:
            ex = self.sql_store.execution(self._next_exec)
            if not ex.isDefined():
                return graphs
            graph = self.sql_store.planGraph(self._next_exec)
            graphs.append(parse_plan_graph(
                graph.makeDotFile(self.sql_store.executionMetrics(self._next_exec))))
            self._next_exec += 1

    def end(self, group: str, frame, t_start: float, t_built: float, t_end: float,
            write_s: float = 0.0, pipeline: bool = False) -> tuple[dict[str, float], list[dict]]:
        """The layer metrics and the jobs of the query run under ``group``;
        times are wall-clock seconds (``time.time()``).  ``frame`` is the
        DataFrame the query executed, whose Catalyst phases are read; a
        frame handed to a writer is planned here, since the writer plans
        its own copy."""
        jobs = self._jobs(group)
        build_jobs = [j for j in jobs if j["start"] <= t_built]
        stage = self._stages(s for j in jobs for s in j["stage_ids"])
        graphs = self._executions()
        qe = frame._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        catalyst = {k: (phases.apply(k).durationMs() if phases.contains(k) else 0)
                    for k in ("analysis", "optimization", "planning")}
        cached = self.jsc.getRDDStorageInfo()
        py = [m for g in graphs for name, m in g if "time to run Python workers" in m]
        scans = [m for g in graphs for name, m in g if "number of files read" in m]
        intervals = [(j["start"], j["end"]) for j in jobs]
        out = {
            "plans.build_s": 0.0 if pipeline else t_built - t_start,
            "plans.build_jobs": float(len(build_jobs)),
            "plans.build_job_s": union_length([(j["start"], j["end"]) for j in build_jobs]),
            "pipelines.build_s": t_built - t_start if pipeline else 0.0,
            "catalyst.analysis_ms": float(catalyst["analysis"]),
            "catalyst.optimization_ms": float(catalyst["optimization"]),
            "catalyst.planning_ms": float(catalyst["planning"]),
            "jobs.count": float(len(jobs)),
            "jobs.stages": stage["stages"],
            "jobs.tasks": stage["tasks"],
            "jobs.driver_gap_s": uncovered((t_start, t_end), intervals),
            "executor.run_s": stage["run_s"],
            "executor.cpu_s": stage["cpu_s"],
            "executor.gc_s": stage["gc_s"],
            "executor.shuffle_read_mb": stage["shuffle_read_mb"],
            "executor.shuffle_write_mb": stage["shuffle_write_mb"],
            "executor.spill_mb": stage["spill_mb"],
            "sources.scans": float(len(scans)),
            "sources.input_mb": stage["input_mb"],
            "sources.write_s": write_s,
            "sources.output_mb": stage["output_mb"],
            "python.nodes": float(len(py)),
            "python.run_s": sum(m["time to run Python workers"] for m in py),
            "python.start_s": sum(m.get("time to start Python workers", 0.0) for m in py),
            "python.sent_mb": sum(m.get("data sent to Python workers", 0.0) for m in py) / _MB,
            "python.recv_mb": sum(m.get("data returned from Python workers", 0.0) for m in py) / _MB,
            "cache.rdds": float(len(cached)),
            "cache.mb": sum(r.memSize() + r.diskSize() for r in cached) / _MB,
        }
        return out, jobs
