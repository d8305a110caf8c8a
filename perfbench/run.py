"""The engine's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload catalog_mix --seed 1 --seconds 15 --trace 0

Load is one closed-loop client: the next query starts when the previous one
has finished.  The engine runs on ``local[N]`` with N the host's usable
cores.  Each run generates its inputs (tables from a fixed data seed, the
query order and, for ``esg_inference``, the report files from ``--seed``),
starts a session, warms it with untimed passes, then times whole passes
and checks every query's output outside the timed spans.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run, and
the run's spans and per-query readings go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import workloads as wl  # noqa: E402
from measure import (  # noqa: E402
    checksum_frame,
    collect_checksum,
    tail_percentile,
    tree_cpu_seconds,
)

DATA_SEED = 1  # the catalog tables are the same for every workload seed
QUERY_TIMEOUT_S = 60.0

# scale factor of the generated tables, untimed warm-up passes, and the
# nominal pass time on a 4-core host that sets how many timed passes fill
# --seconds.  BENCHMARK.json lists the two workloads whose runs fit the
# benchmark's time budget; the other two run by hand.
WORKLOADS = {
    "catalog_mix": {"sf": 0.01, "warmup": 1, "pass_s": 4.0},
    "esg_inference": {"sf": 0.01, "warmup": 1, "pass_s": 5.0},
    "iterative": {"sf": 0.01, "warmup": 2, "pass_s": 18.0},
    "compute_heavy": {"sf": 0.01, "warmup": 2, "pass_s": 4.0},
}


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def passes_for(workload: str, seconds: int) -> int:
    """Timed passes in a run: as many nominal passes as fill ``seconds``,
    at least three, so a run's pass time is a median.  The count does not
    depend on measured speed, which keeps the sample count, and so the
    tail percentile, the same on every run and every commit."""
    return max(3, round(seconds / WORKLOADS[workload]["pass_s"]))


class Run:
    """One benchmark run: its scratch directories, session and results."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload, self.seed, self.trace = workload, seed, trace
        self.work = ROOT / ".perfbench_work" / f"{workload}-{seed}-{os.getpid()}"
        self.data_dir = str(self.work / "data")
        self.rng = random.Random(seed)
        self.spark = None
        self.jvm = None
        self.tracer = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.passes: list[dict] = []  # one record per timed pass

    # -- environment -------------------------------------------------

    def prepare(self) -> None:
        if not (ROOT / "aicoe_osc_demo_spark" / "__init__.py").is_file():
            raise SystemExit("perfbench: aicoe_osc_demo_spark not found next to perfbench/")
        for sub in ("data", "tmp", "local", "warehouse", "reports"):
            (self.work / sub).mkdir(parents=True, exist_ok=True)
        # executors' Python workers import the package from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
        # keep every temp file of this process, the JVM and the Python
        # workers in the run's own directory
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "local")
        os.environ["TMPDIR"] = str(self.work / "tmp")
        tempfile.tempdir = None
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
            f"--conf spark.sql.warehouse.dir={self.work / 'warehouse'}",
            "--conf spark.ui.showConsoleProgress=false",
            f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={self.work / 'tmp'}'",
            "pyspark-shell",
        ])
        sys.path.insert(0, str(ROOT))

    def start_session(self) -> float:
        from aicoe_osc_demo_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", cpus=str(host_cores()))
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark.sparkContext._gateway.proc
        return time.perf_counter() - t0

    def warm_workers(self) -> float:
        """Fork the Python worker pool, which Spark starts lazily."""
        n = host_cores()
        t0 = time.perf_counter()
        self.spark.range(0, n, 1, n).mapInPandas(
            lambda it: (pdf for pdf in it), schema="id long").collect()
        return time.perf_counter() - t0

    def close(self) -> None:
        if self.spark is not None:
            sc = self.spark.sparkContext
            gateway = sc._gateway
            self.spark.stop()
            gateway.shutdown()
            if self.jvm is not None:
                self.jvm.stdin.close()  # the JVM exits when its stdin closes
                try:
                    self.jvm.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    self.jvm.kill()
                    self.jvm.wait()
        shutil.rmtree(self.work, ignore_errors=True)

    # -- one query ---------------------------------------------------

    def timed(self, group: str, build, finish, check) -> dict | None:
        """Run one query under job group ``group``: ``build()`` makes the
        DataFrame, ``finish(df)`` materializes it and returns its output,
        its write seconds and the frame it executed, and ``check(output)``
        says whether that output is right.  Returns the query's timings
        (wall clock), or None if it failed."""
        sc = self.spark.sparkContext
        self.attempted += 1
        if self.tracer:
            self.tracer.begin(group)
        else:
            sc.setJobGroup(group, group)
        timer = threading.Timer(QUERY_TIMEOUT_S, sc.cancelJobGroup, (group,))
        timer.start()
        try:
            t_start = time.time()
            df = build()
            t_built = time.time()
            out, write_s, executed = finish(df)
            t_end = time.time()
        except Exception as exc:  # a failed query is counted, the run goes on
            self.failed += 1
            self.errors.append(f"{group}: {type(exc).__name__}: {str(exc)[:200]}")
            self.spark.catalog.clearCache()
            return None
        finally:
            timer.cancel()
        rec = {"query": group, "start": t_start, "built": t_built, "end": t_end,
               "latency_s": t_end - t_start}
        if self.tracer:
            rec["layers"], rec["jobs"] = self.tracer.end(
                group, executed, t_start, t_built, t_end, write_s=write_s,
                pipeline=self.workload == "esg_inference")
        self.spark.catalog.clearCache()
        if not check(out):
            self.failed += 1
            self.errors.append(f"{group}: wrong output {out!r}")
            return None
        return rec

    # -- workloads ---------------------------------------------------

    def setup_inputs(self) -> None:
        cfg = WORKLOADS[self.workload]
        if self.workload == "esg_inference":
            docs = datagen.generate(cfg["sf"], DATA_SEED)["documents"]
            self.batch_dirs, rows = wl.write_reports(
                docs.column("text").to_pylist(), str(self.work / "reports"), self.seed)
            self.want_results, self.want_dashboard = wl.expected_results(rows)
        else:
            datagen.write_tables(self.data_dir, cfg["sf"], DATA_SEED)
            expected = json.loads((HERE / "expected.json").read_text())
            self.expected = expected[str(cfg["sf"])]

    def catalog_pass(self, label: str, seeded: bool) -> list[dict]:
        from aicoe_osc_demo_spark.plans import QUERIES

        names = wl.CATALOG[self.workload]

        def finish(df):
            frame = checksum_frame(df)
            return collect_checksum(frame), 0.0, frame

        recs = []
        for name in wl.pass_order(names, self.rng) if seeded else names:
            want = self.expected.get(name)
            rec = self.timed(
                f"{label}/{name}",
                lambda: QUERIES[name](self.spark, self.data_dir),
                finish,
                lambda out: want is not None and list(out) == want,
            )
            if rec:
                recs.append(rec)
        return recs

    def esg_pass(self, label: str) -> tuple[list[dict], str, list]:
        from aicoe_osc_demo_spark.pipelines import inference_pipeline
        from aicoe_osc_demo_spark.sources.files import write_table

        spark = self.spark
        table = f"esg_results_{label}"
        questions = spark.createDataFrame(wl.KPI_QUESTIONS, "kpi_id double, question string")
        recs = []

        def write(df):
            t0 = time.time()
            write_table(df, table, fmt="orc", mode="append")
            return None, time.time() - t0, df

        for b, batch_dir in enumerate(self.batch_dirs):
            processed = spark.table(table) if b else None
            rec = self.timed(
                f"{label}/batch{b}",
                lambda: inference_pipeline(spark, batch_dir, questions, processed=processed),
                write,
                lambda out: True,  # the whole table is checked after the pass
            )
            if rec:
                recs.append(rec)
        dashboard = spark.sql(wl.DASHBOARD_SQL.replace("FROM results", f"FROM {table}")).collect()
        return recs, table, dashboard

    def check_esg(self, table: str, dashboard: list, recs: list[dict]) -> None:
        """Compare the pass's results table and dashboard with DuckDB; a
        wrong table fails every batch of the pass."""
        import pandas as pd

        got = self.spark.table(table).toPandas()
        dash = pd.DataFrame([r.asDict() for r in dashboard], columns=self.want_dashboard.columns)
        self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        # the dashboard's rounded averages may differ in their last place,
        # since the two engines sum in different orders
        if not (wl.same_rows(got, self.want_results)
                and wl.same_rows(dash, self.want_dashboard, float_tol=2e-6)):
            self.failed += len(recs)
            self.errors.append(f"{table}: results differ from the DuckDB reference")
            recs.clear()

    def one_pass(self, label: str, seeded: bool = True) -> tuple[float, float, list[dict]]:
        """One pass: (wall seconds, process-tree CPU seconds, query records).
        The heap is collected first, so no pass inherits another's garbage;
        output checks that need a second read happen after the clock stops.
        Warm-up passes run the catalog in its listed order, so every seed
        enters its timed passes from the same JIT and cache state."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        cpu0, t0 = tree_cpu_seconds(), time.perf_counter()
        if self.workload == "esg_inference":
            recs, table, dashboard = self.esg_pass(label)
        else:
            recs = self.catalog_pass(label, seeded)
        wall, cpu = time.perf_counter() - t0, tree_cpu_seconds() - cpu0
        if self.workload == "esg_inference":
            self.check_esg(table, dashboard, recs)
        return wall, cpu, recs

    # -- the run -----------------------------------------------------

    def execute(self, seconds: int) -> dict:
        self.prepare()
        self.setup_inputs()
        t0 = time.perf_counter()
        self.start_s = self.start_session()
        self.worker_warm_s = self.warm_workers()
        for w in range(WORKLOADS[self.workload]["warmup"]):
            self.one_pass(f"warmup{w}", seeded=False)
        self.setup_s = time.perf_counter() - t0
        tracer = None
        if self.trace:
            from layers import Tracer

            tracer = Tracer(self.spark)
        for p in range(passes_for(self.workload, seconds)):
            # the traced run alternates traced and untraced passes, so its
            # overhead is read against the same session
            self.tracer = tracer if p % 2 == 0 else None
            wall, cpu, recs = self.one_pass(f"p{p}")
            self.passes.append({"pass": p, "traced": self.tracer is not None,
                                "wall_s": wall, "cpu_s": cpu, "queries": recs})
        self.tracer = None
        return self.trace_metrics(tracer) if tracer else self.end_to_end()

    def end_to_end(self) -> dict:
        """Setup, median pass wall and CPU time, and median query latency.
        The tail latency is printed beside them, with its percentile and
        sample count, but not reported: a run of the smaller workload holds
        too few queries for a tail."""
        lat = [q["latency_s"] for p in self.passes for q in p["queries"]]
        metrics = {
            "setup_s": self.setup_s,
            "pass_s": statistics.median(p["wall_s"] for p in self.passes),
            "query_p50_s": statistics.median(lat) if lat else float("nan"),
            "cpu_s": statistics.median(p["cpu_s"] for p in self.passes),
        }
        tail = tail_percentile(lat)
        print(f"# {self.workload}: {len(self.passes)} passes, {len(lat)} timed queries; "
              + (f"query_tail_s = {tail[0]:.4f} at p{tail[1]:.1f} of {tail[2]}" if tail
                 else "too few queries for query_tail_s"), file=sys.stderr)
        return {k: {"value": v, "unit": "s"} for k, v in metrics.items()}

    def trace_metrics(self, tracer) -> dict:
        from layers import LAYER_METRICS, QUERY_METRICS

        traced = [p for p in self.passes if p["traced"]]
        plain = [p for p in self.passes if not p["traced"]]
        per_pass = [{m: sum(q["layers"][m] for q in p["queries"]) for m in QUERY_METRICS}
                    for p in traced]
        values = {m: statistics.median(pp[m] for pp in per_pass) for m in QUERY_METRICS}
        traced_s = statistics.median(p["wall_s"] for p in traced)
        values.update({
            "session.start_s": self.start_s,
            "session.worker_warm_s": self.worker_warm_s,
            "session.jvm_peak_rss_mb": self.jvm_peak_rss_mb(),
            "trace.pass_s": traced_s,
            "trace.overhead_s": traced_s - statistics.median(p["wall_s"] for p in plain),
        })
        self.write_trace(tracer)
        units = {m[0]: m[1] for m in LAYER_METRICS}
        return {m: {"value": values[m], "unit": units[m]} for m in units}

    def jvm_peak_rss_mb(self) -> float:
        try:
            with open(f"/proc/{self.jvm.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0

    def write_trace(self, tr) -> None:
        """Spans workload -> pass -> query -> build / materialize -> job,
        plus every traced query's layer readings, written once."""
        run = tr.span("workload", None, 0.0, 0.0, workload=self.workload, seed=self.seed)
        for p in self.passes:
            qs = p["queries"]
            if not p["traced"] or not qs:
                continue
            ps = tr.span("pass", run, qs[0]["start"], qs[-1]["end"], index=p["pass"])
            for q in qs:
                qid = tr.span("query", ps, q["start"], q["end"], query=q["query"],
                              layers=q["layers"])
                tr.span("build", qid, q["start"], q["built"])
                mid = tr.span("materialize", qid, q["built"], q["end"])
                for j in q["jobs"]:
                    tr.span("job", qid if j["start"] < q["built"] else mid,
                            j["start"], j["end"], job=j["job"])
        spans = tr.spans
        spans[run]["start"] = min((s["start"] for s in spans[run + 1:]), default=0.0)
        spans[run]["end"] = max((s["end"] for s in spans[run + 1:]), default=0.0)
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        path = out / f"trace-{self.workload}-seed{self.seed}.json"
        path.write_text(json.dumps({"cores": host_cores(), "spans": spans}))
        print(f"# trace written to {path.relative_to(ROOT)}", file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run = Run(args.workload, args.seed, bool(args.trace))
    try:
        metrics = run.execute(args.seconds)
    finally:
        run.close()
    for err in run.errors:
        print(f"# FAILED {err}", file=sys.stderr)
    print(f"# cores={host_cores()} failed_frac={run.failed / max(run.attempted, 1)}",
          file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
