"""perfbench: the repository's end-to-end and per-layer benchmark.

Usage, from the repository root:

    python3 perfbench/run.py --workload corpus_pipeline --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 6 --trace 0

One process, one client, closed loop: a job starts only after the previous
one finished.  A job is one entry of ``__spark_entry__.queries()`` timed in
three parts: the builder call, forcing the physical plan, and a full-output
``noop`` write.  The seed sets the job order of every warm pass.  Every job
call is checked: the plan of its timed write must still compute the job's
output, and the rows it wrote must match the stored DuckDB oracle digest;
the first call of each job also has its whole output compared with the digest.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``).  The exit code is 0 only when every output was
correct.  README.md beside this file describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import re
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

from spans import BuildFailed, Tracer, install  # noqa: E402
from workloads import TABLES, WARM_PASS_S, WORKLOAD_JOBS, digest, sf_dir  # noqa: E402

WORKLOADS = tuple(WORKLOAD_JOBS)

# The tables the load step exports, with their bucketing keys.
EXPORTS = {"events": "event_id", "orders": "o_orderkey"}


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith(("_frac", "_per_source_byte")):
        return "ratio"
    if "bytes" in name:
        return "B"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method); the value itself for one sample."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 4


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def count_lines(path: str) -> int:
    with open(path, "rb") as f:
        return sum(1 for _ in f)


_FUNC = re.compile(r"\b([a-z_][a-z0-9_]*)\(")
_WRITE_INPUT = re.compile(r"OverwriteByExpression\s*\nInput \[(\d+)\]")


class Job:
    """One timed call of a registered entry."""

    __slots__ = ("name", "tag", "df", "rows", "build_s", "plan_s", "action_s", "shared_s", "error")

    def __init__(self, name: str, tag: str):
        self.name, self.tag = name, tag
        self.df = None
        self.rows: int | None = None
        self.build_s = self.plan_s = self.action_s = self.shared_s = 0.0
        self.error: str | None = None

    @property
    def total_s(self) -> float:
        return self.build_s + self.plan_s + self.action_s


class Bench:
    def __init__(
        self, workload: str, seed: int, seconds: float, traced: bool, digests: dict, data: str
    ):
        self.data = data
        self.workload = workload
        self.rng = random.Random(seed)
        self.seconds = seconds
        self.traced = traced
        self.digests = digests
        self.tracer = Tracer(traced)
        self.jobs = list(WORKLOAD_JOBS[workload])
        self.attempted = 0
        # failed operation (a job call, the CTAS or an export) -> reasons
        self.failures: dict[str, list[str]] = {}
        self.metrics: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self._seq = 0

    def fail(self, op: str, reason: str) -> None:
        self.failures.setdefault(op, []).append(reason)

    # ---------------------------------------------------------------- jobs
    def run_job(self, name: str, fn, pass_no: int) -> Job:
        from pyspark.sql import Observation
        from pyspark.sql.functions import count, lit

        self._seq += 1
        job = Job(name, f"pb{self._seq}-{name}-p{pass_no}")
        sc = self.spark.sparkContext
        tr = self.tracer
        self.attempted += 1
        shared0 = tr.builds_total()
        written = Observation()
        try:
            with tr.span("job", job=name, pass_no=pass_no):
                sc.setJobGroup(job.tag + ":build", job.tag + ":build")
                t0 = time.perf_counter()
                with tr.span("operators.build"):
                    df = fn(self.spark, self.data)
                t1 = time.perf_counter()
                sc.setJobGroup(job.tag + ":plan", job.tag + ":plan")
                with tr.span("plans.plan"):
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                sc.setJobGroup(job.tag + ":action", job.tag + ":action")
                with tr.span("spark.action"):
                    # The observation counts the rows the write consumed;
                    # it adds one count to the plan and no extra job.
                    out = df.observe(written, count(lit(1)).alias("rows"))
                    out.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
            job.df = df
            job.rows = written.get["rows"]
            job.build_s, job.plan_s, job.action_s = t1 - t0, t2 - t1, t3 - t2
        except Exception as e:  # a failing job is reported, never dropped
            if not tr.build_errors:
                job.error = f"{type(e).__name__}: {e}"
                self.fail(job.tag, f"raised {job.error}")
                print(f"perfbench: {name} raised\n{traceback.format_exc()}", file=sys.stderr)
        finally:
            sc.setJobGroup("perfbench", "perfbench")
        if tr.build_errors:  # also when the program swallowed the build's exception
            raise BuildFailed("; ".join(tr.build_errors))
        job.shared_s = tr.builds_total() - shared0
        if job.error is None:
            self.guard(job)
            want = self.digests[name]
            cols = sorted(c.lower() for c in df.columns)
            if job.rows != want["rows"] or cols != want["cols"]:
                self.fail(
                    job.tag,
                    f"wrote {job.rows} rows of {cols}, oracle has {want['rows']} of {want['cols']}",
                )
        return job

    def guard(self, job: Job) -> None:
        """The timed write's executed plan must still compute the job's output:
        every output column reaches the sink, and every function the job's own
        physical plan evaluates is evaluated by the write too (a count()-style
        action would prune projections such as regex/md5 or aggregates).
        Runs after every job call, outside its timed parts."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        n = int(store.executionsCount())
        want = job.tag + ":action"
        plan = None
        recent = store.executionsList(max(0, n - 50), 50)
        for i in range(recent.size() - 1, -1, -1):
            ex = recent.apply(i)
            if ex.description() == want:
                plan = ex.physicalPlanDescription()
                break
        if plan is None:
            self.fail(job.tag, "no SQL execution recorded for the timed write")
            return
        m = _WRITE_INPUT.search(plan)
        n_cols = len(job.df.columns)
        if m is None or int(m.group(1)) != n_cols:
            self.fail(job.tag, f"timed write consumes {m and m.group(1)} columns, output has {n_cols}")
        own = set(_FUNC.findall(job.df._jdf.queryExecution().executedPlan().toString()))
        missing = own - set(_FUNC.findall(plan))
        if missing:
            self.fail(job.tag, f"timed write pruned {sorted(missing)}")

    def check(self, job: Job) -> None:
        """Compare the job's output with its oracle digest (outside timed regions)."""
        want = self.digests[job.name]
        try:
            got = digest(job.df.toPandas())
        except Exception as e:
            self.fail(job.tag, f"check raised {type(e).__name__}: {e}")
            return
        if got != want:
            self.fail(
                job.tag,
                "output differs from oracle "
                f"(rows {got['rows']} vs {want['rows']}, cols {got['cols']} vs {want['cols']})"
            )
        if self.traced:
            from dblab_ece_trino_spark.plans.metrics import query_stats

            stats = query_stats(job.df)
            for key, name in (
                ("shuffleBytesWritten", "plans.shuffle_bytes"),
                ("spilledBytes", "plans.spill_bytes"),
                ("rowsRead", "plans.rows_read"),
            ):
                self.layer[name] = self.layer.get(name, 0) + stats[key]
            self.layer["plans.peak_operator_mem_bytes"] = max(
                self.layer.get("plans.peak_operator_mem_bytes", 0), stats["peakOperatorMemory"]
            )

    def spark_counts(self, job: Job) -> dict[str, int]:
        """Jobs, stages, tasks and failed tasks launched under the job's groups."""
        st = self.spark.sparkContext.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0, "build_jobs": 0}
        for phase in ("build", "plan", "action"):
            ids = st.getJobIdsForGroup(f"{job.tag}:{phase}")
            out["jobs"] += len(ids)
            if phase == "build":
                out["build_jobs"] += len(ids)
            for jid in ids:
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    if si is not None and si.numCompletedTasks + si.numFailedTasks > 0:
                        out["stages"] += 1
                        out["tasks"] += si.numCompletedTasks
                        out["tasks_failed"] += si.numFailedTasks
        return out

    def order(self) -> list[str]:
        names = list(self.jobs)
        self.rng.shuffle(names)
        return names

    # -------------------------------------------------------------- phases
    def setup(self) -> None:
        self.build_labels = install(self.tracer)
        from dblab_ece_trino_spark import entrypoints
        from dblab_ece_trino_spark.session import EngineSession

        t0 = time.perf_counter()
        eng = EngineSession.get(
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK}/tmp",
            },
        )
        self.spark = eng.spark
        t1 = time.perf_counter()
        self.engine = entrypoints.engine_for(self.spark, self.data)
        t2 = time.perf_counter()
        self.session_start_s, self.catalog_register_s = t1 - t0, t2 - t1
        self.layer["catalog.tables"] = len(self.engine.catalogs.all_tables())

        import __spark_entry__

        registry = __spark_entry__.queries()
        self.fns = {name: registry[name] for name in self.jobs}

    def load_export(self) -> None:
        """CTAS of every table into a scratch warehouse, then two bucketed
        NDJSON exports; re-registers the 3-part names on the loaded copies."""
        import pyarrow.parquet as pq

        from dblab_ece_trino_spark import loader

        warehouse = os.path.join(WORK, "warehouse")
        exports = os.path.join(WORK, "export")
        for d in (warehouse, exports):
            shutil.rmtree(d, ignore_errors=True)
        source_rows = {t: pq.ParquetFile(self.src(t)).metadata.num_rows for t in TABLES}
        self.attempted += 1
        t0 = time.perf_counter()
        reports = loader.ctas_load(self.engine, self.data, warehouse, parallelism=cpu_count())
        ctas_s = time.perf_counter() - t0
        rows = sum(r.rows for r in reports)
        for r in reports:
            if r.rows != source_rows[r.table]:
                self.fail("ctas", f"{r.table}: {r.rows} rows, source has {source_rows[r.table]}")
        if {r.table for r in reports} != set(TABLES):
            self.fail("ctas", f"loaded {sorted(r.table for r in reports)}")
        stored = tree_bytes(warehouse)
        source = sum(os.path.getsize(self.src(t)) for t in TABLES)

        export_rows = files = 0
        export_s = 0.0
        for table, key in EXPORTS.items():
            spec = next(s for s in self.engine.catalogs.all_tables() if s.table == table)
            out = os.path.join(exports, table)
            self.attempted += 1
            t0 = time.perf_counter()
            files += loader.export_bucketed_ndjson(
                self.engine.catalogs.table(spec.full_name), key, out
            )
            export_s += time.perf_counter() - t0
            written = sum(count_lines(os.path.join(d, f)) for d, _, fs in os.walk(out) for f in fs)
            if written != source_rows[table]:
                self.fail(f"export {table}", f"{written} lines, source has {source_rows[table]}")
            export_rows += source_rows[table]
        self.metrics["load_rows_per_s"] = rows / ctas_s
        self.metrics["export_rows_per_s"] = export_rows / export_s
        self.metrics["stored_bytes_per_source_byte"] = stored / source
        self.layer.update(
            {
                "loader.ctas_s": ctas_s,
                "loader.ctas_rows": rows,
                "loader.bytes_written": stored,
                "loader.export_s": export_s,
                "loader.export_files": files,
            }
        )

    def src(self, table: str) -> str:
        return os.path.join(self.data, f"{table}.parquet")

    def collect_garbage(self) -> None:
        """Full GC in the driver JVM and in Python between phases (untimed), so
        garbage left by one phase is not collected inside the next one's jobs."""
        gc.collect()
        self.spark._jvm.java.lang.System.gc()

    def first_pass(self) -> float:
        """First touch of every job, in name order; each output is checked
        right after.  The order is fixed (not seeded) because first-touch
        costs -- JIT, code generation, Python workers -- land on whichever
        job runs first, and a seeded order moves them between jobs and
        between the shared builds and the jobs."""
        self.collect_garbage()
        total = 0.0
        counts: dict[str, int] = {}
        for name in sorted(self.jobs):
            job = self.run_job(name, self.fns[name], 0)
            if job.error is not None:
                continue
            total += job.total_s - job.shared_s
            if self.traced:
                for k, v in self.spark_counts(job).items():
                    counts[k] = counts.get(k, 0) + v
            self.check(job)
            job.df = None
        for k in ("jobs", "tasks"):
            self.layer[f"first.spark.{k}"] = counts.get(k, 0)
        return total

    def warm_passes(self) -> dict[str, list[float]]:
        """A fixed number of whole passes, sized so they take about
        ``--seconds`` on a 4-core host (``workloads.WARM_PASS_S``).

        The count is fixed rather than timed because the JVM is still warming
        up over these passes: a timed window gives a faster run more, and
        faster, passes, which widens the spread between runs.  Traced runs
        alternate untraced and traced passes, starting and ending
        untraced (at least three), so warm-up drift cancels; latencies and
        per-layer figures come from the traced passes, and the tracing
        overhead is the mean traced pass time minus the mean untraced one.
        """
        latencies: dict[str, list[float]] = {}
        walls: dict[bool, list[float]] = {False: [], True: []}
        layer: dict[str, float] = {}
        n_passes = max(1, round(self.seconds / WARM_PASS_S[self.workload]))
        if self.traced:
            n_passes = max(3, n_passes | 1)
        for i in range(n_passes):
            self.collect_garbage()
            traced_pass = self.traced and i % 2 == 1
            self.tracer.enabled = traced_pass
            since = time.perf_counter()
            wall = 0.0
            for name in self.order():
                job = self.run_job(name, self.fns[name], i + 1)
                if job.error is not None:
                    continue
                wall += job.total_s
                if traced_pass or not self.traced:
                    latencies.setdefault(name, []).append(job.total_s)
                if traced_pass:
                    for k, v in self.spark_counts(job).items():
                        key = "operators.build_jobs" if k == "build_jobs" else f"spark.{k}"
                        layer[key] = layer.get(key, 0) + v
                    layer["plans.plan_s"] = layer.get("plans.plan_s", 0.0) + job.plan_s
                    layer["spark.action_s"] = layer.get("spark.action_s", 0.0) + job.action_s
                    layer["operators.build_s"] = layer.get("operators.build_s", 0.0) + job.build_s
                job.df = None
            if traced_pass:
                for name, row in self.tracer.summary(since).items():
                    if name in ("sql.rewrite", "session.materialize", "session.ensure_parallelism"):
                        layer[f"{name}_s"] = layer.get(f"{name}_s", 0.0) + row["total_s"]
                        layer[f"{name}_calls"] = layer.get(f"{name}_calls", 0) + row["calls"]
            walls[traced_pass].append(wall)
        self.tracer.enabled = self.traced
        if self.traced:
            n = len(walls[True])
            for k, v in layer.items():
                self.layer[k] = v / n
            self.layer["trace.overhead_s"] = statistics.mean(walls[True]) - statistics.mean(walls[False])
        return latencies

    def run(self) -> dict:
        self.setup()
        if self.workload == "load_export":
            self.load_export()
        first = self.first_pass()
        latencies = self.warm_passes()
        builds = self.tracer.builds_total()
        m = self.metrics
        m["setup_s"] = self.session_start_s + self.catalog_register_s + builds
        m["first_pass_s"] = first
        if latencies:
            # One latency per job, its median over the warm passes, so one
            # pass slowed by the host does not move the percentiles or the
            # closed-loop throughput of a warm pass.
            per_job = [statistics.median(v) for v in latencies.values()]
            m["query_p50_s"] = statistics.median(per_job)
            m["query_p90_s"] = quantile(per_job, 90)
            m["jobs_per_s"] = len(per_job) / sum(per_job)
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        m["peak_rss_mb"] = (
            vm_hwm_kb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        ) / 1024.0
        self.warm_samples = sum(map(len, latencies.values()))
        self.layer["session.start_s"] = self.session_start_s
        self.layer["catalog.register_s"] = self.catalog_register_s
        for label in self.build_labels:
            if label in self.tracer.build_s:
                self.layer[f"shared.{label}_s"] = self.tracer.build_s[label]
        return m

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def report(bench: Bench, names: list[str]) -> dict:
    values = {**bench.layer, **bench.metrics}
    return {n: {"value": values[n], "unit": unit_of(n)} for n in names}


def run_one(args, spec: dict, digests: dict, data: str) -> int:
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "spark-warehouse")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.chdir(WORK)  # derby.log / metastore_db, if Spark makes them, land here

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), digests, data)
    try:
        bench.run()
    finally:
        bench.stop()
        shutil.rmtree(os.path.join(WORK, "warehouse"), ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "export"), ignore_errors=True)

    failed = len(bench.failures)
    bench.metrics["failed_frac"] = failed / bench.attempted
    for op, reasons in bench.failures.items():
        print(f"perfbench: FAILED {op}: {'; '.join(reasons)}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed={args.seed} jobs={len(bench.jobs)} "
        f"warm_samples={bench.warm_samples} attempted={bench.attempted} failed={failed}",
        file=sys.stderr,
    )
    for name, value in sorted(bench.metrics.items()):
        print(f"  {name} = {value:.6g} {unit_of(name)}", file=sys.stderr)
    if args.trace:
        print("perfbench: per-layer", file=sys.stderr)
        for name, value in sorted(bench.layer.items()):
            print(f"  {name} = {value:.6g} {unit_of(name)}", file=sys.stderr)
        print("perfbench: self time by span (s)", file=sys.stderr)
        summary = bench.tracer.summary()
        for name, row in sorted(summary.items(), key=lambda kv: -kv[1]["self_s"]):
            print(f"  {name:32s} calls={row['calls']:5d} total={row['total_s']:9.3f} self={row['self_s']:9.3f}", file=sys.stderr)
        path = os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": bench.tracer.spans, "self_time": summary, "layer": bench.layer}, f)
        print(f"perfbench: spans written to {path}", file=sys.stderr)

    if args.all_metrics:
        names = sorted(bench.layer if args.trace else bench.metrics)
    else:
        names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    metrics = report(bench, names)
    result = {"correct": failed == 0, "attempted": bench.attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def run_all(args) -> int:
    """Each workload in its own process, one after another; one summary line."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for workload in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--all-metrics"]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode not in (0, 1) or not lines:
            print(f"perfbench: {workload} exited {proc.returncode} without a result", file=sys.stderr)
            return 2
        print(lines[-1])
        res = json.loads(lines[-1])
        code = max(code, proc.returncode)
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for name, v in res["metrics"].items():
            combined["metrics"][f"{workload}.{name}"] = v
    print(json.dumps(combined))
    return code


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--all-metrics", action="store_true",
        help="report every metric the run computed, not only those BENCHMARK.json lists",
    )
    args = ap.parse_args(argv)

    missing = [p for p in ("__spark_entry__.py", "dblab_ece_trino_spark") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    data = sf_dir()
    if not all(os.path.exists(os.path.join(data, f"{t}.parquet")) for t in TABLES):
        print(f"perfbench: input tables missing under {data}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "digests.json"), encoding="utf-8") as f:
        digests = json.load(f)["jobs"]
    return run_one(args, spec, digests, data)


if __name__ == "__main__":
    sys.exit(main())
