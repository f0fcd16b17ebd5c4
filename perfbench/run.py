"""Benchmark entry point: one closed-loop client, one job in flight.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's inputs from the seed, starts the program's
Spark session on ``local[nproc]``, runs the workload's warm-up passes
(the first one's results are checked against the oracles), then whole
passes over the workload's job list until ``--seconds`` have passed (a
traced run: at least 22 jobs). The last line of stdout is one JSON
object: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (which also writes the span trace and
per-job counters to ``perfbench/out/``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "distributed_mapreduce_server_spark"
sys.path.insert(0, HERE)

from workloads import QUEUE_JOBS, REFERENCE_OF, WORKLOADS, Checks  # noqa: E402

JOB_TIMEOUT_S = 150.0
# a traced run times at least this many jobs, so the tail percentile
# has ten samples beyond it and lies above the median
TAIL_SAMPLES = 22

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "job_s.p50": "s",
    "peak_rss_mb": "MB",
}
SPAN_TARGETS = {
    # span name -> (module, attribute) wrapped in the traced run
    "catalog.load_tables": (f"{PACKAGE}.catalog", "load_tables"),
    "sources.read_text_lines": (f"{PACKAGE}.sources.registry", "read_text_lines"),
    "sources.write_sink": (f"{PACKAGE}.sources.registry", "write_sink"),
    "mapreduce.submit": (f"{PACKAGE}.mapreduce.submit", "submit"),
    "mapreduce.submit_exec": (f"{PACKAGE}.mapreduce.submit", "submit_exec"),
    "mapreduce.run_executable_job": (f"{PACKAGE}.mapreduce.exec_job", "run_executable_job"),
}


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """The highest percentile of ``samples`` with at least ten samples
    above it: (value, percentile)."""
    s = sorted(samples)
    if len(s) < 11:
        raise ValueError(f"{len(s)} samples: a tail needs at least 11")
    k = len(s) - 11
    return s[k], 100.0 * (k + 1) / len(s)


def min_passes(jobs_per_pass: int, trace: bool) -> int:
    """The fewest timed passes of a run: traced runs time enough jobs
    for the tail, untraced ones one pass."""
    return -(-TAIL_SAMPLES // jobs_per_pass) if trace else 1


def result(checks: Checks, metrics: dict[str, float], units: dict[str, str]) -> dict:
    """The benchmark's last stdout line."""
    return {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def configure_environment(work: str) -> None:
    """Keep every file Spark and the program write inside ``work`` and
    size the session to this host; must run before pyspark starts."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    # no hsperfdata files under /tmp from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedStages=10000",
            "--conf spark.ui.retainedJobs=10000",
            f"--conf spark.sql.warehouse.dir={work}/warehouse",
            f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            f" -Dderby.system.home={work}'",
            "pyspark-shell",
        ]
    )


class Run:
    def __init__(self, workload, seed: int, seconds: float, trace: bool, work: str) -> None:
        self.wl = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.data = os.path.join(work, "data")
        self.checks = Checks()
        self.layer: dict[str, float] = {}
        self.jobs: list[dict] = []  # per-job records of the traced run
        self.warm_results: dict = {}  # registry key -> warm-up output (pandas)
        self.outputs: list[tuple] = []  # (QueueJob, output dir) to check
        self.tracer = None
        self.store = None
        self.job_seq = 0

    # -- set-up ---------------------------------------------------------

    def setup(self) -> None:
        from gen import generate
        from probes import seconds_since_process_start

        t = time.perf_counter()
        self.rows = generate(self.data, self.seed, self.wl.sizes)
        gen_s = time.perf_counter() - t

        from distributed_mapreduce_server_spark import get_spark, registry
        from distributed_mapreduce_server_spark import retire_persistent_rdds

        self.retire = retire_persistent_rdds
        self.queries = registry.all_queries()
        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.layer["session.get_spark_s"] = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            from probes import StatusStoreReader
            from spans import Tracer, install

            self.tracer = Tracer()
            install(self.tracer, PACKAGE, SPAN_TARGETS)
            self.store = StatusStoreReader(self.spark)
        if self.wl.queue:
            from distributed_mapreduce_server_spark.mapreduce.submit import JobQueue

            self.queue = JobQueue(self.spark)
            self.queue.start()
        t = time.perf_counter()
        for k in range(-self.wl.warmups, 0):
            self.run_pass(k)
        self.layer["setup.warm_s"] = time.perf_counter() - t
        self.setup_s = seconds_since_process_start() - gen_s
        self.gen_s = gen_s

    # -- one job --------------------------------------------------------

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def run_job(self, pass_no: int, name: str) -> float | None:
        """Run one job, closed loop; returns its time (None if it
        raised). Warm-up jobs (pass -1) keep their output for checking."""
        from distributed_mapreduce_server_spark.session import persistent_rdd_ids
        from probes import cpu_by_kind

        self.job_seq += 1
        self.checks.attempted += 1
        warm = pass_no < 0
        cpu0 = cpu_by_kind() if self.tracer else None
        root = self.tracer.open("job") if self.tracer else None
        if self.tracer:
            self.tracer.begin_job(self.job_seq, root.id)
        t0 = time.perf_counter()
        wall0 = time.time()
        try:
            if self.wl.queue:
                ok = self._queue_job(pass_no, name)
            else:
                ok = self._key_job(name, warm)
        except Exception as ex:  # noqa: BLE001 - a failed job is counted, the loop goes on
            self.checks.fail(f"{name}: {type(ex).__name__}: {ex}")
            ok = False
        job_s = time.perf_counter() - t0
        if self.tracer:
            self.tracer.close(root)
            self.tracer.begin_job(None)
        left = len(persistent_rdd_ids(self.spark)) if self.tracer else 0
        if not self.wl.queue:
            self.spark.catalog.clearCache()
            self.retire(self.spark)
        if self.tracer:
            self._record(pass_no, name, wall0, job_s, cpu0, left)
        return job_s if ok else None

    def _key_job(self, key: str, warm: bool) -> bool:
        fn = self.queries[key]
        with self._span("operators.build"):
            df = fn(self.spark, self.data)
        with self._span("operators.action"):
            if warm and key not in self.warm_results:
                self.warm_results[key] = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
        return True

    def _queue_job(self, pass_no: int, name: str) -> bool:
        from distributed_mapreduce_server_spark.mapreduce.submit import JobState

        job = next(j for j in QUEUE_JOBS if j.name == name)
        out = os.path.join(self.work, "out", f"p{pass_no + 1}-{name}")
        spec = job.spec(os.path.join(self.data, "corpus"), out)
        jid = self.queue.submit(spec)
        state = self.queue.wait(jid, timeout=JOB_TIMEOUT_S)[jid]
        if state != JobState.FINISHED:
            self.checks.fail(f"{name}: {state}: {self.queue.error(jid)}")
            return False
        self.outputs.append((job, out))
        return True

    def _record(self, pass_no, name, wall0, job_s, cpu0, left) -> None:
        from probes import cpu_by_kind, union_length

        cpu1 = cpu_by_kind()
        spark, intervals, valid = self.store.read()
        covered = union_length([(max(s, wall0), min(e, wall0 + job_s)) for s, e in intervals if e > s])
        self.jobs.append(
            {
                "job": self.job_seq,
                "pass": pass_no,
                "name": name,
                "job_s": job_s,
                "persistent_rdds_left": left,
                "driver_outside_jobs_s": max(0.0, job_s - covered),
                "stage_id_high": self.store.stage_hw,
                "valid": valid,
                "spark": spark,
                "cpu": {k: cpu1[k] - cpu0[k] for k in cpu1},
            }
        )

    # -- passes ---------------------------------------------------------

    def job_names(self) -> list[str]:
        return [j.name for j in QUEUE_JOBS] if self.wl.queue else list(self.wl.keys)

    def run_pass(self, pass_no: int) -> tuple[float, list[float]]:
        t = time.perf_counter()
        times = [self.run_job(pass_no, n) for n in self.job_names()]
        return time.perf_counter() - t, [x for x in times if x is not None]

    def measure(self) -> None:
        """Whole passes until ``--seconds`` have passed, at least
        :func:`min_passes`."""
        self.passes: list[float] = []
        self.job_times: list[float] = []
        least = min_passes(len(self.job_names()), self.trace)
        start = time.perf_counter()
        while len(self.passes) < least or time.perf_counter() - start < self.seconds:
            pass_s, times = self.run_pass(len(self.passes))
            self.passes.append(pass_s)
            self.job_times.extend(times)

    # -- checks ---------------------------------------------------------

    def verify(self) -> None:
        """Compare outputs with their oracles, outside the timed region:
        registry keys against their ``oracle_sql()`` in DuckDB, JobQueue
        jobs against the reference pipeline over the same corpus."""
        from collections import Counter

        from workloads import compare_frames, oracle_connection, queue_output, reference_pipeline

        if self.wl.queue:
            corpus = os.path.join(self.data, "corpus")
            expected, ref_s = {}, 0.0
            for job in QUEUE_JOBS:
                if job.mapper:
                    lines, secs = reference_pipeline(corpus, job)
                    expected[job.name] = Counter(lines)
                    ref_s += secs
            self.layer["reference.pipeline_s"] = ref_s
            for job, out in self.outputs:
                want = expected[REFERENCE_OF[job.name]]
                got = queue_output(job, out)
                if got != want or not want:
                    self.checks.fail(f"{job.name} {out}: {sum(got.values())} lines vs {sum(want.values())}")
            return
        from distributed_mapreduce_server_spark import registry

        oracles = registry.all_oracles()
        con = oracle_connection(self.data)
        for key, pdf in self.warm_results.items():
            problem = compare_frames(pdf, con.execute(oracles[key]).df())
            if problem:
                self.checks.fail(f"{key}: {problem} (program vs oracle)")
        con.close()

    # -- results --------------------------------------------------------

    def peak_rss_mb(self) -> float:
        from probes import jvm_pid, vm_hwm_mb

        jvm = jvm_pid()
        return vm_hwm_mb(os.getpid()) + (vm_hwm_mb(jvm) if jvm else 0.0)

    def end_to_end(self) -> dict[str, float]:
        # jobs that raised have no time; if none is left the run is
        # already incorrect, and its job figure reads 0
        return {
            "setup_s": self.setup_s,
            "pass_s": statistics.median(self.passes),
            "job_s.p50": statistics.median(self.job_times or [0.0]),
            "peak_rss_mb": self.peak_rss_mb(),
        }

    def per_layer(self) -> dict[str, float]:
        from probes import CPU_KINDS, SPARK_COUNTS, STAGE_SUMS
        from spans import self_times

        timed = [j for j in self.jobs if j["pass"] >= 0]
        n = len(self.passes)
        ids = {j["job"] for j in timed}
        spans = [s for s in self.tracer.spans if s.job in ids]
        selfs = self_times(self.tracer.spans)
        out = dict(self.layer)
        out.setdefault("reference.pipeline_s", 0.0)

        def span_sum(name: str) -> float:
            return sum(s.end - s.start for s in spans if s.name == name) / n

        out["operators.build_s"] = span_sum("operators.build")
        out["operators.action_s"] = span_sum("operators.action")
        out["catalog.load_tables_s"] = span_sum("catalog.load_tables")
        out["catalog.load_tables_calls"] = sum(s.name == "catalog.load_tables" for s in spans) / n
        out["sources.read_text_lines_s"] = span_sum("sources.read_text_lines")
        out["sources.write_sink_s"] = span_sum("sources.write_sink")
        out["mapreduce.submit_exec_s"] = span_sum("mapreduce.submit_exec")
        out["mapreduce.run_executable_job_s"] = span_sum("mapreduce.run_executable_job")
        out["mapreduce.wrapup_s"] = sum(selfs[s.id] for s in spans if s.name == "mapreduce.submit_exec") / n
        waits = [s.start - self.tracer.spans[s.parent].start for s in spans
                 if s.name in ("mapreduce.submit", "mapreduce.submit_exec")]
        out["mapreduce.queue_wait_s"] = sum(waits) / n
        out["session.persistent_rdds_left"] = statistics.mean(j["persistent_rdds_left"] for j in timed)
        out["driver.outside_jobs_s"] = sum(j["driver_outside_jobs_s"] for j in timed) / n
        for m in [m for m, _ in STAGE_SUMS.values()] + list(SPARK_COUNTS):
            out[m] = sum(j["spark"][m] for j in timed) / n
        run_s = out["spark.executor_run_s"]
        out["spark.cpu_frac"] = out["spark.executor_cpu_s"] / run_s if run_s else 0.0
        for k in CPU_KINDS:
            out[k] = sum(j["cpu"][k] for j in timed) / n
        out["trace.pass_s"] = statistics.median(self.passes)
        out["failed_frac"] = self.checks.failed / self.checks.attempted
        times = self.job_times if len(self.job_times) >= 11 else [0.0] * 11
        out["job_s.tail"], out["job_s.tail_pct"] = tail_percentile(times)
        out["job_s.samples"] = float(len(self.job_times))
        return out

    def write_trace(self, path: str) -> None:
        timed = [j for j in self.jobs if j["pass"] >= 0]
        lo = max((j["stage_id_high"] for j in self.jobs if j["pass"] < 0), default=-1)
        doc = {
            "workload": self.wl.name,
            "seed": self.seed,
            "rows": self.rows,
            "passes": self.passes,
            "stage_ids": {
                "after_warmup": lo,
                "high": self.store.stage_hw,
                "evicted": sum(j["spark"]["spark.stages_evicted"] for j in timed),
                "all_jobs_valid": all(j["valid"] for j in self.jobs),
            },
            "jobs": self.jobs,
            "spans": [s.__dict__ for s in self.tracer.spans],
        }
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(doc, f)

    def shutdown(self) -> None:
        """Stop the queue's drain thread, the session, and the JVM, and
        wait for the JVM to exit (it ends when its stdin pipe closes)."""
        from pyspark import SparkContext

        if self.wl.queue:
            self.queue.shutdown()
        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            gateway.shutdown()
            proc.stdin.close()
            proc.wait(timeout=60)

    def execute(self) -> dict:
        self.setup()
        self.measure()
        t = time.perf_counter()
        self.verify()
        verify_s = time.perf_counter() - t
        metrics = self.end_to_end()
        units = dict(END_TO_END_UNITS)
        if self.trace:
            from layers import PER_LAYER_UNITS

            metrics = self.per_layer()
            units = PER_LAYER_UNITS
            self.write_trace(os.path.join(HERE, "out", f"trace-{self.wl.name}-{self.seed}.json"))
        self.shutdown()
        for p in self.checks.problems:
            print("FAILED:", p, file=sys.stderr)
        print(
            f"{self.wl.name} seed={self.seed}: {len(self.passes)} passes,"
            f" {len(self.job_times)} timed jobs;"
            f" inputs {self.gen_s:.1f} s, session {self.layer['session.get_spark_s']:.1f} s,"
            f" warm-up {self.layer['setup.warm_s']:.1f} s, checks {verify_s:.1f} s;"
            f" passes {' '.join(f'{p:.2f}' for p in self.passes)} s",
            file=sys.stderr,
        )
        return result(self.checks, metrics, units)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Closed-loop benchmark of the MapReduce engine.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: the program ({PACKAGE}/) is not beside {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_environment(work)
    try:
        result = Run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), work).execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
