#!/usr/bin/env python3
"""Job-level benchmark of flow_feature_spark.

    python3 perfbench/run.py --workload asof_probes --seed 42 --seconds 8 --trace 0

One process runs one workload: it starts Spark on local[min(4, nproc)],
generates the inputs from the seed, computes the reference digest, then makes
job calls one at a time (closed loop, one client): a cold first call, a
warm-up call, then steady calls for --seconds. Each call's output is checked against the
reference outside the timed region, and the session's cache is cleared after
every call, so no call reads an earlier call's cache.

--trace 0 prints the end-to-end metrics. --trace 1 then restarts the
SparkContext with Spark's event log on, times the public functions the CLI
calls as spans (each prefix of the pipeline materialized to a noop sink,
under its own job group), and prints the per-layer metrics.

The last line of stdout is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

import spans
import sysinfo
from workloads import SIZES, WORKLOADS, digest, noop

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# checked calls after the cold one that job_s leaves out: call times keep
# falling for a few calls as the JIT warms
WARMUP_CALLS = 1
MIN_STEADY = 3  # steady calls made even when --seconds is up
MIN_TRACE_ITERS = 2
DRIVER_MEMORY = "2g"
DEFAULT_SEED = 42

# spans that carry Spark counters, and the counters reported for each
SPANS = ("io.scan", "prepare.normalize", "sessionize.dedup", "kernel_fast.extract",
         "asof.join", "features.exact_sql", "job.run")
SPAN_COUNTERS = {"cpu_s": "s", "gc_s": "s", "tasks": "count", "task_skew": "ratio",
                 "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="input size; tiny is for the self-test")
    p.add_argument("--inject", choices=["none", "perturb", "raise"], default="none",
                   help="self-test of the gate: on the call after the cold "
                        "one, drop a row from the output the gate reads, or "
                        "raise instead of calling")
    return p.parse_args(argv)


def configure_process(work: Path) -> str:
    """Environment for the Spark JVM and its Python workers; returns the
    master. Everything Spark and Python write goes under ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cores = min(4, len(os.sched_getaffinity(0)))
    master = f"local[{cores}]"
    os.environ.update({
        # the workers import flow_feature_spark from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_MASTER": master,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_GRAFT_LOCAL_DIR": str(work / "spark-local"),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
    })
    tempfile.tempdir = str(tmp)
    return master


def start_spark(master: str, work: Path, event_log: Path | None = None):
    """SparkSession ready and one trivial action run (JVM, py4j gateway and
    the first Python worker)."""
    from flow_feature_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # fixed heap; no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'} "
            f"-Dderby.system.home={work / 'tmp'}",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": event_log.as_uri(),
        })
    spark = get_spark(app_name="perfbench", master=master, extra_conf=conf)
    spark.sparkContext.parallelize([0], 1).map(lambda x: x + 1).collect()
    return spark


def stop_spark(spark) -> None:
    """Stop the SparkContext, then the JVM and every process started under
    this one, and wait until each has ended. Left alone, the JVM outlives
    this process while it runs its shutdown hooks."""
    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits at the end of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        sysinfo.end_children()


def dir_listing(roots: list[str]) -> dict[str, int]:
    out = {}
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


class Bench:
    def __init__(self, args: argparse.Namespace, work: Path):
        self.args, self.work = args, work
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.ref: tuple[int, str] = (0, "")
        self.worker_hwm = 0.0
        self.storage: list[tuple[int, float]] = []

    # -- one checked call ---------------------------------------------------
    def checked(self, timed) -> float | None:
        """Run ``timed()`` (the call; returns its wall seconds), then check
        the output outside the timed region. Returns the wall time, or None
        if the call raised or its output is wrong."""
        wl = self.wl
        self.attempted += 1
        injected = self.attempted == 2
        wl.before_call()
        try:
            if self.args.inject == "raise" and injected:
                raise RuntimeError("injected failure")
            dt = timed()
            out = wl.output()
            if self.args.inject == "perturb" and injected:
                out = out.limit(max(0, out.count() - 1))
            got = digest(out)
            problems = [] if got == self.ref else [f"digest {got} != reference {self.ref}"]
        except Exception as e:  # a failed call is counted and the run goes on
            traceback.print_exc()
            dt, problems = None, [f"{type(e).__name__}: {e}"]
        self.after_call()
        if problems:
            self.failed += 1
            self.failures.append(f"call {self.attempted}: {'; '.join(problems)}")
            print(f"perfbench: call {self.attempted} FAILED: {problems}", file=sys.stderr)
            return None
        return dt

    def after_call(self) -> None:
        sc = self.spark.sparkContext
        infos = list(sc._jsc.sc().getRDDStorageInfo())
        self.storage.append((
            sum(i.numCachedPartitions() for i in infos),
            sum(i.memSize() + i.diskSize() for i in infos) / 2**20,
        ))
        self.spark.catalog.clearCache()
        for pid in sysinfo.python_workers(os.getpid()):
            self.worker_hwm = max(self.worker_hwm, sysinfo.hwm_mb(pid))

    def plain_call(self) -> float:
        t0 = time.perf_counter()
        self.wl.call()
        return time.perf_counter() - t0

    # -- the run ------------------------------------------------------------
    def run(self) -> dict:
        args = self.args
        master = configure_process(self.work)
        self.spark = start_spark(master, self.work)
        setup_s = sysinfo.process_age_s()
        record = {"workload": args.workload, "seed": args.seed, "size": args.size,
                  "cpu_probe_before": sysinfo.cpu_probe(),
                  **sysinfo.environment(self.spark)}
        steal0 = sysinfo.steal_s()

        wl = self.wl = WORKLOADS[args.workload](
            self.spark, str(self.work / "data"), args.seed,
            SIZES[args.size][args.workload], master,
        )
        phase = {"setup": setup_s}
        t = time.perf_counter()
        inputs = wl.prepare()
        if args.seed == DEFAULT_SEED:
            record["inputs"] = check_inputs(self.spark, args, inputs)
        phase["inputs"] = time.perf_counter() - t
        t = time.perf_counter()
        self.ref = wl.reference()
        self.spark.catalog.clearCache()
        phase["reference"] = time.perf_counter() - t

        t = time.perf_counter()
        cold = self.checked(self.plain_call)
        phase["cold_call_checked"] = time.perf_counter() - t
        t = time.perf_counter()
        warmup = [self.checked(self.plain_call) for _ in range(WARMUP_CALLS)]
        phase["warmup_checked"] = time.perf_counter() - t
        t = time.perf_counter()
        times = []
        deadline = time.perf_counter() + args.seconds
        first = self.attempted
        while self.attempted - first < MIN_STEADY or time.perf_counter() < deadline:
            dt = self.checked(self.plain_call)
            if dt is not None:
                times.append(dt)
        phase["steady_checked"] = time.perf_counter() - t
        job_s = statistics.median(times) if times else float("nan")
        record.update(job_s_samples=len(times), job_s_all=times, warmup_s=warmup,
                      cold_job_s=cold, rows=wl.rows, phase_s=phase)

        if args.trace:
            metrics = self.traced(master, job_s, record)
            metrics["session.cold_job_s"] = (float("nan") if cold is None else cold, "s")
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "job_s": (job_s, "s"),
                "rows_per_s": (wl.rows / job_s, "rows/s"),
                "worker_peak_rss_mb": (self.worker_hwm, "MB"),
            }
        self.spark.stop()
        record["cpu_steal_s"] = sysinfo.steal_s() - steal0
        record["cpu_probe_after"] = sysinfo.cpu_probe()
        record["fail_ratio"] = self.failed / self.attempted
        record["failures"] = self.failures
        print("perfbench record: " + json.dumps(record, default=str))
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            # NaN (no successful call) becomes null; such a run is not correct
            "metrics": {k: {"value": None if v != v else v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }

    # -- traced run -----------------------------------------------------------
    def traced(self, master: str, untraced_job_s: float, record: dict) -> dict:
        wl = self.wl
        jvm_hwm = max((sysinfo.hwm_mb(p) for p in sysinfo.jvms(os.getpid())), default=0.0)
        self.spark.stop()
        log_dir = self.work / "eventlog"
        self.spark = wl.spark = start_spark(master, self.work, event_log=log_dir)
        run_id = f"{self.args.workload}-{self.args.seed}-{os.getpid()}"
        tracer = spans.Tracer(self.spark.sparkContext, run_id)
        job_span = "job.run"

        # warm-up in the new context, not reported
        self.checked(lambda: self._span_call(tracer, job_span, None))
        counts, io, job_times, it = {}, [], [], 0
        deadline = time.perf_counter() + self.args.seconds
        while it < MIN_TRACE_ITERS or time.perf_counter() < deadline:
            wl.before_call()
            frames = {}
            with tracer.span("iteration", index=it) as root:
                for name, thing, covers in wl.chain():
                    with tracer.span(name, parent=root["group"], iter=it, covers=covers):
                        df = thing() if callable(thing) else thing
                        noop(df)
                    frames[name] = df
                    self.spark.catalog.clearCache()
                before = dir_listing(wl.written_roots())
                dt = self.checked(lambda: self._span_call(
                    tracer, job_span, root["group"], iter=it, covers=wl.job_covers))
                after = dir_listing(wl.written_roots())
            if dt is not None:
                job_times.append(dt)
            new = {p: s for p, s in after.items() if before.get(p) != s}
            io.append((sum(new.values()), len(new), wl.write_amplification(new)))
            if it == 0:
                counts = wl.trace_counts(frames)
            it += 1
        jvm_hwm = max([jvm_hwm] + [sysinfo.hwm_mb(p) for p in sysinfo.jvms(os.getpid())])
        self.spark.stop()  # completes the event log

        layer = spans.self_times(tracer.spans, spans.fold_event_log(str(log_dir)))

        def L(span, key="s"):
            return layer.get(span, {}).get(key, 0.0)

        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        is_inc = wl.name == "incremental_delta"
        m = {
            "prepare.normalize_s": (L("prepare.normalize"), "s"),
            "sessionize.dedup_s": (L("sessionize.dedup"), "s"),
            "kernel_fast.extract_s": (L("kernel_fast.extract"), "s"),
            "kernel_fast.python_bytes_sent": (L("kernel_fast.extract", "python_bytes_sent"), "bytes"),
            "kernel_fast.python_bytes_received": (L("kernel_fast.extract", "python_bytes_received"), "bytes"),
            "kernel_fast.sessions_out": (counts.get("sessions_out", 0), "count"),
            "asof.join_s": (L("asof.join"), "s"),
            "asof.python_bytes_sent": (L("asof.join", "python_bytes_sent"), "bytes"),
            "asof.probes_in": (counts.get("probes_in", 0), "count"),
            "asof.match_ratio": (counts.get("match_ratio", 0.0), "ratio"),
            "incremental.update_s": (L(job_span, "total_s") if is_inc else 0.0, "s"),
            "incremental.touched_convs": (counts.get("touched_convs", 0), "count"),
            "features.exact_sql_s": (L("features.exact_sql"), "s"),
            "io.scan_s": (L("io.scan"), "s"),
            "io.write_s": (L(job_span), "s"),
            "io.bytes_written": (med([b for b, _, _ in io]), "bytes"),
            "io.files_written": (med([n for _, n, _ in io]), "count"),
            "io.write_amplification": (med([a for _, _, a in io]), "ratio"),
            "session.jvm_peak_rss_mb": (jvm_hwm, "MB"),
            "session.driver_peak_rss_mb": (sysinfo.driver_hwm_mb(), "MB"),
            "storage.cached_blocks_after_job": (max(b for b, _ in self.storage), "count"),
            "storage.cached_mb_after_job": (max(mb for _, mb in self.storage), "MB"),
            "trace.overhead_s": (med(job_times) - untraced_job_s, "s"),
        }
        for span in SPANS:
            for key, unit in SPAN_COUNTERS.items():
                m[f"{span}.{key}"] = (L(span, key), unit)
        self.write_trace(tracer, layer, record)
        return m

    def _span_call(self, tracer, name, parent, **attrs) -> float:
        with tracer.span(name, parent=parent, **attrs) as rec:
            self.wl.call()
        return rec["dur_s"]

    def write_trace(self, tracer, layer, record) -> None:
        out = HERE / ".traces"
        out.mkdir(exist_ok=True)
        path = out / f"{tracer.run_id}.json"
        with open(path, "w") as fh:
            json.dump({"record": record, "spans": tracer.spans, "layers": layer},
                      fh, indent=1, default=str)
        print(f"perfbench trace: {path}")


def check_inputs(spark, args: argparse.Namespace, inputs: dict[str, str]) -> dict:
    """Fail loudly if the default seed's inputs drifted from the digests
    recorded in input_digests.json (the generators are the benchmark's own;
    a change to them must be deliberate and re-recorded)."""
    got = {k: list(digest(spark.read.parquet(p))) for k, p in inputs.items()}
    with open(HERE / "input_digests.json") as fh:
        want = json.load(fh).get(args.size, {}).get(args.workload)
    if want != got:
        raise SystemExit(
            f"perfbench: inputs of {args.workload} (seed {DEFAULT_SEED}, size "
            f"{args.size}) are {got}, recorded {want}")
    return got


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "flow_feature_spark" / "__init__.py").is_file():
        print(f"perfbench: no flow_feature_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sysinfo.adopt_orphans()
    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        try:
            stop_spark(getattr(bench, "spark", None))
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
