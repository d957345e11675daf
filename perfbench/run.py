"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload web_pages --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout, in one process with one fresh JVM on
``local[4]``. Set-up (session start, seeded input generation, parquet write)
is repeated ``SETUPS`` times. ``WARMUP_JOBS`` untimed warm-up jobs follow
(the JIT still speeds jobs up over the first few), while a subprocess
computes the reference digest of the expected output from the same parquet
without the engine. Then jobs run as a closed loop with one client for
``--seconds`` (at least one job); each job's fused output is digested and
compared to the reference.

With ``--trace 1`` the jobs take every layer the workload has (such as
chunked staging and the export writers), and the loop alternates untraced
and traced jobs (after one warm-up job) and reports per-layer self time
and Spark counters instead. After the first untraced job the last unit of its durable work is
dropped (a simulated crash), and the job is resumed, timed and checked
again. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. All
files go to ``.perfbench_work/`` in the checkout and are removed on exit.
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
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T0 = time.perf_counter()
SETUPS = 3
WARMUP_JOBS = 3
SHUFFLE_PARTITIONS = 8
DRIVER_HEAP = "3g"
YOUNG_GEN = "512m"

E2E_UNITS = {"setup_s": "s", "job_s": "s", "triples_per_s": "1/s", "peak_rss_mb": "MB"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_conf(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions":
            # a fixed heap and young generation: peak RSS then follows live
            # data, not the collector's adaptive sizing (G1 grew the heap in
            # some runs and not in others, 1.5 or 1.9 GB peak on kg_analytics)
            f"-Xms{DRIVER_HEAP} -Xmn{YOUNG_GEN} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            "-XX:-UsePerfData",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.catalogImplementation": "in-memory",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage of a run in the status store, so span
        # counters never lose stages to eviction
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
    }


def start_session(work: str):
    from ontoweaver_spark import get_spark

    spark = get_spark(app_name="perfbench", master="local[4]",
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=spark_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM the Python gateway launched."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def log(msg: str) -> None:
    """Progress to stderr: where a run's wall time goes."""
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, args, work: str):
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        self.args, self.work = args, work
        self.wl = WORKLOADS[args.workload]
        self.wl.full = bool(args.trace)
        self.spark = None
        self.n_out = 0

    def setup(self) -> dict[str, list]:
        samples = {"setup_s": [], "session.start_s": [], "pages.gen_s": []}
        for k in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
                shutil.rmtree(self.inp)
            t0 = time.perf_counter()
            self.spark = start_session(self.work)
            t1 = time.perf_counter()
            self.inp = os.path.join(self.work, f"input-{k}")
            self.meta = self.wl.generate(self.spark, self.args.seed, self.inp)
            t2 = time.perf_counter()
            samples["session.start_s"].append(t1 - t0)
            samples["pages.gen_s"].append(t2 - t1)
            samples["setup_s"].append(t2 - t0)
            log(f"set-up {k + 1}/{SETUPS}: {t2 - t0:.2f}s")
        return samples

    def job(self, tracer, resume: bool) -> dict:
        """One closed-loop job: run, check, optionally crash and resume."""
        from perfbench.tracing import NullTracer

        out = os.path.join(self.work, f"out-{self.n_out}")
        self.n_out += 1
        try:
            t0 = time.perf_counter()
            triples = self.wl.job(self.spark, self.inp, self.meta, out, tracer)
            rec = {"job_s": time.perf_counter() - t0}
            rec["triples_per_s"] = triples / rec["job_s"]
            rec["ok"] = self.check(out, "job")
            if resume:
                self.wl.crash(out)
                t0 = time.perf_counter()
                self.wl.job(self.spark, self.inp, self.meta, out, NullTracer())
                rec["resume_s"] = time.perf_counter() - t0
                rec["ok"] = self.check(out, "resumed job") and rec["ok"]
            return rec
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def check(self, out: str, what: str) -> bool:
        got = self.wl.digest(self.spark, out)
        if got != self.ref:
            print(f"{what}: output digest {got} != reference {self.ref}", file=sys.stderr)
        return got == self.ref

    def scan_s(self) -> float:
        from ontoweaver_spark import loaders

        t0 = time.perf_counter()
        loaders.read_table(self.spark, self.inp, fmt="parquet").write.format("noop") \
            .mode("overwrite").save()
        return time.perf_counter() - t0

    def reference(self) -> subprocess.Popen:
        """Start the reference digest computation in its own process, so
        it neither adds to this process's peak RSS nor to measured time."""
        return subprocess.Popen(
            [sys.executable, "-m", "perfbench.workloads", self.wl.name, self.inp],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)

    def run(self) -> dict:
        from perfbench import tracing

        setup = self.setup()
        ref = self.reference()
        try:  # warm-up, untimed and unchecked
            # a traced run takes the longer full job; one warm-up keeps it well
            # inside the time a run may take, and the untraced jobs around its
            # traced ones absorb the remaining JIT drift
            for k in range(1 if self.args.trace else WARMUP_JOBS):
                warm = os.path.join(self.work, f"warm-up-{k}")
                self.wl.job(self.spark, self.inp, self.meta, warm, tracing.NullTracer())
                shutil.rmtree(warm)
                log(f"warm-up job {k + 1} done")
        finally:
            out, _ = ref.communicate()
        if ref.returncode:
            raise RuntimeError(f"reference digest failed with code {ref.returncode}")
        self.ref = tuple(json.loads(out))
        tracer = tracing.Tracer(self.spark) if self.args.trace else None

        attempted = failed = 0
        plain, traced = [], []
        deadline = time.perf_counter() + self.args.seconds
        # at least one measured job; a traced run brackets its first traced
        # job with untraced ones, so warm-up drift cancels in trace.overhead_s
        min_jobs = 3 if tracer is not None else 1
        while attempted < min_jobs or time.perf_counter() < deadline:
            attempted += 1
            with_trace = tracer is not None and attempted % 2 == 0
            try:
                if with_trace:
                    tracer.iteration = attempted
                    with tracing.layer_spans(tracer):
                        rec = self.job(tracer, resume=False)
                    tracer.note("loaders.scan_s", self.scan_s())
                else:
                    rec = self.job(tracing.NullTracer(), resume=tracer is not None and not plain)
            except Exception:
                traceback.print_exc()
                failed += 1
                continue
            failed += not rec["ok"]
            log(f"job {attempted}: " + ", ".join(
                f"{k}={v:.2f}" for k, v in rec.items() if k.endswith("_s")))
            (traced if with_trace else plain).append(rec)

        def med(recs, key):
            return median([r[key] for r in recs if key in r])

        if tracer is None:
            jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
            metrics = {
                "setup_s": median(setup["setup_s"]),
                "job_s": med(plain, "job_s"),
                "triples_per_s": med(plain, "triples_per_s"),
                "peak_rss_mb": vm_hwm_mb(jvm_pid) + vm_hwm_mb("self"),
            }
            units = E2E_UNITS
        else:
            layers = tracing.layer_metrics(self.spark, tracer, self.meta)
            metrics = {"session.start_s": median(setup["session.start_s"]),
                       "pages.gen_s": median(setup["pages.gen_s"])}
            metrics.update(tracing.median_metrics(layers))
            job_s = med(plain, "job_s")
            metrics["trace.coverage"] = metrics.pop("trace.layer_s") / job_s if job_s else 0.0
            metrics["trace.overhead_s"] = med(traced, "job_s") - job_s
            metrics["resume_s"] = med(plain, "resume_s")
            units = {k: tracing.unit(k) for k in metrics}
        print(f"{self.wl.name} seed={self.args.seed}: {attempted} jobs, {failed} failed "
              f"(failed_frac={failed / attempted:.3f}); medians over {SETUPS} set-ups, "
              f"{len(plain)} untraced and {len(traced)} traced jobs; untraced job_s samples="
              f"{[round(r['job_s'], 3) for r in plain]}")
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # every temporary file of this process and its JVM stays in the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    bench = None
    try:
        bench = Bench(args, work)
        result = bench.run()
    finally:
        if bench is not None and bench.spark is not None:
            stop_jvm(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
