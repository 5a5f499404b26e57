"""KG-construction benchmark: one workload per invocation.

    python3 kgbench/run.py --workload batch_uniform --seed 1 --seconds 10 \
        --trace 0

Runs from the root of a checkout.  Sets up Spark on local[nproc] several
times, each in a fresh JVM, builds the workload's seeded corpus, runs an
untimed warm-up job, then times jobs for ``--seconds`` seconds, checking
every result against the planted goldens.  ``--trace 1`` adds a traced job
and reports per-layer metrics from spans and the Spark event log instead of
end-to-end metrics.
The last line of stdout is one JSON object; the exit code is non-zero when
any run fails.  See kgbench/README.md for every metric and workload.
"""
from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import shutil
import signal
import sys
import threading
import time
import traceback
from dataclasses import dataclass
from typing import Dict, List, Optional

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".kgbench_work")
SETUP_REPEATS = 2
MIN_TIMED_JOBS = 2    # a timed window runs at least this many jobs
RUN_LIMIT_S = 120.0   # a job slower than this is cancelled and counts failed
WORKER_EXIT_S = 30.0  # Python workers get this long to exit after the JVM


@dataclass(frozen=True)
class Workload:
    n_convs: int
    n_sources: int = 0        # Zipf source pool; 0 = one source per conv
    zipf_s: float = 0.0
    model_cost_ms: float = 0.0
    catalog: bool = False


WORKLOADS: Dict[str, Workload] = {
    # headline throughput shape: extraction then link + canonicalize
    "batch_uniform": Workload(n_convs=4000),
    # Zipf-duplicated copies: hot mention keys, one giant component
    "hot_entities": Workload(n_convs=4000, n_sources=1000, zipf_s=1.1),
    # staged path with a fresh catalog, then a resumed second call
    "catalog_resume": Workload(n_convs=10, catalog=True),
    # emulated per-window seq2seq cost: extraction dominates the wall
    "model_bound": Workload(n_convs=600, model_cost_ms=5.0),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_conf(work: str, trace: bool) -> Dict[str, str]:
    """Session settings that fit this host and keep every scratch file in
    ``work``.

    The driver heap cap is a quarter of physical memory, at most 2 GiB
    (the session default of 20g exceeds small hosts).  The JVM uses the
    serial collector, which grows the heap from the data live after a
    collection; G1 grows it from its measured pause-time share, so on a
    shared host the JVM's resident size after the same job varied by a
    third from run to run."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(
            line for line in f if line.startswith("MemTotal")).split()[1])
    heap_mb = min(2048, total_kb // 1024 // 4)
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:+UseSerialGC"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def prepare_env(work: str) -> None:
    """Environment the JVM and the Python workers inherit."""
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # no hsperfdata files under /tmp from the launcher or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, ROOT)


def stop_jvm() -> None:
    """End the JVM of a stopped session and wait until it and the Python
    workers it started have exited, so the next get_spark launches a new
    JVM and no process outlives the benchmark.  The gateway JVM exits when
    its stdin closes; a worker still alive after WORKER_EXIT_S is killed."""
    from pyspark import SparkContext

    from kgbench import stats

    gateway = SparkContext._gateway
    if gateway is None:
        return
    workers = stats.tree_pids(gateway.proc.pid)[1:]
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + WORKER_EXIT_S
    while workers and time.monotonic() < deadline:
        time.sleep(0.05)
        workers = [pid for pid in workers if _running(pid)]
    for pid in workers:
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)


def _running(pid: int) -> bool:
    """False once ``pid`` has exited; a zombie has exited too."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Bench:
    def __init__(self, args, work: str):
        from information_extraction_t5_spark.pipeline import PipelineConfig

        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.cfg = PipelineConfig(model_cost_ms=self.wl.model_cost_ms)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.reference: Optional[str] = None
        self.precision: List[float] = []
        self.recall: List[float] = []
        self.job_s: List[float] = []
        self.resume_s: List[float] = []
        self.rows: List[int] = []

    # -- set-up ----------------------------------------------------------
    def setup(self) -> List[float]:
        """Start the session SETUP_REPEATS times, each in a fresh JVM; each
        sample runs from get_spark, JVM launch included, to the first
        finished job."""
        from information_extraction_t5_spark.session import get_spark

        conf = host_conf(self.work, bool(self.args.trace))
        samples = []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            spark = get_spark(app_name="kgbench", cores=self.cores,
                              extra_conf=conf)
            spark.range(1).count()
            samples.append(time.perf_counter() - t0)
            spark.sparkContext.setLogLevel("ERROR")
            if i < SETUP_REPEATS - 1:
                spark.stop()
                stop_jvm()
        self.spark = spark
        return samples

    def corpus(self):
        import numpy as np

        from kgbench import inputs

        wl, seed = self.wl, self.args.seed
        if wl.zipf_s:
            sources = inputs.zipf_sources(wl.n_convs, wl.n_sources,
                                          wl.zipf_s, seed)
        else:
            sources = np.arange(wl.n_convs)
        return inputs.build(self.spark, sources, seed)

    # -- one job ---------------------------------------------------------
    def job(self, corpus, tracer=None):
        """Run the workload's job once: (job_s, resume_s, rows, result
        frames).  On the catalog workload the first call commits a fresh
        catalog and a second call resumes from it; elsewhere there is
        nothing to resume and the job's own time is also ``resume_s``.
        Spans are taken when a tracer is given."""
        from information_extraction_t5_spark.catalog import Catalog
        from information_extraction_t5_spark.pipeline import run_pipeline

        from kgbench import checks
        from kgbench import layers as layer_mod

        def root(name):
            return (tracer.span(name, kind="root") if tracer
                    else contextlib.nullcontext())

        catalog = None
        warehouse = os.path.join(self.work, "warehouse")
        if self.wl.catalog:
            shutil.rmtree(warehouse, ignore_errors=True)
            catalog = (layer_mod.TracedCatalog(tracer, self.spark, warehouse)
                       if tracer else Catalog(self.spark, warehouse))

        def call():
            out = run_pipeline(self.spark, corpus.transcripts, self.cfg,
                               catalog=catalog).localCheckpoint(eager=True)
            return out, out.count()

        t0 = time.perf_counter()
        with root("job"):
            first, rows = call()
            if tracer is not None and catalog is not None:
                with tracer.span("bench.walk", kind="bench"):
                    files, size = layer_mod.tree_size(warehouse)
                tracer.count("catalog.files_written", files)
                tracer.count("catalog.bytes_written", size)
        job_s = time.perf_counter() - t0
        frames = [first.select(*checks.ROW).toPandas()]
        if catalog is None:
            return job_s, job_s, rows, frames
        t0 = time.perf_counter()
        with root("resume"):
            again, _n = call()
        resume_s = time.perf_counter() - t0
        frames.append(again.select(*checks.ROW).toPandas())
        shutil.rmtree(warehouse, ignore_errors=True)
        return job_s, resume_s, rows, frames

    def checked_job(self, corpus, tracer=None, timed=True) -> bool:
        """One job plus every correctness check; False when it failed."""
        from kgbench import checks

        self.attempted += timed
        watchdog = threading.Timer(RUN_LIMIT_S,
                                   self.spark.sparkContext.cancelAllJobs)
        watchdog.start()
        try:
            job_s, resume_s, rows, frames = self.job(corpus, tracer)
        except Exception:  # a failed run is counted, not fatal
            traceback.print_exc()
            self.failed += timed
            return False
        finally:
            watchdog.cancel()
        problems = []
        if job_s > RUN_LIMIT_S:
            problems.append(f"job took {job_s:.1f} s > {RUN_LIMIT_S} s")
        p, r, fp, found = checks.check_result(
            frames[0], corpus.golden, corpus.persons, self.reference)
        problems += found
        if len(frames) > 1 and not checks.same_rows(frames[0], frames[1]):
            problems.append("the resumed result differs from the first")
        if self.reference is None:
            self.reference = fp
        if problems:
            print("kgbench: check failed: " + "; ".join(problems),
                  file=sys.stderr)
            self.failed += timed
            return False
        if timed:
            self.precision.append(p)
            self.recall.append(r)
            self.job_s.append(job_s)
            self.resume_s.append(resume_s)
            self.rows.append(rows)
        return True

    def window(self, corpus, seconds: float, min_jobs: int, tracer=None,
               layers=None) -> None:
        """Checked jobs until ``seconds`` have passed and at least
        ``min_jobs`` ran.  With ``layers`` each traced job is followed by
        the windows probe."""
        start = time.perf_counter()
        for n in itertools.count(1):
            if tracer is not None:
                tracer.run_id += 1
            self.checked_job(corpus, tracer)
            if layers is not None:
                self.windows_probe(corpus, tracer, layers)
            if n >= min_jobs and time.perf_counter() - start >= seconds:
                return

    def windows_probe(self, corpus, tracer, layers) -> None:
        """pipeline.build_windows on its own, written to a noop sink."""
        from information_extraction_t5_spark.pipeline import build_windows

        with tracer.span("windows", kind="probe"):
            windows = build_windows(corpus.transcripts, self.cfg)
            windows.write.format("noop").mode("overwrite").save()
            layers.count_rows("windows.count", windows)


def end_to_end(bench: Bench, setups: List[float],
               peak_bytes: int) -> Dict[str, dict]:
    from kgbench.stats import median

    job = median(bench.job_s)
    return {
        "setup_s": {"value": median(setups), "unit": "s"},
        "job_s": {"value": job, "unit": "s"},
        "triples_per_s": {"value": median(bench.rows) / job, "unit": "1/s"},
        "resume_s": {"value": median(bench.resume_s), "unit": "s"},
        "peak_rss_mb": {"value": peak_bytes / 2**20, "unit": "MB"},
        "triple_precision": {"value": min(bench.precision), "unit": "frac"},
        "triple_recall": {"value": min(bench.recall), "unit": "frac"},
    }


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_frac"):
        return "frac"
    if name.endswith("_skew"):
        return "ratio"
    return "count"


def traced(bench: Bench, corpus) -> Dict[str, dict]:
    """One traced job (and windows probe); its per-layer metrics."""
    from kgbench import layers as layer_mod
    from kgbench import tracing
    from kgbench.stats import median

    sc = bench.spark.sparkContext
    tracer = tracing.Tracer(lambda g: sc.setLocalProperty(
        tracing.GROUP_PROP, g))
    untraced_job_s = median(bench.job_s)
    with layer_mod.Layers(tracer) as layers:
        bench.window(corpus, 0.0, 1, tracer, layers)
    app_id = sc.applicationId
    bench.spark.stop()
    log_path = os.path.join(bench.work, "events", app_id)
    with open(log_path) as f:
        log = tracing.parse_event_log(f)

    m = layer_mod.run_metrics(tracer.spans, log, bench.cores)
    gap = m["trace.wall_s"] - (m["trace.layers_s"] + m["trace.bench_s"]
                               + m["trace.other_s"])
    if abs(gap) > 1e-6:
        raise RuntimeError(f"span self times miss {gap:.6f} s of the traced "
                           f"wall")
    m["trace.overhead_s"] = m["trace.wall_s"] - untraced_job_s
    return {name: {"value": value, "unit": layer_unit(name)}
            for name, value in m.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(WORK, f"run-{os.getpid()}")
    prepare_env(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(WORK)


def run(args, work: str) -> int:
    # the program under test: absent from a checkout without it, which
    # must fail before any result is printed
    import information_extraction_t5_spark  # noqa: F401

    bench = Bench(args, work)
    try:
        return measure(bench, args)
    finally:
        if bench.spark is not None:
            bench.spark.stop()
            stop_jvm()


def measure(bench: Bench, args) -> int:
    from kgbench import stats

    setups = bench.setup()
    print(f"kgbench: setup samples {[round(s, 4) for s in setups]} s",
          flush=True)
    t0 = time.perf_counter()
    corpus = bench.corpus()
    gen_s = time.perf_counter() - t0
    print(f"kgbench: generated {corpus.n_convs} conversations "
          f"({corpus.transcripts.count()} turns, {len(corpus.golden)} "
          f"golden triples) in {gen_s:.3f} s", flush=True)

    t0 = time.perf_counter()
    metrics = {}
    # one untimed warm-up job: it pays JVM code generation and the Python
    # workers' start-up
    if not bench.checked_job(corpus, timed=False):
        print("kgbench: warm-up run failed", file=sys.stderr)
        bench.attempted += 1
        bench.failed += 1
    else:
        print(f"kgbench: warm-up took {time.perf_counter() - t0:.3f} s",
              flush=True)
        with stats.PeakRss() as rss:
            bench.window(corpus, args.seconds, MIN_TIMED_JOBS)
        peak = rss.peak_bytes
    if bench.job_s:
        print(f"kgbench: job_s n={len(bench.job_s)} "
              f"median={stats.median(bench.job_s):.4f} "
              f"max={max(bench.job_s):.4f}; "
              f"failed_ops_frac={bench.failed / bench.attempted:.4f} "
              f"({bench.failed}/{bench.attempted}); resume_s samples "
              f"{[round(x, 3) for x in bench.resume_s]}; fingerprint "
              f"{bench.reference}", flush=True)
        if args.trace:
            metrics = traced(bench, corpus)
        else:
            metrics = end_to_end(bench, setups, peak)
    ok = bench.failed == 0 and bool(bench.job_s)
    print(json.dumps({"correct": ok, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
