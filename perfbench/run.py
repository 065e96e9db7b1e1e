"""Benchmark of the kgtk_spark program, end to end and layer by layer.

    python3 perfbench/run.py --workload kg_fused --seed 1 --seconds 4 --trace 0
    python3 perfbench/run.py --smoke

One run starts a Spark session through ``kgtk_spark.session.get_spark``
on ``local[<nproc>]`` with the program's defaults, sets up the workload's
seeded inputs, times one cold first job, then repeats warm jobs, at
least ``MIN_WARM`` and more until ``--seconds`` seconds have passed, and
checks every job's output. The last line of standard output is the
result: with ``--trace 0`` the end-to-end metrics, measured with tracing
off; with ``--trace 1`` the per-layer metrics. A traced run first
repeats the untraced set-up and first job and times one untraced warm
job (the base of the tracing overhead), then restarts the session with
Spark's event log on, times one warm job with every call into a layer
wrapped in a job group (``tracing.py``), runs the workload's traced
passes, and folds the event log per layer. The line before the result is
a report: provenance, every job's time and the correctness figures.
``--smoke`` runs every workload at tiny size in both modes and checks
that every metric named in BENCHMARK.json is printed with its unit. See
README.md for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import signal
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# Warm jobs take 7-25 s, and the JVM is still warming up over the first
# few (a job often runs 10-25% faster than the one before it), so a
# single warm job is too noisy a sample.
MIN_WARM = 2


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d.name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> dict[str, float]:
    """VmHWM in MB of the processes this one started (the driver JVM, the
    PySpark daemon and its Python workers), summed per command name."""
    mb: dict[str, float] = {}
    for pid in descendants(os.getpid()):
        try:
            status = Path(f"/proc/{pid}/status").read_text().splitlines()
        except OSError:
            continue
        fields = dict(line.split(":", 1) for line in status if ":" in line)
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            mb[name] = mb.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024
    return mb


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def alive(pid: int) -> bool:
    try:
        return Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_jvm() -> None:
    """Stop the Spark JVM and wait until it and the Python workers have
    exited (the JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    pids = descendants(os.getpid())
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while any(alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)


def start_session(event_dir: Path | None):
    from kgtk_spark.session import get_spark

    conf = {}
    if event_dir is not None:
        event_dir.mkdir()
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": str(event_dir),
        }
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, cpus: int) -> None:
    """Start the Python workers, so no job is charged their start-up."""
    from pyspark.sql.functions import pandas_udf

    ident = pandas_udf(lambda s: s, "long")
    spark.range(0, cpus * 4, 1, cpus).select(ident("id")).write.format("noop").mode(
        "overwrite"
    ).save()


class Phase:
    """One session: set-up, a cold first job, then warm jobs; every
    job's output is checked."""

    def __init__(self, wl, cpus: int, seconds: float):
        self.wl, self.cpus, self.seconds = wl, cpus, seconds
        self.attempted = self.failed = 0
        self.warm: list[float] = []
        self.windows: list[tuple[float, float]] = []

    def run_job(self, spark, tracer) -> float:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = self.wl.job(spark, tracer)
            elapsed = time.perf_counter() - t0
            if not self.wl.check(out):
                self.failed += 1
        except Exception:
            elapsed = time.perf_counter() - t0
            traceback.print_exc()
            self.failed += 1
        # Stage outputs the program persists and never releases (the fused
        # runner's text and triples, the MinHash signatures) would turn the
        # next job's stages into cache hits that a one-shot call never gets.
        spark.catalog.clearCache()
        return elapsed

    def run(self, event_dir: Path | None = None, first_job: bool = True, warm_jobs: int = 1):
        """Runs at least ``warm_jobs`` warm jobs, and more until
        ``seconds`` have passed. Returns the session, still running, and
        the warm jobs' tracer, which tags Spark jobs when the event log is
        on. A session in a JVM already warmed by an earlier one skips the
        first job."""
        from perfbench.tracing import Tracer

        t0 = time.perf_counter()
        spark = start_session(event_dir)
        self.session_s = time.perf_counter() - t0
        warm_up(spark, self.cpus)
        self.setup_tracer = Tracer()
        self.wl.load(spark, self.setup_tracer)
        self.setup_s = time.perf_counter() - t0
        if first_job:
            self.first_job_s = self.run_job(spark, Tracer())
        tracer = Tracer(spark.sparkContext if event_dir else None)
        start = time.perf_counter()
        while warm_jobs and (len(self.warm) < warm_jobs or time.perf_counter() - start < self.seconds):
            a = time.time()
            self.warm.append(self.run_job(spark, tracer))
            self.windows.append((a, time.time()))
        if self.warm:
            self.rows_per_s = self.wl.rows / statistics.median(self.warm)
        return spark, tracer


def source_digest() -> str:
    """sha256 over the program's sources (the checkout the benchmark
    runs in need not be a git repository)."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "kgtk_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def provenance(spark, args, cpus: int) -> dict:
    import pyarrow
    import pyspark

    commit = None
    if (ROOT / ".git").exists():
        try:
            commit = subprocess.run(
                ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": "tiny" if args.tiny else "full",
        "commit": commit, "source_sha256": source_digest(), "nproc": cpus,
        "spark_driver_memory": spark.conf.get("spark.driver.memory"),
        "spark": pyspark.__version__, "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
    }


def median_span(tracer, name: str) -> float:
    d = tracer.durations(name)
    return statistics.median(d) if d else 0.0


def per_layer(first: Phase, traced: Phase, tracer, passes: dict, event_dir: Path,
              rss: dict) -> dict:
    """The per-layer metrics of a traced run. Layer counters from the
    warm jobs (operators, graph, runner.fused) are per warm job; the
    traced passes (stages, runner.resumable, streaming, textops) run once.
    Session start, page generation and peak RSS (after the first job)
    come from the first, cold session; the tracing overhead compares the
    traced session's warm job with the first session's, the warm job
    before it in the same JVM."""
    from perfbench.tracing import covered, fold_event_log
    from perfbench.workloads import DOC_LEAVES, EDGE_LEAVES, STAGES

    counters, intervals = fold_event_log(event_dir)
    n_warm = len(traced.warm)

    def layer(prefix: str, per: int = 1) -> dict[str, float]:
        tot: dict[str, float] = {}
        for g, c in counters.items():
            if g == prefix or g.startswith(prefix + "."):
                for k, v in c.items():
                    tot[k] = tot.get(k, 0.0) + v / per
        return tot

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (first.session_s, "s"),
        "webgen.generate_s": (median_span(first.setup_tracer, "webgen.generate"), "s"),
    }
    for stage in STAGES:
        m[f"stages.{stage}.s"] = (median_span(tracer, f"stages.{stage}"), "s")
    for stage in ("detect_mentions", "extract_triples", "materialize"):
        m[f"stages.{stage}.rows"] = (passes.get(f"stages.{stage}.rows", 0), "rows")
    units = {"jobs": "count", "tasks": "count", "shuffle_mb": "MB", "py_sent_mb": "MB",
             "py_returned_mb": "MB", "write_mb": "MB"}
    counter_sets = {
        "stages": (1, ("py_sent_mb", "py_returned_mb", "py_worker_s", "cpu_s", "run_s", "shuffle_mb", "jobs")),
        "operators": (n_warm, ("jobs", "tasks", "cpu_s", "run_s", "shuffle_mb")),
        "graph": (n_warm, ("jobs", "tasks", "cpu_s", "run_s", "shuffle_mb")),
        "textops": (1, ("py_sent_mb", "py_worker_s", "cpu_s", "run_s", "tasks")),
    }
    for prefix, (per, keys) in counter_sets.items():
        c = layer(prefix, per)
        for k in keys:
            m[f"{prefix}.{k}"] = (c.get(k, 0.0), units.get(k, "s"))
    resumable = counters.get("runner.resumable", {})
    m["runner.fused.jobs"] = (counters.get("runner.fused", {}).get("jobs", 0.0) / n_warm, "count")
    m["runner.resumable.jobs"] = (resumable.get("jobs", 0.0), "count")
    m["runner.resumable.write_mb"] = (resumable.get("write_mb", 0.0), "MB")
    m["runner.resumable.lineage_files"] = (passes.get("runner.resumable.lineage_files", 0), "count")
    m["runner.resumable.resume_s"] = (median_span(tracer, "runner.resumable.resume"), "s")
    for span in list(EDGE_LEAVES.values()) + list(DOC_LEAVES.values()):
        m[f"{span}.s"] = (median_span(tracer, span), "s")
    m["streaming.stream_edges_from_pages.s"] = (median_span(tracer, "streaming.stream_edges_from_pages"), "s")
    m["streaming.stream_edges_from_pages.rows"] = (passes.get("streaming.stream_edges_from_pages.rows", 0), "rows")
    m["streaming.distinct_ratio"] = (passes.get("streaming.distinct_ratio", 0.0), "ratio")
    named = [c for g, c in counters.items() if g.split(".")[0] in
             ("stages", "operators", "graph", "textops", "runner", "webgen")]
    m["jvm.gc_s"] = (sum(c["gc_s"] for c in named), "s")
    m["jvm.spill_mb"] = (sum(c["spill_mb"] for c in named), "MB")
    m["jvm.peak_rss_mb"] = (rss.get("java", 0.0), "MB")
    m["python.peak_rss_mb"] = (sum(v for k, v in rss.items() if k != "java"), "MB")
    m["trace.untraced_rows_per_s"] = (first.rows_per_s, "rows/s")
    m["trace.traced_rows_per_s"] = (traced.rows_per_s, "rows/s")
    m["trace.overhead"] = (1 - traced.rows_per_s / first.rows_per_s, "ratio")
    spans = [(t0, t1) for n, t0, t1 in tracer.spans]
    m["trace.span_coverage"] = (covered(traced.windows, spans), "ratio")
    m["trace.job_coverage"] = (covered(traced.windows, [(s, e) for _, s, e in intervals]), "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def run(args) -> int:
    from perfbench import workloads

    cpus = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": str(work / "tmp"),
        "TMPDIR": str(work / "tmp"),
        # every JVM, the spark-submit launcher included
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    })
    load_start, steal_start = os.getloadavg(), cpu_steal_s()
    try:
        wl = workloads.make(args.workload, "tiny" if args.tiny else "full", cpus)
        t0 = time.perf_counter()
        wl.prepare(work, args.seed)
        prepare_s = time.perf_counter() - t0

        # a traced run times single warm jobs, whatever --seconds says
        seconds = 0 if args.trace else args.seconds
        first = Phase(wl, cpus, seconds)
        spark, warm_tracer = first.run(warm_jobs=1 if args.trace else MIN_WARM)
        rss = peak_rss_mb()
        report = provenance(spark, args, cpus)
        attempted, failed = first.attempted, first.failed
        if args.trace:
            spark.stop()
            event_dir = work / "events"
            traced = Phase(wl, cpus, seconds)
            spark, tracer = traced.run(event_dir, first_job=False)
            passes, checks = wl.traced_passes(spark, tracer)
            spark.stop()
            attempted += traced.attempted + len(checks)
            failed += traced.failed + checks.count(False)
            metrics = per_layer(first, traced, tracer, passes, event_dir, rss)
            report["traced_warm_job_s"] = traced.warm
        else:
            metrics = {
                "setup_s": {"value": prepare_s + first.setup_s, "unit": "s"},
                "first_job_s": {"value": first.first_job_s, "unit": "s"},
                "rows_per_s": {"value": first.rows_per_s, "unit": "rows/s"},
            }
        report.update({
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "cpu_steal_s": cpu_steal_s() - steal_start,
            "input_rows": wl.rows, "prepare_s": prepare_s,
            "session_s": first.session_s, "first_job_s": first.first_job_s,
            "warm_job_s": first.warm,
            "warm_span_s": {n: median_span(warm_tracer, n) for n, _, _ in warm_tracer.spans},
            "peak_rss_mb_by_process": rss,
            "fail_ratio": failed / attempted,
        })
        if isinstance(wl, workloads.KgPipeline):
            report.update({"triple_precision": wl.precision, "triple_recall": wl.recall})
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


def smoke() -> int:
    """Run every workload of BENCHMARK.json at tiny size, untraced and
    traced, and check that each prints every metric with its unit."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bad = 0
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, __file__, "--workload", w["name"], "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--tiny"]
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            got = json.loads(lines[-1])["metrics"] if p.returncode == 0 and lines else {}
            want = {m["name"]: m["unit"] for m in spec[key]}
            missing = sorted(n for n, u in want.items() if got.get(n, {}).get("unit") != u)
            extra = sorted(set(got) - set(want))
            ok = p.returncode == 0 and not missing and not extra
            bad += not ok
            print(f"{w['name']:14s} trace={trace} rc={p.returncode} "
                  f"{'ok' if ok else 'FAIL'} missing={missing} extra={extra}")
            if p.returncode:
                print(p.stderr[-3000:])
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=4)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="check every metric at tiny size")
    ap.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "kgtk_spark" / "__init__.py").is_file():
        print(f"perfbench: no kgtk_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:1] = [str(ROOT)]  # import perfbench.* as a package, not this directory
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
