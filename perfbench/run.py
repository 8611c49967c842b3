"""Benchmark entry point.

    python3 perfbench/run.py --workload {pack_etl,nested_query,dedup_pipeline}
                             --seed N --seconds S --trace {0,1}

Run from the root of a source checkout; the engine is imported from there.
One process starts a ``local[nproc/2]`` Spark session, generates the
workload's input from the seed into ``.perfbench_tmp/`` (removed at exit),
and runs jobs in a closed loop with one client: the next job is submitted
only after the previous one finished and was checked, until ``--seconds``
have passed. Every job's output is checked against a DuckDB oracle or the
run's invariants.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
traced and untraced jobs, prints the per-layer metrics from the traced ones
with self times, reports tracing overhead against the untraced ones, and
writes all spans to ``.perfbench_out/``. Human-readable lines come first;
the last line of stdout is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT_DIR = HERE.parent
if sys.path and Path(sys.path[0]).resolve() == HERE:
    sys.path.pop(0)  # keep this directory's modules from shadowing the stdlib
sys.path.insert(0, str(ROOT_DIR))

from perfbench import stats, tracing  # noqa: E402

# Data generation and the oracle pass run this many times in set-up; setup_s
# counts their median.
SETUP_REPEATS = 3
# Untimed jobs that let the JIT and caches warm up. After the first, cold
# job, job times still fell by half over the next few jobs.
WARMUP_JOBS = {"pack_etl": 3, "nested_query": 3, "dedup_pipeline": 4}
# A fixed-size heap (-Xms = -Xmx): with a growable one, how far G1 happens to
# expand the heap moved both job times and RSS by about 20% between runs. The
# heap is also touched at start (-XX:+AlwaysPreTouch): otherwise RSS counted
# how many heap regions G1 had happened to touch, which moved by 7% between
# runs; pre-touched, peak RSS is the heap plus everything off-heap.
DRIVER_MEMORY = "3g"
# JVM threads besides the task threads: two JIT compiler threads (the least
# tiered compilation takes) and half the cores for GC. The JIT compiles for
# seconds per job long after warm-up (dedup_pipeline loads ~100 new generated
# classes per job), and with local[nproc] its threads, GC and the Python
# driver outnumbered the cores: job times then tracked the scheduler and the
# host's CPU steal more than the program.
JIT_THREADS = 2
LAYERS = ("packer", "crosslevel", "expressions", "dedup")


class PeakRss:
    """Samples a process's resident set size (VmRSS) every 20 ms while open."""

    def __init__(self, pid: int) -> None:
        self._path = f"/proc/{pid}/status"
        self._stop = threading.Event()
        self.peak_kb = 0
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        with open(self._path) as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    self.peak_kb = max(self.peak_kb, int(line.split()[1]))
                    return

    def _run(self) -> None:
        while not self._stop.wait(0.02):
            self._sample()

    def __enter__(self) -> PeakRss:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def spark_cores() -> int:
    """Task threads: half the cores this process may run on, so the task
    threads, the JIT and GC threads and the Python driver fit on them."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def start_session(work: Path, cores: int):
    from polars_nexpresso_spark.session import get_spark

    jtmp = work / "jvm"
    jtmp.mkdir()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={jtmp} -XX:-UsePerfData"
                f" -XX:CICompilerCount={JIT_THREADS} -XX:ParallelGCThreads={cores}"
                " -XX:ConcGCThreads=1"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process():
    from pyspark import SparkContext

    return SparkContext._gateway.proc


def stop_session(spark) -> None:
    """Stop Spark and wait until the gateway JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — must not leave the JVM behind
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, wl, tracer) -> None:
        self.wl = wl
        self.tracer = tracer
        self.null = tracing.NullTracer()
        self.attempted = 0
        self.failed = 0
        self.facts: dict = {}

    def run(self, i: int, traced: bool) -> float:
        """Run, time and check job ``i``; returns its wall time in seconds."""
        self.attempted += 1
        root = None
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span(f"job.{self.wl.name}", "job", job=i) as root:
                    out = self.wl.job(i, self.tracer)
            else:
                out = self.wl.job(i, self.null)
            dt = time.perf_counter() - t0
            err = self.wl.check(i, out)
            if traced and err is None:
                self.facts = self.wl.layer_facts()
        except Exception:  # noqa: BLE001 — a failed job is counted, the loop goes on
            dt = time.perf_counter() - t0
            err = traceback.format_exc()
        if root is not None:
            self.tracer.collect(root)
        self.wl.after(i)
        if err is not None:
            self.failed += 1
            print(f"job {i} FAILED: {err}", file=sys.stderr)
        return dt


def per_layer(tracer, traced: list[float], untraced: list[float], cores: int,
              session_s: float, facts: dict) -> dict:
    spans = tracer.spans
    roots = [s for s in spans if s.kind == "job"]
    subs = [tracing.subtree(spans, r) for r in roots]
    selfs = tracing.self_times(spans)
    n = len(roots)

    def per_job(fn) -> float:
        return sum(fn(sub) for sub in subs) / n

    def layer_s(layer: str):
        return lambda sub: sum(s.dur for s in sub if s.name.startswith(layer + "."))

    m = {"session.start_s": (session_s, "s")}
    for layer in LAYERS:
        m[f"{layer}.build_s"] = (per_job(layer_s(layer)), "s")
    m["dedup.spark_jobs"] = (
        per_job(lambda sub: sum(s.counters["jobs"] for s in sub if s.name.startswith("dedup."))),
        "count",
    )
    writes = [s for s in spans if s.name.startswith("io.")]
    m["io.write_s"] = (statistics.median(s.dur for s in writes) if writes else 0.0, "s")
    m["io.bytes_written"] = (
        statistics.median(s.attrs["bytes"] for s in writes) if writes else 0, "bytes")
    m["io.bytes_per_leaf_row"] = (
        statistics.median(s.attrs["bytes"] / s.attrs["leaf_rows"] for s in writes)
        if writes else 0.0, "bytes")
    counters = [tracing.totals(sub) for sub in subs]
    units = {"jobs": "count", "stages": "count", "tasks": "count"}
    for k in tracing.COUNTERS:
        m[f"spark.{k}"] = (sum(c[k] for c in counters) / n,
                           units.get(k, "s" if k.endswith("_s") else "bytes"))
    wall = sum(r.dur for r in roots)
    m["spark.core_util"] = (sum(c["task_s"] for c in counters) / (wall * cores), "frac")
    m["spark.driver_overhead_s"] = (per_job(tracing.driver_overhead), "s")
    m["job.self_s"] = (sum(selfs[r.id] for r in roots) / n, "s")
    m["dedup.pairs_out"] = (facts.get("pairs_out", 0), "count")
    m["dedup.kept_docs"] = (facts.get("kept_docs", 0), "count")
    m["dedup.planted_recall"] = (facts.get("planted_recall", 0.0), "frac")
    m["trace.overhead_frac"] = (
        statistics.median(t / u for t, u in zip(traced, untraced)) - 1, "frac")

    print(f"tracing overhead: median of {n} paired runs of the same job, traced / untraced "
          f"- 1 = {100 * m['trace.overhead_frac'][0]:+.2f}% (job p50 traced "
          f"{statistics.median(traced):.4f} s, untraced {statistics.median(untraced):.4f} s)")
    print(f"{'span':40s} {'calls':>6s} {'total_s':>10s} {'self_s':>10s} {'spark_jobs':>10s}")
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    for name, group in by_name.items():
        print(f"{name:40s} {len(group):6d} {sum(s.dur for s in group):10.4f} "
              f"{sum(selfs[s.id] for s in group):10.4f} "
              f"{sum(s.counters.get('jobs', 0) for s in group):10d}")
    return m


def run(args, work: Path) -> dict:
    from perfbench.workloads import WORKLOADS, Context

    cores = spark_cores()
    t0 = time.perf_counter()
    spark = start_session(work, cores)
    session_s = time.perf_counter() - t0
    try:
        ctx = Context(spark=spark, work=str(work), seed=args.seed, cores=cores)
        wl = WORKLOADS[args.workload](ctx)
        gen_times = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.generate()
            gen_times.append(time.perf_counter() - t)
        tracer = tracing.Tracer(spark) if args.trace else tracing.NullTracer()
        t = time.perf_counter()
        if args.trace:
            with tracer.span("setup", "setup") as root:
                wl.prepare(tracer)
            tracer.collect(root)
        else:
            wl.prepare(tracer)
        prep_s = time.perf_counter() - t
        runner = Runner(wl, tracer)
        t = time.perf_counter()
        for i in range(WARMUP_JOBS[args.workload]):
            runner.run(i, traced=False)
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(gen_times) + prep_s + warm_s

        facts = ", ".join(f"{k}={v}" for k, v in wl.facts.items())
        print(f"workload {wl.name}, seed {args.seed}: {facts}")
        print(f"closed loop, 1 client, local[{cores}], {args.seconds} s; "
              f"input per job: {wl.rows} {wl.rows_unit}")
        print(f"setup_s = {setup_s:.4f} s (session {session_s:.3f} + data/oracle median of "
              f"{SETUP_REPEATS} {statistics.median(gen_times):.3f} + spark prep {prep_s:.3f} "
              f"+ {WARMUP_JOBS[args.workload]} warm-up jobs {warm_s:.3f})")

        times: list[float] = []
        traced: list[float] = []
        i = WARMUP_JOBS[args.workload]
        steal0 = cpu_ticks()
        with PeakRss(jvm_process().pid) as rss:
            end = time.perf_counter() + args.seconds
            while time.perf_counter() < end:
                if args.trace:
                    # The same job traced and untraced, in alternating order.
                    for on in (True, False) if i % 2 else (False, True):
                        (traced if on else times).append(runner.run(i, traced=on))
                else:
                    times.append(runner.run(i, traced=False))
                i += 1
        steal1 = cpu_ticks()
        steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        print(f"hypervisor steal during the timed loop: {100 * steal:.1f}% of CPU time")
        result = {"correct": runner.failed == 0, "attempted": runner.attempted,
                  "failed": runner.failed}
        if args.trace:
            os.makedirs(ROOT_DIR / ".perfbench_out", exist_ok=True)
            out = ROOT_DIR / ".perfbench_out" / f"trace-{wl.name}-{args.seed}.json"
            tracer.dump(str(out))
            print(f"spans written to {out.relative_to(ROOT_DIR)}")
            metrics = per_layer(tracer, traced, times, cores, session_s, runner.facts)
        else:
            value, pct, n = stats.tail(times)
            rows_per_s = wl.rows * len(times) / sum(times)
            print("job times (s): " + " ".join(f"{t:.3f}" for t in times))
            print(f"job_s_p50 = {statistics.median(times):.4f} s (n={n} jobs)")
            above = sum(t > value for t in times)
            print(f"job_s_tail = {value:.4f} s (p{pct:.1f} of n={n} jobs, {above} above)")
            print(f"rows_per_s = {rows_per_s:.1f} rows/s ({wl.rows} {wl.rows_unit} per job, "
                  f"{len(times)} jobs, {sum(times):.3f} s in jobs)")
            print(f"peak_rss_mb = {rss.peak_kb / 1024:.1f} MB (Spark JVM VmRSS, timed loop)")
            print(f"failed_frac = {runner.failed}/{runner.attempted} "
                  f"(warm-up jobs included) = {runner.failed / runner.attempted:.4f}")
            metrics = {
                "job_s_p50": (statistics.median(times), "s"),
                "job_s_tail": (value, "s"),
                "rows_per_s": (rows_per_s, "rows/s"),
                "peak_rss_mb": (rss.peak_kb / 1024, "MB"),
                "ok_frac": (1 - runner.failed / runner.attempted, "frac"),
                "setup_s": (setup_s, "s"),
            }
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        return result
    finally:
        stop_session(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("pack_etl", "nested_query", "dedup_pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import polars_nexpresso_spark
    except ImportError as exc:
        print(f"cannot import the engine from {ROOT_DIR}: {exc}", file=sys.stderr)
        return 2
    if ROOT_DIR not in Path(polars_nexpresso_spark.__file__).resolve().parents:
        print(f"engine imported from outside {ROOT_DIR}", file=sys.stderr)
        return 2

    work = ROOT_DIR / ".perfbench_tmp" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    # Spark shuffle files, JVM and Python temp files stay inside the checkout.
    os.environ["TMPDIR"] = str(work)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark")
    tempfile.tempdir = None
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run is still using it
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
