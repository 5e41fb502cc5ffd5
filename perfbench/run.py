"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_star_load --seed 1 --seconds 10 --trace 0

The program is the ``automated_etl_pipeline_spark`` package beside
this directory.  The process generates the workload's
inputs from ``--seed``, starts a Spark session on ``local[nproc // 2]``,
makes one untimed warm-up run, then repeats the workload in a closed
loop with one client for ``--seconds`` seconds (at least ``MIN_SAMPLES``
untraced runs, and one traced run with ``--trace 1``), checking every
run's output.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones of ``BENCHMARK.json``; with
``--trace 1`` untraced and traced runs alternate and the metrics are the
per-layer ones plus the tracing overhead.  The line before it is the
full record (``record: {...}``) with the run conditions and samples; it
is also written, with the spans of the traced runs, under
``.bench_work/records/``.

Everything the run writes stays under ``.bench_work/`` at the
repository root, and the work directory of the run is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# A fixed 1 GB driver heap (-Xms = -Xmx): a heap left free to grow
# commits a different amount of memory on every run, which would make
# peak_rss_mb measure the collector's sizing rather than the program.
DRIVER_MEM = "1g"
# Timed runs per process at the least, however short --seconds is: the
# first run after the warm-up still sits on the JVM's warm-up curve, and
# the median of two or more damps it.
MIN_SAMPLES = 2

# Layers that launch Spark jobs, in pipeline order; each reports
# stagemetrics.JOB_METRICS.
JOB_LAYERS = (
    "etl.football", "operators.star", "io.manifest.write", "pipeline.runner",
    "dedup.minhash", "dedup.cluster", "dedup.suffix_array", "graph.pagerank",
    "plans.materialize", "io.manifest.read", "ml.poisson",
)
# ml.simulate is driver-side numpy and runs no Spark job
LAYER_EXTRAS = {
    "session.wall_s": "s",
    "ml.simulate.wall_s": "s",
    "dedup.minhash.verified_per_candidate": "ratio",
    "io.manifest.read.files_read_frac": "ratio",
    "io.manifest.read.lookup_ms_p50": "ms",
    "io.manifest.read.lookup_ms_p90": "ms",
    "io.manifest.write.output_mb": "MB",
    "io.manifest.write.files": "count",
    "pipeline.runner.overlap": "ratio",
    "plans.materialize.calls": "count",
    "ml.simulate.sims_per_s": "1/s",
    "etl.football.input_mb": "MB",
    "trace.overhead_s": "s",
}
END_TO_END = {"setup_s": "s", "job_s": "s", "rows_per_s": "1/s", "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    from perfbench.stagemetrics import JOB_METRICS

    units = {f"{layer}.{m}": u for layer in JOB_LAYERS for m, u in JOB_METRICS.items()}
    units.update(LAYER_EXTRAS)
    return units


# ---------------------------------------------------------------------------
# run conditions and memory, read from /proc
# ---------------------------------------------------------------------------


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    """Spark task slots: half the CPUs, at least one.  The runs are
    driver-bound (tens of small jobs), and the driver's own threads --
    Python, py4j, the scheduler, the JIT compilers -- need CPUs beside
    the task slots; with a slot per CPU they queue behind tasks, and a
    shared host's CPU steal lands on the critical path."""
    return max(1, cpu_count() // 2)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def process_age_s() -> float:
    """Seconds since this process started (/proc/self/stat field 22)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _process_tree() -> list[int]:
    """This process and every live descendant (the Spark JVM)."""
    pids, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        try:
            for task in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{task}/children") as fh:
                    todo += [int(x) for x in fh.read().split()]
        except OSError:
            pass  # exited while we walked
    return pids


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of the process tree."""
    total = 0
    for pid in _process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                total += sum(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
        except OSError:
            pass
    return total / 1024


def cpu_snapshot() -> tuple[float, int, int, int]:
    """(time, machine busy ticks, machine steal ticks, this process
    tree's ticks) from /proc/stat and /proc/<pid>/stat."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, fh.readline().split()[1:9]
        )
    own = 0
    for pid in _process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            own += int(f[11]) + int(f[12])  # utime, stime
        except OSError:
            pass
    return time.monotonic(), user + nice + system + irq + softirq, steal, own


def contention(a, b) -> dict:
    """CPUs the rest of the machine kept busy, and CPUs the hypervisor
    stole, on average between two snapshots."""
    tick = os.sysconf("SC_CLK_TCK") * (b[0] - a[0])
    return {
        "other_cpus": max(0, (b[1] - a[1]) - (b[3] - a[3])) / tick,
        "steal_cpus": (b[2] - a[2]) / tick,
    }


# ---------------------------------------------------------------------------


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    cpus = str(spark_cores())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": cpus,
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "spark-warehouse"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            # the launcher JVM spark-submit runs first; the driver JVM gets
            # the same flags through spark.driver.extraJavaOptions
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "TMPDIR": tmp,
        }
    )


def start_session(work: str):
    from automated_etl_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -XX:-UsePerfData"
                f" -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_jvm(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


class MaterializeCounter:
    """Wrap ``plans.materialize.materialize`` from outside the program:
    every module that imported it by name gets a wrapper that runs the
    call under a ``plans.materialize`` span.  Installed for traced runs
    only; ``restore`` puts the original back."""

    def __init__(self, tracer):
        from automated_etl_pipeline_spark.plans import materialize as mod

        self.original = mod.materialize
        original = self.original

        def traced(df):
            with tracer.span("plans.materialize"):
                return original(df)

        self.patched = [
            m
            for name, m in list(sys.modules.items())
            if name.startswith("automated_etl_pipeline_spark")
            and getattr(m, "materialize", None) is original
        ]
        for m in self.patched:
            m.materialize = traced

    def restore(self) -> None:
        for m in self.patched:
            m.materialize = self.original


def timed_run(wl, spark, tracer) -> tuple[float, list[str]]:
    """One run from the first call into the program to its checked
    result; a raised error counts as a failed check."""
    spark.catalog.clearCache()
    gc.collect()  # lets the ContextCleaner drop the last run's checkpoints
    tracer.new_run()
    t0 = time.perf_counter()
    try:
        errs = wl.check(wl.run(spark, tracer))
    except Exception as e:  # noqa: BLE001 -- a failed run is counted, not fatal
        errs = [f"{type(e).__name__}: {e}"]
    return time.perf_counter() - t0, errs


def layer_figures(tracer) -> dict[str, float]:
    """Named per-layer metrics of one traced run."""
    from perfbench import stagemetrics

    tracer.collect()
    spans = tracer.spans
    out: dict[str, float] = {}
    for layer, m in stagemetrics.layer_metrics(spans).items():
        for k in stagemetrics.JOB_METRICS:
            out[f"{layer}.{k}"] = m[k]
        if layer == "io.manifest.read" and m.get("files_total"):
            out["io.manifest.read.files_read_frac"] = m["files_scanned"] / m["files_total"]
        for k in ("output_mb", "files", "overlap", "sims_per_s", "input_mb"):
            if k in m:
                out[f"{layer}.{k}"] = m[k]
    lookups = [sp.counters["lookup_ms"] for sp in spans if "lookup_ms" in sp.counters]
    if lookups:
        q = statistics.quantiles(lookups, n=10, method="inclusive")
        out["io.manifest.read.lookup_ms_p50"] = statistics.median(lookups)
        out["io.manifest.read.lookup_ms_p90"] = q[8]
    out["plans.materialize.calls"] = sum(sp.layer == "plans.materialize" for sp in spans)
    return out


def conditions() -> dict:
    return {
        "nproc": cpu_count(),
        "spark_cores": spark_cores(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_start": loadavg(),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "automated_etl_pipeline_spark", "__init__.py")):
        print(
            f"perfbench: the program (automated_etl_pipeline_spark/) is not in {ROOT}",
            file=sys.stderr,
        )
        return 2
    cond = conditions()  # before configure_env overrides SPARK_GRAFT_CPUS
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    configure_env(work)
    sys.path.insert(0, ROOT)
    from perfbench import stagemetrics
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    spark = None
    try:
        wl = WORKLOADS[args.workload](work)
        t_gen = time.perf_counter()
        wl.generate(args.seed)
        gen_s = time.perf_counter() - t_gen

        # set-up: process start -> session -> warm-up run, input
        # generation excluded
        t_start = time.perf_counter() - (process_age_s() - gen_s)
        t_session = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t_session
        off = stagemetrics.Tracer(spark, enabled=False)
        _, warmup_errs = timed_run(wl, spark, off)
        setup_s = time.perf_counter() - t_start

        tracer = stagemetrics.Tracer(spark, enabled=bool(args.trace))
        counter = MaterializeCounter(tracer) if args.trace else None
        need = {"untraced": MIN_SAMPLES}
        if args.trace:
            need["traced"] = 1
        samples: dict[str, list[float]] = {k: [] for k in need}
        failures: list[str] = []
        figures: list[dict] = []
        spans_out: list[dict] = []
        attempted = failed = 0
        deadline = time.perf_counter() + args.seconds
        cpu_start = cpu_snapshot()
        while True:
            kind = "traced" if args.trace and attempted % 2 == 1 else "untraced"
            tr = tracer if kind == "traced" else off
            dt, errs = timed_run(wl, spark, tr)
            attempted += 1
            failed += bool(errs)
            failures += errs[:3]
            samples[kind].append(dt)
            if kind == "traced":
                figures.append(layer_figures(tracer))
                spans_out += [
                    {"run": attempted, "layer": s.layer, "sid": s.sid, "parent": s.parent,
                     "t0": s.t0, "t1": s.t1, "jobs": len(s.jobs), **s.counters}
                    for s in tracer.spans
                ]
            if time.perf_counter() >= deadline and all(
                len(samples[k]) >= n for k, n in need.items()
            ):
                break
        if counter is not None:
            counter.restore()
        extra = wl.extra_layer_metrics(spark) if args.trace else {}
        cond.update(
            contention(cpu_start, cpu_snapshot()),
            loadavg_end=loadavg(),
            pyspark=__import__("pyspark").__version__,
            java=spark.sparkContext._jvm.System.getProperty("java.version"),
        )
        # the load average mixes in this process's own threads; what
        # other work and the hypervisor took during the timed runs does not
        # a quarter CPU stolen on a 4-cpu VM already slowed runs by 30-50%
        cond["contended"] = cond["other_cpus"] + cond["steal_cpus"] >= 0.25
        rss = peak_rss_mb()
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    job_s = statistics.median(samples["untraced"])
    if args.trace:
        units = per_layer_units()
        values = {k: 0.0 for k in units}
        for k in units:
            vals = [f[k] for f in figures if k in f]
            if vals:
                values[k] = statistics.median(vals)
        values.update(extra)
        values["session.wall_s"] = session_s
        values["trace.overhead_s"] = statistics.median(samples["traced"]) - job_s
    else:
        units = END_TO_END
        values = {
            "setup_s": setup_s,
            "job_s": job_s,
            "rows_per_s": wl.rows / job_s,
            "peak_rss_mb": rss,
        }
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "conditions": cond, "input_rows": wl.rows, "generate_s": gen_s,
        "setup_s": setup_s, "session_start_s": session_s, "samples_s": samples,
        "attempted": attempted, "failed_frac": failed / attempted,
        "failures": (warmup_errs + failures)[:10],
    }
    rec_dir = os.path.join(ROOT, ".bench_work", "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump({"record": record, "spans": spans_out}, fh, indent=1)
    print("record: " + json.dumps(record))
    print(
        json.dumps(
            {
                "correct": failed == 0 and not warmup_errs,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
