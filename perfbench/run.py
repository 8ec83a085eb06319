"""Panel-analytics benchmark for functime_spark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 8 --trace 0

Workloads (workloads.py): bulk (all native and four Python-kernel
features over a panel, then exact and MinHash dedup and BM25 over a
corpus) and forecast_backtest (split, scale, fit, predict, backtest and
scores over a panel).

One run, in a single process on local[N] (N = $SPARK_GRAFT_CPUS, else
the CPUs this process may use):

1. Set-up, done SETUPS times, each from cold: launch a new JVM and
   start the session through ``get_session``, warm one Python worker
   per core, build the seeded inputs, pin them and count them. Every
   set-up but the last then stops its JVM. ``setup_s`` is the median.
2. Collect, untimed, what the output checks need, then run warm-up
   passes (the JVM is still compiling hot paths) and discard them: one,
   or the workload's ``warmups``.
3. Run passes for ``--seconds`` seconds and check every output.

With ``--trace 0`` it reports the end-to-end metrics:

- ``setup_s``: median set-up time (s).
- ``pass_s``: median wall time of one pass, checks included (s).
- ``series_per_s``: panel entities per second of the part of a pass
  that works on the panel, median over passes (1/s). On bulk that is
  the two feature calls; the corpus part shows only in ``pass_s``.

With ``--trace 1`` passes alternate between traced and untraced, and it
reports per-layer metrics from the traced ones (see tracing.py), the
workload's ``engine.busy_frac``, ``trace.overhead_s`` (median traced
minus median untraced pass time) and ``engine.peak_rss_mb``, the peak
resident memory (VmHWM) of this process plus the Spark JVM. Peak memory
is not an end-to-end metric: it follows the JVM's heap growth, which
varies by 20% between identical runs. The spans are written as JSON under
``.perfbench/`` in the checkout.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` (operations and failed checks or exceptions; their ratio is
the failure fraction, kept out of ``metrics`` because it reads 0 on a
sound build) and ``metrics`` (name -> value and unit). The line before
gives sample counts and the share of the machine's CPU time the
hypervisor gave to other guests during the measured window; on a shared
host, runs with more of this steal read slower.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench"
SETUPS = 2


def _prepare_env() -> int:
    """Keep every file Spark and Python write inside the checkout, and
    let Python workers import the library and the benchmark modules."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # the JVM that spark-submit runs to build the Spark JVM's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    if not os.environ.get("SPARK_LOCAL_DIRS"):
        local = OUT / "local"
        local.mkdir(exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = str(local)
    path = [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(path)
    sys.path[:0] = [str(ROOT), str(HERE)]
    return cpus


def _session_conf() -> dict:
    """No progress bar, and every file the JVM writes inside the
    checkout. Heap size, GC and every engine setting stay as
    ``get_session`` sets them (driver memory from $SPARK_DRIVER_MEMORY)."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(OUT / "warehouse"),
        # get_session's own option, plus temp files under OUT;
        # -XX:-UsePerfData because the JVM writes its perf-data file
        # to /tmp/hsperfdata_<user> whatever java.io.tmpdir says
        "spark.driver.extraJavaOptions": (
            f"-Djava.net.preferIPv4Stack=true -XX:-UsePerfData -Djava.io.tmpdir={OUT / 'tmp'}"
        ),
    }


def _warm_workers(spark, cpus: int) -> None:
    """One pandas UDF task per core, so every slot has a live worker."""

    def touch(batches):
        yield from batches

    spark.range(cpus, numPartitions=cpus).mapInPandas(touch, "id long").collect()


def _vm_hwm_mb(pid) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _steal_s() -> float:
    """CPU seconds the hypervisor has given this machine's CPUs to other
    guests: a sign of how noisy the machine was during a run."""
    return int(Path("/proc/stat").read_text().split(maxsplit=9)[8]) / os.sysconf("SC_CLK_TCK")


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, wait for the JVM, and
    forget it, so that the next session launches a new one."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cpus = _prepare_env()
    import functime_spark

    if ROOT not in Path(functime_spark.__file__).resolve().parents:
        raise SystemExit(f"functime_spark imported from outside {ROOT}")
    from functime_spark.session import get_session
    from tracing import Tracer
    from workloads import WORKLOADS, Tally

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]()
    tracer = Tracer(enabled=bool(args.trace))
    untraced = Tracer(enabled=False)
    tally = Tally()

    spark = None
    setup_s = []
    try:
        for _ in range(SETUPS):
            if spark is not None:
                tracer.bind(None)
                _stop(spark)
                spark = None
            t0 = time.perf_counter()
            with tracer.span("session") as sp:
                spark = get_session("perfbench", extra_conf=_session_conf())
                spark.sparkContext.setLogLevel("ERROR")
                tracer.bind(spark)
                sp.planned()
                _warm_workers(spark, cpus)
                wl.setup(spark, args.seed)
            setup_s.append(time.perf_counter() - t0)
            tracer.resolve()
        wl.reference()

        def one_pass(tr) -> tuple:
            """Wall time of one pass, and its series time (None if it raised)."""
            t0 = time.perf_counter()
            series_s = None
            try:
                with tr.span(wl.name):
                    series_s = wl.run_pass(tr, tally)
            except Exception:
                tally.attempted += 1
                tally.failed += 1
                tally.failures.append(traceback.format_exc())
            dt = time.perf_counter() - t0
            spark.catalog.clearCache()
            return dt, series_s

        for _ in range(getattr(wl, "warmups", 1)):  # discarded
            one_pass(untraced)
        passes = {True: [], False: []}
        series_times = []  # untraced passes only
        steal0, t_start = _steal_s(), time.perf_counter()
        deadline = t_start + args.seconds
        i = 0
        # traced runs alternate untraced and traced passes, with untraced
        # ones on both sides of the first traced one, so that both sides
        # of trace.overhead_s see the same warm-up drift
        while time.perf_counter() < deadline or (args.trace and len(passes[False]) < 2):
            traced = bool(args.trace) and i % 2 == 1
            dt, s = one_pass(tracer if traced else untraced)
            tracer.resolve()
            passes[traced].append(dt)
            if not traced and s is not None:
                series_times.append(s)
            i += 1
        window = time.perf_counter() - t_start
        steal = (_steal_s() - steal0) / (window * os.cpu_count())

        if args.trace:
            jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in tracer.layer_metrics().items()}
            metrics["engine.busy_frac"] = {"value": tracer.busy_frac(wl.name, cpus), "unit": "ratio"}
            overhead = statistics.median(passes[True]) - statistics.median(passes[False])
            metrics["trace.overhead_s"] = {"value": overhead, "unit": "s"}
            metrics["engine.peak_rss_mb"] = {"value": rss_mb, "unit": "MB"}
            OUT.mkdir(exist_ok=True)
            spans = OUT / f"spans-{wl.name}-{args.seed}.json"
            spans.write_text(json.dumps(tracer.to_json(), indent=1))
            print(f"spans: {spans} ({len(tracer.spans)} spans)")
        else:
            series_per_s = wl.n_series / statistics.median(series_times) if series_times else 0.0
            metrics = {
                "setup_s": {"value": statistics.median(setup_s), "unit": "s"},
                "pass_s": {"value": statistics.median(passes[False]), "unit": "s"},
                "series_per_s": {"value": series_per_s, "unit": "1/s"},
            }
    finally:
        if spark is not None:
            _stop(spark)

    for f in tally.failures:
        print(f"FAILED: {f}", file=sys.stderr)
    print(
        f"{wl.name} seed={args.seed} cpus={cpus}: set-ups n={len(setup_s)} "
        f"{[round(s, 3) for s in setup_s]}, untraced passes n={len(passes[False])} "
        f"{[round(s, 3) for s in passes[False]]} (series part {[round(s, 3) for s in series_times]}), "
        f"traced passes n={len(passes[True])}, window {window:.2f} s, CPU steal {steal:.0%}"
    )
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
