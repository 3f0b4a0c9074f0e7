"""Benchmark entry point.

    python3 perfbench/run.py --workload {assign,evaluate,ingest} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. One run:

1. starts a local Spark session sized to the host (``local[N]``, N =
   min(3, nproc - 1); fixed 1 GB heap; fixed shuffle partitions), with every
   scratch directory inside ``.perfbench_run/`` of the checkout;
2. stages the workload's inputs from the seed and computes the independent
   expectation, SETUP_REPS times; setup_s = session start + their median +
   opening the staged tables;
3. runs a cold first pass, WARMUP[workload] warm-up passes, then timed
   passes for ``--seconds`` (at least one); every pass is checked against the expectation
   and counts as failed if it raises or mismatches;
4. prints one info line and, as the last line of stdout, one JSON object
   ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics: rows_per_s, setup_s,
first_pass_s, write_amp. ``--trace 1`` alternates untraced and traced
passes and reports the per-layer metrics listed in BENCHMARK.json
(``<module>.<call>.<counter>`` plus counts), with the span log written to
``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
# warm-up passes before timing. Evaluate and ingest time from their second
# pass, so that a full measurement (22 runs per workload) fits its time
# budget; that pass still runs ~10-15% slower than later passes.
WARMUP = {"assign": 1, "evaluate": 0, "ingest": 0}
MIN_TIMED = 1
DEADLINE_S = 150.0  # stop timing new passes after this much of the run
HEAP = "1g"


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(run_dir: str):
    """Local session sized to the host; all scratch space under run_dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    from housenumbercore_spark.session import get_spark

    cores = max(1, min(3, nproc() - 1))
    spark = get_spark(
        app_name="perfbench",
        cores=cores,
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.driver.memory": HEAP,
            # no hsperfdata file: HotSpot writes it under /tmp regardless
            # of java.io.tmpdir
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    return spark, cores


def stop_session(spark) -> None:
    """Stop Spark, then close the gateway JVM's stdin (it exits on EOF,
    taking its Python workers with it) and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def env_info(spark, cores: int) -> dict:
    jvm = spark._jvm.java.lang.System
    return {
        "nproc": nproc(), "spark_master": spark.sparkContext.master,
        "cores": cores, "heap": HEAP, "pyspark": spark.version,
        "java": jvm.getProperty("java.version"), "python": sys.version.split()[0],
    }


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def shuffle_bytes(spark, job_lo: int, job_hi: int) -> int:
    """Shuffle bytes written by jobs [job_lo, job_hi), each stage once
    (status store)."""
    from perfbench.trace import job_stages

    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    ids = {s for j in range(job_lo, job_hi) for s in job_stages(spark.sparkContext, j)}
    return sum(store.lastStageAttempt(s).shuffleWriteBytes() for s in ids)


class Runner:
    """Runs passes and counts attempted and failed operations."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = self.failed = 0

    def one_pass(self, tr) -> tuple[float, dict | None]:
        self.attempted += 1
        t = time.perf_counter()
        try:
            res = self.wl.run_pass(tr)
        except Exception:  # noqa: BLE001 - a raising pass is a failed operation
            traceback.print_exc()
            self.failed += 1
            return time.perf_counter() - t, None
        dt = time.perf_counter() - t
        problems = self.wl.check(res)
        if problems:
            self.failed += 1
            log(f"pass {self.attempted} FAILED check: " + "; ".join(problems[:5]))
            return dt, None
        return dt, res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WARMUP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    for mod in ("housenumbercore_spark", "pyspark", "duckdb", "pyarrow"):
        if importlib.util.find_spec(mod) is None:
            print(f"perfbench: cannot import {mod!r}: run from a repository "
                  "checkout with the engine package at its root", file=sys.stderr)
            return 2

    sys.dont_write_bytecode = True
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    tempfile_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tempfile_dir, exist_ok=True)
    os.environ.update({
        "TMPDIR": tempfile_dir,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # spark-submit's launcher JVM: no hsperfdata file under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    import tempfile

    tempfile.tempdir = tempfile_dir
    spark = None
    try:
        spark, cores = start_session(run_dir)
        session_s = time.time() - T_START
        log(f"session ready after {session_s:.2f}s")
        from perfbench import expect as E
        from perfbench import trace as TR
        from perfbench import workloads as W

        stage_times = []
        for k in range(SETUP_REPS):
            t = time.perf_counter()
            staged, exp = E.stage_and_expect(
                args.workload, args.seed, os.path.join(run_dir, f"inputs{k}"))
            stage_times.append(time.perf_counter() - t)
            if k:
                shutil.rmtree(os.path.join(run_dir, f"inputs{k - 1}"))
        stage_s = statistics.median(stage_times)
        log(f"staged {staged.rows} in {stage_times}")
        t = time.perf_counter()
        wl = W.WORKLOADS[args.workload](spark, staged, exp, run_dir)
        setup_s = session_s + stage_s + (time.perf_counter() - t)
        input_bytes = sum(
            os.path.getsize(os.path.join(r, f))
            for p in staged.paths.values() for r, _, fs in os.walk(p) for f in fs)
        runner = Runner(wl)
        off = TR.Tracer(spark, False)
        first_s, _ = runner.one_pass(off)
        log(f"first pass {first_s:.3f}s")
        for _ in range(WARMUP[args.workload]):
            dt, _ = runner.one_pass(off)
            log(f"warm-up pass {dt:.3f}s")

        info = env_info(spark, cores)
        if args.trace:
            metrics = traced(spark, runner, args, wl, session_s, stage_s)
        else:
            metrics = untraced(spark, runner, args, wl, input_bytes, setup_s, first_s)
        print(json.dumps({"env": info, "workload": args.workload, "seed": args.seed,
                          "stage_times_s": stage_times}))
        print(json.dumps({
            "correct": runner.failed == 0 and runner.attempted > 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def untraced(spark, runner, args, wl, input_bytes, setup_s, first_s) -> dict:
    from perfbench import trace as TR

    off = TR.Tracer(spark, False)
    jsc = spark.sparkContext._jsc.sc()
    times, amps = [], []
    t0, n = time.time(), 0
    while (n < MIN_TIMED or time.time() - t0 < args.seconds) \
            and time.time() - T_START < DEADLINE_S:
        n += 1
        j0 = int(jsc.dagScheduler().nextJobId())
        dt, res = runner.one_pass(off)
        j1 = int(jsc.dagScheduler().nextJobId())
        if res is None:
            continue
        times.append(dt)
        if not amps:  # write volume repeats pass to pass: read it once
            stored = getattr(wl, "last_bytes", {}).get("storage", 0)
            amps.append((stored + shuffle_bytes(spark, j0, j1)) / input_bytes)
    log(f"timed passes: {['%.3f' % t for t in times]}")
    rate = statistics.median(wl.rows / t for t in times) if times else 0.0
    return {
        "rows_per_s": {"value": rate, "unit": "rows/s"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "first_pass_s": {"value": first_s, "unit": "s"},
        "write_amp": {"value": amps[0] if amps else 0.0, "unit": "ratio"},
    }


def traced(spark, runner, args, wl, session_s, stage_s) -> dict:
    from perfbench import layers as L
    from perfbench import trace as TR

    tr = TR.Tracer(spark, True)
    off = TR.Tracer(spark, False)
    plain, traced_t, per_pass = [], [], []
    t0 = time.time()
    n = 0
    while (n < 2 or time.time() - t0 < args.seconds) \
            and time.time() - T_START < DEADLINE_S:
        dt, res = runner.one_pass(off)
        if res is not None:
            plain.append(dt)
        n += 1
        tr.run_id = f"pass{n}"
        first_span = len(tr.spans)
        dt, res = runner.one_pass(tr)
        tr.collect_counters(first_span)
        if res is not None:
            traced_t.append(dt)
            per_pass.append(tr.per_pass(tr.run_id))
    wl.trace_counts(tr)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tr.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}-{os.getpid()}.jsonl"))
    counts = dict(tr.counts)
    counts.update({
        "sources.stage_s": stage_s,
        "session.start_s": session_s,
        "session.jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
        "trace.overhead_s": (statistics.median(traced_t) - statistics.median(plain))
        if traced_t and plain else 0.0,
    })
    return L.per_layer_metrics(per_pass, counts)


if __name__ == "__main__":
    sys.exit(main())
