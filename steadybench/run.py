"""Seeded, reference-checked benchmark of the Spark data-prep engine.

    python3 steadybench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One run is one process and one closed-loop
client: it generates the workload's input from ``--seed`` and computes the
reference result (neither is timed), starts a ``local[4]`` session, runs
one cold pass (which ends the set-up time), a fixed number of warm-up
passes, then timed passes one after another for ``--seconds`` seconds.
Between passes, outside the timed region, it releases every pinned frame,
stops streams, deletes the pass's output and runs Python and JVM GC. Every
pass's output is checked against the reference.

With ``--trace 0`` the run reports the end-to-end metrics. With
``--trace 1`` it alternates untraced and traced passes and reports the
per-layer metrics, the tracing overhead among them. The last line of
standard output is one JSON object. See METRICS.md.
"""

from __future__ import annotations

import os
import time


def _process_start() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK"))


T_PROCESS = _process_start()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "ml_hadoop_experiment_spark"
WORKLOADS = ("feature_and_token_train", "near_dup_and_stream_drain")
#: warm passes run and discarded after the cold pass, before timing starts
WARMUP = 1
CORES = 4
MIN_TIMED = 2
PASS_TIMEOUT_S = 90.0
#: no new pass starts after this many seconds of process life
RUN_BUDGET_S = 140.0


def _args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Spark's
    Python workers import the package and the benchmark from this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)


def _warm_jar_cache() -> None:
    """Read the Spark jars once so the session start does not pay a cold
    OS page cache (a cost a user's repeated jobs do not pay)."""
    import pyspark

    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        return
    for entry in sorted(os.scandir(jars), key=lambda e: e.name):
        if entry.is_file():
            with open(entry.path, "rb") as f:
                while f.read(1 << 20):
                    pass


def _start_session(work: str):
    from ml_hadoop_experiment_spark.common import get_session

    java_tmp = os.path.join(work, "tmp")
    spark = get_session(
        app_name="steadybench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={java_tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop the session, the driver JVM and the Python workers it started,
    and wait until each has exited."""
    from pyspark import SparkContext

    from steadybench.trace import descendants

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            if getattr(gateway, "proc", None) is not None:
                gateway.proc.stdin.close()
                try:
                    gateway.proc.wait(timeout=20)
                except Exception:
                    gateway.proc.kill()
                    gateway.proc.wait()
        _wait_gone(started)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids, timeout: float = 15.0) -> None:
    deadline = time.time() + timeout
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            if _alive(pid):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        while time.time() < deadline and any(_alive(p) for p in pids):
            time.sleep(0.05)
        deadline = time.time() + 5.0
    for pid in pids:  # reap our own exited children
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass


class Runner:
    """Runs passes of one workload against one reference result."""

    def __init__(self, spark, workload: str, inputs, reference, seed: int, work: str):
        self.spark, self.workload, self.inputs = spark, workload, inputs
        self.reference, self.seed, self.work = reference, seed, work
        self.attempted = self.failed = 0
        self._n = 0

    def one_pass(self, traced: bool):
        """Run, time and check one pass, then reset; returns (seconds, span
        figures, layer extras), the last two empty for an untraced pass."""
        from steadybench.pipelines import PASSES, PassContext
        from steadybench.trace import NullTracer, SparkTracer

        self._n += 1
        out_dir = os.path.join(self.work, "passes", str(self._n))
        os.makedirs(out_dir)
        tracer = SparkTracer(self.spark) if traced else NullTracer()
        ctx = PassContext(self.spark, self.inputs, self.seed, out_dir, tracer)
        timer = threading.Timer(PASS_TIMEOUT_S, self._abort)
        timer.start()
        ok = False
        t0 = time.perf_counter()
        try:
            ok = PASSES[self.workload](ctx) == self.reference
            if not ok:
                print(f"pass {self._n}: output does not match the reference", file=sys.stderr)
        except Exception:
            traceback.print_exc()
        seconds = time.perf_counter() - t0
        timer.cancel()
        self.attempted += 1
        self.failed += 0 if ok else 1
        figures = tracer.figures() if traced else {}
        self._reset(tracer, out_dir)
        return seconds, figures, ctx.extras

    def _abort(self) -> None:
        print(f"pass {self._n} exceeded {PASS_TIMEOUT_S}s; cancelling", file=sys.stderr)
        for q in self.spark.streams.active:
            q.stop()
        self.spark.sparkContext.cancelAllJobs()

    def _reset(self, tracer, out_dir: str) -> None:
        from ml_hadoop_experiment_spark.common.cache_registry import release_pinned
        from ml_hadoop_experiment_spark.plans.prefix import release_prefix_caches

        tracer.release()
        release_pinned()
        release_prefix_caches()
        for q in self.spark.streams.active:
            q.stop()
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark._jvm.System.gc()
        shutil.rmtree(out_dir, ignore_errors=True)


def _quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def _tail(xs):
    """(percentile, value) for the highest listed percentile with at
    least ten samples beyond it, or None."""
    for p in (99.9, 99.0, 95.0, 90.0, 75.0):
        if len(xs) * (1 - p / 100) >= 10:
            return p, statistics.quantiles(xs, n=1000)[int(p * 10) - 1]
    return None


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"steadybench: no {PACKAGE}/ beside steadybench/; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".steadybench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_environment(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    from steadybench import gen, metrics, reference
    from steadybench.trace import RssSampler

    t = time.perf_counter()
    inputs = gen.GENERATORS[args.workload](args.seed, os.path.join(work, "input"))
    gen_s = time.perf_counter() - t
    t = time.perf_counter()
    ref = reference.REFERENCES[args.workload](inputs, args.seed, work)
    ref_s = time.perf_counter() - t
    t = time.perf_counter()
    _warm_jar_cache()
    jar_s = time.perf_counter() - t

    sampler = RssSampler().start()
    t = time.perf_counter()
    spark = _start_session(work)
    session_start_s = time.perf_counter() - t
    try:
        runner = Runner(spark, args.workload, inputs, ref, args.seed, work)
        cold_pass_s, _, _ = runner.one_pass(traced=False)
        setup_s = time.time() - T_PROCESS - gen_s - ref_s - jar_s
        for _ in range(WARMUP):
            runner.one_pass(traced=False)

        plain, traced, span_runs, extra_runs = [], [], [], []
        begin = time.perf_counter()
        while (time.perf_counter() - begin < args.seconds or len(plain) < MIN_TIMED) \
                and time.time() - T_PROCESS < RUN_BUDGET_S:
            s, _, _ = runner.one_pass(traced=False)
            plain.append(s)
            if args.trace:
                s, figures, extras = runner.one_pass(traced=True)
                traced.append(s)
                span_runs.append(figures)
                extra_runs.append(extras)
        sampler.sample()
    finally:
        _stop_session(spark)
        sampler.stop()

    half = len(plain) // 2
    drift = (statistics.median(plain[half:]) / statistics.median(plain[:half]) - 1
             if half else 0.0)
    q1, q3 = _quartiles(plain)
    print(f"steadybench workload={args.workload} seed={args.seed} trace={args.trace}")
    print(f"input: rows={inputs.rows} bytes={inputs.bytes} " + " ".join(
        f"{name}=({rows} rows, {size} bytes)" for name, (rows, size) in inputs.parts.items()))
    print(f"excluded: gen_s={gen_s:.3f} ref_s={ref_s:.3f} jar_cache_s={jar_s:.3f}")
    print(f"setup: session_start_s={session_start_s:.3f} cold_pass_s={cold_pass_s:.3f}")
    print(f"passes: warmup={WARMUP} timed={len(plain)} "
          f"pass_s median={statistics.median(plain):.4f} q1={q1:.4f} q3={q3:.4f} "
          f"drift={drift:+.3f}")
    tail = _tail(plain)
    if tail:
        print(f"pass_s p{tail[0]:g}={tail[1]:.4f}")
    print(f"failed_frac={runner.failed}/{runner.attempted}")

    if args.trace:
        values = _per_layer(args.workload, span_runs, extra_runs, plain, traced,
                            session_start_s, cold_pass_s, sampler.workers_peak_mb)
        units = {k: u for k, (u, _) in metrics.per_layer().items()}
    else:
        values = {
            "pass_s": statistics.median(plain),
            "setup_s": setup_s,
            "peak_rss_mb": sampler.peak_mb,
        }
        units = {k: u for k, (u, _, _) in metrics.END_TO_END.items()}
    for name in units:
        print(f"  {name} = {values[name]:.6g} {units[name]}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }), flush=True)
    return 0 if runner.failed == 0 else 1


def _per_layer(workload, span_runs, extra_runs, plain, traced, session_start_s,
               cold_pass_s, workers_peak_mb):
    """Median over traced passes of every per-layer metric; layers the
    workload does not call read 0."""
    from steadybench import metrics
    from steadybench.pipelines import LAYERS, WORDPIECE_MERGES

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    values = dict.fromkeys(metrics.per_layer(), 0.0)
    for span in LAYERS[workload]:
        for fig in ("wall_s", "jobs", "gap_s", "shuffle_mb"):
            values[f"{span}.{fig}"] = med([r[span][fig] for r in span_runs if span in r])
    for name in metrics.SPECIFIC:
        got = [e[name] for e in extra_runs if name in e]
        if got:
            values[name] = med(got)
    simhash = "operators.simhash_fp.simhash_near_dup_pairs"
    if simhash in LAYERS[workload]:
        values[f"{simhash}.task_skew"] = med([r[simhash]["_skew"] for r in span_runs])
    learn = "operators.wordpiece.wordpiece_learn"
    if learn in LAYERS[workload]:
        values[f"{learn}.jobs_per_merge"] = values[f"{learn}.jobs"] / WORDPIECE_MERGES
    values["common.session_start_s"] = session_start_s
    values["common.cold_pass_s"] = cold_pass_s
    values["common.python_workers_peak_mb"] = workers_peak_mb
    values["trace.overhead_frac"] = med(traced) / med(plain) - 1
    values["trace.residual_s"] = med(
        [t - sum(f["wall_s"] for f in r.values()) for t, r in zip(traced, span_runs)]
    )
    return values


if __name__ == "__main__":
    sys.exit(main())
