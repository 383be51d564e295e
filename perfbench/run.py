"""Closed-loop, oracle-checked benchmark of the extraction engine.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. One client submits each iteration only
after the previous one finished, at ``local[<usable cores>]``. Every
iteration's written output is fingerprinted by an Observation and compared
with the oracle's fingerprint for the same seeded inputs.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (see ``PER_LAYER``). The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries the pinned environment, host calibration and raw samples. Traced
runs also write their spans to ``perfbench/.work/traces/``.

Exits 2 without a result when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import pathlib
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# untimed iterations after set-up, as a share of --seconds: iteration
# times still fall by up to half over the first ~5 iterations after a cold
# start, as the JIT compiles the planner and codegen paths
WARMUP = 1.0

# the q38_unified_full layers have no timed workload of their own (see
# workloads.structure_probe)
Q38 = "q38 shape, measured in the dedup_incremental traced run"

# per-layer metric -> the end-to-end metric/workload it should move; names
# and units are declared in BENCHMARK.json
PER_LAYER = {
    "session.build_s": "setup_s on every workload",
    "tables.scan_s": "docs_per_s on extract_mixed, dedup_incremental",
    "tables.write_s": "docs_per_s on extract_mixed, dedup_incremental",
    "tables.input_mb": "docs_per_s on extract_mixed, dedup_incremental",
    "tables.output_mb": "docs_per_s on extract_mixed, dedup_incremental",
    "corpus.interleave_s": Q38,
    "extract.explode_s": "docs_per_s on extract_mixed",
    "extract.spans_s": "docs_per_s on extract_mixed",
    "extract.shuffle_mb": "docs_per_s on extract_mixed",
    "extract.nonjvm_frac": "docs_per_s on extract_mixed",
    "extract.frames_s": Q38,
    "layout.pages": "docs_per_s on extract_mixed; 0 elsewhere",
    "layout.rows_out": "docs_per_s on extract_mixed; 0 elsewhere",
    "layout.pages_per_s": "docs_per_s on extract_mixed only",
    "structure.points_s": Q38,
    "structure.commentary_s": Q38,
    "structure.unified_s": Q38,
    "structure.rows_out": Q38,
    "dedup.signatures_s": "docs_per_s on dedup_incremental",
    "dedup.incremental_s": "docs_per_s on dedup_incremental",
    "dedup.pairs_out": "docs_per_s on dedup_incremental",
    "dedup.scan_tasks": "docs_per_s on dedup_incremental",
    "skew.probe_s": "docs_per_s on dedup_incremental",
    "skew.probe_jobs": "docs_per_s on dedup_incremental",
    "spark.jobs": "docs_per_s on the same workload",
    "spark.stages": "docs_per_s on the same workload",
    "spark.tasks": "docs_per_s on the same workload",
    "spark.run_s": "docs_per_s on the same workload",
    "spark.cpu_s": "docs_per_s on the same workload",
    "spark.shuffle_write_mb": "docs_per_s on the same workload",
    "spark.spill_mb": "docs_per_s on the same workload",
    # the heap is pre-touched, so on-heap growth shows here and reaches
    # peak_rss_mb only past the fixed heap size
    "jvm.old_gen_peak_mb": "docs_per_s (GC work) on the same workload",
    "plan.exchanges": "jvm.old_gen_peak_mb, docs_per_s on the same workload",
    "plan.scans": "docs_per_s on the same workload",
    "plan.pins": "jvm.old_gen_peak_mb, docs_per_s on the same workload",
    "plan.python_nodes": "peak_rss_mb (Python workers), docs_per_s on the same workload",
    "plan.windows": "jvm.old_gen_peak_mb, docs_per_s on the same workload",
    "failed_frac": "iterations failed / attempted; 0 when correct",
    "trace.overhead_docs_per_s": "traced minus untraced docs_per_s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--tiny", action="store_true", help="50-doc inputs (self-test)"
    )
    p.add_argument(
        "--corrupt",
        action="store_true",
        help="alter one output row per iteration (self-test of the check)",
    )
    return p.parse_args(argv)


def pin_env(run_dir: str) -> dict:
    """Pin the run environment before the JVM starts; returns it."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        ram_mb = int(f.readline().split()[1]) // 1024
    heap_mb = min(2048, ram_mb // 4)
    tmp = os.path.join(run_dir, "tmp")
    env = {
        "OPENBLAS_NUM_THREADS": "1",
        "OMP_NUM_THREADS": "1",
        # the session default (32g) can exceed the host
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(run_dir, "warehouse"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
    }
    for d in (tmp, env["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    # the heap is fixed and touched at JVM start (in set-up). Grown on
    # demand, its size (and so peak RSS) followed the collector's timing and
    # varied by up to 40% between runs; fixed but untouched, first-touch
    # page faults fell inside timed iterations and widened docs_per_s's
    # spread from ~0.14 to ~0.3. On-heap growth shows in jvm.old_gen_peak_mb.
    java_opts = f"-Xms{heap_mb}m -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"
    return {
        "master": f"local[{cores}]", "cores": cores, "ram_mb": ram_mb,
        "java_options": java_opts, **env,
    }


def start_session(env: dict):
    from pdftableextractor_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        master=env["master"],
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": env["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": env["java_options"],
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, the gateway JVM and every process left under us,
    and wait for each to end."""
    from pyspark import SparkContext

    from tracing import descendants

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while True:
        left = descendants(os.getpid())
        if not left or time.time() > deadline:
            break
        for p in left:
            try:
                os.kill(p, signal.SIGTERM)
            except ProcessLookupError:
                pass
        time.sleep(0.2)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def oracle_fingerprint(wl, inputs) -> dict:
    """The oracle's fingerprint for these inputs, cached per seed and size
    next to the benchmark (keyed on the oracle's own source)."""
    gen_src = pathlib.Path(HERE, "workloads.py").read_bytes()
    key = hashlib.sha1(
        b"\0".join(
            [wl.name.encode(), str(inputs.seed).encode(),
             str(inputs.n_docs).encode(), wl.oracle_key(), gen_src]
        )
    ).hexdigest()[:20]
    path = os.path.join(WORK, "oracle-cache", f"{wl.name}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    fp = wl.expected(inputs)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(fp, f)
    os.replace(path + ".tmp", path)
    return fp


class Runner:
    """One workload's iterations against one session."""

    def __init__(self, wl, inputs, expected, out_path, corrupt):
        self.wl, self.inputs, self.expected = wl, inputs, expected
        self.out_path, self.corrupt = out_path, corrupt
        self.last_df = None

    def iterate(self, spark, tracer=None) -> float:
        """One iteration: build, write, check. Returns its wall time;
        raises on error or on a fingerprint mismatch."""
        from pyspark.sql import Observation

        from pdftableextractor_spark.sources.tables import write_table
        from workloads import observe_fingerprint

        shutil.rmtree(self.out_path, ignore_errors=True)
        obs = Observation()
        t0 = time.perf_counter()
        with tracer.span("iteration") if tracer else contextlib.nullcontext():
            df = self.wl.output(spark, self.inputs)
            if self.corrupt:
                df = self.wl.corrupt(df)
            write_table(observe_fingerprint(df, self.wl.cols, obs), self.out_path)
            got = obs.get
        dt = time.perf_counter() - t0
        self.last_df = df
        got = {"rows": got["rows"], "hash_sum": got["hash_sum"]}
        if got != self.expected:
            raise AssertionError(f"fingerprint {got} != oracle {self.expected}")
        return dt

    def loop(self, spark, seconds: float, tracer=None):
        """Closed loop for ``seconds``: returns (times, attempted, failed)."""
        times, attempted, failed, streak = [], 0, 0, 0
        end = time.perf_counter() + seconds
        while attempted == 0 or time.perf_counter() < end:
            attempted += 1
            try:
                times.append(self.iterate(spark, tracer))
                streak = 0
            except Exception:
                failed += 1
                streak += 1
                traceback.print_exc(file=sys.stderr)
                if streak >= 3:
                    break
        return times, attempted, failed


def run(args) -> dict:
    from tracing import (
        OldGenPeak, PeakRss, Tracer, calibrate, median, plan_shape,
    )
    from workloads import WORKLOADS

    t_start = time.perf_counter()
    wl = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = pin_env(run_dir)
    info = {"workload": wl.name, "seed": args.seed, "env": env}
    info["calibration_before"] = calibrate(env["cores"])

    inputs = wl.make_inputs(run_dir, args.seed, args.tiny)
    t = time.perf_counter()
    expected = oracle_fingerprint(wl, inputs)
    info["oracle_s"] = time.perf_counter() - t
    info["expected"] = expected
    runner = Runner(
        wl, inputs, expected, os.path.join(run_dir, "out"), args.corrupt
    )

    # set-up: build_session, which launches the JVM, + one untimed warm-up
    # iteration. A cold set-up takes ~20 s on a 4-core host, so a run makes
    # one; the median over runs steadies it.
    warm_ok, spark = True, None
    try:
        t0 = time.perf_counter()
        spark = start_session(env)
        build_s = time.perf_counter() - t0
        try:
            runner.iterate(spark)
        except Exception:
            warm_ok = False
            traceback.print_exc(file=sys.stderr)
        setup_s = time.perf_counter() - t0
        info["setup_s"], info["build_s"] = setup_s, build_s
        # the JIT keeps speeding iterations up for a while after set-up
        _, warm_n, warm_failed = runner.loop(spark, WARMUP * args.seconds)
        warm_ok = warm_ok and warm_failed == 0
        info["warmup_iterations"] = warm_n

        if args.trace:
            tracer = Tracer(spark)
            # half the run for the two loops, half for the layer probes
            with OldGenPeak(spark) as old_gen:
                plain, a1, f1 = runner.loop(spark, args.seconds / 4)
            traced, a2, f2 = runner.loop(spark, args.seconds / 4, tracer)
            attempted, failed, times = a1 + a2, f1 + f2, plain + traced
            layer = wl.probe(
                spark, inputs, tracer, os.path.join(run_dir, "probe-out")
            )
            metrics = per_layer_metrics(
                inputs, build_s, layer, tracer, plain, traced,
                plan_shape(runner.last_df), failed / attempted,
            )
            metrics["jvm.old_gen_peak_mb"] = old_gen.peak / 1e6
            info["trace_file"] = write_trace(args, tracer, metrics)
            info["plain_iteration_s"], info["traced_iteration_s"] = plain, traced
        else:
            with PeakRss() as rss:
                times, attempted, failed = runner.loop(spark, args.seconds)
            metrics = {
                "docs_per_s": inputs.n_docs / median(times) if times else 0.0,
                "setup_s": setup_s,
                "peak_rss_mb": rss.peak / 1e6,
            }
            info["iteration_s"] = times
            info["peak_rss_mb_parts"] = {
                k: v / 1e6 for k, v in rss.parts.items()
            }
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    info["calibration_after"] = calibrate(env["cores"])
    info["samples"] = len(times)
    info["wall_s"] = time.perf_counter() - t_start
    units = metric_units()
    print(json.dumps(info))
    return {
        "correct": warm_ok and failed == 0 and bool(times),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def metric_units() -> dict:
    """Every metric's unit, as BENCHMARK.json declares it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {
        m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]
    }


def per_layer_metrics(
    inputs, build_s, layer, tracer, plain, traced, plan, failed_frac
) -> dict:
    from tracing import median

    iters = [s.stages for s in tracer.spans if s.name == "iteration"]

    def stage(key, scale=1.0):
        return median([st[key] for st in iters]) * scale

    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(layer)
    m.update(plan)
    m["session.build_s"] = build_s
    m.update(
        {
            "spark.jobs": stage("jobs"),
            "spark.stages": stage("stages"),
            "spark.tasks": stage("tasks"),
            "spark.run_s": stage("run_s"),
            "spark.cpu_s": stage("cpu_s"),
            "spark.shuffle_write_mb": stage("shuffle_write_bytes", 1e-6),
            "spark.spill_mb": stage("spill_bytes", 1e-6),
            "failed_frac": failed_frac,
        }
    )
    if plain and traced:
        m["trace.overhead_docs_per_s"] = (
            inputs.n_docs / median(traced) - inputs.n_docs / median(plain)
        )
    return m


def write_trace(args, tracer, metrics) -> str:
    path = os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(
            {
                "workload": args.workload,
                "seed": args.seed,
                "spans": tracer.dump(),
                "metrics": metrics,
                "moves": PER_LAYER,
            },
            f,
            indent=1,
        )
    return os.path.relpath(path, ROOT)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import pdftableextractor_spark  # noqa: F401
        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    result = run(args)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
