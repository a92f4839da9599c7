"""Benchmark entry point.

    python3 perfbench/run.py --workload operators --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one client, operations in
sequence (a closed loop) on `local[<cores>]`. The run:

1. generates the workload's inputs from `--seed` (untimed) into a private
   work directory under `perfbench/.work/`;
2. sets up three times: (re)start the Spark session, fresh persisted
   state (a unique `queries._shared.CACHE_TAG` and state directory), then
   the workload's `fill`. The first also launches the JVM. `setup_s` is
   that launch plus the median of the three;
3. warms up with whole passes until pass time stops falling (at least
   `MIN_WARMUP`, at most `MAX_WARMUP` passes);
4. times whole passes for `--seconds` seconds, at least `MIN_TIMED_PASSES`
   of them; `pass_s` is their median;
5. checks the last timed pass's outputs against DuckDB, after the timers;
6. stops the JVM and removes everything it wrote (the work directory and
   its `.cache` entries).

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` - the end-to-end metrics with `--trace 0`, the per-layer
census with `--trace 1`. A traced run alternates untraced and traced
passes so it can state the tracing overhead; its spans go to
`perfbench/out/trace-<workload>-<seed>.json`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "commerce_data_pipeline_spark"
SETUP_CYCLES = 3
MIN_WARMUP, MAX_WARMUP = 6, 8
MIN_TIMED_PASSES = 3
T_START = time.perf_counter()


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, args):
        self.args = args
        self.run_id = f"{args.workload}-s{args.seed}-{os.getpid()}-{time.time_ns()}"
        self.work = os.path.join(HERE, ".work", self.run_id)
        self.in_dir = os.path.join(self.work, "in")
        self.cache_root = os.path.join(ROOT, PACKAGE, ".cache")
        self.cache_before = self._cache_listing()
        self.spark = None
        self.tags: list[str] = []

    # -- environment ------------------------------------------------------

    def _cache_listing(self) -> set[str]:
        """`.cache` and its per-kind directories, as they exist now."""
        if not os.path.isdir(self.cache_root):
            return set()
        return {self.cache_root} | {
            os.path.join(self.cache_root, kind) for kind in os.listdir(self.cache_root)
        }

    def _env(self) -> None:
        for d in ("local", "tmp", "warehouse"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        # UDF workers import the package by name
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        )
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")

    def start_session(self):
        from commerce_data_pipeline_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            "bench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.session.timeZone": "UTC",
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # a fixed-size heap: no heap-growth drift across passes
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
            },
        )
        return self.spark

    def new_state(self, k: int) -> str:
        from commerce_data_pipeline_spark.queries import _shared

        tag = f"{self.run_id}-{k}"
        _shared.CACHE_TAG = tag
        self.tags.append(tag)
        return os.path.join(self.work, "state", str(k))

    def cache_dirs(self) -> list[str]:
        """This run's `.cache/<kind>/in_<tag>` entries for the live tag."""
        if not self.tags or not os.path.isdir(self.cache_root):
            return []
        leaf = f"{os.path.basename(self.in_dir)}_{self.tags[-1]}"
        return [
            os.path.join(self.cache_root, kind, leaf)
            for kind in sorted(os.listdir(self.cache_root))
            if os.path.isdir(os.path.join(self.cache_root, kind, leaf))
        ]

    def stop(self) -> None:
        """Stop Spark and the gateway JVM, then wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        try:
            self.spark.stop()
        finally:
            self.spark = None
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def cleanup(self) -> None:
        """Remove the work directory and this run's `.cache` leaves, then any
        `.cache` directory the run created that is left empty."""
        shutil.rmtree(self.work, ignore_errors=True)
        work_root = os.path.dirname(self.work)
        if os.path.isdir(work_root) and not os.listdir(work_root):
            os.rmdir(work_root)
        if not os.path.isdir(self.cache_root):
            return
        mine = f"{os.path.basename(self.in_dir)}_{self.run_id}"
        for kind in os.listdir(self.cache_root):
            kdir = os.path.join(self.cache_root, kind)
            for leaf in os.listdir(kdir):
                if leaf.startswith(mine):
                    shutil.rmtree(os.path.join(kdir, leaf), ignore_errors=True)
            if kdir not in self.cache_before and not os.listdir(kdir):
                os.rmdir(kdir)
        if self.cache_root not in self.cache_before and not os.listdir(self.cache_root):
            os.rmdir(self.cache_root)


def probe(spark) -> float:
    """Fixed calibration query (the one `bench.py` uses): min of 3."""
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(2_000_000).groupBy((F.col("id") % 32).alias("k")).agg(
            F.sum("id").alias("s")
        ).count()
        best = min(best, time.perf_counter() - t0)
    return best


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in (os.path.join(PACKAGE, "__init__.py"), "bench.py",
                 os.path.join("tools", "oracle_check.py")):
        if not os.path.isfile(os.path.join(ROOT, need)):
            return _fail(f"{need} not found under {ROOT}; run from a full checkout")
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; one of {workloads.WORKLOADS}")

    run = Run(args)
    try:
        result = execute(run, args)
    finally:
        try:
            run.stop()
        finally:
            run.cleanup()
    print(json.dumps(result))
    return 0


def execute(run: Run, args) -> dict:
    import gen
    import workloads
    from census import Tracer, peak_rss_mb

    run._env()
    info = gen.generate(args.workload, args.seed, run.in_dir)
    print(f"perfbench: {args.workload} seed {args.seed} inputs {info} "
          f"at {time.perf_counter() - T_START:.3f}s", file=sys.stderr)
    wl = workloads.make(args.workload, run.in_dir, info)
    traced = bool(args.trace)

    # -- set-up: fresh-state cycles, then warm-up passes ------------------------
    cycles, passes = [], []
    session_start = 0.0
    tracer = None
    for k in range(SETUP_CYCLES):
        t0 = time.perf_counter()
        if run.spark is not None:
            run.spark.stop()
        spark = run.start_session()
        if k == 0:
            session_start = time.perf_counter() - t0
            tracer = Tracer(spark, run.run_id, enabled=False)
            if traced:
                wl.trace_layers(tracer)
        tracer.spark = spark
        wl.bind(spark, tracer, run.new_state(k))
        tracer.enabled, tracer.pass_no = traced, f"fill{k}"
        wl.fill()
        tracer.enabled = False
        cycles.append(time.perf_counter() - t0 - (session_start if k == 0 else 0.0))
    # JIT warm-up: go on while a pass still beats every earlier one by 3%
    while len(passes) < MIN_WARMUP or (
        len(passes) < MAX_WARMUP and passes[-1] < 0.97 * min(passes[:-1])
    ):
        t1 = time.perf_counter()
        wl.run_pass(len(passes))
        passes.append(time.perf_counter() - t1)
    setup_wall = time.perf_counter() - T_START
    print(f"perfbench: set-up cycles {[round(c, 3) for c in cycles]} "
          f"warm-up passes {[round(p, 3) for p in passes]}", file=sys.stderr)
    wl.failures.clear()  # set-up failures surface again in the timed passes

    # -- timed passes ---------------------------------------------------------
    probe_first = probe(run.spark) if traced else 0.0
    timed, traced_passes = [], []
    attempted = 0
    n = len(passes)
    deadline = time.perf_counter() + args.seconds
    while time.perf_counter() < deadline or len(timed) < MIN_TIMED_PASSES or (
        traced and len(traced_passes) < MIN_TIMED_PASSES
    ):
        on = traced and len(timed) > len(traced_passes)
        tracer.enabled, tracer.pass_no = on, n
        t1, w1 = time.perf_counter(), time.time()
        attempted += wl.run_pass(n)
        dt = time.perf_counter() - t1
        tracer.enabled = False
        (traced_passes if on else timed).append((n, dt, w1, w1 + dt))
        n += 1
    probe_last = probe(run.spark) if traced else 0.0
    run_failures = len(wl.failures)
    for f in wl.failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)

    stored = wl.stored_bytes(run.cache_dirs())
    rss = peak_rss_mb(run.spark)

    # -- correctness, outside the timers -----------------------------------------
    t1 = time.perf_counter()
    mismatches = wl.check()
    print(f"perfbench: timed passes {[round(p[1], 3) for p in timed]} "
          f"check {time.perf_counter() - t1:.3f}s", file=sys.stderr)
    for m in mismatches:
        print(f"perfbench: MISMATCH {m}", file=sys.stderr)
    failed = run_failures + len(mismatches)
    result = {
        "correct": run_failures == 0 and not mismatches,
        "attempted": attempted,
        "failed": failed,
    }
    if not traced:
        result["metrics"] = {
            "setup_s": {"value": session_start + _median(cycles), "unit": "s"},
            "pass_s": {"value": _median([p[1] for p in timed]), "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
            "stored_bytes_per_row": {"value": stored / wl.input_rows, "unit": "B/row"},
            "op_ok_ratio": {"value": (attempted - failed) / attempted, "unit": "ratio"},
        }
        return result

    import layers

    census = layers.per_layer(
        wl, tracer, traced_passes, timed,
        session_start=session_start, cold_pass=passes[0], setup_wall=setup_wall,
        probes=(probe_first, probe_last),
    )
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", f"trace-{args.workload}-{args.seed}.json"), "w") as f:
        json.dump({"run_id": run.run_id, "inputs": info, "spans": tracer.spans,
                   "self_time_s": tracer.self_times(), "census": census}, f)
    result["metrics"] = {k: {"value": v, "unit": layers.unit(k)} for k, v in census.items()}
    return result


if __name__ == "__main__":
    raise SystemExit(main())
