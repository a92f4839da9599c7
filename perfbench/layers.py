"""The per-layer census of a traced run, named `<module>.<metric>`.

Every metric is reported on every workload; a layer the workload does not
exercise reads 0. Per-pass values are medians over the traced passes.
"""

from __future__ import annotations

import statistics

from workloads import GOLD_VIEWS, GRAPH_OPS, TRAINING_OPS

OP_METRICS = ("build_s", "exec_s", "jobs", "shuffle_bytes")
BRONZE = ("write_s", "exists_s", "verify_s", "sidecar_s", "rerun_s", "status_s")

NAMES: tuple[str, ...] = (
    ("session.start_s", "setup.wall_s", "warmup.cold_pass_s", "env.probe_s", "env.probe_ratio",
     "trace.pass_s", "trace.overhead_s")
    + ("spark.jobs", "spark.tasks", "spark.failed_tasks", "spark.executor_busy_s",
       "spark.shuffle_bytes", "spark.spill_bytes", "driver.gap_s",
       "checkpoint.persisted_rdds", "checkpoint.block_bytes")
    + tuple(f"bronze.{m}" for m in BRONZE) + ("bronze.files", "bronze.bytes")
    + ("ga4_extract.build_s",)
    + tuple(f"gold_ga4.{v}_s" for v in GOLD_VIEWS)
    + tuple(f"{op}.{m}" for op in TRAINING_OPS + GRAPH_OPS for m in OP_METRICS)
)


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


def _pass_census(spans: list[dict], wall: tuple[float, float], cores: int) -> dict:
    from census import uncovered

    out: dict[str, float] = {}

    def add(k, v):
        out[k] = out.get(k, 0.0) + v

    intervals = []
    for s in spans:
        name, dur = s["name"], s["end"] - s["start"]
        if "jobs" in s:  # a job-group span: one top-level operation
            intervals += s["intervals"]
            add("spark.jobs", s["jobs"])
            add("spark.tasks", s["tasks"])
            add("spark.failed_tasks", s["failed_tasks"])
            add("spark.executor_busy_s", s["run_ms"] / 1000.0 / cores)
            add("spark.shuffle_bytes", s["shuffle_bytes"])
            add("spark.spill_bytes", s["spill_bytes"])
            n, b = s.get("persisted", (0, 0))
            add("checkpoint.persisted_rdds", n)
            add("checkpoint.block_bytes", b)
            if name in TRAINING_OPS + GRAPH_OPS:
                add(f"{name}.jobs", s["jobs"])
                add(f"{name}.shuffle_bytes", s["shuffle_bytes"])
        if name.endswith(".build") or name.endswith(".exec"):
            add(f"{name}_s", dur)
        elif name.startswith(("bronze.", "gold_ga4.")):
            add(f"{name}_s", dur)
    out["driver.gap_s"] = uncovered(wall[0], wall[1], intervals)
    return out


def per_layer(wl, tracer, traced_passes, untraced_passes, *, session_start,
              cold_pass, setup_wall, probes) -> dict[str, float]:
    from census import dir_bytes

    cores = wl.spark.sparkContext.defaultParallelism
    by_pass: dict = {}
    for s in tracer.spans:
        by_pass.setdefault(s["pass"], []).append(s)
    rows = [_pass_census(by_pass.get(n, []), (w0, w1), cores)
            for n, _, w0, w1 in traced_passes]
    out = {name: 0.0 for name in NAMES}
    for name in out:
        vals = [r[name] for r in rows if name in r]
        if vals:
            out[name] = float(statistics.median(vals))
    traced_s = statistics.median(p[1] for p in traced_passes)
    out.update({
        "session.start_s": session_start,
        "setup.wall_s": setup_wall,
        "warmup.cold_pass_s": cold_pass,
        "env.probe_s": probes[0],
        "env.probe_ratio": probes[1] / probes[0],
        "trace.pass_s": traced_s,
        "trace.overhead_s": traced_s - statistics.median(p[1] for p in untraced_passes),
    })
    if wl.name == "ga4_medallion":
        out["bronze.files"], out["bronze.bytes"] = map(float, dir_bytes(wl.bronze_root))
    return out
