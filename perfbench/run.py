#!/usr/bin/env python3
"""Pipeline benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 3 --trace 0

Run from the root of a checkout. The script sets up a Spark session from a
fresh interpreter, generates the workload's inputs from ``--seed`` under
``.perfbench_work/``, runs the workload once cold and once to warm up,
then repeats timed runs for ``--seconds`` seconds and at least three
times. Every run's sink is
checked against an independent reference; a failed check counts as a
failed operation. With ``--trace 1`` the timed phase mixes untraced and
traced runs and reports per-layer figures instead of the end-to-end
ones. The last line of standard output is one JSON object; the full
detail (every run, host contention per run, every layer figure) is
written to ``.perfbench_out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

WORKLOADS = ("ingest", "upsert", "ingest_upsert", "graph", "curate")

END_TO_END = {
    "setup_s": "s",
    "cold_pipeline_s": "s",
    "pipeline_s": "s",
    "rows_per_s": "1/s",
    "sink_bytes_per_input_byte": "ratio",
}

# per-layer figures printed on the result line: those every workload
# produces (times of a layer that does not run on a workload are left to
# the detail file, counts and ratios read 0 there)
PER_LAYER = {
    "session.import_s": "s",
    "session.get_spark_s": "s",
    "session.first_job_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.s": "s",
    "sources.input_rows": "count",
    "sources.input_bytes": "bytes",
    "sources.scan_bytes": "bytes",
    "sources.scan_amplification": "ratio",
    "operators.jobs": "count",
    "operators.keep_ratio": "ratio",
    "functions.jobs": "count",
    "functions.dedup.jobs": "count",
    "functions.dedup.survivor_ratio": "ratio",
    "pipeline.compile_s": "s",
    "pipeline.compile_jobs": "count",
    "pipeline.plan_ms": "ms",
    "pipeline.miss_check_s": "s",
    "loaders.run_loader_s": "s",
    "loaders.self_s": "s",
    "loaders.jobs": "count",
    "loaders.tasks": "count",
    "loaders.executor_cpu_s": "s",
    "loaders.shuffle_write_bytes": "bytes",
    "loaders.bytes_written": "bytes",
    "loaders.files_written": "count",
    "loaders.rows_loaded": "count",
    "streaming.read_back_bytes": "bytes",
    "streaming.rewrite_bytes": "bytes",
    "streaming.rewrite_ratio": "ratio",
    "run.s": "s",
    "run.jobs": "count",
    "run.tasks": "count",
    "run.shuffle_write_bytes": "bytes",
    "run.spill_bytes": "bytes",
    "run.serial_stage_s": "s",
    "run.core_busy_ratio": "ratio",
    "run.gc_s": "s",
    "trace.overhead_s": "s",
}

LAYERS = ("sources", "operators", "functions", "pipeline", "loaders", "streaming")
SPAN_COUNTERS = (
    "jobs",
    "tasks",
    "executor_cpu_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "result_bytes",
)
FILTER_STEPS = ("flow", "filter")

# the cold run is a metric of its own; the run after it is still far
# slower than the rest and is checked but not timed; pipeline_s is the
# median of at least MIN_TIMED_RUNS later runs. The JIT keeps improving
# for several more runs, but every process follows the same course, and
# every run costs time in a budget that has to fit 22 fresh processes of
# every listed workload
WARMUP_RUNS = 1
MIN_TIMED_RUNS = 3
# stop starting new runs this long after start, so the process ends well
# inside its time limit even on a slow host
SOFT_DEADLINE_S = 120.0


def spark_cores() -> int:
    """Half the cores this process may run on. The workloads are bound by
    per-job driver work, so two task slots run them as fast as four on a
    4-core host, and the other half is left to the JVM's JIT and GC
    threads, the Python driver and whatever else shares the host."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# --------------------------------------------------------------------------
# host contention, with bench.py's /proc/stat helpers; bench imports the
# engine and __spark_entry__, so it is imported only after set-up is timed
# --------------------------------------------------------------------------


def host_snapshot() -> tuple[dict, int]:
    """Host CPU jiffies (total, idle, steal) and those of this process tree."""
    import bench

    return bench._host_snapshot(), bench._own_tree_jiffies()


def host_window(a: tuple[dict, int], b: tuple[dict, int]) -> dict:
    """Shares of host CPU over a window: busy, stolen by the hypervisor,
    and busy outside this process tree (external contention)."""
    import bench

    busy = bench._host_window(a[0], b[0]).get("cpu_busy_frac")
    return {"cpu_busy_frac": busy, **(bench._sample_quality(a[0], b[0], a[1], b[1]) or {})}


# --------------------------------------------------------------------------
# session
# --------------------------------------------------------------------------


def setup_session(work: Path, cores: int) -> tuple[object, dict]:
    """Import the engine, start Spark, run one trivial job; time each step."""
    t0 = time.perf_counter()
    import orientdb_etl_spark
    from orientdb_etl_spark import get_spark

    t1 = time.perf_counter()
    if Path(orientdb_etl_spark.__file__).resolve().parent != ROOT / "orientdb_etl_spark":
        raise RuntimeError(f"engine imported from outside the checkout: {orientdb_etl_spark.__file__}")
    tmp = work / "tmp"
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": str(tmp),
            # JVM temp files in the checkout, and no hsperfdata file in the
            # system temp dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # keep every job of a run in the status store for the trace
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )
    t2 = time.perf_counter()
    spark.range(1000).count()
    t3 = time.perf_counter()
    return spark, {
        "session.import_s": t1 - t0,
        "session.get_spark_s": t2 - t1,
        "session.first_job_s": t3 - t2,
        "setup_s": t3 - t0,
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it started to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb() -> float:
    """Peak resident set of this process plus the Spark JVM."""
    from pyspark import SparkContext

    pids = [os.getpid()]
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
        except (OSError, StopIteration, ValueError):
            pass
    return kb / 1024


# --------------------------------------------------------------------------
# traced-run figures
# --------------------------------------------------------------------------


def layer_metrics(root, stages: list[dict], outcome, wl, cores: int, gc_s: float) -> dict:
    """Flatten one traced run's spans and stages into named figures."""
    from perfbench.tracing import plan_ms, serial_stage_s

    spans = list(root.walk())
    m: dict[str, float] = {}
    for layer in LAYERS:
        ss = [s for s in spans if s.layer == layer]
        m[f"{layer}.s"] = sum(s.s for s in ss)
        m[f"{layer}.self_s"] = sum(s.self_s for s in ss)
        for k in SPAN_COUNTERS:
            m[f"{layer}.{k}"] = sum(s.total(k) for s in ss)
    for s in spans:
        if s.layer in ("operators", "functions"):
            key = f"{s.layer}.{s.name}"
            m[f"{key}.build_s"] = m.get(f"{key}.build_s", 0.0) + s.s
            m[f"{key}.jobs"] = m.get(f"{key}.jobs", 0) + s.total("jobs")
    by_name = lambda n: [s for s in spans if s.name == n]  # noqa: E731
    m["pipeline.compile_s"] = sum(s.s for s in by_name("compile"))
    m["pipeline.compile_jobs"] = sum(s.total("jobs") for s in by_name("compile"))
    m["pipeline.miss_check_s"] = sum(s.s for s in by_name("resolve_miss_checks"))
    loaders = by_name("run_loader")
    m["pipeline.plan_ms"] = sum(plan_ms(s.extra["df_in"]) for s in loaders)
    m["loaders.run_loader_s"] = sum(s.s for s in loaders)
    m["loaders.bytes_written"] = sum(s.total("output_bytes") for s in loaders)
    m["loaders.files_written"] = outcome.sink_files
    m["loaders.rows_loaded"] = sum(r.stats.rows_loaded or 0 for r in outcome.results)
    batches = by_name("upsert_batch")
    m["streaming.upsert_batch_s"] = sum(s.s for s in batches)
    m["streaming.read_back_bytes"] = sum(s.extra["read_back_bytes"] for s in batches)
    m["streaming.rewrite_bytes"] = sum(s.extra["rewrite_bytes"] for s in batches)
    m["streaming.rewrite_ratio"] = (
        m["streaming.rewrite_bytes"] / wl.inputs.truth["batch_bytes"] if batches else 0.0
    )
    m["sources.input_rows"] = wl.inputs.rows
    m["sources.input_bytes"] = wl.inputs.bytes
    m["sources.scan_bytes"] = sum(st["input_bytes"] for st in stages)
    m["sources.scan_amplification"] = m["sources.scan_bytes"] / wl.inputs.bytes
    m["run.s"] = root.s
    for k in SPAN_COUNTERS:
        m[f"run.{k}"] = root.total(k)
    m["run.serial_stage_s"] = serial_stage_s(stages)
    m["run.core_busy_ratio"] = sum(st["executor_run_s"] for st in stages) / (root.s * cores)
    m["run.gc_s"] = gc_s
    return m


def row_counts(root) -> dict:
    """Rows out of every transformer step, and the keep ratios of the
    filtering steps and dedup, from a run traced with ``count_rows``."""
    m: dict[str, float] = {}
    keep = 1.0
    for s in root.walk():
        if s.layer not in ("operators", "functions"):
            continue
        key = f"{s.layer}.{s.name}"
        rows_in, rows_out = s.extra["rows_in"], s.extra["rows_out"]
        m[f"{key}.rows_out"] = m.get(f"{key}.rows_out", 0) + rows_out
        ratio = rows_out / rows_in if rows_in else 1.0
        if s.name == "dedup":
            m["functions.dedup.survivor_ratio"] = ratio
        elif s.name in FILTER_STEPS:
            m[f"{key}.keep_ratio"] = ratio
            keep *= ratio
    m["operators.keep_ratio"] = keep
    return m


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    start = time.perf_counter()
    if not (ROOT / "orientdb_etl_spark" / "__init__.py").is_file():
        print(f"no orientdb_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    cores = spark_cores()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # keep every temporary file of Python, the JVM and Spark in the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "tmp")
    sys.path.insert(0, str(ROOT))
    spark = None
    try:
        spark, setup = setup_session(work, cores)
        from perfbench import gen
        from perfbench.workloads import WORKLOADS as CLASSES

        inputs = gen.generate(args.workload, args.seed, str(work / "inputs"))
        wl = CLASSES[args.workload](spark, inputs, str(work))
        wl.prepare()
        result, detail = measure(args, spark, wl, cores, setup, start)
        detail["peak_rss_mb"] = peak_rss_mb()
        if args.trace:
            result["metrics"]["session.peak_rss_mb"] = {
                "value": detail["peak_rss_mb"],
                "unit": "MB",
            }
    except Exception:  # noqa: BLE001  (report and exit non-zero, no result line)
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    detail_path = out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    detail_path.write_text(json.dumps(detail, indent=1, sort_keys=True, default=str))
    print(f"detail: {detail_path.relative_to(ROOT)}")
    print(json.dumps(result))
    return 0


def measure(args, spark, wl, cores: int, setup: dict, start: float) -> tuple[dict, dict]:
    """Cold run, warm-ups, then the timed phase; returns (result, detail)."""
    from perfbench.tracing import Tracer, gc_ms

    runs: list[dict] = []
    traced: list[dict] = []
    counts: dict = {}

    def one(phase: str, trace: bool = False, count_rows: bool = False) -> dict:
        out = os.path.join(wl.work_dir, "out", f"run{len(runs)}")
        wl.reset(out)
        h0 = host_snapshot()
        rec: dict = {"phase": phase, "traced": trace}
        try:
            if trace:
                tracer = Tracer(spark, count_rows)
                gc0 = gc_ms(spark)
                with tracer.installed(), tracer.span("run", "run") as root:
                    outcome = wl.run(out)
                gc_s = (gc_ms(spark) - gc0) / 1e3
                stages = tracer.collect()
                if count_rows:
                    rec["counts"] = row_counts(root)
                else:
                    rec["layers"] = layer_metrics(root, stages, outcome, wl, cores, gc_s)
                    rec["spans"] = root.records()
            else:
                outcome = wl.run(out)
            rec.update(seconds=outcome.seconds, sink_bytes=outcome.sink_bytes)
            rec["errors"] = wl.check(out)
        except Exception:  # noqa: BLE001  (a failed run is a failed operation)
            rec["errors"] = [traceback.format_exc()]
        rec["host"] = host_window(h0, host_snapshot())
        shutil.rmtree(out, ignore_errors=True)
        runs.append(rec)
        if rec["errors"]:
            print(f"{phase} run {len(runs) - 1} failed: {rec['errors']}", file=sys.stderr)
        return rec

    def time_left() -> bool:
        return time.perf_counter() - start < SOFT_DEADLINE_S

    one("cold")
    for _ in range(WARMUP_RUNS):
        one("warmup")
    t_timed = time.perf_counter()
    plain: list[dict] = []
    while time_left():
        if args.trace:
            # untraced, traced, traced, untraced: the runs still speed up
            # as the JIT warms, and this order gives both kinds the same
            # mean position, so trace.overhead_s does not pick up the trend
            plain.append(one("timed"))
            traced.extend(one("timed", trace=True) for _ in range(2))
            plain.append(one("timed"))
            done = True
        else:
            plain.append(one("timed"))
            done = len(plain) >= MIN_TIMED_RUNS
        if done and time.perf_counter() - t_timed >= args.seconds:
            break
    if args.trace and time_left():
        counts = one("count_rows", trace=True, count_rows=True).get("counts", {})

    def med(recs, key):
        # a run whose check failed still has a valid time; one that raised
        # has none (null in the result when no run has one)
        vals = [r[key] for r in recs if key in r]
        return statistics.median(vals) if vals else None

    failed = sum(1 for r in runs if r["errors"])
    pipeline_s, sink_bytes = med(plain, "seconds"), med(plain, "sink_bytes")
    e2e = {
        "setup_s": setup["setup_s"],
        "cold_pipeline_s": runs[0].get("seconds"),
        "pipeline_s": pipeline_s,
        "rows_per_s": wl.inputs.rows / pipeline_s if pipeline_s else None,
        "sink_bytes_per_input_byte": (
            sink_bytes / wl.inputs.bytes if sink_bytes is not None else None
        ),
    }
    layers: dict[str, float] = {}
    if args.trace:
        ok = [r["layers"] for r in traced if "layers" in r]
        keys = sorted({k for m in ok for k in m})
        layers = {k: statistics.median(m.get(k, 0.0) for m in ok) for k in keys}
        layers.update(counts)
        layers.update({k: v for k, v in setup.items() if k.startswith("session.")})
        traced_s = med(traced, "seconds")
        if traced_s is not None and pipeline_s is not None:
            layers["trace.overhead_s"] = traced_s - pipeline_s
    if args.trace:
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    result = {
        "correct": failed == 0,
        "attempted": len(runs),
        "failed": failed,
        "metrics": metrics,
    }
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "cores": cores,
        "input_rows": wl.inputs.rows,
        "input_bytes": wl.inputs.bytes,
        "setup": setup,
        "end_to_end": e2e,
        "layers": layers,
        "runs": runs,
        "result": result,
    }
    return result, detail


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
