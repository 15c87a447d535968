"""Lifecycle benchmark for the POS analytics engine.

    python3 perfbench/run.py --workload pos_month --seed 1 --seconds 35 --trace 0

Runs one workload (see workloads.py) from the root of a source
checkout: generate the inputs from the seed (untimed), start Spark,
set up three times (the median is ``setup_s``), then one lifecycle —
the workload's opening batch step, its fixed number of ticks, its
closing batch step — then the output checks. Every run of a workload
does the same work: ``--seconds`` is recorded but changes nothing, and
the lifecycle is sized to take about ``run_seconds`` of BENCHMARK.json.
The last stdout line is one JSON object: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
traced run (spans, Spark job groups and the Spark event log). Exits 1
when an operation or an output check fails, 2 when the program cannot
be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUPS = 3
WORKLOAD_NAMES = ("pos_month", "llm_curation")

END_TO_END = {
    "setup_s": "s",
    "lifecycle_s": "s",
    "peak_rss_mb": "MB",
}

# Span name -> the per-call statistics reported for it.
SPAN_STATS = {
    "sources.fetch_incremental": ("s",),
    "sources.state.read": ("s",),
    "sources.state.update": ("s", "jobs"),
    "operators.transform": ("s",),
    "operators.basket.fpgrowth": ("s", "jobs"),
    "lake.merge_and_overwrite": ("s", "jobs"),
    "lake.read_lake": ("calls",),
    "plans.run_production_etl": ("self_s",),
    "plans.daily_incremental_run": ("s", "self_s", "jobs"),
    "plans.monthly_report_data": ("s",),
    "plans.cumulative_report_data": ("s",),
    "plans.report.render_report": ("s", "jobs"),
    "plans.plots.generate_all_report_figures": ("s", "jobs"),
    "plans.report.convert_md_to_pdf": ("s",),
    "llm.curation_tick": ("s", "jobs"),
    "llm.materialize_training_set": ("s", "jobs"),
    "llm.minhash_lsh_candidates": ("s",),
    "llm.dedupe_corpus_cc": ("s", "jobs"),
    "llm.bpe_train": ("s", "jobs"),
    "llm.bpe_encode": ("s",),
}
# Span attributes reported as per-call medians.
SPAN_ATTRS = {
    "lake.bytes_written": ("lake.merge_and_overwrite", "bytes_written", "B"),
    "lake.files_written": ("lake.merge_and_overwrite", "files_written", "count"),
    "lake.write_amplification": ("lake.merge_and_overwrite", "write_amplification", "ratio"),
    "llm.curation_tick.keep_ratio": ("llm.curation_tick", "keep_ratio", "ratio"),
}
SPARK_LAYERS = ("sources", "operators", "lake", "plans", "llm")
SPARK_STATS = {
    "jobs": "count", "stages": "count", "tasks": "count", "task_cpu_s": "s",
    "task_run_s": "s", "cpu_util": "ratio", "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B", "spill_bytes": "B", "slowest_stage_skew": "ratio",
}
_STAT_UNITS = {"s": "s", "self_s": "s", "jobs": "count", "calls": "count"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    units = {
        "session.start_s": "s",
        "trace.tick_p50_s": "s",
        "trace.batch_s": "s",
        "trace.lifecycle_s": "s",
        "trace.inner_self_s": "s",
        "trace.entry_self_s": "s",
        "trace.outside_s": "s",
    }
    for span, stats in SPAN_STATS.items():
        for st in stats:
            units[f"{span}.{st}"] = _STAT_UNITS[st]
    for name, (_, _, unit) in SPAN_ATTRS.items():
        units[name] = unit
    for layer in SPARK_LAYERS:
        for st, unit in SPARK_STATS.items():
            units[f"spark.{layer}.{st}"] = unit
    return units


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """An eighth of the host's memory, between 1 and 4 GiB."""
    total_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
    return f"{max(1024, min(4096, total_kb // 8 // 1024))}m"


def peak_rss_mb(pids: list[int]) -> float:
    """Σ VmHWM (peak resident set) of the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def git_commit() -> str | None:
    """The checkout's commit, or None outside a git work tree."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def start_session(work: Path, cores: int, traced: bool):
    from pos_api_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if traced:
        (work / "eventlog").mkdir(exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = (work / "eventlog").as_uri()
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def layer_metrics(tracer, first_span: int, lifecycle: dict, groups: dict, cores: int,
                  session_start_s: float) -> dict[str, float]:
    import stats
    from spans import merge_groups, self_time, spark_metrics

    kids = tracer.children()
    spans = tracer.spans[first_span:]

    def descendants_jobs(sp) -> int:
        return sp.jobs + sum(descendants_jobs(k) for k in kids.get(sp.id, []))

    by_name: dict[str, list] = {}
    for sp in spans:
        by_name.setdefault(sp.name, []).append(sp)

    # The benchmark's own spans around its calls into the program are the
    # roots. Their self time is time inside an entry point that no inner
    # span names; time outside every root is the benchmark's own code.
    roots = [sp for sp in spans if sp.parent is None]
    lifecycle_s = sum(lifecycle["ticks_s"]) + lifecycle["batch_s"]
    entry_self = sum(self_time(sp, kids.get(sp.id, [])) for sp in roots)
    outside = lifecycle_s - sum(sp.end - sp.start for sp in roots)
    out = {
        "session.start_s": session_start_s,
        "trace.tick_p50_s": stats.median(lifecycle["ticks_s"]),
        "trace.batch_s": lifecycle["batch_s"],
        "trace.lifecycle_s": lifecycle_s,
        "trace.inner_self_s": lifecycle_s - entry_self - outside,
        "trace.entry_self_s": entry_self,
        "trace.outside_s": outside,
    }
    for name, wanted in SPAN_STATS.items():
        calls = by_name.get(name, [])
        for st in wanted:
            if st == "calls":
                v = float(len(calls))
            elif st == "s":
                v = stats.median([c.end - c.start for c in calls])
            elif st == "self_s":
                v = stats.median([self_time(c, kids.get(c.id, [])) for c in calls])
            else:
                v = stats.median([float(descendants_jobs(c)) for c in calls])
            out[f"{name}.{st}"] = v
    for metric, (name, attr, _) in SPAN_ATTRS.items():
        out[metric] = stats.median([c.attrs[attr] for c in by_name.get(name, []) if attr in c.attrs])
    for layer in SPARK_LAYERS:
        mine = [sp for sp in spans if sp.name.split(".")[0] == layer]
        wall = sum(self_time(sp, kids.get(sp.id, [])) for sp in mine)
        merged = merge_groups([groups.get(sp.group) for sp in mine])
        for st, v in spark_metrics(merged, wall, cores).items():
            out[f"spark.{layer}.{st}"] = v
    return out


def span_records(tracer, groups: dict, cores: int) -> list[dict]:
    from spans import self_time, spark_metrics

    kids = tracer.children()
    out = []
    for sp in tracer.spans:
        st = self_time(sp, kids.get(sp.id, []))
        out.append({
            "id": sp.id, "name": sp.name, "parent": sp.parent, "run": tracer.run_id,
            "start": sp.start, "end": sp.end, "self_s": st, "jobs": sp.jobs,
            "attrs": sp.attrs, "spark": spark_metrics(groups.get(sp.group), st, cores),
        })
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        import pyspark  # noqa: F401
        import pos_api_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2

    import stats
    from spans import Tracer, read_event_logs
    import workloads

    cores = host_cores()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = ROOT / ".perfbench" / run_id
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory()
    meta = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores, "loadavg_start": os.getloadavg(),
        "master": f"local[{cores}]", "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "pyspark": pyspark.__version__, "python": platform.python_version(),
        "git_commit": git_commit(),
    }

    traced = args.trace == 1
    tracer = Tracer(traced, run_id)
    workloads.instrument(tracer)
    attempted = failed = 0
    failures: list[str] = []
    setup_s: list[float] = []
    generate_s = 0.0
    session_start_s = 0.0
    lifecycle = {"ticks_s": [], "rows": [], "batch_s": 0.0}
    check_s = 0.0
    spark = wl = None
    try:
        t0 = time.perf_counter()
        given = workloads.WORKLOADS[args.workload].generate(args.seed, work)
        generate_s = time.perf_counter() - t0
        for i in range(SETUPS):
            t0 = time.perf_counter()
            if spark is None:
                spark = start_session(work, cores, traced)
                session_start_s = time.perf_counter() - t0
                tracer.bind(spark)
            if wl is not None:
                shutil.rmtree(wl.work, ignore_errors=True)
            wl = workloads.WORKLOADS[args.workload](given, work / f"setup{i}", tracer)
            wl.setup(spark)
            setup_s.append(time.perf_counter() - t0)

        first_span = len(tracer.spans)
        attempted += 1
        t0 = time.perf_counter()
        wl.open(spark)
        lifecycle["batch_s"] += time.perf_counter() - t0
        for _ in range(wl.TICKS):
            attempted += 1
            t0 = time.perf_counter()
            rows = wl.tick(spark)
            lifecycle["ticks_s"].append(time.perf_counter() - t0)
            lifecycle["rows"].append(rows)
        attempted += 1
        t0 = time.perf_counter()
        wl.close(spark)
        lifecycle["batch_s"] += time.perf_counter() - t0

        t0 = time.perf_counter()
        failures = wl.check(spark)
        check_s = time.perf_counter() - t0
        attempted += wl.checks_run
        failed += len(failures)
        rss = peak_rss_mb([os.getpid(), spark.sparkContext._jvm.ProcessHandle.current().pid()])
    except Exception:  # noqa: BLE001 — a failed operation is a result, not a crash
        traceback.print_exc()
        attempted = max(attempted, 1)
        failed += 1
        rss = 0.0
    finally:
        tracer.restore()
        if spark is not None:
            stop_session(spark)
    meta["loadavg_end"] = os.getloadavg()
    for msg in failures:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)

    ok = failed == 0
    ticks = lifecycle["ticks_s"]
    if ok and traced:
        groups = read_event_logs(work / "eventlog")
        metrics = layer_metrics(tracer, first_span, lifecycle, groups, cores, session_start_s)
        units = per_layer_units()
        trace_dir = ROOT / ".perfbench" / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        (trace_dir / f"{run_id}.json").write_text(json.dumps(
            {"meta": meta, "lifecycle": lifecycle, "metrics": metrics,
             "spans": span_records(tracer, groups, cores)}, indent=1))
    elif ok:
        metrics = {
            "setup_s": stats.median(setup_s),
            "lifecycle_s": sum(ticks) + lifecycle["batch_s"],
            "peak_rss_mb": rss,
        }
        units = END_TO_END
    else:
        metrics, units = {}, {}
    shutil.rmtree(work, ignore_errors=True)

    tail = stats.tail(ticks)
    n = len(ticks)
    print("perfbench-meta " + json.dumps(meta))
    print("perfbench-summary " + json.dumps({
        "generate_s": generate_s, "setups_s": setup_s, "ticks_s": ticks,
        "tick_p50_s": {"value": stats.median(ticks), "unit": "s", "n": n},
        "tick_tail_s": {"value": tail[1], "percentile": tail[0], "unit": "s", "n": n} if tail
        else {"value": None, "note": "fewer than 11 ticks", "n": n},
        "rows_per_s": {"value": sum(lifecycle["rows"]) / sum(ticks) if ticks else None,
                       "unit": "1/s", "n": n},
        "batch_s": {"value": lifecycle["batch_s"], "unit": "s", "n": 1},
        "lifecycle_s": {"value": sum(ticks) + lifecycle["batch_s"], "unit": "s", "n": 1},
        "check_s": check_s,
        "error_rate": failed / attempted if attempted else None,
    }))
    print(json.dumps({
        "correct": ok, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units if k in metrics},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
