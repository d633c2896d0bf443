"""Record-linkage benchmark: one workload, one seed, one JSON result line.

    python3 linkbench/run.py --workload link_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout that holds ``record_linkage_spark``.
The run starts Spark on ``local[<usable cpus>]``, builds the workload's
inputs from ``--seed`` and runs one untimed warm-up op (``setup_s``),
times ops until their summed wall time reaches ``--seconds``, checks
the outputs untimed, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` enables the
Spark event log, traces every op, and reports the per-layer metrics;
the spans go to ``.bench_out/traces/``. Everything the run writes stays under
``.bench_out/`` in the checkout. The exit code is 1 when a check fails
and 2 when the checkout has no engine to run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LAYERS = (
    "checkpoints",
    "rollup",
    "blocking",
    "scoring",
    "clustering",
    "survivorship",
    "evaluate",
    "streaming.link",
    "streaming.entities",
)
SKEW_LAYERS = ("rollup", "blocking")


def _driver_mem() -> str:
    """An eighth of physical memory, capped at 1.5 GiB: ``get_spark``
    defaults to 16g, more than a small box has."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(768, min(1536, total_kb // 8192))}m"


def _configure_env(out: str) -> dict[str, str]:
    """Environment and Spark conf that keep the run inside ``out``.
    PYTHONPATH lets Python UDF workers import the engine from any
    working directory."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_DRIVER_MEM"] = _driver_mem()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM; the driver JVM gets the same flags below
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(out, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every process this run started has exited."""
    from pyspark import SparkContext

    from spans import descendant_pids

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendant_pids(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendant_pids(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _layer_metrics(spans: list[dict], n_ops: int) -> dict[str, dict]:
    """Per-layer metrics from attributed spans. Times are the median over
    timed ops of each op's summed spans; counts come from the first
    timed op, so they repeat exactly for a seed. A layer no op enters
    reports its set-up and check spans instead (counts from the first),
    and zero if it has none."""
    from spans import task_skew

    def group(ss: list[dict]) -> dict:
        stage_run_s: dict = {}
        for s in ss:
            for sid, r in s.get("stage_run_s", {}).items():
                stage_run_s.setdefault(sid, []).extend(r)
        return {
            "wall_s": sum(s["end"] - s["start"] for s in ss),
            "jvm_cpu_s": sum(s["jvm_cpu_s"] for s in ss),
            "py_cpu_s": sum(s["py_cpu_s"] for s in ss),
            "jobs": sum(s["jobs"] for s in ss),
            "shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in ss) / 2**20,
            "rows_out": sum(s["rows_out"] for s in ss),
            "task_skew": task_skew(stage_run_s),
        }

    units = {
        "wall_s": "s",
        "jvm_cpu_s": "s",
        "py_cpu_s": "s",
        "jobs": "count",
        "shuffle_write_mb": "MB",
        "rows_out": "count",
        "task_skew": "ratio",
    }
    out = {}
    for layer in LAYERS:
        mine = [s for s in spans if s["name"] == layer]
        in_ops = ([s for s in mine if s["phase"] == "op" and s["op"] == i] for i in range(1, n_ops + 1))
        groups = [g for g in in_ops if g]
        if not groups:
            # one group per set-up or check occurrence, in order
            groups = [[s] for s in mine if s["phase"] != "op"] or [[]]
        vals = [group(g) for g in groups]
        for key, unit in units.items():
            if key == "task_skew" and layer not in SKEW_LAYERS:
                continue
            if unit == "s" or key == "task_skew":
                v = statistics.median(x[key] for x in vals)
            else:
                v = vals[0][key]
            out[f"{layer}.{key}"] = {"value": v, "unit": unit}
    return out


def run(workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, int]:
    tag = f"{workload}-seed{seed}-{os.getpid()}"
    out = os.path.join(ROOT, ".bench_out", tag)
    conf = _configure_env(out)
    events = os.path.join(out, "events")
    if trace:
        os.makedirs(events)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
            }
        )
    sys.path.insert(0, ROOT)
    from record_linkage_spark.session import get_spark

    import spans as sp
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = get_spark(f"linkbench-{workload}", extra_conf=conf)
    tracer = sp.Tracer(trace, os.getpid())
    wl = WORKLOADS[workload](spark, tracer, out, seed)
    errors: list[str] = []
    durations: list[float] = []
    items = failed = 0
    f1 = None
    try:
        with sp.MemorySampler(os.getpid()) as mem:
            wl.setup()
            setup_s = time.perf_counter() - t0
            print(f"set-up: {setup_s:.1f} s", file=sys.stderr, flush=True)
            while wl.has_next() and sum(durations) < seconds:
                tracer.phase, tracer.op = "op", len(durations) + 1
                dt = None
                t = time.perf_counter()
                try:
                    n, counts = wl.op()
                    dt = time.perf_counter() - t
                    # checks run outside the timed op
                    tracer.phase = "check"
                    wl.check_op(counts)
                    if f1 is None:
                        f1 = wl.quality()
                    items += n
                except Exception:
                    failed += 1
                    errors.append(traceback.format_exc())
                durations.append(dt if dt is not None else time.perf_counter() - t)
            print(f"timed ops: {[round(d, 2) for d in durations]} s", file=sys.stderr)
        tracer.phase = "check"
        try:
            if f1 is not None:
                wl.final_check(f1)
        except Exception:
            errors.append(traceback.format_exc())
    finally:
        _stop_spark(spark)

    op_p50_s = statistics.median(durations)
    if trace:
        jobs, tasks = sp.read_event_log(events)
        sp.attribute_jobs(tracer.spans, jobs, tasks)
        metrics = _layer_metrics(tracer.spans, len(durations))
        # the tracing overhead is this minus op_p50_s of untraced runs
        metrics["trace.op_p50_s"] = {"value": op_p50_s, "unit": "s"}
        trace_dir = os.path.join(ROOT, ".bench_out", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, tag + ".json"), "w") as f:
            json.dump({"spans": tracer.spans, "op_s": durations}, f, default=str)
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_p50_s": {"value": op_p50_s, "unit": "s"},
            "items_per_s": {"value": items / sum(durations), "unit": "1/s"},
            "pairwise_f1": {"value": f1 or 0.0, "unit": "ratio"},
            "peak_rss_mb": {"value": mem.peak_bytes / 2**20, "unit": "MB"},
        }
    shutil.rmtree(out, ignore_errors=True)
    for e in errors:
        print(e, file=sys.stderr)
    correct = not errors
    return {
        "correct": correct,
        "attempted": len(durations),
        "failed": failed,
        "metrics": metrics,
    }, 0 if correct else 1


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["link_batch", "stream_waves"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "record_linkage_spark")):
        print(
            f"no record_linkage_spark package under {ROOT}: "
            "run the benchmark from the root of a full checkout",
            file=sys.stderr,
        )
        sys.exit(2)
    result, code = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    sys.exit(code)


if __name__ == "__main__":
    main()
