"""img-spark benchmark: one run of one workload.

    python3 perfbench/run.py --workload crawl_table --seed 1 --seconds 6 --trace 0

Run from the repository root. Starts one local Spark session at
local[max(1, nproc // 2)], builds the workload's seeded inputs, warms
up, then runs the workload's operations in a closed loop (one client:
this process) until ``--seconds`` of timed work is done, checking every
operation's output. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``; spans
also go to ``.perfbench_out/trace-<workload>-<seed>.json``).
Everything the run writes lives under ``.perfbench_work/`` and is
removed at exit. See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
INPUT_REPEATS = 3
WALL_LIMIT_S = 120          # no new operation after this; exit by 180 s


class Context:
    """What a workload needs from the run: the session, its seed and
    work dir, the tracer and the counters."""

    def __init__(self, spark, seed, work, cores, tracer, counters):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.cores = cores
        self.tracer = tracer
        self._counters = counters
        self.jvm_pid = spark.sparkContext._gateway.proc.pid

    def counters(self, group: str):
        if self._counters is None:
            return contextlib.nullcontext({})
        return self._counters.measure(group)

    def proc_cpu(self) -> dict:
        from tracing import descendants, split_by_kind

        return split_by_kind(descendants(os.getpid()), self.jvm_pid)


def start_session(work: str, cores: int):
    from pyspark.sql import SparkSession

    from img_spark.plans.session import engine_defaults

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata files under /tmp from the launcher or driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"),
                      "-XX:-UsePerfData"]))
    builder = engine_defaults(
        SparkSession.builder.appName("img-spark-perfbench")
        .master(f"local[{cores}]"), cores)
    spark = (
        builder
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until it and every Python worker
    it forked have exited."""
    from tracing import descendants

    children = set(descendants(os.getpid()))
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()      # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        alive = [p for p in children if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        with contextlib.suppress(OSError):
            os.kill(p, signal.SIGKILL)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def closed_loop(wl, seconds: float, deadline: float) -> tuple:
    """One operation at a time, each checked before the next starts.
    Operations start until their summed time reaches ``seconds``, so a
    run measures at least ``seconds`` of work.
    Returns (records, attempted, failed)."""
    records, attempted, failed, timed, streak = [], 0, 0, 0.0, 0
    while streak < 3 and time.perf_counter() < deadline and timed < seconds:
        attempted += 1
        try:
            rec = wl.run_op()
        except Exception:
            traceback.print_exc()
            failed += 1
            streak += 1
            wl.recover()
            continue
        streak = 0
        timed += rec.batch_s
        wl.ctx.tracer.count(f"{wl.name}.units", rec.units)
        if rec.errors:
            failed += 1
            print(f"check failed: {rec.errors}", file=sys.stderr)
        records.append(rec)
    return records, attempted, failed


def run(args, work: str) -> dict:
    sys.path[:0] = [HERE, ROOT]
    # Python workers import the engine and this directory's modules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [HERE, ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    import layers
    from tracing import (
        JvmCounters, RssSampler, Tracer, host_cpu, jvm_times, steal_share,
    )
    from workloads import SIZES, WORKLOADS

    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tracer = Tracer(bool(args.trace))
    t_start = time.perf_counter()
    with tracer.span("session.start"):
        spark = start_session(work, cores)
    session_s = time.perf_counter() - t_start
    try:
        counters = JvmCounters(spark) if args.trace else None
        ctx = Context(spark, args.seed, work, cores, tracer, counters)
        with RssSampler(ctx.jvm_pid) as rss:
            wl = WORKLOADS[args.workload](
                ctx, SIZES[args.workload][args.size])
            # inputs are rebuilt INPUT_REPEATS times (same seed, same
            # bytes) and the median taken; the session start and the
            # warm-up happen once, so setup_s is their sum
            input_s = []
            for _ in range(INPUT_REPEATS):
                t0 = time.perf_counter()
                with tracer.span("setup.inputs"):
                    wl.build_inputs()
                input_s.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            with tracer.span("setup.warmup"):
                wl.prepare()
                wl.warmup()
            warm_s = time.perf_counter() - t0
            setup_s = session_s + _median(input_s) + warm_s

            cpu0, host0, jvm0 = ctx.proc_cpu(), host_cpu(), jvm_times(spark)
            records, attempted, failed = closed_loop(
                wl, args.seconds, t_start + WALL_LIMIT_S)
            cpu1, host1, jvm1 = ctx.proc_cpu(), host_cpu(), jvm_times(spark)
            timed = sum(r.batch_s for r in records)
            ok = [r for r in records if not r.errors]
            work_per_s = (sum(r.units for r in ok)
                          / max(sum(r.batch_s for r in ok), 1e-9))
            batch_p50 = _median([r.batch_s for r in ok])
            per_layer = layers.all_layers(ctx, wl, records) \
                if args.trace else {}
        info = {"workload": args.workload, "seed": args.seed,
                "wall_s": round(time.perf_counter() - t_start, 1),
                "operations": attempted, "failed": failed,
                "failed_ratio": failed / max(attempted, 1),
                "batch_samples": len(ok), "timed_s": round(timed, 3),
                "batch_s": [round(r.batch_s, 3) for r in records],
                "cores": cores,
                "peak_mb": {k: round(v) for k, v in rss.peak.items()},
                "loop_cpu_s": {k: round(cpu1[k] - cpu0[k], 2)
                               for k in ("jvm_cpu", "py_cpu")},
                "loop_steal": round(steal_share(host0, host1), 4),
                "loop_jvm_s": {k: round(jvm1[k] - jvm0[k], 2) for k in jvm0},
                "setup_parts_s": {"session": round(session_s, 2),
                                  "inputs": round(_median(input_s), 2),
                                  "warmup": round(warm_s, 2)}}
        info.update(getattr(wl, "info", lambda: {})())
        print("perfbench " + json.dumps(info))
    finally:
        stop_session(spark)
    if args.trace:
        tracer.write(os.path.join(
            ROOT, ".perfbench_out",
            f"trace-{args.workload}-{args.seed}.json"))
        metrics = {
            "session.start_s": (session_s, "s"),
            **per_layer,
            "peak_rss_mb": (rss.peak["total"], "MB"),
            "jvm_rss_mb": (rss.peak["jvm"], "MB"),
            "py_worker_rss_mb": (rss.peak["py"], "MB"),
            "traced.work_per_s": (work_per_s, "1/s"),
            "traced.batch_p50_s": (batch_p50, "s"),
            "traced.spans": (len(tracer.spans), "count"),
        }
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "work_per_s": (work_per_s, "1/s"),
            "batch_p50_s": (batch_p50, "s"),
        }
    return {
        "correct": failed == 0 and bool(ok),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("crawl_table", "curate_corpus"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: self-test inputs only, not a measurement")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "img_spark", "plans",
                                       "crawl.py")):
        print(f"perfbench: no img_spark engine under {ROOT}; run from the "
              "repository root", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
