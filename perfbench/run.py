#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones (``END_TO_END``);
with ``--trace 1`` they are the per-layer ones (``PER_LAYER``), and the
run also writes its spans under ``.perfbench-work/traces/``. Lines
before the last carry evidence: the host fingerprint with a CPU probe
before and after, and a summary under the names the workload's README
section uses. Every output that disagrees with its oracle counts as a
failed operation.

Exit status is 0 when the run completed (whatever ``correct`` says),
2 when the engine cannot be found next to this directory, 1 on any
other error; in both error cases no result line is printed.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench-work")
WORKLOAD_NAMES = ("cdc_trickle", "cdc_drain", "query_roster")


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    return args


def _live_heap_mb(spark) -> float:
    """Driver JVM heap in use right after a full collection."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit
    (it exits when its stdin closes; Python workers die with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("olr_cdc_oracle_no_dbz_spark") is None:
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d))
    # everything the run writes stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()
    try:
        return _run(args, work)
    except Exception:  # noqa: BLE001 - report and exit without a result
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args: argparse.Namespace, work: str) -> int:
    from olr_cdc_oracle_no_dbz_spark.session import get_spark
    from perfbench import host, workloads
    from perfbench import trace as tr
    from perfbench.spec import END_TO_END, PER_LAYER

    fp = host.fingerprint()
    if fp["cpus_mismatch"]:
        print(
            f"perfbench: warning: SPARK_GRAFT_CPUS={fp['spark_graft_cpus']} "
            f"but nproc={fp['nproc']}; the session uses local[{fp['nproc']}]",
            file=sys.stderr,
        )
    probe_before = host.cpu_probe_s()
    conf = {
        # no hsperfdata file under /tmp: the JVM writes nothing outside
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    tracer = None
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
        tracer = tr.Tracer()
        tracer.context = {"workload": args.workload, "seed": args.seed}

    with host.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark(
            f"perfbench-{args.workload}", master=f"local[{fp['nproc']}]", extra_conf=conf
        )
        session_start_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        restore = tr.install(tracer) if tracer is not None else None
        try:
            ctx = workloads.Ctx(spark, work, args.seed, args.seconds, session_start_s, tracer)
            res = workloads.WORKLOADS[args.workload](ctx)
            res.summary["heap_live_mb"] = (_live_heap_mb(spark), "MB")
        finally:
            if restore is not None:
                restore()
            _stop_spark(spark)
    probe_after = host.cpu_probe_s()
    res.summary["peak_rss_mb"] = (rss.peak_kb / 1024.0, "MB")

    if tracer is not None:
        log = tr.event_log_file(os.path.join(work, "eventlog"))
        if res.finish is not None and log is not None:
            res.finish(tr.parse_event_log(log))
        violations = tr.self_time_violations(tracer.spans)
        res.check(violations == 0, f"{violations} spans' children outlast them")
        res.layers["trace.self_time_violations"] = (violations, "count")
        res.layers["session.start_s"] = (session_start_s, "s")
        traces = os.path.join(WORK_ROOT, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.spans.jsonl"))

    for note in res.notes:
        print(f"perfbench: {note}", file=sys.stderr)
    print(json.dumps({
        "host": fp,
        "cpu_probe_s": {"before": probe_before, "after": probe_after},
    }))
    summary = {k: {"value": v, "unit": u} for k, (v, u) in res.summary.items()}
    summary["failed_share"] = {
        "value": res.failed / res.attempted if res.attempted else 1.0, "unit": "ratio"
    }
    print(json.dumps({"workload": args.workload, "seed": args.seed, "summary": summary}))
    wanted, values = (PER_LAYER, res.layers) if args.trace else (END_TO_END, res.metrics)
    metrics = {
        name: {"value": float(values.get(name, (0.0, unit))[0]), "unit": unit}
        for name, unit in wanted
    }
    print(json.dumps({
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": max(res.attempted, 1),
        "failed": res.failed if res.attempted else 1,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
