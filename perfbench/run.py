#!/usr/bin/env python3
"""The repository benchmark: one process, one closed-loop client.

    python3 perfbench/run.py --workload kg_cold_build --seed 1 --seconds 15 --trace 0

Workloads (see BENCHMARK.json for why each exists): kg_cold_build and
curation_scan, defined in perfbench/workloads.py. A run generates (or reuses)
its seeded inputs under .perfbench/inputs, starts Spark as local[nproc] with
the program's own session defaults, warms up, then repeats the workload's
operation until --seconds have passed, checking every operation's output
outside the timer.

Standard output: a human-readable report (every metric by name, with its
unit and sample count, plus the run's context), then one JSON line with
`correct`, `attempted`, `failed` and `metrics`. --trace 0 reports the
end-to-end metrics; --trace 1 runs traced and untraced operations in
ABBA order (spans around each layer's public functions, Spark event log
with one job group per span) and reports the per-layer metrics. Everything the program,
the JVM and the libraries print goes to standard error.
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
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def set_environment(run_dir: str) -> None:
    """Program defaults only: drop every SPARK_GRAFT_* tuning override the
    caller's environment may carry, keep temporary files in the checkout,
    and let Python workers import the program from the checkout."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # shuffle and spill files stay in the checkout too (the program's
    # default is /dev/shm; SPARK_LOCAL_DIRS would override both)
    local = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def start_spark(nproc: int, run_dir: str, event_log: str | None):
    from robokop_build_spark.session import get_spark

    # JVM temporary files in the checkout; no hsperfdata file in /tmp
    java_opts = f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
    conf = {"spark.driver.extraJavaOptions": java_opts}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log}",
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stops the session, then the JVM (which takes its Python workers
    with it), and waits for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def versions(spark_version: str) -> dict:
    import duckdb
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "spark": spark_version,
        "duckdb": duckdb.__version__,
    }


def result_line(ops, metrics: dict) -> dict:
    """The result line: a failed or wrong-output op counts as failed."""
    failed = sum(not r.ok for r in ops)
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}


def run(args, out) -> int:
    from perfbench import measure, report, tracing
    from perfbench.workloads import WORKLOADS

    t_process = measure.process_start_monotonic()
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    W = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    set_environment(run_dir)
    try:
        t0 = time.monotonic()
        inp = W.prepare(ROOT, os.path.join(WORK, "inputs"), args.seed)
        gen_s = time.monotonic() - t0
        # the generated oracle twins read this run's own input tables
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = inp.get("tables_dir") or inp["fixture_dir"]

        nproc = len(os.sched_getaffinity(0))
        t0 = time.monotonic()
        cal_pre = measure.calibrate(nproc)
        cal_s = time.monotonic() - t0

        rss = measure.RssSampler().start()
        t0 = time.monotonic()
        event_log = os.path.join(run_dir, "eventlog") if args.trace else None
        spark = start_spark(nproc, run_dir, event_log)
        session_s = time.monotonic() - t0
        spark_version = spark.version
        try:
            wl = W(spark, inp, os.path.join(run_dir, "work"))
            t0 = time.monotonic()
            wl.setup()
            warmup_s = time.monotonic() - t0

            tracer = patches = None
            if args.trace:
                tracer = tracing.Tracer(spark.sparkContext)
                if args.workload == "kg_cold_build":
                    patches = tracing.install_kg_spans(tracer)
            setup_s = time.monotonic() - t_process - gen_s - cal_s

            ops = []
            t_loop = time.monotonic()
            while True:
                # ABBA order (traced, untraced, untraced, traced): with two
                # ops the traced one runs first after warm-up, so warm-up
                # drift can only overstate the tracing overhead
                traced = bool(args.trace) and len(ops) % 4 in (0, 3)
                res = wl.op(len(ops), tracer if traced else None)
                if res.error:
                    print(f"[perfbench] op {len(ops)} failed: {res.error}", file=sys.stderr)
                ops.append((traced, res))
                if time.monotonic() - t_loop >= args.seconds and (
                    not args.trace or len(ops) >= 2
                ):
                    break
            if patches is not None:
                patches.undo()
            verified = wl.verify()
            if not verified:
                for _, res in ops:
                    res.ok, res.rows = False, 0
        finally:
            peak_rss_mb = rss.stop()
            stop_spark(spark)
        cal_post = measure.calibrate(nproc)

        branches = {
            k: dict(Counter(r.detail[k] for _, r in ops if k in r.detail))
            for k in ("intermediates", "cc")
        }
        result = {
            "ops": ops,
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss_mb,
            "phases": {
                "session.start_s": session_s,
                "warmup_s": warmup_s,
                "datagen.gen_s": gen_s,
                "calibration.pre_miter_s": cal_pre,
                "calibration.post_miter_s": cal_post,
            },
        }
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": nproc,
            "master": f"local[{nproc}]",
            "calibration_miter_s": {"pre": cal_pre, "post": cal_post},
            **versions(spark_version),
            "inputs": {k: os.path.relpath(v, ROOT) for k, v in inp.items() if isinstance(v, str)},
            "branches": {k: v for k, v in branches.items() if v},
        }
        if args.workload == "curation_scan":
            context["ivf_cache"] = (
                "IVF parameters trained and calibrated in setup (file cache in "
                "inputs.ivf_dir); every timed ann_ivf_topk reuses them"
            )
        print(f"context: {json.dumps(context)}", file=out)
        for i, (traced, r) in enumerate(ops):
            detail = {k: v for k, v in r.detail.items() if k == "query_s"}
            print(
                f"op {i}: {'traced' if traced else 'untraced'} {r.wall_s:.6g} s "
                f"{'ok' if r.ok else 'FAILED'} {json.dumps(detail)}",
                file=out,
            )

        attempted = len(ops)
        failed = sum(not r.ok for _, r in ops)
        e2e = report.end_to_end(result)
        for name, unit in report.END_TO_END:
            value, note = e2e[name]
            print(f"metric {name} = {value:.6g} {unit} ({note})", file=out)
        print(
            f"metric failed_frac = {failed / attempted:.6g} 1 ({failed} of n={attempted} failed)",
            file=out,
        )
        # not gated: with the program's 48g heap default the JVM's resident
        # size swings by a quarter between identical runs
        print(
            f"metric peak_rss_mb = {peak_rss_mb:.6g} MB (max of {rss.samples} samples)",
            file=out,
        )
        if args.trace:
            groups = tracing.parse_event_log(event_log)
            layers = report.per_layer(result, tracer.spans, groups)
            n_traced = sum(t for t, _ in ops)
            for name, unit in report.PER_LAYER:
                print(
                    f"layer {name} = {layers[name]:.6g} {unit} (median of n={n_traced} traced ops)",
                    file=out,
                )
            selfs = tracing.self_times(tracer.spans)
            print(
                f"trace: {len(tracer.spans)} spans; layer self times sum to "
                f"{layers['trace.self_sum_s']:.6g} s of {layers['trace.op_wall_s']:.6g} s "
                f"traced op wall; min self time {min(selfs, default=0):.6g} s; overhead "
                f"{layers['trace.overhead_s']:+.6g} s against the untraced ops' "
                f"{layers['trace.untraced_op_wall_s']:.6g} s",
                file=out,
            )
            trace_file = os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
            )
            tracer.dump(trace_file)
            print(f"trace: spans written to {os.path.relpath(trace_file, ROOT)}", file=out)
            metrics = {n: {"value": layers[n], "unit": u} for n, u in report.PER_LAYER}
        else:
            metrics = {n: {"value": e2e[n][0], "unit": u} for n, u in report.END_TO_END}
        out.write(json.dumps(result_line([r for _, r in ops], metrics)) + "\n")
        out.flush()
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "robokop_build_spark", "__init__.py")):
        print(
            "perfbench: the program (robokop_build_spark/) is not in this checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import measure

    measure.become_subreaper()
    # the report owns standard output; whatever else is printed to fd 1
    # (JVM, Python workers, libraries) is sent to standard error
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    try:
        return run(args, out)
    finally:
        # no process this run started outlives it
        measure.reap_children()
        out.close()


if __name__ == "__main__":
    sys.exit(main())
