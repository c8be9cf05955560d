"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

Runs one workload as a closed loop with one client in a single process with
one SparkSession at ``local[cores]``, checks every op's output, prints every
metric by name and unit, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics and writes
the span trace to ``.perfbench_work/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

SETUP_REPEATS = 3
TAIL_BEYOND = 10

END_TO_END = {  # name -> unit; the ones gated by BENCHMARK.json
    "setup_s": "s", "cpu_s.p50": "s", "peak_rss_mb": "MB",
}
# printed on every run, n/a where a workload has none. The op walls are not
# gated: on a shared host they move with the neighbours' load (README)
REPORTED = {
    "docs_per_s": "1/s", "op_s.p50": "s", "spans_per_s": "1/s", "op_s.tail": "s",
    "resume_s": "s", "write_amp": "ratio", "ops_failed_frac": "ratio",
}


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def tail(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ``TAIL_BEYOND`` samples above it,
    as (percentile, value); None when there are too few samples."""
    n = len(values)
    if n <= TAIL_BEYOND:
        return None
    k = n - TAIL_BEYOND - 1
    return 100.0 * (k + 1) / n, sorted(values)[k]


def timed(fn, *args) -> float:
    t = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t


def start_spark(app: str, n_cores: int, work: str):
    from samu_ocr_extraction_poc_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # Python workers import the package too, whatever the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # the package's session settings but for the heap, fixed at 2 GB: with
    # the package's 8 GB ceiling the JVM grows its heap as it likes, and peak
    # RSS varied 2.2-4.4 GB across seeds. -XX:-UsePerfData writes no
    # hsperfdata file outside the work directory
    return get_spark(app, cores=n_cores, extra_conf={
        "spark.driver.memory": "2g",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the driver launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run_op(wl, spark, i: int, traced: bool):
    """One op; one that raises counts as failed, like a wrong output. Its
    CPU time is that of the whole process tree while it ran."""
    import probes
    from workloads import OpResult

    spark.sparkContext.setJobGroup(f"op-{i}", wl.name)
    t0, cpu0 = time.perf_counter(), probes.tree_cpu_s(os.getpid())
    try:
        res = wl.op(spark, i, traced)
    except Exception:  # noqa: BLE001 - the loop keeps going and counts it
        res = OpResult(time.perf_counter() - t0, 0, ok=False, why=traceback.format_exc(limit=3))
    res.cpu_s = probes.tree_cpu_s(os.getpid()) - cpu0
    return res


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor; the benchmark's own tests run at a tiny scale")
    args = ap.parse_args(argv)

    # the package and the contract module come from the checkout; without
    # them there is nothing to measure, and the import error ends the run
    import layers
    import probes
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    n_cores = probes.cores()
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    meta = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "scale": args.scale, "nproc": len(os.sched_getaffinity(0)), "cores": n_cores,
        "loadavg_1m_start": probes.loadavg_1m(), "commit": git_commit(),
        "python": platform.python_version(), "closed_loop_clients": 1,
    }
    wl = WORKLOADS[args.workload](args.seed, work, args.scale)
    tracer = probes.Tracer(bool(args.trace))
    spark = None
    try:
        with probes.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_spark(f"perfbench-{args.workload}", n_cores, work)
            session_s = time.perf_counter() - t0
            meta["spark"] = spark.version

            # generation + materialization, repeated; the last copy is used
            gen_s = []
            for r in range(SETUP_REPEATS):
                out = os.path.join(work, f"input-{r}")
                t = time.perf_counter()
                wl.generate(spark, out)
                gen_s.append(time.perf_counter() - t)
                if r:
                    shutil.rmtree(os.path.join(work, f"input-{r - 1}"))
            t = time.perf_counter()
            run_op(wl, spark, -1, traced=False)
            cold_s = time.perf_counter() - t
            setup_s = session_s + statistics.median(gen_s) + cold_s
            # not set-up work: the JIT keeps warming for several more ops.
            # Meanwhile a second thread builds what every op is checked
            # against; the driver is mostly idle while an op runs
            with concurrent.futures.ThreadPoolExecutor(1) as pool:
                ref = pool.submit(timed, wl.reference, spark)
                t = time.perf_counter()
                for i in range(wl.warmup_ops):
                    run_op(wl, spark, -2 - i, traced=False)
                warm_s = time.perf_counter() - t
                ref_s = ref.result()

            ops, started = [], time.perf_counter()
            while True:
                # the traced run alternates traced and untraced ops, so the
                # difference of their medians is the tracing overhead
                traced = bool(args.trace) and len(ops) % 2 == 1
                if traced:
                    with tracer.span("op", index=len(ops)) as sid:
                        res = run_op(wl, spark, len(ops), traced)
                    res.stats = probes.job_stats(spark, res.jobs)
                    tracer.add_spark(sid, res.stats)
                else:
                    res = run_op(wl, spark, len(ops), traced)
                ops.append(res)
                if not res.ok:
                    print(f"op {len(ops) - 1} FAILED: {res.why}", file=sys.stderr)
                done = time.perf_counter() - started >= args.seconds
                if done and len(ops) >= (2 if args.trace else 1):
                    break

            per_layer = {}
            if args.trace:
                per_layer = layers.per_layer(spark, wl, ops, tracer, session_s)
        meta["loadavg_1m_end"] = probes.loadavg_1m()
    finally:
        if spark is not None:
            stop_spark(spark)
        probes.wait_for_children()
        shutil.rmtree(work, ignore_errors=True)

    walls = [o.wall_s for o in ops]
    failed = sum(not o.ok for o in ops)
    e2e = {
        "setup_s": setup_s,
        "cpu_s.p50": statistics.median(o.cpu_s for o in ops),
        "peak_rss_mb": rss.peak_mb,
    }
    tl = tail(walls)
    resume = [o.layers["resume.s"] for o in ops if "resume.s" in o.layers]
    amp = [o.layers["write.amp"] for o in ops if "write.amp" in o.layers]
    reported = {
        # at the median op: one op slowed by the host moves a mean, not this
        "docs_per_s": statistics.median(o.docs / o.wall_s for o in ops),
        "op_s.p50": statistics.median(walls),
        "spans_per_s": statistics.median(o.spans / o.wall_s for o in ops) if wl.n_spans else None,
        "op_s.tail": tl[1] if tl else None,
        "resume_s": statistics.median(resume) if resume else None,
        "write_amp": statistics.median(amp) if amp else None,
        "ops_failed_frac": failed / len(ops),
    }

    print(f"# perfbench {json.dumps(meta)}")
    print(f"# setup: session {session_s:.3f} s, generate+materialize median of "
          f"{SETUP_REPEATS} {statistics.median(gen_s):.3f} s, first op {cold_s:.3f} s; "
          f"then {wl.warmup_ops} unmeasured warm-up ops {warm_s:.3f} s, "
          f"the reference alongside them {ref_s:.3f} s")
    print(f"# ops: {len(ops)} attempted, {failed} failed; op_s.p50 over {len(ops)} ops; "
          + (f"op_s.tail is p{tl[0]:.1f} ({TAIL_BEYOND} ops beyond it)" if tl else
             f"op_s.tail n/a (needs more than {TAIL_BEYOND} ops)"))
    print("# op walls (s): " + " ".join(f"{w:.3f}" for w in walls))
    print("# op CPU, process tree (s): " + " ".join(f"{o.cpu_s:.2f}" for o in ops))
    for name, value in e2e.items():
        print(f"{name:<44} {value:>16.6f} {END_TO_END[name]}")
    for name, value in reported.items():
        shown = f"{value:>16.6f}" if value is not None else f"{'n/a':>16}"
        print(f"{name:<44} {shown} {REPORTED[name]}")
    if args.trace:
        for name, (value, unit) in per_layer.items():
            print(f"{name:<44} {value:>16.6f} {unit}")
        os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
        trace_path = os.path.join(work_root, "traces", f"{args.workload}-s{args.seed}.json")
        tracer.write(trace_path, {"meta": meta, "metrics": {k: v for k, (v, _) in per_layer.items()}})
        print(f"# trace written to {os.path.relpath(trace_path, ROOT)}")

    metrics = ({k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()} if args.trace else
               {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()})
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
