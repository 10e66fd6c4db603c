"""Point-cloud store benchmark: LAS ingest, window-query mix, append beside query.

Usage (from the repository root):

    python3 perfbench/run.py --workload window_mix --seed 1 --seconds 12 --trace 0

Generates seeded inputs under ``.bench_work/``, starts Spark through the
library's own ``build_session``, runs one workload for ``--seconds``,
checks every result against the numpy oracle and prints a summary
followed by one JSON line: ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` reports its per-layer metrics and
writes the spans to ``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
from time import perf_counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _rss_peak_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    # Python workers import the library from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def _stop(spark) -> None:
    """Stop Spark, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        from lasdb_spark.cli.runner import build_session
    except ImportError as exc:
        print(f"perfbench: the library is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import gen
    import workloads
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _isolate(work)
    nproc = len(os.sched_getaffinity(0))
    try:
        inputs = gen.generate(os.path.join(work, "inputs"), args.seed, **workloads.SIZES)
        t0 = perf_counter()
        spark = build_session("perfbench", cpus=nproc)
        session_s = perf_counter() - t0
        try:
            spark.sparkContext.setLogLevel("ERROR")
            tracer = Tracer(spark.sparkContext, bool(args.trace))
            ctx = workloads.Ctx(spark, work, inputs, tracer, args.seconds, args.seed, nproc)
            workloads.WORKLOADS[args.workload](ctx)
            rss = (_rss_peak_mb(os.getpid()), _rss_peak_mb(spark.sparkContext._gateway.proc.pid))
        finally:
            _stop(spark)
    finally:
        shutil.rmtree(os.path.join(work), ignore_errors=True)

    if args.trace:
        trace_dir = os.path.join(ROOT, ".bench_work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        spans_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl")
        tracer.write(spans_path)
        values = ctx.layer
        specs = spec["per_layer"]
    else:
        values = workloads.end_to_end(ctx)
        specs = spec["end_to_end"]

    out = sys.stdout
    print(f"# workload {args.workload}  seed {args.seed}  seconds {args.seconds:g}  "
          f"trace {args.trace}  cores {nproc}", file=out)
    print(f"# inputs: {len(inputs.las_points)} points in {len(inputs.las_paths)} LAS tiles "
          f"({inputs.las_bytes} B); re-survey tiles of {workloads.SIZES['resurvey_pts']} points",
          file=out)
    print(f"# session start {session_s:.2f} s; set-ups {[round(s, 3) for s in ctx.setup_s]} s; "
          f"peak RSS python {rss[0]:.0f} MB + JVM {rss[1]:.0f} MB", file=out)
    for kind in sorted({op.kind for op in ctx.ops}):
        ms = [op.seconds * 1e3 for op in ctx.ops if op.kind == kind]
        print(f"#   {kind:>8}: n={len(ms):3d}  p50={workloads._pct(ms, 50):9.1f} ms  "
              f"max={max(ms):9.1f} ms", file=out)
    print(f"# ops timed {len(ctx.ops)}; failed_frac {ctx.failed / max(ctx.attempted, 1):.4f} "
          f"({ctx.failed}/{ctx.attempted})", file=out)
    if ctx.known_defect is not None:
        ok, outcome = ctx.known_defect
        print(f"# post_compaction_append (known defect, not in the JSON counts): {outcome}; "
              f"failed_frac counting it {(ctx.failed + (not ok)) / (ctx.attempted + 1):.4f} "
              f"({ctx.failed + (not ok)}/{ctx.attempted + 1})", file=out)
    for name, value in ctx.named.items():
        print(f"# {name}: {value}", file=out)
    for note in ctx.notes[:20]:
        print(f"# {note}", file=out)
    if args.trace:
        for name, secs in sorted(tracer.self_times().items(), key=lambda kv: -kv[1]):
            if not name.startswith("op."):  # op roots only wrap layer calls
                print(f"# self time {name}: {secs:.3f} s", file=out)
        print(f"# spans written to {os.path.relpath(spans_path, ROOT)}", file=out)

    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                    for m in specs},
    }
    print(json.dumps(result), file=out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
