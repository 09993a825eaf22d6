"""bikidata_spark benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload <batch|serve_tier>
        --seed N --seconds S --trace <0|1>

Run it from the repository root. The first run in a tree, and the first
after a change to the program or the benchmark, builds the shared inputs
in a process of its own under ``.perfbench_work/cache/``. Each run then
draws its own inputs from the seed under ``.perfbench_work/`` (removed
at the end), measures for about ``--seconds`` seconds, checks every
answer, and prints one JSON object as the last line of standard output:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``, names and units as ``BENCHMARK.json`` declares them. A
detail line with every figure the run computed precedes it. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
DRIVER_MEM = "3g"


def _hwm_mb(pid) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _isolate(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["BIKIDATA_SPARK_DRIVER_MEM"] = DRIVER_MEM
    import tempfile

    tempfile.tempdir = str(tmp)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _prepare(root: Path, cache: Path, scale: float) -> None:
    """Build the inputs in a process of its own, so the measured process
    starts as cold, and as small, as when the inputs exist."""
    import workloads
    from bikidata_spark.session import get_spark

    work = root / ".perfbench_work" / f"prepare-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    spark = get_spark("perfbench-prepare")
    try:
        workloads.prepare(spark, cache, scale)
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("batch", "serve_tier"))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="corpus scale instead of workloads.SCALE (smoke tests)")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="corrupt the expected answers (smoke test of the checks)")
    ap.add_argument("--prepare-only", action="store_true",
                    help="only build the cached inputs (run by the benchmark itself)")
    args = ap.parse_args()
    if not args.prepare_only and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    root = Path.cwd()
    if not (root / "bikidata_spark" / "__init__.py").is_file():
        print(f"perfbench: no bikidata_spark package under {root}; run from the repo root",
              file=sys.stderr)
        return 2
    bench = json.loads((root / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(root))

    import workloads

    scale = workloads.SCALE if args.scale is None else args.scale
    cache = workloads.cache_dir(root, scale)
    if args.prepare_only:
        _prepare(root, cache, scale)
        return 0
    if not cache.is_dir():
        cmd = [sys.executable, str(HERE / "run.py"), "--prepare-only", "--scale", str(scale)]
        subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=870)

    work = root / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)

    def _timeout(*_):
        raise TimeoutError("benchmark run exceeded its time limit")

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(170)

    from bikidata_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        ctx = workloads.Ctx(spark, work, cache, args.seed, args.seconds, bool(args.trace),
                            args.corrupt_expected)
        workloads.WORKLOADS[args.workload](ctx)
        ctx.layer["session.start_s"] = session_s
        if args.trace:
            ctx.record_spans()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = {"python": _hwm_mb("self"), "jvm": _hwm_mb(jvm_pid)}
    finally:
        signal.alarm(0)
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    ctx.e2e["setup_s"] = statistics.median(ctx.setup_s)
    ctx.layer["bench.setup_wall_s"] = statistics.median(ctx.setup_wall_s)
    ctx.layer["session.jvm_rss_mb"] = rss["jvm"]
    section, values = ("per_layer", ctx.layer) if args.trace else ("end_to_end", ctx.e2e)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "scale": scale, "session_s": session_s, "peak_rss_mb": rss,
        "setup_reps_cpu_s": ctx.setup_s, "setup_reps_wall_s": ctx.setup_wall_s,
        "end_to_end": ctx.e2e, "per_layer": ctx.layer, "failures": ctx.failures, **ctx.detail,
    }
    report = root / ".perfbench_work" / f"report-{args.workload}-{args.seed}-{args.trace}.json"
    report.write_text(json.dumps(detail, indent=1, default=str))
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in bench[section]},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
