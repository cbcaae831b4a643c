"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload tc-layout --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. It generates the workload's input from
``--seed``, starts Spark ``local[2]`` on the checkout's
``trianglecounting_spark`` package, warms up, ingests, repeats the timed
query for ``--seconds`` seconds, stops Spark, checks every result against
``oracle.py`` and prints ``{"correct", "attempted", "failed", "metrics"}``
as the last line of standard output. ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer ones and writes the spans to
``perfbench/out/``. Scratch files live under ``perfbench/.work/`` and are
removed on exit. See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# Two task slots on a 4-vCPU host. Every Spark job ends at a barrier across
# its tasks, so with a slot on every vCPU a stall of any one of them (JIT,
# GC, the Python driver, the host) stalls the job; both workloads run many
# short jobs. Alternating two and four slots on iterate-copart over seeds
# 21-24, passes took 20.2-30.4 s against 18.3-36.9 s; tc-layout queries
# took as long on two slots as on three (1.5-2.4 s over five seeds each).
CORES = min(2, os.cpu_count() or 1)
# The driver JVM heap, pinned (-Xms = -Xmx): with a growing heap, repeated
# queries drift by tens of percent as the heap resizes.
DRIVER_MEM = "3g"
ORACLE_TIMEOUT_S = 150
JVM_EXIT_TIMEOUT_S = 30


def process_start() -> float:
    """Wall-clock time at which this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def peak_rss_mb(pid: int | str = "self") -> float:
    """``VmHWM`` of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def prepare_environment(work: Path) -> dict[str, str]:
    """Point every scratch directory of Python, Spark and the JVM under
    ``work``; return the Spark settings that go with it."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [str(ROOT), str(HERE)]
    return {
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=JVM_EXIT_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def expected_results(workload, seed: int, input_path: str) -> dict:
    """The oracle's results for this input, cached per input so each
    ``(workload input, seed)`` pays the oracle once per checkout."""
    sources = b"".join((HERE / f).read_bytes() for f in ("inputs.py", "oracle.py"))
    key = f"{workload.input_key}-seed{seed}-{hashlib.sha1(sources).hexdigest()[:12]}"
    cache = HERE / ".cache" / f"{key}.json"
    if cache.exists():
        return json.loads(cache.read_text())
    out = subprocess.run(
        [sys.executable, str(HERE / "oracle.py"), workload.oracle_kind, input_path],
        check=True, capture_output=True, text=True, timeout=ORACLE_TIMEOUT_S,
    ).stdout
    expected = json.loads(out.strip().splitlines()[-1])
    cache.parent.mkdir(exist_ok=True)
    cache.write_text(json.dumps(expected))
    return expected


def run(args, work: Path) -> dict:
    t_process = process_start()
    conf = prepare_environment(work)
    import layers
    import workloads
    from spans import Tracer
    from trianglecounting_spark.session import get_spark

    workload = workloads.WORKLOADS[args.workload]
    input_path = workload.make_inputs(args.seed, str(work / "input"))
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=CORES, extra_conf=conf)
    session_start_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
        tracer = Tracer(spark, run_id, enabled=bool(args.trace))
        ctx = workloads.Context(spark, tracer, str(work))
        with tracer.span("session.warmup"):
            workload.warm_up(ctx, args.seed, input_path)
        setup_s = time.time() - t_process

        state, ingest_s = workload.ingest(ctx, input_path)
        for _ in range(workload.warm_reps):
            workload.query(ctx, state, traced=False)
        times, plain = workloads.timed_loop(
            ctx, args.seconds, lambda traced: workload.query(ctx, state, traced),
            workload.min_reps,
        )
        ctx.release()
        driver_rss = peak_rss_mb()
        jvm_rss = peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        if args.trace:
            tracer.collect_stage_metrics()
    finally:
        stop_spark(spark)

    expected = expected_results(workload, args.seed, input_path)
    failed = [c for c in ctx.checks if not c.ok(expected)]
    for c in failed:
        print(f"mismatch: {c.op} {c.key} = {c.got}, expected {expected[c.key]}",
              file=sys.stderr)
    for _, e in ctx.errors:
        print(f"error: {e}", file=sys.stderr)
    n_failed = len({n for n, _ in ctx.errors} | {c.call for c in failed})

    if args.trace:
        out_dir = HERE / "out"
        out_dir.mkdir(exist_ok=True)
        tracer.write_jsonl(str(out_dir / f"trace-{run_id}.jsonl"))
        metrics = layers.per_layer(
            tracer, ctx, session_start_s=session_start_s, cores=CORES,
            traced_s=workloads.median(times), untraced_s=workloads.median(plain),
        )
        metrics["jvm_peak_rss_mb"] = (jvm_rss, "MiB")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "ingest_s": (ingest_s, "s"),
            "query_s": (workloads.median(times), "s"),
            "driver_peak_rss_mb": (driver_rss, "MiB"),
        }
    return {
        "correct": n_failed == 0,
        "attempted": ctx.attempted,
        "failed": n_failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True,
                        choices=("tc-layout", "iterate-copart"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if not (ROOT / "trianglecounting_spark" / "__init__.py").is_file():
        print(f"no trianglecounting_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
