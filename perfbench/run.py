"""The repository's benchmark: one workload, one seed, one measured run.

Usage (from the repository root)::

    python3 perfbench/run.py --workload copy_poll --seed 1 --seconds 5 --trace 0

Workloads: ``copy_poll`` and ``query_mix`` (see ``perfbench/workloads.py``
and ``BENCHMARK.json``). The program runs on ``local[<usable cores>]`` from
this single process with one closed-loop client. Inputs are generated from
``--seed`` before the set-up clock starts; the program sees only them.

``--trace 0`` measures with nothing patched, whole blocks of ops until
``--seconds`` have passed and at least ``MIN_BLOCKS`` blocks have run, and
prints the end-to-end metrics; ``wall_s`` is the median block. ``--trace 1``
runs one unmeasured warm-up block, then measures untraced, then with the
span recorder and Spark status-store reader installed, then untraced again,
each phase for ``--seconds`` and at least one block; it prints the per-layer metrics of the traced phase, span
self times, and the tracing overhead (traced ``wall_s`` minus the untraced
``wall_s`` of the phases around it).

Human-readable lines come first; the last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. Every
warehouse, checkpoint, Derby database and ``derby.log`` lives in a per-run
directory under ``.perfbench_tmp/`` that is removed at exit. The exit code
is 0 whenever that JSON line is printed, and 2 when the program is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
#: scale factor of the generated inputs (lineitem rows = 6M x SCALE)
SCALE = 0.01

#: blocks an untraced run measures at least, so that ``wall_s`` is a median
MIN_BLOCKS = 3
#: gated by BENCHMARK.json
END_TO_END = (("setup_s", "s"), ("wall_s", "s"))
#: printed next to them, not gated: across seeds they spread wider than a
#: bound could allow (query_mix's per-op median falls between two different
#: queries; the JVM's peak RSS follows G1 heap sizing)
PRINTED = (("op_p50_s", "s"), ("op_tail_s", "s"), ("jvm_peak_rss_mb", "MB"))


def parse_args(argv=None) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=SCALE,
                   help="input scale factor (the smoke tests use 0.001)")
    return p.parse_args(argv)


def _hygiene(run_dir: Path, cores: int) -> None:
    """Point every temporary location of Spark, the JVM, Derby and Python
    at the run directory, and size the session to the usable cores."""
    tmp = run_dir / "tmp"
    tmp.mkdir()
    # without it session.get_spark sizes the session for 32 cores
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # sf0.01 inputs need well under 2 GiB; the 8 GiB default would let the
    # heap grow far past that on a host shared with other jobs
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # -XX:-UsePerfData: each JVM, spark-submit's launcher included, would
    # otherwise keep a file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp}' pyspark-shell"
    )
    tempfile.tempdir = str(tmp)
    # the JVM inherits this working directory: derby.log lands here
    os.chdir(run_dir)


def _stop_spark() -> None:
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


def _host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all cpus."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _jvm_peak_rss_mb() -> float:
    """Peak resident memory of the driver JVM (``VmHWM``)."""
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid  # noqa: SLF001
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def measure(workload, seconds: float, ctx, stage_reader=None, min_blocks: int = MIN_BLOCKS):
    """Run whole blocks of ops until ``seconds`` have passed and at least
    ``min_blocks`` blocks have run. Returns the op results and each block's
    timed seconds."""
    from perfbench.workloads import OpResult

    results, block_seconds = [], []
    sc = ctx.spark.sparkContext
    recorder = ctx.recorder
    deadline = time.perf_counter() + seconds
    for block in workload.blocks():
        timed = 0.0
        for op in block:
            if op.prepare is not None:
                op.prepare()
            group = f"op-{len(results)}"
            if stage_reader is not None:
                stage_reader.begin(group)
            else:
                sc.setJobGroup(group, op.kind)
            span = recorder.begin_op(len(results), op.kind) if recorder else None
            start = time.perf_counter()
            try:
                out, error = op.run(), None
            except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
                out, error = None, traceback.format_exc()
            seconds_op = time.perf_counter() - start
            if span is not None:
                recorder.end_op(span)
            execstats = stage_reader.end(group) if stage_reader is not None else None
            if error is not None:
                print(error, file=sys.stderr)
                problems = [f"{op.kind}: exception"]
            else:
                problems = op.check(out) if op.check else []
            results.append(OpResult(op.kind, op.family, seconds_op, problems, out, execstats))
            timed += seconds_op
        block_seconds.append(timed)
        if time.perf_counter() >= deadline and len(block_seconds) >= min_blocks:
            return results, block_seconds


def end_to_end(results, block_seconds, setup_s: float) -> tuple[dict, str]:
    """The timing metrics, and the tail's percentile and sample count."""
    from perfbench.stats import median, tail

    lat = [r.seconds for r in results]
    value, pct, n = tail(lat)
    metrics = {"setup_s": setup_s, "wall_s": median(block_seconds),
               "op_p50_s": median(lat), "op_tail_s": value}
    return metrics, f"p{pct:.1f} of {n} ops"


def main(argv=None) -> int:
    init = ROOT / "mssql2monetdb_spark" / "__init__.py"
    if not init.is_file():
        print(f"perfbench: the program is missing ({init} not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    args = parse_args(argv)
    cores = len(os.sched_getaffinity(0))
    runs = ROOT / ".perfbench_tmp"
    runs.mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs))
    cwd = os.getcwd()
    try:
        _hygiene(run_dir, cores)
        result = run(args, run_dir, cores)
    finally:
        try:
            _stop_spark()
        finally:
            os.chdir(cwd)
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                runs.rmdir()
            except OSError:
                pass  # another run still uses it
    print(json.dumps(result), flush=True)
    return 0


def run(args, run_dir: Path, cores: int) -> dict:
    import pyspark

    from mssql2monetdb_spark.session import get_spark
    from perfbench import fixtures, layers
    from perfbench.stats import median
    from perfbench.workloads import WORKLOADS, Context

    # the inputs are the benchmark's work, not the program's: made before
    # the set-up clock starts
    fx = str(run_dir / "fixtures")
    rows = fixtures.stage(args.seed, args.scale, fx)
    setup_start = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - setup_start
    spark.sparkContext.setJobGroup("perfbench-setup", "set-up")
    ctx = Context(spark, str(run_dir), fx, rows, args.seed, args.scale, cores,
                  random.Random(args.seed))
    workload = WORKLOADS[args.workload]()
    workload.setup(ctx)
    problems = list(workload.warmup())
    setup_s = time.perf_counter() - setup_start

    print(f"# workload {args.workload}  seed {args.seed}  seconds {args.seconds:g}  "
          f"trace {args.trace}")
    print(f"# local[{cores}] on {os.cpu_count()} host cpus, Spark {pyspark.__version__}, "
          f"scale {args.scale:g}, fixture rows "
          + " ".join(f"{k}={v}" for k, v in rows.items()))

    # the traced run compares single blocks, and the JVM is still speeding
    # up right after set-up: one block more of warm-up, not measured
    warm = measure(workload, 0, ctx, min_blocks=1)[0] if args.trace else []
    steal, start = _host_steal_s(), time.perf_counter()
    results, blocks = measure(workload, args.seconds, ctx,
                              min_blocks=1 if args.trace else MIN_BLOCKS)
    print(f"# host cpu steal while measuring: {_host_steal_s() - steal:.2f} s over "
          f"{time.perf_counter() - start:.1f} s on {os.cpu_count()} cpus")
    print("# block seconds: " + " ".join(f"{b:.3f}" for b in blocks))
    if not args.trace:
        e2e, tail_note = end_to_end(results, blocks, setup_s)
        e2e["jvm_peak_rss_mb"] = _jvm_peak_rss_mb()
        spark.sparkContext.setJobGroup("perfbench-check", "final checks")
        start = time.perf_counter()
        problems += workload.final_checks()
        print(f"# final checks: {time.perf_counter() - start:.1f} s")
        failed = sum(1 for r in results if r.problems)
        for name, unit in END_TO_END + PRINTED:
            note = f"  ({tail_note})" if name == "op_tail_s" else ""
            print(f"{name} = {e2e[name]:.6g} {unit}{note}")
        for name, (value, unit) in workload.report(results).items():
            print(f"{name} = {value:.6g} {unit}")
        print(f"error_rate = {failed / len(results):.6g} ratio  ({failed} of {len(results)} ops)")
        for p in problems + [p for r in results for p in r.problems]:
            print(f"# check failed: {p}")
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
        return _result(problems, results, metrics)

    from perfbench.stagemetrics import StageMetrics
    from perfbench.tracing import Recorder

    # untraced, traced, untraced again: the JVM keeps warming up across the
    # phases, so the traced blocks are compared with the untraced blocks on
    # both sides of them
    recorder = ctx.recorder = Recorder()
    recorder.install()
    traced, traced_blocks = measure(workload, args.seconds, ctx, StageMetrics(spark), 1)
    recorder.uninstall()
    ctx.recorder = None
    again, again_blocks = measure(workload, args.seconds, ctx, min_blocks=1)
    spark.sparkContext.setJobGroup("perfbench-check", "final checks")
    problems += workload.final_checks()
    untraced_wall, traced_wall = median(blocks + again_blocks), median(traced_blocks)
    per_layer = layers.compute(recorder, traced, cores, session_s, traced_wall - untraced_wall)
    layers.print_report(recorder, traced, per_layer, untraced_wall, traced_wall)
    everything = warm + results + traced + again
    for p in problems + [p for r in everything for p in r.problems]:
        print(f"# check failed: {p}")
    metrics = {name: {"value": per_layer[name], "unit": unit}
               for name, unit in layers.PER_LAYER}
    return _result(problems, everything, metrics)


def _result(run_problems, results, metrics) -> dict:
    """Ops that raised, exited wrongly or failed their check count as
    failed; a failed warm-up or final check makes the run incorrect."""
    failed = sum(1 for r in results if r.problems)
    return {"correct": not run_problems and not failed, "attempted": len(results),
            "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
