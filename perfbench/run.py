"""Benchmark of the extraction engine: one workload per run, closed loop.

    python3 perfbench/run.py --workload extract_fresh --seed 1 --seconds 6 --trace 0

One client (this process) drives Spark local[<cores>] through the engine's
public functions. Each timed repetition is one batch call; the next starts
when it returns, after untimed output checks. Inputs come from --seed (see
perfbench/inputs.py) and are cached under .bench_work/ in the checkout.

--trace 0 prints the end-to-end metrics; --trace 1 alternates untraced and
traced repetitions and prints the per-layer metrics (trace.overhead_ratio is
traced over untraced median wall). The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. A repetition that raises or
fails its output check counts as failed. Without the engine next to this
directory the run exits with status 2 and prints no result.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_work"
# The engine's 64 g default heap grew the JVM past 5 GB within a minute on a
# 15 GB host, so the heap is pinned through the engine's own knob. Its
# initial size is pinned too: with an adaptive heap, peak RSS varied by a
# quarter between runs of the same workload.
DRIVER_MEM = "3g"
# untraced, traced, untraced: trace.overhead_ratio leaves out the first
# repetition, which runs cold in curate_dedup
MIN_TRACED_REPS = 3

END_TO_END = {
    "docs_per_s": "docs/s",
    "wall_s": "s",
    "setup_s": "s",
    "jvm_peak_rss_mb": "MB",
    "write_amp": "bytes/byte",
    "span_exact_match": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {
        "session.start_s": "s",
        "extract.kernel_s": "s",
        "extract.spans_in": "count",
        "extract.spans_kept": "count",
        "extract.keep_ratio": "ratio",
        "extract.tasks": "count",
        "extract.task_ms_p50": "ms",
        "extract.task_ms_max": "ms",
        "extract.core_busy_ratio": "ratio",
        "extract_job.run_s": "s",
        "extract_job.resume_scan_s": "s",
        "extract_job.write_job_s": "s",
        "extract_job.post_write_s": "s",
        "extract_job.jobs": "count",
        "extract_job.input_bytes": "bytes",
        "extract_job.shuffle_bytes": "bytes",
        "extract_job.output_bytes": "bytes",
        "extract_job.output_files": "count",
        "extract_job.docs_new": "count",
        "extract_job.docs_skipped": "count",
        "snapshots.current_s": "s",
        "snapshots.read_as_of_s": "s",
        "snapshots.manifests": "count",
        "assemble.explode_filter_s": "s",
        "assemble.assemble_s": "s",
        "assemble.rows_in": "count",
        "assemble.salted_rows": "count",
        "assemble.shuffle_bytes": "bytes",
        "assemble.spill_bytes": "bytes",
        "assemble.task_ms_max_over_p50": "ratio",
        "layout.order_s": "s",
        "layout.regions_in": "count",
        "layout.core_busy_ratio": "ratio",
        "tokenizer.tokenize_s": "s",
        "tokenizer.spans_out": "count",
        "tokenizer.core_busy_ratio": "ratio",
    }
    from perfbench.workloads import CURATE_QUERIES

    for q, layer in CURATE_QUERIES.items():
        units[f"{layer}.{q}_s"] = "s"
        units[f"{layer}.{q}_shuffle_bytes"] = "bytes"
        units[f"{layer}.{q}_starved_stages"] = "count"
    units["spark.starved_stages"] = "count"
    units["trace.overhead_ratio"] = "ratio"
    return units


def engine_present() -> bool:
    return (ROOT / "bb_ocr_spark" / "__init__.py").is_file() and (
        ROOT / "__spark_entry__.py"
    ).is_file()


def configure_env(run_dir: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let Python workers import the engine."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["BB_OCR_WAREHOUSE"] = str(run_dir / "warehouse")
    os.environ["BB_OCR_DRIVER_MEM"] = DRIVER_MEM
    # the JVM that spark-submit runs to build the driver command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def start_session(run_dir: Path, cores: int):
    from bb_ocr_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData -Xms{DRIVER_MEM}"
            ),
        },
    )
    spark.range(1).count()
    return spark


def jvm_peak_rss_mb(pid: int) -> float:
    """VmHWM of the Spark JVM, from /proc (no engine change needed)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def measure(wl, seconds: float, trace: bool):
    """Repetitions until `seconds` of timed steps have run. In a traced run
    odd repetitions carry the listener and spans; even ones do not."""
    tracer = wl.ctx.tracer
    reps, traced, attempted, failed, spent, k = [], [], 0, 0, 0.0, 0
    while k < (MIN_TRACED_REPS if trace else wl.min_reps) or spent < seconds:
        on = trace and k % 2 == 1
        tracer.enabled = on
        tracer.rep = k
        if on:
            tracer.attach(wl.spark)
        t0 = time.monotonic()
        attempted += 1
        try:
            rep = wl.rep(k)
        except Exception:  # a failed repetition is counted, not fatal
            traceback.print_exc()
            failed += 1
            spent += time.monotonic() - t0
            rep = None
        finally:
            if on:
                tracer.detach()
            tracer.enabled = False
        if rep is not None:
            spent += rep.wall_s
            (traced if on else reps).append(rep)
        k += 1
    tracer.enabled = trace
    wl.finish(reps + traced)
    failed += sum(not r.ok for r in reps + traced)
    return reps, traced, attempted, failed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not engine_present():
        print(f"engine not found next to {Path(__file__).parent}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir)
    cores = len(os.sched_getaffinity(0))
    try:
        spark = start_session(run_dir, cores)
    except Exception:
        shutil.rmtree(run_dir, ignore_errors=True)
        raise
    setup_s = time.monotonic() - T_START
    try:
        tracer = Tracer(False, cores)
        ctx = Ctx(spark, args.seed, run_dir, WORK / "inputs", tracer)
        ctx.cache.mkdir(parents=True, exist_ok=True)
        wl = WORKLOADS[args.workload](ctx)
        wl.prepare()
        t_prepared = time.monotonic()
        reps, traced, attempted, failed = measure(wl, args.seconds, bool(args.trace))
        t_measured = time.monotonic()
        if args.trace:
            tracer.attach(spark)
            layers = wl.layers(traced) if traced else {}
            tracer.dump(WORK / "traces" / f"{args.workload}-seed{args.seed}.json")
            tracer.detach()
        rss = jvm_peak_rss_mb(spark.sparkContext._gateway.proc.pid)
    finally:
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    print(
        f"setup {setup_s:.1f} s, prepare {t_prepared - T_START - setup_s:.1f} s, "
        f"measure {t_measured - t_prepared:.1f} s (reps "
        f"{', '.join(f'{r.wall_s:.2f}' for r in reps + traced)} s), "
        f"total {time.monotonic() - T_START:.1f} s",
        file=sys.stderr,
    )
    ok = [r for r in reps + traced if r.ok]
    checked = sum(r.checked for r in reps + traced)
    matched = sum(r.matched for r in reps + traced)
    if args.trace:
        units = per_layer_units()
        values = dict.fromkeys(units, 0.0)
        values.update(layers)
        values["session.start_s"] = setup_s
        plain = [r.wall_s for r in reps[1:] if r.ok]
        slow = [r.wall_s for r in traced if r.ok]
        if plain and slow:
            values["trace.overhead_ratio"] = statistics.median(slow) / statistics.median(plain)
    else:
        units = END_TO_END
        # step times still fall from one repetition to the next after the
        # warm-up, so the median lands on a different point of that curve
        # run to run (spread 0.27 on extract_fresh); the fastest repetition
        # repeated within 0.10
        wall = min(r.wall_s for r in ok) if ok else 0.0
        values = {
            "docs_per_s": wl.docs / wall if wall else 0.0,
            "wall_s": wall,
            "setup_s": setup_s,
            "jvm_peak_rss_mb": rss,
            "write_amp": statistics.median(r.written_bytes for r in ok) / wl.input_bytes
            if ok
            else 0.0,
            "span_exact_match": matched / checked if checked else 0.0,
        }
    result = {
        "correct": failed == 0 and checked > 0 and matched == checked,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
