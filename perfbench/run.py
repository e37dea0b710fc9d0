"""Pipeline benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload cdc_backlog --seed 1 --seconds 6 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it is a report with the run settings,
warm-up time, sample counts, generator lateness and memory. Runs write only
under ``.perfbench_work/`` (removed at exit) and ``.perfbench_out/``
(the report and, for traced runs, the span dump).

See perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _settings(work: Path) -> dict:
    """Pin and record the run settings, before Spark starts: the JVM
    and its Python workers inherit this environment."""
    nproc = len(os.sched_getaffinity(0))
    local_dirs = work / "spark-local"
    tmp = work / "tmp"
    for p in (local_dirs, tmp):
        p.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = str(local_dirs)
    os.environ["TMPDIR"] = str(tmp)
    # the sink's partition writer is unpickled in Spark's Python
    # workers, which import the package from PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return {
        "nproc": nproc,
        "master": f"local[{nproc}]",
        "shuffle_partitions": nproc,
        "SPARK_LOCAL_DIRS": str(local_dirs.relative_to(ROOT)),
        "git_head": _git_head(),
        "source_sha256": _source_digest(),
        "python": sys.version.split()[0],
    }


def _git_head() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip()


def _source_digest() -> str:
    """Identifies the program's code where there is no git history."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "kafkaconnect_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _start_spark(work: Path, trace: bool):
    from kafkaconnect_spark.session import get_spark

    nproc = int(os.environ["SPARK_GRAFT_CPUS"])
    tmp = work / "tmp"
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    spark = get_spark("perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _peak_rss_mb() -> float:
    """High-water RSS of this process plus its JVM descendant(s), from
    the kernel's per-process VmHWM."""
    me = os.getpid()
    parents: dict[int, int] = {}
    names: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        parents[int(d)] = ppid
        names[int(d)] = name

    def descends(pid: int) -> bool:
        while pid in parents and pid > 1:
            pid = parents[pid]
            if pid == me:
                return True
        return False

    pids = [me] + [p for p in parents if names[p] == "java" and descends(p)]
    kb = 0
    for p in pids:
        with open(f"/proc/{p}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024


def _jvm_heap_peak_mb(spark) -> float:
    """Peak used bytes of the JVM's heap pools, from the JVM itself."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    used = 0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().toString() == "Heap memory":
            used += pool.getPeakUsage().getUsed()
    return used / 2**20


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "kafkaconnect_spark" / "__init__.py").exists():
        print(f"kafkaconnect_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    import workloads
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    settings = _settings(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        # the program's own heap setting (SPARK_GRAFT_DRIVER_MEM or its default)
        settings["driver_memory"] = spark.conf.get("spark.driver.memory")
        if args.trace:
            result = _traced(spark, workloads, Tracer, args, work)
        else:
            result = _untraced(spark, workloads, args, work, session_s)
        result["settings"] = settings
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass

    report = {k: v for k, v in result.items() if k != "final"}
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (out_dir / f"{name}.json").write_text(json.dumps(report, indent=1, default=str))
    print(json.dumps({"report": report}, default=str))
    final = result["final"]
    print(json.dumps(final))
    if not final["correct"]:
        print("output check FAILED: " + "; ".join(result["check_notes"]), file=sys.stderr)
        return 1
    return 0


def _run_workload(spark, workloads, args, work: Path, tracer=None):
    """set-up ×setup_repeats (last kept), then warm-up."""
    cls = workloads.WORKLOADS[args.workload]
    setups = []
    wl = None
    for i in range(cls.setup_repeats):
        wl = cls(spark, args.seed, tracer)
        wl.prepare()
        d = work / f"setup{i}"
        d.mkdir(parents=True)
        t0 = time.perf_counter()
        wl.setup(str(d))
        setups.append(time.perf_counter() - t0)
        if i < cls.setup_repeats - 1:
            spark.catalog.clearCache()
    t0 = time.perf_counter()
    wl.warmup()
    warmup_s = time.perf_counter() - t0
    return wl, setups, warmup_s


def _check(wl) -> tuple[int, list[str]]:
    failed, notes = wl.check()
    notes.extend(f"run_once raised: {e}" for e in wl.errors)
    failed_pipelines = wl.pipeline_failures()
    if failed_pipelines:
        notes.append(f"pipelines FAILED: {failed_pipelines}")
        failed = wl.attempted  # every record of a failed pipeline counts
    return failed, notes


def _final(wl, failed: int, metrics: dict) -> dict:
    correct = failed == 0
    if not correct:
        # a failed run's figures are not measurements; keep the line valid JSON
        metrics = {
            k: {**v, "value": v["value"] if math.isfinite(v["value"]) else 0.0}
            for k, v in metrics.items()
        }
    return {
        "correct": correct,
        "attempted": max(1, int(wl.attempted)),
        "failed": int(failed),
        "metrics": metrics,
    }


def _untraced(spark, workloads, args, work: Path, session_s: float) -> dict:
    wl, setups, warmup_s = _run_workload(spark, workloads, args, work)
    wl.measure(args.seconds)
    failed, notes = _check(wl)
    fresh = sorted(wl.freshness_ms)
    setup_s = session_s + _median(setups)
    metrics = {
        "throughput_rps": {"value": wl.throughput(), "unit": "1/s"},
        "freshness_p50_ms": {"value": workloads.percentile(fresh, 50), "unit": "ms"},
        "freshness_p95_ms": {"value": workloads.percentile(fresh, 95), "unit": "ms"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "session_start_s": session_s,
        "setup_repeats_s": setups,
        "warmup_s": warmup_s,
        "timed_s": wl.timed_seconds,
        "timed_records": wl.timed_records,
        "freshness_samples": len(fresh),
        "error_rate": failed / max(wl.attempted, 1),
        # not in the result line: with the program's adaptive heap, run-to-run
        # spread is above the largest regression bound (README.md)
        "peak_rss_mb": _peak_rss_mb(),
        "jvm_heap_peak_mb": _jvm_heap_peak_mb(spark),
        "cycle_p50_ms": _median([(c["end"] - c["start"]) * 1000 for c in wl.cycles]),
        "check_notes": notes,
        "final": _final(wl, failed, metrics),
    }
    if hasattr(wl, "lateness_ms"):
        report["generator_lateness_ms"] = wl.lateness_ms()
    if hasattr(wl, "units"):
        report["units"] = wl.units
    return report


def _traced(spark, workloads, Tracer, args, work: Path) -> dict:
    import layers

    tracer = Tracer()
    tracer.install()
    try:
        wl, setups, warmup_s = _run_workload(spark, workloads, args, work, tracer)
        metrics, extra = layers.measure_traced(spark, wl, tracer, args.seconds)
        failed, notes = _check(wl)
    finally:
        tracer.uninstall()
    out = ROOT / ".perfbench_out" / f"{args.workload}-seed{args.seed}-spans.json"
    tracer.dump(str(out), {"workload": args.workload, "seed": args.seed})
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "setup_repeats_s": setups,
        "warmup_s": warmup_s,
        "check_notes": notes,
        "error_rate": failed / max(wl.attempted, 1),
        **extra,
        "final": _final(wl, failed, metrics),
    }


if __name__ == "__main__":
    sys.exit(main())
