"""KG-pipeline benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload avaluo_build --seed 1 --seconds 10 --trace 0

One process, one Spark driver JVM. Untraced (``--trace 0``): set-up
(``setup_s``) is the session start; then runs repeat into fresh
warehouses until another one of median length would overrun
``--seconds`` (at least one). The first run is cold, as in one
command-line invocation of the pipeline. Each run is checked against
the workload's oracle and medians are reported. Traced
(``--trace 1``): after the session start and one untimed warm-up run,
one traced run calls each layer from this benchmark and reports
per-layer metrics; an unchanged re-run over the traced warehouse gives
the resume time; and the workload's traced-only phase (the codekg
append, or the near-duplicate queries) adds its layers.

The last stdout line is one JSON object with the metrics; the launch
settings are echoed on the line before it. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "structured_data_entity_extraction_spark"

# per-layer metrics every traced run reports, whatever the workload;
# a layer the workload does not run reports 0. Every layer has SPAN;
# spill_mb only where a large aggregation could spill.
SPAN = ("wall_s", "rows_out", "jobs", "stages", "shuffle_write_mb")
LAYERS = {
    # codekg_build
    "pipeline.input_identity": (),
    "codekg.extract": ("files_written", "python_nodes"),
    "codekg.link": ("files_written", "lsh_share", "unlinked_share"),
    "codekg.edges": (),
    "cc": ("distributed",),
    "codekg.fold": ("files_written", "dedup_ratio", "spill_mb"),
    # codekg_build, append phase
    "pipeline.append": (),
    "append.edges": (),
    "append.cc": ("distributed", "rounds", "edges", "spill_mb"),
    "append.fold": (),
    # avaluo_build
    "extract": ("python_nodes",),
    "link.resolve": ("python_nodes",),
    "link.parse": ("python_nodes",),
    "link.assemble": ("files_written",),
    "triples": ("files_written",),
    # avaluo_build, near-dup phase
    "ops.dedup.ngram": ("pairs_out", "spill_mb"),
    "ops.dedup.minhash": ("pairs_out",),
    "ops.dedup.groups": ("cc_distributed",),
    # both
    "materialize.verify": ("spill_mb",),
}
UNITS = {"wall_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB",
         "lsh_share": "ratio", "unlinked_share": "ratio", "dedup_ratio": "ratio"}


def launch_settings(work: str) -> dict:
    """Small-host launch settings, applied through the environment the
    package already reads: the repo on the Python workers' path, a
    heap sized from MemTotal, Spark scratch inside the checkout, and
    one task slot per usable core."""
    with open("/proc/meminfo", encoding="utf-8") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    heap_mb = max(1024, min(6144, mem_kb // 4 // 1024))
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    settings = {
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        # a cluster-manager setting that would override spark.local.dir
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_MASTER": f"local[{cpus}]",
        "TMPDIR": tmp,
    }
    os.environ.update(settings)
    return settings


def start_spark(work: str, trace: bool):
    from structured_data_entity_extraction_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if trace:
        # the REST API is the only source of shuffle and spill bytes
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait until it exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


class Runs:
    """Attempted runs and the errors of the failed ones."""

    def __init__(self):
        self.attempted = 0
        self.errors: list[str] = []

    def fail(self, e: Exception) -> None:
        self.errors.append(f"{type(e).__name__}: {str(e)[:300]}")


def attempt(wl, spark, out: str, runs: Runs, tracer=None) -> tuple[float, dict | None]:
    """One run into ``out``, checked against the oracle. A run
    fails if it raises (a broken sha invariant raises inside the
    pipeline) or if its output disagrees with the oracle. Every run
    starts from an empty cache: a frame an earlier run left persisted
    would otherwise serve a later run's identical plan."""
    runs.attempted += 1
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    try:
        info = wl.traced(spark, out, tracer) if tracer else wl.run(spark, out)
        wall = time.perf_counter() - t0
        wl.check(out, info)
        return wall, info
    except Exception as e:  # noqa: BLE001 -- every failure counts the same
        runs.fail(e)
        return time.perf_counter() - t0, None


def measure(wl, spark, seconds: float, runs: Runs) -> dict:
    """Runs until another one of median length would overrun
    ``seconds``; at least one. Medians over the runs that passed."""
    walls, rates, lengths = [], [], []
    t_end = time.perf_counter() + seconds
    while True:
        t0 = time.perf_counter()
        out = wl.path(f"run{len(lengths)}")
        wall, info = attempt(wl, spark, out, runs)
        if info is not None:
            walls.append(wall)
            rates.append(info["rows"] / wall)
        shutil.rmtree(out, ignore_errors=True)
        lengths.append(time.perf_counter() - t0)
        if time.perf_counter() + statistics.median(lengths) > t_end:
            break
    return {
        "wall_s": (statistics.median(walls) if walls else 0.0, "s"),
        "triples_per_s": (statistics.median(rates) if rates else 0.0, "triples/s"),
    }


def guarded(runs: Runs, step) -> float:
    """Time ``step()`` as one more attempted run; 0.0 if it failed."""
    runs.attempted += 1
    t0 = time.perf_counter()
    try:
        step()
        return time.perf_counter() - t0
    except Exception as e:  # noqa: BLE001
        runs.fail(e)
        return 0.0


def traced_run(wl, spark, runs: Runs, warm: dict | None) -> dict:
    """The traced run, an unchanged re-run over the traced warehouse in
    which every stage must resume, and the workload's traced extra
    phase. The traced run's per-stage row counts must equal those of
    ``warm``, the untraced warm-up run of the same input."""
    from perfbench.trace import Tracer, jvm_pid, peak_rss_mb

    tracer = Tracer(spark)
    out = wl.path("traced")
    wall, info = attempt(wl, spark, out, runs, tracer)
    if info and warm and warm["stages"] != info["stages"]:
        runs.fail(ValueError(f"traced stage rows {info['stages']} != untraced {warm['stages']}"))
    resume_s = 0.0
    if info is not None:
        resume_s = guarded(runs, lambda: wl.resume(spark, out))
        guarded(runs, lambda: wl.traced_extra(spark, out, tracer))
    spans = tracer.metrics()
    metrics = {
        f"{layer}.{f}": (spans.get(f"{layer}.{f}", 0), UNITS.get(f, "count"))
        for layer, extras in LAYERS.items()
        for f in SPAN + extras
    }
    metrics.update({
        "pipeline.resume_s": (resume_s, "s"),
        "driver.peak_rss_mb": (peak_rss_mb(jvm_pid(spark)), "MB"),
        "trace.wall_s": (wall, "s"),
    })
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size multiplier")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.exists(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        print(f"perfbench: {PACKAGE} not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, "perfbench", ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    settings = launch_settings(work)
    runs = Runs()
    try:
        wl = WORKLOADS[args.workload](work, args.seed, args.scale)
        # input generation and the oracle are benchmark overhead
        wl.make_inputs()
        wl.make_oracle()
        t0 = time.perf_counter()
        spark = start_spark(work, bool(args.trace))
        setup_s = time.perf_counter() - t0
        try:
            if args.trace:
                # untimed warm-up, so that per-layer numbers are
                # warm-JVM numbers
                _, warm = attempt(wl, spark, wl.path("warm-up"), runs)
                metrics = traced_run(wl, spark, runs, warm)
            else:
                metrics = measure(wl, spark, args.seconds, runs)
                metrics["setup_s"] = (setup_s, "s")
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    settings.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                    trace=args.trace, scale=args.scale, docs=wl.n, errors=runs.errors)
    print(json.dumps({"settings": settings}))
    print(json.dumps({
        "correct": not runs.errors,
        "attempted": runs.attempted,
        "failed": len(runs.errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
