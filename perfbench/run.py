"""Lakehouse benchmark entry point.

    python3 perfbench/run.py --workload lake_build --seed 1 --seconds 10 --trace 0

Run from the repository root (the directory holding
``transcription_lakehouse_spark``). Builds one Spark session at
``local[<cores>]``, runs the workload on inputs generated from ``--seed``
inside a fresh temporary lake under ``.perfbench_tmp/``, checks the
outputs, removes the lake and prints one JSON line last on stdout:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. Diagnostics (host load, steal, sample counts, tails) go to
stderr. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "transcription_lakehouse_spark"
DRIVER_MEMORY = "2g"

# per-layer spans, reported with every tracing.FIELDS entry
SPANS = (
    "pipeline.ingest", "pipeline.materialize", "pipeline.catalog",
    "pipeline.validate", "pipeline.quality", "pipeline.snapshot", "index.build",
    "write.normalized", "write.spans", "write.embeddings_span", "write.beats",
    "write.embeddings_beat", "write.sections", "write.catalogs",
    "append", "ingestion.seen_probe", "ingestion.ingest", "aggregation.spans",
    "index.append", "search", "lookup",
)


def tail(samples: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten samples above it,
    as (percentile, value), or None when that percentile would be below
    the median (fewer than 20 samples). The value is the sample at that
    rank (nearest-rank, no interpolation)."""
    n = len(samples)
    if n < 20:
        return None
    ordered = sorted(samples)
    rank = n - 10  # 1-based rank of the highest sample with 10 above it
    return int(100 * rank // n), ordered[rank - 1]


def host_sample() -> dict:
    """1-minute load average and cumulative CPU steal, from /proc."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"load1": load1, "steal": cpu[7] if len(cpu) > 7 else 0, "total": sum(cpu)}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(tmp: str) -> None:
    """Self-contained paths for the driver and for Spark's Python workers,
    and scratch space inside the checkout."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY


def install_wrappers(tracer) -> list[str]:
    """Spans around the program's artifact writes, wrapped from outside.
    Returns the names that could not be wrapped."""
    from transcription_lakehouse_spark import ingestion, pipeline

    def name_of(df, base_dir, artifact, *a, **k):
        return "write." + artifact.split("/")[0]

    return [
        f"{m.__name__}.write_versioned"
        for m in (pipeline, ingestion)
        if not tracer.wrap(m, "write_versioned", name_of)
    ]


def jvm_gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def median(xs: list[float]) -> float:
    if not xs:
        raise RuntimeError("no samples")
    return statistics.median(xs)


def end_to_end(run, out: dict, session_s: float) -> dict:
    return {
        "setup_s": (session_s + out["setup_s"], "s"),
        "write_p50_s": (median(out["write_s"]), "s"),
        "search_p50_ms": (median(run.samples.get("search_ms", [])), "ms"),
        "bytes_per_input_byte": (
            run.counts["storage.bytes_live"] / out["input_bytes"], "ratio"
        ),
    }


def per_layer(run, out: dict, gc_ms: float, rss_mb: float) -> dict:
    from tracing import FIELDS
    from workloads import K

    summary = run.tracer.summary()
    metrics: dict[str, tuple[float, str]] = {}
    units = {"wall_s": "s", "driver_s": "s", "jobs": "count",
             "python_ms": "ms", "shuffle_bytes": "B"}
    for name in SPANS:
        d = summary.get(name, {})
        for f in FIELDS:
            metrics[f"{name}.{f}"] = (float(d.get(f, 0.0)), units[f])
    zero: dict = {}
    look, srch = summary.get("lookup", zero), summary.get("search", zero)
    c = run.counts
    roots = [summary[name] for name in {s.name for s in run.tracer.roots}]
    extra = {
        "pipeline.materialize_self_s": (summary.get("pipeline.materialize", zero).get("self_s", 0.0), "s"),
        "pipeline.catalog_self_s": (summary.get("pipeline.catalog", zero).get("self_s", 0.0), "s"),
        "ingestion.files_read_per_lookup": (
            look.get("files_read", 0.0) / look["calls"] if look else 0.0, "count"),
        "ingestion.rows_scanned_per_row_returned": (
            look.get("scan_rows", 0.0) / max(c.get("lookup_rows", 0), 1), "ratio"),
        "similarity.rows_scored_per_result": (
            srch.get("scan_rows", 0.0) / (srch["calls"] * K) if srch else 0.0, "ratio"),
        "snapshot.bytes_copied": (c.get("snapshot.bytes_copied", 0.0), "B"),
        "indexing.rebuilds": (c.get("indexing.rebuilds", 0.0), "count"),
        "storage.files_live": (c["storage.files_live"], "count"),
        "storage.bytes_live": (c["storage.bytes_live"], "B"),
        "jvm.gc_ms": (gc_ms, "ms"),
        "jvm.pipeline_ms": (sum(d.get("pipeline_ms", 0.0) for d in roots), "ms"),
        "spill.bytes": (sum(d.get("spill_bytes", 0.0) for d in roots), "B"),
        "jvm.peak_rss_mb": (rss_mb, "MB"),
        "trace.harvest_s": (run.tracer.harvest_s, "s"),
        "trace.write_p50_s": (median(out["write_s"]), "s"),
    }
    metrics.update(extra)
    return metrics


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found in {ROOT}", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its lake (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    prepare_env(tmp)
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(have {sorted(WORKLOADS)})", file=sys.stderr)
        return 2
    from transcription_lakehouse_spark.session import get_spark
    from tracing import Tracer

    host0 = host_sample()
    t0 = time.time()
    spark = None
    try:
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        session_s = time.time() - t0
        tracer = Tracer(spark if args.trace else None)
        absent = install_wrappers(tracer) if args.trace else []
        run = Run(spark, tmp, args.seed, args.seconds, tracer,
                  random.Random(f"requests-{args.seed}"))
        gc0 = jvm_gc_ms(spark)
        out = WORKLOADS[args.workload](run)
        gc_ms = jvm_gc_ms(spark) - gc0
        tracer.harvest()
        rss_mb = jvm_peak_rss_mb(spark)
        if args.trace:
            metrics = per_layer(run, out, gc_ms, rss_mb)
        else:
            metrics = end_to_end(run, out, session_s)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run still uses it
    host1 = host_sample()

    dt = max(host1["total"] - host0["total"], 1)
    diag = {
        "workload": args.workload, "seed": args.seed, "cores": cores(),
        "load1_start": host0["load1"], "load1_end": host1["load1"],
        "steal_pct": 100.0 * (host1["steal"] - host0["steal"]) / dt,
        "samples": {k: [round(x, 1) for x in v] for k, v in run.samples.items()},
        "tails": {k: tail(v) for k, v in run.samples.items()},
        "absent_spans": absent + [s for s in SPANS if s not in tracer.summary()]
        if args.trace else [],
        "counts": run.counts,
        "phases": dict(run.phases, session_s=session_s, total_s=time.time() - t0),
    }
    print("\nperfbench: " + json.dumps(diag), file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.ops,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
