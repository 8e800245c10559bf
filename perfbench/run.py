"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload cdc_tail --seed 1 --seconds 15 --trace 0

Run from the root of a checkout: the engine package is imported from there
and every file the run writes stays under ``perfbench/_work``. The run sets
up the Spark session once (``session.get_spark`` at this host's core count,
the replay source registration and a warm-up pass), measures
the workload for ``--seconds``, checks every output against the generator's
ground truth, prints one line per metric (value, unit, sample count) and,
last, one JSON object. ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` the per-layer ones, with spans written to
``perfbench/_work/traces``. A per-layer metric of a layer the workload does
not enter reads 0.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402

from harness import (  # noqa: E402
    RssSampler,
    Tracer,
    percentile,
    start_session,
    stop_jvm,
)
from workloads import WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """An eighth of the host's memory, 1-2 GiB. The session's 48g default
    lets the JVM outgrow a small host; a heap the workloads fill keeps the
    JVM's peak RSS from depending on when the collector happens to run."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return f"{max(1, min(2, total_kb // 2**20 // 8))}g"


def configure_env(work: str) -> None:
    """Keeps the JVM, its Python workers and every temp file inside ``work``;
    must run before the first SparkSession starts its JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory()
    # every JVM, the launcher's too: no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf", f"spark.local.dir={os.path.join(work, 'spark')}",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description="vitess-cdc-spark benchmark")
    p.add_argument("--workload", required=True, help="a workload name, or 'all'")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    names = list(WORKLOADS)
    if args.workload == "all":
        # one process per workload: each run owns its JVM
        codes = [
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", name,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace)]
            ).returncode
            for name in names
        ]
        return max(codes)
    if args.workload not in names:
        p.error(f"unknown workload {args.workload!r}")

    run_id = uuid.uuid4().hex[:12]
    base = os.path.join(HERE, "_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{run_id}")
    os.makedirs(work)
    try:
        configure_env(work)
        sys.path.insert(0, ROOT)
        import debezium_connector_vitess_spark  # noqa: F401  (fails outside a checkout)

        result, table = run(args, spec, work, run_id)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, value, unit, n in table:
        print(f"{args.workload:16s} {name:44s} {value:16.4f} {unit:6s} n={n}")
    print(json.dumps(result))
    return 0


def run(args, spec: dict, work: str, run_id: str):
    rss = RssSampler()
    rss.start()
    tracer = Tracer(run_id)
    wl = WORKLOADS[args.workload](args.seed, args.seconds, work, tracer, rss)
    spark = None
    try:
        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t
        print(f"{args.workload} input generation: {gen_s:.3f}s", file=sys.stderr)

        spark, session_s, register_s = start_session(host_cpus())
        t = time.perf_counter()
        wl.warmup(spark)
        warmup_s = time.perf_counter() - t
        # from process start (JVM launch included), input generation excluded
        setup_s = time.time() - T_PROCESS - gen_s
        print(f"{args.workload} setup: {setup_s:.3f}s (session {session_s:.3f}s, "
              f"register {register_s:.3f}s, warm-up {warmup_s:.3f}s)", file=sys.stderr)

        spark.sparkContext.setJobGroup(wl.job_group, "benchmark")
        t = time.perf_counter()
        outcome = wl.measure(spark, bool(args.trace))
        print(f"{args.workload} measured phase: {time.perf_counter() - t:.3f}s", file=sys.stderr)
    finally:
        t = time.perf_counter()
        if spark is not None:
            stop_jvm(spark)
        peak_mb = rss.stop()
        print(f"{args.workload} shutdown: {time.perf_counter() - t:.3f}s", file=sys.stderr)

    lat = outcome.latency_ms
    end_to_end = {
        "setup_s": setup_s,
        "peak_rss_mb": peak_mb,
        "throughput_per_s": outcome.throughput,
        "latency_p50_ms": percentile(lat, 0.50),
        "latency_p99_ms": percentile(lat, 0.99),
    }
    failed_ratio = outcome.failed / outcome.attempted
    table = [
        ("setup_s", setup_s, "s", 1),
        ("peak_rss_mb", peak_mb, "MB", 1),
        ("failed_ratio", failed_ratio, "ratio", outcome.attempted),
        *outcome.table,
        ("throughput_per_s", outcome.throughput, "1/s", outcome.samples),
        ("latency_p50_ms", end_to_end["latency_p50_ms"], "ms", len(lat)),
        ("latency_p99_ms", end_to_end["latency_p99_ms"], "ms", len(lat)),
    ]
    if args.trace:
        layer = {
            "setup.session_s": session_s,
            "setup.register_s": register_s,
            "setup.warmup_s": warmup_s,
            **outcome.layer,
        }
        metrics_spec = spec["per_layer"]
        values = {m["name"]: float(layer.get(m["name"], 0.0)) for m in metrics_spec}
        traces = os.path.join(os.path.dirname(work), "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.write(os.path.join(traces, f"{os.path.basename(work)}.json"))
        table += [(m["name"], values[m["name"]], m["unit"], 1) for m in metrics_spec]
    else:
        metrics_spec = spec["end_to_end"]
        values = end_to_end
    result = {
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in metrics_spec
        },
    }
    return result, table


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
