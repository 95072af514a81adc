"""Benchmark entry point for the token-lakehouse maintenance engine.

    python3 perfbench/run.py --workload maintain --seed 1 --seconds 10 --trace 0

Run from the repository root. Starts a fresh ``local[<cores>]`` Spark
session, runs one workload (see workloads.py and README.md), checks the
engine's output against the benchmark's own model, and prints every
metric by name and unit. Each workload does a fixed amount of work, so
``--seconds`` is accepted but does not change what a run measures. The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``, where
``metrics`` holds the ``end_to_end`` metrics of BENCHMARK.json
(``--trace 0``) or its ``per_layer`` metrics (``--trace 1``).

Everything the run writes goes under ``.perfbench_tmp/`` (deleted at
exit) and ``.perfbench_out/`` (records and spans) in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# Deployment settings of the benchmark's session. The MERGE broadcast
# cap is scaled down with the tables (a production cap is heap/16 for
# multi-GB sources) so that the backfill source lands well above it and
# every stream micro-batch well below it.
DRIVER_MEMORY = "1g"
MERGE_BROADCAST_CAP = 256 << 10


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="accepted for the run interface; the work per run is fixed")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt-expectation", action="store_true",
                   help="perturb one expected row; the correctness gate must then fail")
    return p.parse_args(argv)


def start_session(work: Path):
    from feature_engineering_poc_spark.session import get_session

    jtmp = work / "jvm-tmp"
    jtmp.mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    return get_session(
        app_name="perfbench",
        parallelism=cores,
        extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def fmt(value) -> str:
    if value is None:
        return "n/a"
    return f"{value:.6g}" if isinstance(value, float) else str(value)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:  # the engine is built from the checkout's own sources
        import feature_engineering_poc_spark  # noqa: F401
        from perfbench.trace import Tracer, cpu_steal, peak_rss_mb
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"cannot import the engine: {e}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = ROOT / ".perfbench_tmp" / run_id
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    (work / "tmp").mkdir(parents=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join([str(ROOT), os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "TMPDIR": str(work / "tmp"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "FEPOC_MERGE_BROADCAST_CAP": str(MERGE_BROADCAST_CAP),
    })
    spark = None
    try:
        t = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        tracer = Tracer(spark, bool(args.trace), run_id)
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)
        wl.corrupt = args.corrupt_expectation

        t = time.perf_counter()
        wl.setup()
        setup_s = session_s + time.perf_counter() - t
        steal0 = cpu_steal()
        wl.run()
        steal = [a - b for a, b in zip(cpu_steal(), steal0)]
        rss = peak_rss_mb(jvm_pid)  # before the gate, whose frames are the benchmark's
        wl.finish()

        e2e = wl.e2e()
        e2e["setup_s"] = (setup_s, "s")
        e2e["jvm_peak_rss_mb"] = (rss, "MB")
        e2e["host_steal_frac"] = (steal[0] / max(1, steal[1]), "ratio")
        record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "attempted": wl.attempted,
                  "failed": wl.failed, "errors": wl.errors, "merges": wl.merges,
                  "ops": [[r["name"], r["wall_s"]] for r in wl.timed],
                  "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}}
        if args.trace:
            layer = wl.layer_metrics()
            layer["session.start_s"] = (session_s, "s")
            layer["trace.wall_s"] = (e2e["wall_s"][0], "s")
            layer["trace.bookkeeping_s"] = (tracer.overhead_s, "s")
            untraced = out_dir / f"{args.workload}-seed{args.seed}-trace0.json"
            if untraced.exists():
                base = json.loads(untraced.read_text())["end_to_end"]["wall_s"]["value"]
                layer["trace.overhead_frac"] = (e2e["wall_s"][0] / base - 1.0, "ratio")
            record["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
            (out_dir / f"{args.workload}-seed{args.seed}-spans.json").write_text(
                json.dumps(tracer.spans, default=str) + "\n")
        (out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
            json.dumps(record, indent=1, default=str) + "\n")
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    for m in wl.merges:
        print(f"merge {m['kind']}: path={m['path']} src_est={m['src_est_bytes']} "
              f"cap={m['broadcast_cap']} ({m['src_est_over_cap']:.2f}x)")
    for e in wl.errors:
        print(f"check failed: {e}")
    shown = record["end_to_end"] | record.get("per_layer", {})
    for name, m in shown.items():
        print(f"{name:34s} {fmt(m['value']):>14s} {m['unit']}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": shown[m["name"]]["value"], "unit": m["unit"]}
               for m in wanted}
    correct = wl.failed == 0 and all(v["value"] is not None for v in metrics.values())
    print(json.dumps({"correct": correct, "attempted": wl.attempted,
                      "failed": wl.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
