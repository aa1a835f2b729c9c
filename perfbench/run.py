"""Seeded benchmark of the clickstream engine.

    python3 perfbench/run.py --workload ingest_live --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads: ingest_live, analytics_mix (see
README.md beside this file). Inputs are generated from
``--seed``; set-up (session, inputs, warm-up on a different seed's inputs)
is timed as ``setup_s``; the workload then runs for ``--seconds`` seconds of
measured work and every output is checked against DuckDB. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Scratch files live under ``.perfbench/`` in the
working directory and are removed at exit.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("ingest_live", "analytics_mix")

def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``, and
    run on all cores this process may use (as the test suite does)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")  # wins over spark.local.dir
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # the session's own memory and GC settings apply; only the console
    # progress bar is turned off, so stdout stays readable
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    import tempfile

    tempfile.tempdir = str(tmp)


def clear_stale(base: Path) -> None:
    """Remove scratch dirs left by benchmark processes that no longer run."""
    if not base.is_dir():
        return
    for d in base.iterdir():
        if d.name.isdigit() and not Path(f"/proc/{d.name}").exists():
            shutil.rmtree(d, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args: argparse.Namespace, work: Path, started: float) -> dict:
    from kinesis_test_spark.session import get_spark

    import ingest
    import mix
    from tracing import Progress, RssSampler, Tracer, retained_rss_kb

    tracer = Tracer(bool(args.trace))
    layers: dict[str, float] = {}
    t = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench")
    layers["session.get_spark_s"] = time.perf_counter() - t
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    progress = None
    if args.trace:
        progress = Progress()
        spark.streams.addListener(progress)
    try:
        cls = {"ingest_live": ingest.Live, "analytics_mix": mix.Mix}
        wl = cls[args.workload](spark, work, args.seed, tracer, progress)
        t = time.perf_counter()
        with tracer.span("setup.generate"):
            props = wl.generate(args.seconds)
        layers["setup.generate_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("setup.warmup"):
            wl.warmup()
        layers["setup.warmup_s"] = time.perf_counter() - t
        setup_s = time.time() - started
        print("inputs " + json.dumps({k: round(v, 4) for k, v in props.items()}), flush=True)

        pids = [os.getpid(), jvm_pid]
        with RssSampler(pids) as rss:
            with tracer.span("measure"):
                r = wl.measure(args.seconds)
        retained_kb = retained_rss_kb(spark, pids)
        with tracer.span("verify"):
            attempted, failed = wl.verify(r)
        e2e = {
            "setup_s": setup_s,
            "events_per_s": r["events_per_s"],
            "latency_p50_ms": r["latency_p50_ms"],
            "latency_p90_ms": r["latency_p90_ms"],
            "pass_s": r["pass_s"],
            "success_ratio": 1.0 - failed / max(1, attempted),
            "retained_mb": retained_kb / 1024.0,
        }
        print("passes_s " + json.dumps([round(w, 3) for w in r["walls"]]), flush=True)
        if "latency_samples" in r:
            print(f"latency samples: {r['latency_samples']} arrivals", flush=True)
        if not args.trace:
            return {"attempted": attempted, "failed": failed, "metrics": e2e}

        layers.update({f"input.{k}": v for k, v in props.items() if k != "rows"})
        layers["traced.pass_s"] = e2e["pass_s"]
        layers["traced.latency_p50_ms"] = e2e["latency_p50_ms"]
        layers["memory.peak_rss_mb"] = rss.peak_kb / 1024.0
        layers["gen.lag_p90_ms"] = r.get("gen.lag_p90_ms", 0.0)
        if args.workload == "analytics_mix":
            layers.update(wl.layers(r["passes"]))
        else:
            layers.update(ingest.drain_layers(spark, progress, r["drains"], r["files_consumed"]))
            layers.update(r["layout"])
        if args.workload == "ingest_live":
            # catch-up baseline: a 30-day backlog drained on all cores, then
            # on a local[1] session, both warmed up the same way and neither
            # with the progress listener attached
            spark.streams.removeListener(progress)
            with tracer.span("backlog.generate"):
                backlog = ingest.Backlog(work / "backlog", args.seed, tracer)
            with tracer.span("backlog.drains"):
                all_s, ok_all = backlog.drain_s(spark, "all")
            stop_spark(spark)
            os.environ["SPARK_GRAFT_CPUS"] = "1"
            spark = get_spark("perfbench-1core")
            with tracer.span("backlog.one_core_drains"):
                one_s, ok_one = backlog.drain_s(spark, "one")
            attempted += 2
            failed += (not ok_all) + (not ok_one)
            layers["pipeline.backlog_drain_s"] = all_s
            layers["pipeline.one_core_drain_s"] = one_s
            layers["pipeline.speedup_vs_1core"] = one_s / all_s
        tracer.write(
            work.parent / f"trace-{args.workload}-{args.seed}.json",
            progress=progress.progress,
            metrics=layers,
        )
        return {"attempted": attempted, "failed": failed, "metrics": layers}
    finally:
        stop_spark(spark)


def main(argv: list[str]) -> int:
    from tracing import process_start_epoch

    started = process_start_epoch()
    args = parse_args(argv)
    if not (ROOT / "kinesis_test_spark").is_dir():
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    base = Path.cwd() / ".perfbench"
    clear_stale(base)
    work = base / str(os.getpid())
    prepare_env(work)
    try:
        out = run(args, work, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    kind = "per_layer" if args.trace else "end_to_end"
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": report(declared[kind], kind, out["metrics"]),
    }))
    return 0


def report(declared: list[dict], kind: str, values: dict[str, float]) -> dict[str, dict]:
    """Every metric BENCHMARK.json declares under ``kind``, with its unit.
    A per-layer metric a workload does not exercise reads 0."""
    unknown = values.keys() - {m["name"] for m in declared}
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    if kind == "end_to_end":
        missing = {m["name"] for m in declared} - values.keys()
        if missing:
            raise KeyError(f"end-to-end metrics not measured: {sorted(missing)}")
    return {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in declared
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
